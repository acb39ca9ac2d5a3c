"""Traced mode: spans around the engine's public functions, plus the Spark
event-log parser that splits executor time by layer.

The wrappers live here, in the benchmark, and are installed by patching
module and class attributes for the length of a traced run; the engine's
own files are untouched.  Each wrapper records a span (name, start, end,
parent, epoch id, thread, destination) on a per-thread stack, because the
pipeline's uploads run in a thread pool, and tags the Spark jobs it
submits with ``setJobDescription(<span name>)`` so the event log can be
attributed offline.  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import logging
import os
import statistics
import threading
import time

# Job descriptions the benchmark itself sets (everything else is a span name).
CLIENT_INPUT = "client.input"
CLIENT_READ = "client.read"
CLIENT_CHECK = "client.check"
PARSE = "sources.cdc.parse"
# Jobs the pipeline runs under its own per-destination job group
# ("upload <dest>") outside any wrapped call belong to the pipeline body.
PIPELINE = "streaming.pipeline.process_batch"

WRITE_SPANS = ("operators.table.append", "operators.merge.merge_upsert",
               "operators.staged_upsert.apply")


class _RetryCounter(logging.Handler):
    def __init__(self) -> None:
        super().__init__(logging.WARNING)
        self.count = 0

    def emit(self, record: logging.LogRecord) -> None:
        self.count += 1


def _parquet_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


class Tracer:
    """Span recorder; ``install`` patches the engine, ``uninstall`` undoes it."""

    def __init__(self, spark, oracle=None) -> None:
        self.sc = spark.sparkContext
        self.oracle = oracle  # for operators.merge.rows_changed
        self.spans: list[dict] = []
        self.files: list[dict] = []  # per append/overwrite: new parquet files
        self.merges: list[dict] = []
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self._batch: dict | None = None
        self.retries = _RetryCounter()

    # -- span recording ----------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, fn, *args, dest: str | None = None, epoch=None):
        """Run ``fn`` inside a span named ``name`` that also tags its jobs."""
        stack = self._stack()
        parent = stack[-1] if stack else self._batch
        span = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "thread": threading.get_ident(),
            "epoch": epoch if epoch is not None else (parent or {}).get("epoch"),
            "dest": dest,
        }
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(name)
        stack.append(span)
        span["start"] = time.perf_counter()
        try:
            out = fn(*args)
            if isinstance(out, list):
                span["n"] = len(out)  # destinations, schema groups
            return out
        finally:
            span["end"] = time.perf_counter()
            stack.pop()
            self.sc.setJobDescription(prev)
            with self._lock:
                self.spans.append(span)

    def _wrap(self, owner, attr: str, name: str, dest_of=None, around=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kw):
            dest = dest_of(args) if dest_of else None
            call = functools.partial(orig, *args, **kw)
            if around is not None:
                return tracer.span(name, around, call, args, kw, dest=dest)
            return tracer.span(name, call, dest=dest)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def _process_batch(self, orig):
        tracer = self

        @functools.wraps(orig)
        def wrapper(pipeline, batch, epoch_id=None):
            def body():
                # spans opened on upload threads (empty stacks) hang off this
                tracer._batch = tracer._stack()[-1]
                try:
                    return orig(pipeline, batch, epoch_id)
                finally:
                    tracer._batch = None

            return tracer.span(PIPELINE, body, epoch=epoch_id)

        return wrapper

    # -- file accounting around writes --------------------------------------
    def _files_around(self, kind: str):
        tracer = self

        def around(call, args, kw):
            table = args[0]
            t0 = time.perf_counter()
            before = _parquet_files(table.path)
            spent = time.perf_counter() - t0
            out = call()
            t0 = time.perf_counter()
            new = {p: s for p, s in _parquet_files(table.path).items() if p not in before}
            rec = {"kind": kind, "table": table.path, "files": len(new),
                   "bytes": sum(new.values()),
                   "partitions": len({os.path.dirname(p) for p in new})}
            if kind == "overwrite":
                import pyarrow.parquet as pq

                rec["rows"] = sum(pq.read_metadata(p).num_rows for p in new)
                expected = kw.get("expected_partitions", args[2] if len(args) > 2 else ())
                rec["buckets"] = len(expected)
                rec["n_buckets"] = table.n_buckets
            spent += time.perf_counter() - t0
            with tracer._lock:
                tracer.files.append(rec)
                tracer.bookkeeping_s += spent
            return out

        return around

    def _merge_around(self):
        tracer = self

        def around(call, args, kw):
            table = args[0]
            out = call()
            dest = os.path.basename(table.path)
            changed = tracer.oracle.take_changed(dest) if tracer.oracle else 0
            with tracer._lock:
                tracer.merges.append({"table": dest, "rows_changed": changed})
            return out

        return around

    def install(self) -> None:
        from debezium_server_bigquery_spark.operators import merge, staged_upsert, table
        from debezium_server_bigquery_spark.streaming import pipeline, schema_history

        def tdest(args):
            return os.path.basename(args[0].path)

        def sdest(args):
            return os.path.basename(args[0].table.path)

        P = pipeline.CdcPipeline
        self._undo.append((P, "process_batch", P.process_batch))
        P.process_batch = self._process_batch(P.process_batch)
        self._wrap(pipeline, "destinations_in", "operators.routing.destinations_in")
        self._wrap(schema_history, "schema_groups", "streaming.schema_history.schema_groups")
        for mod in (merge, staged_upsert):
            self._wrap(mod, "dedup_last_writer", "operators.dedup.dedup_last_writer")
        for mod in (pipeline, staged_upsert):
            self._wrap(mod, "merge_upsert", "operators.merge.merge_upsert",
                       dest_of=tdest, around=self._merge_around())
        T = table.ParquetTable
        self._wrap(T, "append", "operators.table.append", dest_of=tdest,
                   around=self._files_around("append"))
        self._wrap(T, "overwrite_partitions", "operators.table.overwrite_partitions",
                   dest_of=tdest, around=self._files_around("overwrite"))
        self._wrap(T, "read_raw", "operators.table.read_raw", dest_of=tdest)
        self._wrap(T, "read", "operators.table.read", dest_of=tdest)
        S = staged_upsert.StagedUpsertTable
        for attr in ("apply", "compact", "read_current"):
            self._wrap(S, attr, f"operators.staged_upsert.{attr}", dest_of=sdest)
        logging.getLogger("debezium_server_bigquery_spark.operators.retry").addHandler(
            self.retries)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
        logging.getLogger("debezium_server_bigquery_spark.operators.retry").removeHandler(
            self.retries)

    def mark(self) -> None:
        """Start of the timed section: forget warm-up spans and records."""
        self.spans.clear()
        self.files.clear()
        self.merges.clear()
        self.retries.count = 0
        self.bookkeeping_s = 0.0

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")


# -- span analysis -----------------------------------------------------------
def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its children cover (children may
    overlap each other when they run on different upload threads)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - _covered(kids.get(s["id"], []))
            for s in spans}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def span_metrics(tracer: Tracer) -> dict[str, tuple[float, str]]:
    spans = tracer.spans
    selft = self_times(spans)
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def dur(name):
        return [s["end"] - s["start"] for s in by_name.get(name, [])]

    def total_self(name):
        return sum(selft[s["id"]] for s in by_name.get(name, []))

    m: dict[str, tuple[float, str]] = {}
    batches = by_name.get(PIPELINE, [])
    m["streaming.pipeline.process_batch_self_s"] = (
        _median(selft[s["id"]] for s in batches), "s")
    waits = []
    children: dict[int, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    for b in batches:
        kids = children.get(b["id"], [])
        routing = [k["end"] for k in kids if k["name"] == "operators.routing.destinations_in"]
        if not routing:
            continue
        firsts: dict[str, float] = {}
        for k in kids:
            if k["name"] in WRITE_SPANS and k["dest"] is not None:
                firsts[k["dest"]] = min(firsts.get(k["dest"], k["start"]), k["start"])
        waits.extend(t - routing[0] for t in firsts.values())
    m["streaming.pipeline.upload_wait_s"] = (_median(waits), "s")
    n_batches = max(len(batches), 1)

    for name, key in (("operators.routing.destinations_in", "operators.routing"),
                      ("streaming.schema_history.schema_groups", "streaming.schema_history")):
        calls = by_name.get(name, [])
        m[f"{key}.calls"] = (len(calls), "count")
        m[f"{key}.seconds"] = (sum(dur(name)), "s")
        m[f"{key}.groups_per_batch"] = (sum(s.get("n", 0) for s in calls) / n_batches, "count")
    m["operators.dedup.calls"] = (len(by_name.get("operators.dedup.dedup_last_writer", [])), "count")

    merges = by_name.get("operators.merge.merge_upsert", [])
    overwrites = [f for f in tracer.files if f["kind"] == "overwrite"]
    rewritten = sum(f["rows"] for f in overwrites)
    changed = sum(r["rows_changed"] for r in tracer.merges)
    m["operators.merge.calls"] = (len(merges), "count")
    m["operators.merge.self_s"] = (total_self("operators.merge.merge_upsert"), "s")
    m["operators.merge.buckets_touched_share"] = (
        _median(f["buckets"] / f["n_buckets"] for f in overwrites if f["n_buckets"]), "share")
    m["operators.merge.rows_rewritten"] = (rewritten, "count")
    m["operators.merge.rows_changed"] = (changed, "count")
    m["operators.merge.useful_ratio"] = (changed / rewritten if rewritten else 0.0, "ratio")

    writes = tracer.files
    m["operators.table.append_s"] = (_median(dur("operators.table.append")), "s")
    m["operators.table.read_raw_s"] = (_median(dur("operators.table.read_raw")), "s")
    m["operators.table.read_raw_calls"] = (len(by_name.get("operators.table.read_raw", [])), "count")
    m["operators.table.overwrite_s"] = (_median(dur("operators.table.overwrite_partitions")), "s")
    m["operators.table.files_written"] = (sum(f["files"] for f in writes), "count")
    m["operators.table.bytes_written"] = (sum(f["bytes"] for f in writes), "bytes")
    m["operators.table.partitions_rewritten"] = (sum(f["partitions"] for f in overwrites), "count")
    m["operators.table.retries"] = (tracer.retries.count, "count")

    m["operators.staged_upsert.apply_s"] = (_median(dur("operators.staged_upsert.apply")), "s")
    m["operators.staged_upsert.apply_self_s"] = (
        _median(selft[s["id"]] for s in by_name.get("operators.staged_upsert.apply", [])), "s")
    m["operators.staged_upsert.compact_s"] = (_median(dur("operators.staged_upsert.compact")), "s")
    m["operators.staged_upsert.compactions"] = (
        len(by_name.get("operators.staged_upsert.compact", [])), "count")
    m["operators.staged_upsert.read_current_s"] = (
        _median(dur("operators.staged_upsert.read_current")), "s")
    m["trace.spans"] = (len(spans), "count")
    m["trace.bookkeeping_s"] = (tracer.bookkeeping_s, "s")
    return m


def files_per_partition(root: str) -> float:
    """Mean data files per partition directory of the destination tables
    (staging areas, whose names start with ``_``, excluded)."""
    counts = []
    if not os.path.isdir(root):
        return 0.0
    for t in os.listdir(root):
        tdir = os.path.join(root, t)
        if t.startswith("_") or not os.path.isdir(tdir):
            continue
        for p in os.listdir(tdir):
            pdir = os.path.join(tdir, p)
            if "=" in p and os.path.isdir(pdir):
                counts.append(sum(1 for f in os.listdir(pdir) if f.endswith(".parquet")))
    return statistics.mean(counts) if counts else 0.0


# -- Spark event log -----------------------------------------------------------
SPARK_FIELDS = ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
SPARK_UNITS = {"jobs": "count", "stages": "count", "tasks": "count", "run_s": "s",
               "cpu_s": "s", "gc_s": "s", "shuffle_read_bytes": "bytes",
               "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"}
UNATTRIBUTED = "unattributed"


def _layer_of(desc: str | None) -> str:
    if not desc:
        return UNATTRIBUTED
    if desc.startswith("upload "):
        return PIPELINE
    return desc


def parse_event_log(path: str, since_ms: float) -> dict[str, dict[str, float]]:
    """Per-layer job/stage/task totals for jobs submitted at or after
    ``since_ms`` (epoch ms), keyed by the job description each wrapper set."""
    stage_layer: dict[int, str] = {}
    layers: dict[str, dict[str, float]] = {}
    stages_seen: dict[str, set] = {}

    def acc(layer):
        return layers.setdefault(layer, {f: 0 for f in SPARK_FIELDS})

    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if ev.get("Submission Time", 0) < since_ms:
                    continue
                layer = _layer_of((ev.get("Properties") or {}).get("spark.job.description"))
                acc(layer)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_layer.setdefault(sid, layer)
            elif kind == "SparkListenerTaskEnd":
                layer = stage_layer.get(ev.get("Stage ID"))
                if layer is None:
                    continue
                tm = ev.get("Task Metrics") or {}
                a = acc(layer)
                a["tasks"] += 1
                stages_seen.setdefault(layer, set()).add(ev.get("Stage ID"))
                a["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                a["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                sr = tm.get("Shuffle Read Metrics") or {}
                a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                a["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    for layer, sids in stages_seen.items():
        layers[layer]["stages"] = len(sids)
    return layers


def event_log_file(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
