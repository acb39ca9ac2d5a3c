"""The replication write-path workloads: one closed-loop client each.

A closed loop is what the reference does: Debezium calls ``handleBatch``
synchronously and polls the next batch only after it returns
(BaseChangeConsumer.java:138-167).  Every workload drives the public
pipeline API (``cli.build_pipeline`` from a properties dict, then
``CdcPipeline.run_stream`` or ``process_batch``) and checks what landed
against the oracle in ``gen.py``.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import gen
import tracing

TABLE_NAMES = [f"bench_inventory_{t}" for t in gen.TABLES]
WIRE_WARMUP_FILES = 6
# lazy: through the first compaction, which folds in the snapshot; the read
# path warms up on the last warm-up batch only (the first one is cold anyway)
LAZY_WARMUP_BATCHES = 2
STALENESS = 3
WIRE_MIN_TIMED_BATCHES = 9
LAZY_MIN_TIMED_BATCHES = 6  # two compaction cycles
# wire_append reads its tables only after the timed drain.  Read latency
# falls there for 10-20 rounds while the JIT compiles the read path, so
# READ_WARMUP_ROUNDS parallel rounds run untimed, the first of them the
# correctness check.  read_p50_s is the median of the
# READ_ROUNDS_AFTER_APPEND rounds after them, each reading the tables one
# after another: without the JIT's compiler threads competing with three
# reader threads for the cores, a round varies less.
READ_WARMUP_ROUNDS = 16
READ_ROUNDS_AFTER_APPEND = 12
# A run holds 6-18 timed batches, too few for a quantile with ten samples
# beyond it (that would fall below the median).  On lazy_upsert_read every
# 3rd batch is a compaction, so p75 lands on a compaction batch.
TAIL_QUANTILE = 0.75

BASE_PROPS = {
    "debezium.sink.batch.concurrent-uploads": str(len(gen.TABLES)),
}
WIRE_PROPS = BASE_PROPS | {
    "debezium.sink.type": "bigquerybatch",
    "debezium.sink.bigquerybatch.partition-type": "MONTH",
}
LAZY_PROPS = BASE_PROPS | {
    "debezium.sink.type": "bigquerystream",
    "debezium.sink.bigquerystream.upsert": "true",
    "engine.key-columns": "id",
    "engine.n-buckets": "32",
    "engine.max-staleness-batches": str(STALENESS),
}


def quantile(xs: list[float], q: float) -> float:
    """Nearest-rank quantile: always one of the measured samples."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class FileLedger:
    """Bytes of files that appeared (or were rewritten) under a root."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.seen: dict[str, tuple[int, int]] = {}
        self.new_bytes = 0
        self.scan()
        self.new_bytes = 0

    def scan(self) -> None:
        for d, _, names in os.walk(self.root):
            for n in names:
                p = os.path.join(d, n)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                key = (st.st_ino, st.st_mtime_ns)
                if self.seen.get(p) != key:
                    self.seen[p] = key
                    self.new_bytes += st.st_size


class Client:
    """The closed-loop client's account: CPU, attempts, failures, mismatches."""

    def __init__(self, ctx, tracer) -> None:
        self.ctx = ctx
        self.tracer = tracer
        self.cpu_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.pool = ThreadPoolExecutor(max_workers=len(TABLE_NAMES))

    def span(self, name, fn, *args, dest=None):
        if self.tracer is None:
            return fn(*args)
        return self.tracer.span(name, fn, *args, dest=dest)

    def measured(self, fn, *args):
        """Run ``fn`` and return its wall seconds; CPU is added to the
        client's account and any exception counts as a failed operation."""
        c0, t0 = self.ctx.cpu(), time.perf_counter()
        self.attempted += 1
        try:
            fn(*args)
        except Exception as exc:  # a failed batch or read is a result
            self.failed += 1
            self.mismatches.append(f"{getattr(fn, '__name__', fn)} raised {exc!r}"[:500])
        dt = time.perf_counter() - t0
        self.cpu_s += self.ctx.cpu() - c0
        return dt

    def read_round(self, pipeline, query, expected: dict[str, dict], label: str,
                   parallel: bool = True):
        """Read every table's current state, in parallel or one after
        another, and compare."""
        def one(name):
            got = self.span(label, lambda: query(pipeline.read_table(name)), dest=name)
            want = expected[name]
            if got != want:
                self.mismatches.append(f"{label} {name}: got {got}, want {want}")

        if not parallel:
            for n in TABLE_NAMES:
                one(n)
            return
        for f in [self.pool.submit(one, n) for n in TABLE_NAMES]:
            f.result()

    def close(self) -> None:
        self.pool.shutdown(wait=True)


def _state_query(df) -> dict:
    from pyspark.sql import functions as F

    r = df.agg(F.count(F.lit(1)).alias("rows"),
               F.sum(F.col("__deleted").cast("int")).alias("deleted"),
               F.sum("amount").alias("sum_amount")).collect()[0]
    return {"rows": r["rows"], "deleted": r["deleted"] or 0, "sum_amount": r["sum_amount"] or 0}


def _append_query(df) -> dict:
    from pyspark.sql import functions as F

    r = df.agg(F.count(F.lit(1)).alias("rows"), F.sum("id").alias("sum_id")).collect()[0]
    return {"rows": r["rows"], "sum_id": r["sum_id"] or 0}


def _final_query(df) -> dict:
    out = _state_query(df)
    out["hash"] = gen.state_hash(
        (r["id"], r["__source_ts_ns"]) for r in df.select("id", "__source_ts_ns").collect())
    return out


def _table_for(dest: str) -> str:
    return dest.rsplit("_", 1)[-1]


# -- wire_append ---------------------------------------------------------------
def wire_append(ctx) -> dict:
    """NDJSON envelopes -> streaming file source -> bigquerybatch appends."""
    from debezium_server_bigquery_spark.cli import build_pipeline
    from debezium_server_bigquery_spark.sources.cdc import read_cdc_ndjson

    stream, oracle = gen.EventStream(ctx.seed), gen.Oracle()
    src, target = ctx.dir("src"), ctx.dir("target")
    ckpt = os.path.join(ctx.work, "checkpoint")

    def write_files(first: int, n: int) -> list[str]:
        t0 = time.perf_counter()
        paths = []
        for i in range(first, first + n):
            rows = stream.next_batch()
            oracle.apply(rows)
            paths.append(os.path.join(src, f"batch-{i:05d}.json"))
            gen.write_ndjson(rows, paths[-1])
        ctx.gen_s += time.perf_counter() - t0
        return paths

    write_files(0, WIRE_WARMUP_FILES)
    spark, tracer = ctx.start_session()
    client = Client(ctx, tracer)
    props = WIRE_PROPS | {"engine.target-root": target}
    ctx.facts["properties"] = props
    t0 = time.perf_counter()
    pipeline = build_pipeline(spark, props)
    source = read_cdc_ndjson(spark, src, streaming=True, max_files_per_trigger=1)
    q = pipeline.run_stream(source, ckpt, available_now=True)
    q.awaitTermination()
    warm = _data_progress(q)
    ctx.setup_parts["warmup_s"] = time.perf_counter() - t0
    warm_lat = [p["durationMs"]["triggerExecution"] / 1e3 for p in warm]
    ctx.facts["warmup_batch_s"] = [round(x, 3) for x in warm_lat]

    # Enough files to keep the loop busy for --seconds at the warm rate.
    est = statistics.median(warm_lat[-3:])
    n_timed = max(WIRE_MIN_TIMED_BATCHES, min(80, math.ceil(ctx.seconds / est)))
    events0, payload0 = stream.stats["events"], stream.stats["payload_bytes"]
    timed_files = write_files(WIRE_WARMUP_FILES, n_timed)
    timed_events = stream.stats["events"] - events0
    timed_payload = stream.stats["payload_bytes"] - payload0

    ledger = FileLedger(target)
    if tracer:
        tracer.mark()
    ctx.timed_start()
    c0, t0 = ctx.cpu(), time.perf_counter()
    q = pipeline.run_stream(source, ckpt, available_now=True)
    q.awaitTermination()  # raises if a micro-batch failed
    wall = time.perf_counter() - t0
    drain_cpu_s = ctx.cpu() - c0
    progress = _data_progress(q)
    lat = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
    client.attempted += n_timed  # one attempt per micro-batch (file)
    if len(progress) != n_timed:
        client.failed += abs(n_timed - len(progress))
        client.mismatches.append(f"{len(progress)} micro-batches for {n_timed} files")
    ledger.scan()

    expected = _appended(oracle)
    warm_reads = [client.measured(client.read_round, pipeline, _append_query, expected,
                                  tracing.CLIENT_READ)
                  for _ in range(READ_WARMUP_ROUNDS)]
    ctx.setup_parts["read_warmup_s"] = sum(warm_reads)
    ctx.facts["warmup_read_s"] = [round(x, 3) for x in warm_reads]
    reads = [client.measured(client.read_round, pipeline, _append_query, expected,
                             tracing.CLIENT_READ, False)
             for _ in range(READ_ROUNDS_AFTER_APPEND)]
    ctx.facts["read_s"] = [round(x, 3) for x in reads]

    e2e = {
        "events_per_s": (timed_events / wall, "1/s"),
        "cpu_s_per_kevent": (drain_cpu_s / (timed_events / 1000.0), "s"),
        "write_amp": (ledger.new_bytes / timed_payload, "ratio"),
        "read_p50_s": (statistics.median(reads), "s"),
    }
    ctx.batch_latencies(e2e, lat)
    layer = {}
    if tracer:
        for key, part in (("add_batch_s", "addBatch"), ("wal_commit_s", "walCommit"),
                          ("latest_offset_s", "latestOffset"),
                          ("commit_offsets_s", "commitOffsets")):
            layer[f"streaming.trigger.{key}"] = (
                statistics.median(p["durationMs"].get(part, 0) / 1e3 for p in progress), "s")
        layer["streaming.trigger.overhead_s"] = (statistics.median(
            (p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)) / 1e3
            for p in progress), "s")
        parse = []
        for path in timed_files:
            t0 = time.perf_counter()
            tracer.span(tracing.PARSE, lambda p=path: read_cdc_ndjson(spark, p).write
                        .format("noop").mode("overwrite").save())
            parse.append(time.perf_counter() - t0)
        layer["sources.cdc.parse_s"] = (statistics.median(parse), "s")
        layer["sources.cdc.rows_in"] = (timed_events, "count")
    ctx.facts["timed_batches"] = len(progress)
    ctx.facts["input"] = stream.input_stats()
    return {"e2e": e2e, "layer": layer, "client": client, "oracle": oracle,
            "target": target}


def _appended(oracle) -> dict[str, dict]:
    return {n: oracle.appended_state(_table_for(n)) for n in TABLE_NAMES}


def _data_progress(q) -> list[dict]:
    return [p for p in q.recentProgress if p["numInputRows"] > 0]


# -- lazy_upsert_read -----------------------------------------------------------
def lazy_upsert_read(ctx) -> dict:
    """Lazy upsert (staged appends + compaction MERGE every 3 batches) with
    a current-state read of every table after each commit."""
    from debezium_server_bigquery_spark.cli import build_pipeline

    stream, oracle = gen.EventStream(ctx.seed), gen.Oracle()
    inputs, target = ctx.dir("inputs"), ctx.dir("target")
    t0 = time.perf_counter()
    snapshot = stream.snapshot()
    snap_path = os.path.join(inputs, "snapshot.parquet")
    gen.write_parquet(snapshot, snap_path)
    ctx.gen_s += time.perf_counter() - t0

    spark, tracer = ctx.start_session()
    client = Client(ctx, tracer)
    if tracer:
        tracer.oracle = oracle
    props = LAZY_PROPS | {"engine.target-root": target}
    ctx.facts["properties"] = props
    pipeline = build_pipeline(spark, props)
    oracle.apply(snapshot)
    df = client.span(tracing.CLIENT_INPUT, spark.read.schema(gen.spark_ddl()).parquet, snap_path)
    ctx.setup_parts["preload_s"] = client.measured(pipeline.process_batch, df, 0)
    ledger = FileLedger(target)
    epoch = 0

    def step(read: bool = True) -> dict:
        """One closed-loop step: batch, commit, then read."""
        nonlocal epoch
        epoch += 1
        t0 = time.perf_counter()
        rows = stream.next_batch()
        path = os.path.join(inputs, f"batch-{epoch:05d}.parquet")
        gen.write_parquet(rows, path)
        ctx.gen_s += time.perf_counter() - t0
        oracle.apply(rows)
        df = client.span(tracing.CLIENT_INPUT, spark.read.schema(gen.spark_ddl()).parquet, path)
        out = {"lat": client.measured(pipeline.process_batch, df, epoch), "read": 0.0,
               "events": len(rows), "payload": gen.payload_bytes(rows)}
        keyed = [(r["__table"], r["id"]) for r in rows if r["destination"] != gen.HEARTBEAT_DEST]
        out["dedup_in"], out["dedup_out"] = len(keyed), len(set(keyed))
        if read:
            expected = {n: oracle.current(_table_for(n)) for n in TABLE_NAMES}
            out["read"] = client.measured(
                client.read_round, pipeline, _state_query, expected, tracing.CLIENT_READ)
        before = ledger.new_bytes
        ledger.scan()
        out["written"] = ledger.new_bytes - before
        return out

    # the read path warms up on the last warm-up batch only (the first read is
    # cold anyway)
    warm = [step(i == LAZY_WARMUP_BATCHES - 1) for i in range(LAZY_WARMUP_BATCHES)]
    ctx.setup_parts["warmup_s"] = sum(w["lat"] + w["read"] for w in warm)
    ctx.facts["warmup_batch_s"] = [round(w["lat"], 3) for w in warm]

    if tracer:
        tracer.mark()
    ctx.timed_start()
    client.cpu_s = 0.0
    timed, elapsed = [], 0.0
    # At least --seconds and LAZY_MIN_TIMED_BATCHES, in whole compaction
    # cycles so every run holds the same mix of plain and compaction batches.
    while elapsed < ctx.seconds or len(timed) < LAZY_MIN_TIMED_BATCHES or len(timed) % STALENESS:
        timed.append(step())
        elapsed += timed[-1]["lat"] + timed[-1]["read"]
    events = sum(t["events"] for t in timed)
    e2e = {
        "events_per_s": (events / elapsed, "1/s"),
        "cpu_s_per_kevent": (client.cpu_s / (events / 1000.0), "s"),
        "write_amp": (sum(t["written"] for t in timed) / sum(t["payload"] for t in timed),
                      "ratio"),
        "read_p50_s": (statistics.median(t["read"] for t in timed), "s"),
    }
    ctx.batch_latencies(e2e, [t["lat"] for t in timed])
    ctx.facts["read_s"] = [round(t["read"], 3) for t in timed]
    layer = {
        "operators.dedup.rows_in": (sum(t["dedup_in"] for t in timed), "count"),
        "operators.dedup.rows_out": (sum(t["dedup_out"] for t in timed), "count"),
    }
    ctx.facts["timed_batches"] = len(timed)
    ctx.facts["input"] = stream.input_stats()
    return {"e2e": e2e, "layer": layer, "client": client, "oracle": oracle,
            "target": target, "pipeline": pipeline}


def final_check(result: dict) -> None:
    """End-of-run gate: per-table state against the oracle, all tables in
    parallel.  Closes the client."""
    client, oracle, pipeline = result["client"], result["oracle"], result.get("pipeline")

    def one(name):
        got = client.span(tracing.CLIENT_CHECK, lambda: _final_query(pipeline.read_table(name)),
                          dest=name)
        want = oracle.final(_table_for(name))
        if got != want:
            client.mismatches.append(f"final {name}: got {got}, want {want}")

    try:
        if pipeline is not None:  # wire_append: checked by its read rounds (rows, sum(id))
            list(client.pool.map(one, TABLE_NAMES))
    finally:
        client.close()


WORKLOADS = {
    "wire_append": wire_append,
    "lazy_upsert_read": lazy_upsert_read,
}
