"""Seeded Debezium-shaped change events and the last-writer-wins oracle.

Everything here is plain Python plus pyarrow: inputs depend only on the
seed, and no Spark job runs while they are made.  One ``EventStream``
yields 2048-event micro-batches (the reference's ``max.batch.size``
default) over 3 destination tables plus ~1% heartbeat events.  Keys follow
a Zipf law, ~5% of keyed events carry a ``__source_ts_ns`` older than an
event for the same key in an earlier batch, and every event's
``__source_ts_ns`` is unique, so the oracle never needs the op-priority
tie break.

``Oracle`` applies the same comparator the sink implements,
``(__source_ts_ns, op priority)`` with deletes kept as ``__deleted=true``
rows, and answers the per-table current-state query the benchmark checks
(row count, deleted count, ``sum(amount)``, a hash of surviving
``(id, __source_ts_ns)``).
"""

from __future__ import annotations

import base64
import bisect
import hashlib
import json
import random

TABLES = ("t0", "t1", "t2")
DEST_PREFIX = "bench.inventory."
HEARTBEAT_DEST = "__debezium-heartbeat.bench"
BATCH_EVENTS = 2048
N_KEYS = 20_000  # keys per table, all preloaded by the snapshot
ZIPF_S = 1.1
LATE_SHARE = 0.05  # keyed events older than one an earlier batch delivered
HEARTBEAT_SHARE = 0.01
OP_PRIORITY = {"c": 1, "r": 2, "u": 3, "d": 4}

# Debezium value schema, embedded in every wire line
# (debezium.format.value.schemas.enable=true).
SCHEMA = {
    "type": "struct",
    "name": "bench.inventory.Value",
    "optional": False,
    "fields": [
        {"type": "int64", "optional": False, "field": "id"},
        {"type": "string", "optional": True, "field": "name"},
        {"type": "int64", "optional": True, "field": "amount"},
        {"type": "int32", "optional": True, "field": "qty"},
        {"type": "string", "optional": True, "field": "category"},
        {"type": "boolean", "optional": True, "field": "active"},
        {"type": "string", "optional": True, "field": "destination"},
        {"type": "string", "optional": True, "field": "__op"},
        {"type": "string", "optional": True, "field": "__table"},
        {"type": "int64", "optional": True, "field": "__ts_ms"},
        {"type": "int64", "optional": True, "field": "__source_ts_ms"},
        {"type": "int64", "optional": True, "field": "__source_ts_ns"},
        {"type": "string", "optional": True, "field": "__deleted"},
    ],
}
COLUMNS = [f["field"] for f in SCHEMA["fields"]]
_SCHEMA_JSON = json.dumps(SCHEMA, separators=(",", ":"))

_BASE_NS = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z
_STEP_NS = 60_000_000_000  # one minute between in-order events
_CATEGORIES = ("books", "games", "garden", "music", "tools", "toys")


def spark_ddl() -> str:
    """The same wire types as a Spark DDL schema, so reading a batch file
    does not infer its schema."""
    types = {"int64": "BIGINT", "int32": "BIGINT", "string": "STRING", "boolean": "BOOLEAN"}
    return ", ".join(f"`{f['field']}` {types[f['type']]}" for f in SCHEMA["fields"])


def _arrow_schema():
    import pyarrow as pa

    # Wire types, as read_cdc_ndjson's from_json produces them.
    types = {"int64": pa.int64(), "int32": pa.int64(), "string": pa.string(),
             "boolean": pa.bool_()}
    return pa.schema(
        [pa.field(f["field"], types[f["type"]], nullable=f["optional"])
         for f in SCHEMA["fields"]]
    )


class EventStream:
    """Deterministic event source: same seed, same batches."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        weights = [1.0 / (k ** ZIPF_S) for k in range(1, N_KEYS + 1)]
        total = sum(weights)
        acc, self._cdf = 0.0, []
        for w in weights:
            acc += w / total
            self._cdf.append(acc)
        # Zipf rank -> key id, so the hot keys spread over all buckets.
        self._key_of_rank = list(range(1, N_KEYS + 1))
        self.rng.shuffle(self._key_of_rank)
        self._seq = 0
        self._used_late: set[int] = set()
        # max __source_ts_ns per (table, key) as of the END of the previous
        # batch: a late event is older than one an earlier batch delivered.
        self._committed_max: dict[tuple[str, int], int] = {}
        self.stats = {"events": 0, "keyed_events": 0, "late_events": 0,
                      "in_batch_duplicates": 0, "distinct_keys": [],
                      "payload_bytes": 0}

    def _next_ts(self) -> int:
        self._seq += 1
        return _BASE_NS + self._seq * _STEP_NS

    def _row(self, table: str, key: int, op: str, ts_ns: int) -> dict:
        rng = self.rng
        # 60 random bytes give 80 base64 letters: as incompressible as a
        # draw per letter, and cheaper
        name = base64.b64encode(rng.randbytes(60)).decode()[:rng.randint(10, 80)]
        ts_ms = ts_ns // 1_000_000
        return {
            "id": key,
            "name": name,
            "amount": rng.randrange(0, 1_000_000),
            "qty": rng.randrange(0, 1_000),
            "category": rng.choice(_CATEGORIES),
            "active": rng.random() < 0.5,
            "destination": DEST_PREFIX + table,
            "__op": op,
            "__table": table,
            "__ts_ms": ts_ms + rng.randrange(0, 5_000),
            "__source_ts_ms": ts_ms,
            "__source_ts_ns": ts_ns,
            "__deleted": "true" if op == "d" else "false",
        }

    def snapshot(self) -> list[dict]:
        """One ``op=r`` row per key per table (the initial snapshot)."""
        rows = []
        for table in TABLES:
            for key in range(1, N_KEYS + 1):
                rows.append(self._row(table, key, "r", self._next_ts()))
        self._commit(rows)
        return rows

    def _zipf_key(self) -> int:
        rank = bisect.bisect_left(self._cdf, self.rng.random())
        return self._key_of_rank[min(rank, N_KEYS - 1)]

    def _late_ts(self, newest: int) -> int:
        while True:
            # never a multiple of the in-order step: cannot collide with one
            ts = newest - self.rng.randrange(1, 600) * _STEP_NS - self.rng.randrange(1, 1_000_000)
            if ts not in self._used_late:
                self._used_late.add(ts)
                return ts

    def next_batch(self) -> list[dict]:
        rng, rows, seen = self.rng, [], set()
        for _ in range(BATCH_EVENTS):
            if rng.random() < HEARTBEAT_SHARE:
                rows.append(self._row("heartbeat", 0, "u", self._next_ts())
                            | {"destination": HEARTBEAT_DEST})
                continue
            table = rng.choice(TABLES)
            key = self._zipf_key()
            r = rng.random()
            op = "u" if r < 0.85 else ("c" if r < 0.90 else "d")
            newest = self._committed_max.get((table, key))
            if newest is not None and rng.random() < LATE_SHARE:
                ts = self._late_ts(newest)
                self.stats["late_events"] += 1
            else:
                ts = self._next_ts()
            if (table, key) in seen:
                self.stats["in_batch_duplicates"] += 1
            seen.add((table, key))
            rows.append(self._row(table, key, op, ts))
        self.stats["keyed_events"] += sum(
            1 for r in rows if r["destination"] != HEARTBEAT_DEST)
        self.stats["distinct_keys"].append(len(seen))
        self._commit(rows)
        return rows

    def _commit(self, rows: list[dict]) -> None:
        for r in rows:
            if r["destination"] == HEARTBEAT_DEST:
                continue
            k = (r["__table"], r["id"])
            if r["__source_ts_ns"] > self._committed_max.get(k, -1):
                self._committed_max[k] = r["__source_ts_ns"]
        self.stats["events"] += len(rows)
        self.stats["payload_bytes"] += payload_bytes(rows)

    def input_stats(self) -> dict:
        s = self.stats
        keyed = max(s["keyed_events"], 1)
        dk = sorted(s["distinct_keys"]) or [0]
        return {
            "events": s["events"],
            "payload_bytes": s["payload_bytes"],
            "distinct_keys_per_batch_p50": dk[len(dk) // 2],
            "in_batch_duplicate_share": round(s["in_batch_duplicates"] / keyed, 4),
            "out_of_order_share": round(s["late_events"] / keyed, 4),
        }


def payload_bytes(rows: list[dict]) -> int:
    """JSON bytes of the event payloads (no schema, no envelope)."""
    return sum(len(json.dumps(r, separators=(",", ":"))) for r in rows)


def write_ndjson(rows: list[dict], path: str) -> None:
    """Wire format: one ``{"schema":..., "payload":...}`` envelope per line."""
    with open(path, "w", encoding="utf-8") as fh:
        for r in rows:
            fh.write('{"schema":' + _SCHEMA_JSON + ',"payload":'
                     + json.dumps(r, separators=(",", ":")) + "}\n")


def write_parquet(rows: list[dict], path: str) -> None:
    """Pre-flattened batch with the wire column types."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({c: [r[c] for r in rows] for c in COLUMNS}, schema=_arrow_schema())
    pq.write_table(table, path)


class Oracle:
    """Expected destination state under last-writer-wins, deletes kept."""

    def __init__(self) -> None:
        # table -> id -> (ts_ns, op_priority, amount, deleted)
        self.state: dict[str, dict[int, tuple[int, int, int, bool]]] = {t: {} for t in TABLES}
        self.appended = {t: [0, 0] for t in TABLES}  # table -> [rows, sum(id)]
        self._agg = {t: [0, 0, 0] for t in TABLES}  # rows, deleted, sum(amount)
        self._changed: dict[str, set[int]] = {t: set() for t in TABLES}

    def apply(self, rows: list[dict]) -> None:
        for r in rows:
            t = r["__table"]
            if t not in self.state:
                continue  # heartbeat
            self.appended[t][0] += 1
            self.appended[t][1] += r["id"]
            cand = (r["__source_ts_ns"], OP_PRIORITY[r["__op"]], r["amount"], r["__op"] == "d")
            cur = self.state[t].get(r["id"])
            agg = self._agg[t]
            if cur is None:
                agg[0] += 1
            elif cand[:2] > cur[:2]:
                agg[1] -= cur[3]
                agg[2] -= cur[2]
            else:
                continue
            agg[1] += cand[3]
            agg[2] += cand[2]
            self.state[t][r["id"]] = cand
            self._changed[t].add(r["id"])

    def take_changed(self, destination: str) -> int:
        """Keys whose winning row changed since the last call for this
        destination table (``bench_inventory_t0`` -> ``t0``)."""
        t = destination.rsplit("_", 1)[-1]
        n = len(self._changed.get(t, ()))
        self._changed[t] = set()
        return n

    def current(self, table: str) -> dict:
        rows, deleted, amount = self._agg[table]
        return {"rows": rows, "deleted": deleted, "sum_amount": amount}

    def final(self, table: str) -> dict:
        out = self.current(table)
        out["hash"] = state_hash(
            (k, v[0]) for k, v in self.state[table].items())
        return out

    def appended_state(self, table: str) -> dict:
        rows, id_sum = self.appended[table]
        return {"rows": rows, "sum_id": id_sum}


def state_hash(pairs) -> str:
    """Order-independent digest of surviving ``(id, __source_ts_ns)`` pairs."""
    h = hashlib.sha256()
    for k, ts in sorted(pairs):
        h.update(f"{k}:{ts};".encode())
    return h.hexdigest()[:16]
