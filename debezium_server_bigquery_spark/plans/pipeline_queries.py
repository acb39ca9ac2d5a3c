"""End-to-end pipeline queries — the driver's correctness gate pointed at
the REAL replication operators.

Unlike plans/cdc_queries.py (which expresses the CDC semantics as
declarative plans), these entries run the actual engine — CdcPipeline ->
routing -> dedup -> ParquetTable append / merge_upsert -> parquet on disk —
then read the materialized destination tables back.  The DuckDB oracle
recomputes the expected final state from raw events, so a hash match proves
the physical write path (bucketing, partition rewrite, delete application,
meta coercion) end-to-end, the way the reference's @QuarkusTest integration
tests assert on live BigQuery tables (SURVEY §5).
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_server_bigquery_spark.coerce import OP_PRIORITY_SQL

from debezium_server_bigquery_spark.sources.cdc import (
    cdc_synth_oracle_sql,
    synthesize_cdc_events,
)
from debezium_server_bigquery_spark.sources.tables import load_table, scratch_dir
from debezium_server_bigquery_spark.streaming.pipeline import CdcPipeline

_CDC_CTE = f"WITH cdc AS ({cdc_synth_oracle_sql('events')})"
_OP_PRI = OP_PRIORITY_SQL  # A2 priority map — single source in coerce.py
_TABLE_NAME_SQL = "regexp_replace(destination, '\\.', '_', 'g')"
_NOT_HEARTBEAT = "destination NOT LIKE '\\_\\_debezium-heartbeat%' ESCAPE '\\'"


def _run_pipeline(spark: SparkSession, sf_dir: str, **kw) -> CdcPipeline:
    target = scratch_dir("dsbq_e2e_")
    p = CdcPipeline(spark, target, **kw)
    p.run_batch(synthesize_cdc_events(load_table(spark, sf_dir, "events")))
    return p


def _union_tables(p: CdcPipeline, cols: list[str]) -> DataFrame:
    # Enumerate from the pipeline's registry, not the filesystem.
    dests = sorted(p.tables)
    if not dests:
        raise ValueError("pipeline produced no destination tables")
    dfs = []
    for dest in dests:
        df = p.read_table(dest).withColumn("table_name", F.lit(dest))
        dfs.append(df.select("table_name", *cols))
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


# --------------------------------------------------------------------------
def pipeline_upsert_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full upsert replication: synthesize -> route -> dedup -> MERGE into
    key-bucketed parquet tables -> read back final state."""
    p = _run_pipeline(
        spark,
        sf_dir,
        mode="upsert",
        key_cols=("user_id",),
        n_buckets=8,
        dedup_tiebreak=("event_id",),
    )
    return _union_tables(
        p, ["user_id", "event_id", "event_type", "value", "__op"]
    ).orderBy("table_name", "user_id")


PIPELINE_UPSERT_SQL = f"""{_CDC_CTE}
SELECT {_TABLE_NAME_SQL} AS table_name, user_id, event_id, event_type, value, __op
FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY destination, user_id
      ORDER BY __source_ts_ns DESC, {_OP_PRI} DESC, event_id DESC) AS rn
  FROM cdc WHERE {_NOT_HEARTBEAT}
)
WHERE rn = 1 AND __op <> 'd'
ORDER BY table_name, user_id
"""


def pipeline_append_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full append replication (bigquerybatch parity): every change lands;
    month partitioning + meta coercion on disk."""
    p = _run_pipeline(spark, sf_dir, mode="append")
    df = _union_tables(p, ["user_id", "event_id", "event_type", "__op", "__deleted", "__ts_ms"])
    return (
        df.groupBy("table_name", "__op")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("user_id").alias("n_keys"),
            F.sum(F.when(F.col("__deleted"), 1).otherwise(0)).alias("n_deleted"),
            # UTC calendar day from the epoch instant: cast(ts as date)
            # renders via the SESSION time zone and shifts a day on
            # non-UTC harnesses; days-since-epoch arithmetic does not.
            F.min(
                F.date_from_unix_date(
                    F.floor(F.unix_millis(F.col("__ts_ms")) / 86400000).cast("int")
                )
            ).alias("first_day"),
        )
        .orderBy("table_name", "__op")
    )


PIPELINE_APPEND_SQL = f"""{_CDC_CTE}
SELECT {_TABLE_NAME_SQL} AS table_name, __op, COUNT(*) AS n_rows,
  COUNT(DISTINCT user_id) AS n_keys,
  CAST(SUM(CASE WHEN __deleted = 'true' THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
  CAST(MIN(make_timestamp(__ts_ms * 1000)) AS DATE) AS first_day
FROM cdc WHERE {_NOT_HEARTBEAT}
GROUP BY 1, 2 ORDER BY table_name, __op
"""


# Debezium wire-envelope schema node for the synthesized CDC columns —
# shared by every query that round-trips events through NDJSON lines.
_WIRE_SCHEMA_HINT = {
    "type": "struct",
    "fields": [
        {"type": "string", "field": "destination"},
        {"type": "int64", "field": "event_id"},
        {"type": "int64", "optional": True, "field": "user_id"},
        {"type": "string", "optional": True, "field": "event_type"},
        {"type": "double", "optional": True, "field": "value"},
        {"type": "string", "optional": True, "field": "props"},
        {"type": "string", "optional": True, "field": "__op"},
        {"type": "string", "optional": True, "field": "__table"},
        {"type": "string", "optional": True, "field": "__db"},
        {"type": "int64", "optional": True, "field": "__ts_ms"},
        {"type": "int64", "optional": True, "field": "__source_ts_ms"},
        {"type": "int64", "optional": True, "field": "__source_ts_ns"},
        {"type": "string", "optional": True, "field": "__deleted"},
    ],
}


def _write_wire_ndjson(synth: DataFrame, src_dir: str, corrupt_every: int = 0) -> None:
    """Serialize synthesized CDC rows to schema+payload Debezium NDJSON
    lines at ``src_dir``; ``corrupt_every`` > 0 poisons every Nth line."""
    import json as _json

    envelope = F.concat(
        F.lit('{"schema":' + _json.dumps(_WIRE_SCHEMA_HINT) + ',"payload":'),
        F.to_json(F.struct(*synth.columns)),
        F.lit("}"),
    )
    line = envelope
    if corrupt_every:
        line = F.when(
            F.col("event_id") % corrupt_every == 0,
            F.concat(F.lit("CORRUPT "), F.col("event_id").cast("string")),
        ).otherwise(envelope)
    synth.select(line.alias("value")).write.mode("overwrite").text(src_dir)


def pipeline_rejects_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing end-to-end: CDC events serialized to Debezium
    NDJSON wire lines with every 97th corrupted, read back with
    ``on_error="route"``, replicated with a rejects table.  Asserts the
    whole split — poisoned lines land (only) in the DLQ, every clean
    non-heartbeat event reaches its destination (beyond-reference: the
    Java pipeline dies on the first unconvertible event)."""
    from functools import reduce

    from debezium_server_bigquery_spark.sources.cdc import read_cdc_ndjson

    synth = synthesize_cdc_events(load_table(spark, sf_dir, "events"))
    schema_hint = _WIRE_SCHEMA_HINT
    src_dir = scratch_dir("dsbq_rejects_src_")
    _write_wire_ndjson(synth, src_dir, corrupt_every=97)

    batch = read_cdc_ndjson(spark, src_dir, schema_hint=schema_hint, on_error="route")
    p = CdcPipeline(
        spark,
        scratch_dir("dsbq_rejects_tgt_"),
        mode="append",
        rejects_destination="_rejects",
    )
    p.run_batch(batch)
    parts = [
        p.read_table(d)
        .groupBy(F.lit(d).alias("table_name"))
        .agg(F.count("*").alias("n_rows"))
        for d in sorted(p.tables)
    ]
    return reduce(DataFrame.union, parts).orderBy("table_name")


PIPELINE_REJECTS_SQL = f"""{_CDC_CTE}
SELECT table_name, n_rows FROM (
  SELECT {_TABLE_NAME_SQL} AS table_name, COUNT(*) AS n_rows
  FROM cdc WHERE event_id % 97 <> 0 AND {_NOT_HEARTBEAT}
  GROUP BY 1
  UNION ALL
  SELECT '_rejects', COUNT(*) FROM cdc WHERE event_id % 97 = 0
) ORDER BY table_name
"""


def pipeline_keep_deletes_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert with upsert-keep-deletes: tombstones persist flagged."""
    p = _run_pipeline(
        spark,
        sf_dir,
        mode="upsert",
        key_cols=("user_id",),
        n_buckets=8,
        keep_deletes=True,
        dedup_tiebreak=("event_id",),
    )
    df = _union_tables(p, ["user_id", "__op", "__deleted"])
    return (
        df.groupBy("table_name")
        .agg(
            F.count("*").alias("n_keys"),
            F.sum(F.when(F.col("__op") == "d", 1).otherwise(0)).alias("n_tombstones"),
        )
        .orderBy("table_name")
    )


PIPELINE_KEEP_DELETES_SQL = f"""{_CDC_CTE}
SELECT {_TABLE_NAME_SQL} AS table_name, COUNT(*) AS n_keys,
  CAST(SUM(CASE WHEN __op = 'd' THEN 1 ELSE 0 END) AS BIGINT) AS n_tombstones
FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY destination, user_id
      ORDER BY __source_ts_ns DESC, {_OP_PRI} DESC, event_id DESC) AS rn
  FROM cdc WHERE {_NOT_HEARTBEAT}
)
WHERE rn = 1
GROUP BY 1 ORDER BY table_name
"""


def pipeline_fanin_rewrite_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Destination-regexp fan-in (R3): the three physical partitions
    events_p0/1/2 collapse into ONE destination table, reproducing the
    reference's tableA_ptt1/2 -> tableA mapping (docs/configuration.md:5-6)."""
    p = _run_pipeline(
        spark, sf_dir, mode="append", destination_regexp=r"_p\d+$",
        destination_regexp_replace="",
    )
    df = _union_tables(p, ["event_id", "__op"])
    return (
        df.groupBy("table_name")
        .agg(F.count("*").alias("n_rows"), F.countDistinct("event_id").alias("n_events"))
        .orderBy("table_name")
    )


PIPELINE_FANIN_SQL = f"""{_CDC_CTE}
SELECT regexp_replace({_TABLE_NAME_SQL}, '_p\\d+$', '') AS table_name,
       COUNT(*) AS n_rows, COUNT(DISTINCT event_id) AS n_events
FROM cdc WHERE {_NOT_HEARTBEAT}
GROUP BY 1 ORDER BY table_name
"""


def ivm_incremental_agg_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance over the real write path: replicate the
    CDC feed in TWO micro-batches (split by event id parity), bootstrap a
    per-destination aggregate after batch 1, then after batch 2 refresh
    ONLY the destinations batch 2 touched.  The returned MV must equal a
    full recompute of the final replicated state — which is exactly what
    the oracle derives from the raw events.

    keep_deletes=True on the destination so tombstones keep participating
    in the cross-batch last-writer comparison (a dropped delete could
    otherwise be resurrected by an older event in a later batch); the MV's
    aggregate then counts only live (non-deleted) rows.
    """
    from debezium_server_bigquery_spark.operators.merge import merge_upsert
    from debezium_server_bigquery_spark.operators.routing import filter_heartbeats
    from debezium_server_bigquery_spark.operators.table import ParquetTable
    from debezium_server_bigquery_spark.streaming.ivm import MaterializedAggregate

    events = filter_heartbeats(
        synthesize_cdc_events(load_table(spark, sf_dir, "events"))
    )
    b1 = events.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    b2 = events.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1)

    root = scratch_dir("dsbq_ivm_")
    dest = ParquetTable(
        spark,
        os.path.join(root, "dest"),
        key_cols=["destination", "user_id"],
        mode="upsert",
        n_buckets=8,
    )

    def agg_fn(df: DataFrame) -> DataFrame:
        live = df.filter(F.coalesce(F.col("__deleted"), F.lit("false")) != "true")
        return live.groupBy("destination").agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("value").cast("decimal(20,4)")).alias("_total"),
        )

    mv = MaterializedAggregate(
        spark, os.path.join(root, "mv"), ["destination"], agg_fn
    )

    merge_upsert(dest, b1, keep_deletes=True, tiebreak=("event_id",), epoch_id="b1")
    mv.initialize(dest.read())
    merge_upsert(dest, b2, keep_deletes=True, tiebreak=("event_id",), epoch_id="b2")
    mv.refresh(dest.read(), touched=b2.select("destination"))

    return mv.read().select(
        "destination",
        "n_rows",
        F.round(F.col("_total").cast("double"), 4).alias("total_value"),
    ).orderBy("destination")


IVM_SQL = f"""{_CDC_CTE}
SELECT destination, COUNT(*) AS n_rows,
  round(CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE), 4) AS total_value
FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY destination, user_id
      ORDER BY __source_ts_ns DESC, {_OP_PRI} DESC, event_id DESC) AS rn
  FROM cdc WHERE {_NOT_HEARTBEAT}
)
WHERE rn = 1 AND __op <> 'd'
GROUP BY destination ORDER BY destination
"""


def ivm_incremental_join_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained JOIN view over the real write path: two
    CDC-replicated destinations (the two lexicographically-first), a
    stored per-user join of their final states, bootstrapped after batch
    1 and refreshed after batch 2 for ONLY the users batch 2 touched on
    either side (``streaming/ivm.MaterializedJoin``).  The view must
    equal a full recompute of both destinations' final states joined —
    which the oracle derives from raw events.  keep_deletes=True on the
    bases for the same cross-batch resurrection argument as the
    aggregate e2e; the view's sides then drop tombstones."""
    from debezium_server_bigquery_spark.operators.merge import merge_upsert
    from debezium_server_bigquery_spark.operators.routing import filter_heartbeats
    from debezium_server_bigquery_spark.operators.table import ParquetTable
    from debezium_server_bigquery_spark.streaming.ivm import MaterializedJoin

    events = filter_heartbeats(
        synthesize_cdc_events(load_table(spark, sf_dir, "events"))
    )
    # O(destinations) driver metadata — the routing fan-out is bounded
    # bounded-collect: O(destinations) driver list; fan-out bounded by table count
    da, db = sorted(r[0] for r in events.select("destination").distinct().collect())[:2]
    b1 = events.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    b2 = events.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1)
    root = scratch_dir("dsbq_ivmj_")
    tables = {
        d: ParquetTable(
            spark,
            os.path.join(root, d.replace(".", "_")),
            key_cols=["user_id"],
            mode="upsert",
            n_buckets=8,
        )
        for d in (da, db)
    }

    def apply(batch: DataFrame, epoch: str) -> None:
        for d in (da, db):
            merge_upsert(
                tables[d],
                batch.filter(F.col("destination") == d),
                keep_deletes=True,
                tiebreak=("event_id",),
                epoch_id=f"{epoch}.{d}",
            )

    def side(d: str, prefix: str) -> DataFrame:
        live = tables[d].read().filter(
            F.coalesce(F.col("__deleted"), F.lit("false")) != "true"
        )
        return live.select(
            "user_id",
            F.col("event_id").alias(f"{prefix}_event_id"),
            F.col("value").alias(f"{prefix}_value"),
        )

    apply(b1, "b1")
    mj = MaterializedJoin(spark, os.path.join(root, "view"), ["user_id"])
    mj.initialize(side(da, "a"), side(db, "b"))
    apply(b2, "b2")
    mj.refresh(
        side(da, "a"),
        side(db, "b"),
        touched=b2.filter(F.col("destination").isin([da, db])).select("user_id"),
    )
    return mj.read().select(
        "user_id", "a_event_id", "a_value", "b_event_id", "b_value"
    ).orderBy("user_id")


IVM_JOIN_SQL = f"""{_CDC_CTE}
, two AS (
  SELECT destination FROM cdc WHERE {_NOT_HEARTBEAT}
  GROUP BY destination ORDER BY destination LIMIT 2
), final AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY destination, user_id
        ORDER BY __source_ts_ns DESC, {_OP_PRI} DESC, event_id DESC) AS rn
    FROM cdc
    WHERE {_NOT_HEARTBEAT} AND destination IN (SELECT destination FROM two)
  ) WHERE rn = 1 AND __op <> 'd'
)
SELECT a.user_id, a.event_id AS a_event_id, a.value AS a_value,
       b.event_id AS b_event_id, b.value AS b_value
FROM (SELECT * FROM final WHERE destination = (SELECT MIN(destination) FROM two)) a
JOIN (SELECT * FROM final WHERE destination = (SELECT MAX(destination) FROM two)) b
  USING (user_id)
ORDER BY user_id
"""


def pipeline_schema_evolution_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 schema evolution under the gate: batch 1 lands with the original
    schema, batch 2 (split by event-id parity) arrives with an ADDED
    column; the destination evolves (mergeSchema + null back-fill) and the
    read-back aggregate proves old rows carry NULL while new rows carry
    the value — recomputed independently by the oracle."""
    from debezium_server_bigquery_spark.operators.routing import filter_heartbeats
    from debezium_server_bigquery_spark.operators.table import ParquetTable

    events = filter_heartbeats(
        synthesize_cdc_events(load_table(spark, sf_dir, "events"))
    )
    b1 = events.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    b2 = events.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1).withColumn(
        "value_eur", F.round(F.col("value") * 0.9, 4)
    )
    t = ParquetTable(
        spark, scratch_dir("dsbq_evo_") + "/t", mode="append"
    )
    t.append(b1, epoch_id="e1")
    t.append(b2, epoch_id="e2")
    out = t.read()
    return (
        out.groupBy("__op")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("value_eur").alias("n_evolved"),
            F.round(
                F.sum(F.col("value_eur").cast("decimal(20,4)")).cast("double"), 4
            ).alias("sum_eur"),
        )
        .orderBy("__op")
    )


PIPELINE_EVOLUTION_SQL = f"""{_CDC_CTE}
SELECT __op, COUNT(*) AS n_rows,
  CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_evolved,
  round(CAST(SUM(CASE WHEN event_id % 2 = 1
               THEN CAST(round(value * 0.9, 4) AS DECIMAL(20,4)) END) AS DOUBLE), 4) AS sum_eur
FROM cdc WHERE {_NOT_HEARTBEAT}
GROUP BY __op ORDER BY __op
"""


def pipeline_lazy_upsert_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_staleness-parity replication: three event-id-ordered
    micro-batches flow through merge-on-read MERGEs, each of which runs
    its table's maintenance (``ParquetTable.write_delta``); the tables
    must hold the final state.  Batches are event-id-ordered so "a later
    batch wins an exact (ts, op) tie" agrees with the oracle's global
    event_id DESC ordering."""

    target = scratch_dir("dsbq_e2e_")
    p = CdcPipeline(
        spark,
        target,
        mode="upsert",
        key_cols=("user_id",),
        n_buckets=8,
        dedup_tiebreak=("event_id",),
    )
    cdc = synthesize_cdc_events(load_table(spark, sf_dir, "events"))
    # Event-id thirds relative to the actual id range (a one-row aggregate
    # collect — metadata, not data), so every batch is non-empty at any SF.
    # bounded-collect: one-row max aggregate (O(1) scalar)
    max_id = cdc.agg(F.max("event_id")).collect()[0][0] or 0
    third = max(max_id // 3, 1)
    bounds = ((0, third), (third, 2 * third), (2 * third, 1 << 60))
    for i, (lo, hi) in enumerate(bounds):
        p.process_batch(
            cdc.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi)),
            epoch_id=i,
        )
    from debezium_server_bigquery_spark.operators.rank import ordered_output

    # the tables are read straight off their files: materialize the rows
    # before the sort instead of letting its range sampler rescan them
    return ordered_output(
        _union_tables(p, ["user_id", "event_id", "event_type", "value", "__op"]),
        "table_name",
        "user_id",
    )



def pipeline_metrics_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumer-metrics surface through the gate: two append epochs
    (events split by id parity), then ``CdcPipeline.metrics()`` — every
    (table, epoch) commit must report the exact row count the
    write observed (the Debezium MBean processed-counts analog)."""
    p = CdcPipeline(
        spark, scratch_dir("dsbq_metrics_"), mode="append"
    )
    cdc = synthesize_cdc_events(load_table(spark, sf_dir, "events"))
    for epoch, parity in ((0, 0), (1, 1)):
        p.process_batch(cdc.filter(F.col("event_id") % 2 == parity), epoch_id=epoch)
    # appends delete nothing: the gate pins the row counts, not rows_deleted
    return p.metrics().select("table_name", "epoch", "rows").orderBy("table_name", "epoch")


PIPELINE_METRICS_SQL = f"""{_CDC_CTE}
SELECT {_TABLE_NAME_SQL} AS table_name,
  CAST(event_id % 2 AS VARCHAR) || '.0' AS epoch,
  COUNT(*) AS rows
FROM cdc WHERE {_NOT_HEARTBEAT}
GROUP BY 1, 2 ORDER BY table_name, epoch
"""


def pipeline_replay_idempotent_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 offset-store semantics under the gate: the stream splits into
    two micro-batches and the SECOND is applied TWICE with the same epoch
    id — a foreachBatch replay after a checkpoint rollback.  The epoch
    recorded in the table's commit log (``operators/table.py``
    ``epoch_committed``, the BigqueryOffsetBackingStore.java resume-point
    analog) must make the re-delivery a no-op.  Append mode makes the
    guard observable in the output: without it the replay would double
    epoch 1's row
    counts and event-id sums; the oracle applies every event exactly
    once."""
    p = CdcPipeline(spark, scratch_dir("dsbq_replay_"), mode="append")
    cdc = synthesize_cdc_events(load_table(spark, sf_dir, "events"))
    e1 = cdc.filter(F.col("event_id") % 2 == 1)
    p.process_batch(cdc.filter(F.col("event_id") % 2 == 0), epoch_id=0)
    p.process_batch(e1, epoch_id=1)
    p.process_batch(e1, epoch_id=1)  # replayed epoch — the log must skip it
    df = _union_tables(p, ["user_id", "event_id", "__op"])
    return (
        df.groupBy("table_name", "__op")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("event_id").alias("n_events"),
            F.sum("event_id").alias("sum_event_id"),
        )
        .orderBy("table_name", "__op")
    )


PIPELINE_REPLAY_SQL = f"""{_CDC_CTE}
SELECT {_TABLE_NAME_SQL} AS table_name, __op, COUNT(*) AS n_rows,
  COUNT(DISTINCT event_id) AS n_events,
  CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM cdc WHERE {_NOT_HEARTBEAT}
GROUP BY 1, 2 ORDER BY table_name, __op
"""


def cli_run_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 under the gate: the FULL launcher path — an
    ``application.properties`` file parsed by the CLI (`cli.run`), mapped
    through the reference's ``debezium.sink.*`` key surface
    (DebeziumConfig/BatchConsumerConfig parity) into an eager-upsert
    pipeline, executed, and read back via ``ParquetTable.open`` (the
    metadata-restoring reopen).  The read-back state must equal the
    destructive replication the oracle recomputes from raw events — the
    same contract as pipeline_upsert_e2e, but proven through properties
    parsing, sink-type dispatch, key/tiebreak mapping, and table-metadata
    persistence instead of direct constructor calls."""
    from debezium_server_bigquery_spark.cli import run
    from debezium_server_bigquery_spark.operators.table import ParquetTable

    target = scratch_dir("dsbq_cli_")
    conf = os.path.join(target, "application.properties")
    tables_root = os.path.join(target, "tables")
    with open(conf, "w", encoding="utf-8") as fh:
        fh.write(
            "debezium.sink.type=bigquerystream\n"
            "debezium.sink.bigquerystream.upsert=true\n"
            "debezium.sink.bigquerystream.upsert-keep-deletes=false\n"
            f"engine.target-root={tables_root}\n"
            "engine.key-columns=user_id\n"
            "engine.n-buckets=8\n"
            "engine.dedup-tiebreak=event_id\n"
            "engine.source=synthetic\n"
            f"engine.source.sf-dir={sf_dir}\n"
        )
    summary = run(conf, spark=spark)
    dfs = []
    for dest in sorted(summary["tables"]):
        t = ParquetTable(spark, os.path.join(tables_root, dest))
        dfs.append(
            t.read()
            .withColumn("table_name", F.lit(dest))
            .select(
                "table_name", "user_id", "event_id", "event_type", "value", "__op"
            )
        )
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out.orderBy("table_name", "user_id")


# same expected state as the eager upsert path — the CLI must not change
# replication semantics, only how the pipeline is constructed
CLI_RUN_SQL = PIPELINE_UPSERT_SQL


def pipeline_stream_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/T3 under the gate through REAL Structured Streaming: events
    round-trip the Debezium NDJSON wire format, are consumed with
    ``readStream`` + an ``availableNow`` drain trigger (the
    MaxBatchSizeWait analog — batch everything available, SURVEY §2.7)
    checkpointed to disk, MERGEd per micro-batch via foreachBatch, and
    read back.  ``repartition(4)`` scatters events into files in arbitrary
    order and maxFilesPerTrigger=1 forces one micro-batch per file, so the
    cross-batch MERGE really sees OUT-OF-ORDER arrivals; keep_deletes=True
    is then load-bearing, not a flavor: a physically-removed tombstone
    carries no timestamp, so a later batch delivering an OLDER version of
    the key would resurrect it (observed: 428 rows instead of 372 with
    destructive deletes under this shuffle).  With stored tombstones the
    A2 comparator makes the newest (ts, op-priority, event_id) version win
    regardless of arrival batch, and the final state equals the one-batch
    oracle including flagged deletes."""
    from debezium_server_bigquery_spark.sources.cdc import read_cdc_ndjson

    synth = synthesize_cdc_events(load_table(spark, sf_dir, "events"))
    # several source files -> several micro-batches under maxFilesPerTrigger
    src_dir = scratch_dir("dsbq_stream_src_")
    _write_wire_ndjson(synth.repartition(4), src_dir)
    target = scratch_dir("dsbq_stream_tgt_")
    source = read_cdc_ndjson(
        spark,
        src_dir,
        schema_hint=_WIRE_SCHEMA_HINT,
        streaming=True,
        max_files_per_trigger=1,
    )
    p = CdcPipeline(
        spark,
        target,
        mode="upsert",
        key_cols=("user_id",),
        n_buckets=8,
        keep_deletes=True,
        dedup_tiebreak=("event_id",),
    )
    q = p.run_stream(source, os.path.join(target, "_ckpt"), available_now=True)
    q.awaitTermination()
    return _union_tables(
        p, ["user_id", "event_id", "event_type", "value", "__op"]
    ).orderBy("table_name", "user_id")


PIPELINE_STREAM_SQL = f"""{_CDC_CTE}
SELECT {_TABLE_NAME_SQL} AS table_name, user_id, event_id, event_type, value, __op
FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY destination, user_id
      ORDER BY __source_ts_ns DESC, {_OP_PRI} DESC, event_id DESC) AS rn
  FROM cdc WHERE {_NOT_HEARTBEAT}
)
WHERE rn = 1
ORDER BY table_name, user_id
"""


def stream_dedup_watermark_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup under the gate: documents flow
    through REAL Structured Streaming (4 source files drained with
    maxFilesPerTrigger=1 -> 4 micro-batches under an availableNow
    trigger), and ``dropDuplicatesWithinWatermark`` keys first-writer-wins
    state by the content hash — the streaming form of exact dedup whose
    state store holds only the watermark horizon, not the corpus
    (functions/dedup_fuzzy.py dedup_exact_stream).

    Determinism contract: WHICH copy of a duplicated text survives is
    arrival-order dependent — legitimate streaming nondeterminism — so
    the graded output is the survivor-AGNOSTIC summary.  The keep-COUNT
    is exact because event time is a pure function of the content hash
    (all copies of a text share one instant) and the whole event-time
    spread (<= 1000 s) sits far inside the 2 h watermark, so no state
    eviction can ever re-admit a duplicate: exactly one survivor per
    distinct text, every run, any batch order.  The batch oracle
    recomputes the same summary as COUNT(DISTINCT md5(text))."""
    from debezium_server_bigquery_spark.functions.dedup_fuzzy import (
        dedup_exact_stream,
        hash60,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = scratch_dir("dsbq_sdw_src_")
    docs.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn(
            "ts",
            F.timestamp_millis(
                F.lit(1_700_000_000_000)
                + F.pmod(hash60(F.col("text")), F.lit(1000)) * 1000
            ),
        )
    )
    deduped = dedup_exact_stream(stream, ts_col="ts", watermark="2 hours")
    out_dir = scratch_dir("dsbq_sdw_out_")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(out_dir, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    kept = spark.read.parquet(out_dir)
    n = docs.agg(F.count("*").alias("n_input"))
    return (
        kept.agg(F.count("*").alias("n_kept"))
        .crossJoin(F.broadcast(n))
        .select(
            "n_input",
            "n_kept",
            (F.col("n_input") - F.col("n_kept")).alias("n_dropped"),
        )
    )


STREAM_DEDUP_WATERMARK_SQL = """
SELECT COUNT(*) AS n_input,
  COUNT(DISTINCT md5(text)) AS n_kept,
  COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dropped
FROM documents
"""


def stream_window_finalize_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-driven APPEND-mode window finalization under the gate —
    the late-data policy (SURVEY §2.7, the piece the reference lacks)
    graded end-to-end: the full events table flows through real
    Structured Streaming into 1-hour tumbling windows with a 2-hour
    watermark, and the read-back of the append sink must equal the batch
    aggregate EXACTLY — i.e. every window finalized exactly once, none
    emitted early, none stuck in state.

    The mechanism this grades: append mode only emits a window after the
    watermark passes its end, and the watermark used by micro-batch N is
    computed from batch N-1's max event time — so a drain that ends with
    data in the last watermark horizon leaves those windows in state
    forever.  The query constructs exactly that hazard and resolves it
    the way a production pipeline does, with watermark-advancing sentinel
    ticks: three source files with stepped mtimes (FileStreamSource
    processes oldest-first) force three micro-batches — [all real
    events], [sentinel at max+4h], [sentinel at max+8h] — so batch 2 runs
    with watermark max+2h, past every real window's end.  The sentinels'
    own windows stay unflushed (above the final watermark) and are
    filtered defensively anyway.

    Output keys windows by EPOCH HOUR (integer), not a rendered
    timestamp, so the compare is session-time-zone-free; sums are
    decimal-exact.  Oracle: the same 1-hour bucket aggregate in DuckDB
    over the real events."""
    from debezium_server_bigquery_spark.streaming.sessions import (
        windowed_event_counts_stream,
    )
    from debezium_server_bigquery_spark.timeutil import epoch_micros

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    ts_type = ev.schema["ts"].dataType
    src = scratch_dir("dsbq_swf_src_")
    ev.repartition(1).write.mode("overwrite").parquet(src)

    def _part_files() -> set[str]:
        return {
            os.path.join(src, f)
            for f in os.listdir(src)
            if f.endswith(".parquet")
        }

    base_files = _part_files()
    # bounded-collect: one-row max aggregate (O(1) scalar)
    max_ts = ev.agg(F.max("ts")).collect()[0][0]  # O(1) driver scalar
    for i, hours in enumerate((4, 8), start=1):
        sentinel = spark.createDataFrame(
            [(-i, max_ts + datetime.timedelta(hours=hours), "__sentinel", 0.0)],
            ev.schema,
        )
        sentinel.coalesce(1).write.mode("append").parquet(src)
        new = _part_files() - base_files
        base_files |= new
        for f in new:  # stepped mtimes pin the micro-batch order
            st = os.stat(f)
            os.utime(f, (st.st_atime, st.st_mtime + 10 * i))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = windowed_event_counts_stream(stream, watermark="2 hours")
    out_dir = scratch_dir("dsbq_swf_out_")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(out_dir, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    kept = spark.read.parquet(out_dir).filter(
        F.col("event_type") != "__sentinel"
    )
    from pyspark.sql import types as T

    return kept.select(
        (epoch_micros(F.col("window_start"), T.TimestampType()) / 3_600_000_000)
        .cast("long")
        .alias("window_hour"),
        "event_type",
        "n_events",
        "total_value",
    ).orderBy("window_hour", "event_type")


STREAM_WINDOW_FINALIZE_SQL = """
SELECT CAST(epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) // 3600000000 AS BIGINT)
    AS window_hour,
  event_type, COUNT(*) AS n_events,
  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
FROM events
GROUP BY 1, 2 ORDER BY 1, 2
"""


def pipeline_transform_hook_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 (SMT-chain analog) under the gate: a GLOBAL transform and a
    DESTINATION-scoped transform registered on the pipeline's ``transforms``
    hook — the engine's counterpart of Debezium's ``debezium.transforms*``
    chain (DebeziumConfig.java:62-80) — applied in order to each
    destination's slice before dedup/MERGE.  The global hook derives a
    ``value_eur`` column (row shaping); the p0-scoped hook masks ``props``
    (the classic field-redaction SMT).  The read-back must show both
    effects exactly where configured, recomputed independently by the
    oracle."""
    target = scratch_dir("dsbq_smt_")
    p = CdcPipeline(
        spark,
        target,
        mode="upsert",
        key_cols=("user_id",),
        n_buckets=8,
        dedup_tiebreak=("event_id",),
        transforms={
            "*": [
                lambda df: df.withColumn(
                    "value_eur", F.round(F.col("value") * 0.9, 4)
                )
            ],
            "testc_inventory_events_p0": [
                lambda df: df.withColumn("props", F.lit("<redacted>"))
            ],
        },
    )
    p.run_batch(synthesize_cdc_events(load_table(spark, sf_dir, "events")))
    return _union_tables(
        p, ["user_id", "event_id", "value", "value_eur", "props", "__op"]
    ).orderBy("table_name", "user_id")


PIPELINE_TRANSFORM_SQL = f"""{_CDC_CTE}
SELECT {_TABLE_NAME_SQL} AS table_name, user_id, event_id, value,
  round(value * 0.9, 4) AS value_eur,
  CASE WHEN {_TABLE_NAME_SQL} = 'testc_inventory_events_p0'
       THEN '<redacted>' ELSE props END AS props,
  __op
FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY destination, user_id
      ORDER BY __source_ts_ns DESC, {_OP_PRI} DESC, event_id DESC) AS rn
  FROM cdc WHERE {_NOT_HEARTBEAT}
)
WHERE rn = 1 AND __op <> 'd'
ORDER BY table_name, user_id
"""


def pipeline_schema_history_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 under the gate: two schema versions flow through the REAL
    pipeline, then the history is recovered from the destination logs
    under the target root — the startup replay the reference runs over its
    history table (recoverRecords, BigquerySchemaHistory.java:150-169).
    Batch 1 lands the original column set; batch 2 (event-id-parity split)
    arrives with an added ``value_eur`` column, so every destination must
    log exactly two schema versions — the original and the evolved one.
    The output is the recovered history itself (destination, column count,
    canonical name:type list), sorted deterministically; the oracle derives
    the destinations from the raw events and pins the two expected landed
    column sets.  A lost record, a spurious re-record, a coercion change,
    or a broken replay all shift rows/values."""
    import json

    from debezium_server_bigquery_spark.streaming.schema_history import (
        SchemaHistory,
    )

    events = synthesize_cdc_events(load_table(spark, sf_dir, "events"))
    b1 = events.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    b2 = events.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1).withColumn(
        "value_eur", F.round(F.col("value") * 0.9, 4)
    )
    target = scratch_dir("dsbq_hist_")
    p = CdcPipeline(spark, target, mode="append")
    p.run_batch(b1)
    p.run_batch(b2)
    rows = []
    for dest, data in SchemaHistory(spark, target).recover_records():
        cols = json.loads(data)["columns"]
        rows.append(
            (dest, len(cols), ",".join(f"{c['name']}:{c['type']}" for c in cols))
        )
    return (
        spark.createDataFrame(
            rows, "destination string, n_cols long, cols string"
        )
        .orderBy("destination", "n_cols")
    )


_HIST_COLS_V1 = (
    "__db:string,__deleted:boolean,__op:string,__source_ts_ms:timestamp,"
    "__source_ts_ns:bigint,__table:string,__ts_ms:timestamp,event_id:bigint,"
    "event_type:string,props:string,user_id:bigint,value:double"
)
_HIST_COLS_V2 = _HIST_COLS_V1 + ",value_eur:double"

PIPELINE_SCHEMA_HISTORY_SQL = f"""{_CDC_CTE}
, dests AS (
  SELECT DISTINCT {_TABLE_NAME_SQL} AS destination
  FROM cdc WHERE {_NOT_HEARTBEAT}
), vers AS (
  SELECT CAST(12 AS BIGINT) AS n_cols, '{_HIST_COLS_V1}' AS cols
  UNION ALL
  SELECT CAST(13 AS BIGINT), '{_HIST_COLS_V2}'
)
SELECT destination, n_cols, cols
FROM dests CROSS JOIN vers
ORDER BY destination, n_cols
"""


def pipeline_keyless_append_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 under the gate: an upsert-CONFIGURED pipeline pointed at a
    keyless destination must fall back to append semantics — the
    doUpsert/doTableHasPrimaryKey parity (the reference only MERGEs when
    the destination exposes a primary key,
    StreamBigqueryChangeConsumer.java:163-174; pipeline branch:
    streaming/pipeline.py table_for + the mode/key_cols guard).  With no
    key columns every change lands as its own row: the read-back must show
    ALL events per table — deletes included as rows, duplicate keys
    unreduced — which an accidental MERGE could never reproduce."""
    p = _run_pipeline(spark, sf_dir, mode="upsert", key_cols=(), n_buckets=8)
    df = _union_tables(p, ["user_id", "event_id", "__op"])
    return (
        df.groupBy("table_name")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("event_id").alias("n_events"),
            F.sum(F.when(F.col("__op") == "d", 1).otherwise(0)).alias(
                "n_delete_rows"
            ),
            F.sum("event_id").alias("sum_event_id"),
        )
        .orderBy("table_name")
    )


PIPELINE_KEYLESS_APPEND_SQL = f"""{_CDC_CTE}
SELECT {_TABLE_NAME_SQL} AS table_name, COUNT(*) AS n_rows,
  COUNT(DISTINCT event_id) AS n_events,
  CAST(SUM(CASE WHEN __op = 'd' THEN 1 ELSE 0 END) AS BIGINT) AS n_delete_rows,
  CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM cdc WHERE {_NOT_HEARTBEAT}
GROUP BY 1 ORDER BY table_name
"""


def pipeline_retry_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 under the gate: the FIRST physical write attempt of every table
    handle the pipeline opens raises a deterministic transient fault, and
    the bounded-retry budget (operators/retry.py — the reference retries
    client writes 5 attempts within 5 minutes, ConsumerUtil.java:134-147,
    and stream appends 500 ms x1.1 for 5 retries, StreamDataWriter.java
    :73-79) must converge to the EXACT no-fault final state.  An append
    batch writes every destination in one job, through the landing handle
    on the target root, so that job's first attempt is the one that fails.

    The injection point is ``ParquetTable.write_files`` — the separable
    raw write action with_retry wraps.  Retrying it is semantics-preserving
    because a table publishes files only in its log commit, after the
    write: a failed attempt leaves nothing visible, so the retried job
    lands exactly-once and the oracle is the plain append oracle,
    unchanged.
    The fault counter is in-process closure state (no filesystem markers,
    no wall clock), so the query is deterministic under any number of gate
    re-runs; if injection never fires the query raises instead of passing
    vacuously."""
    from debezium_server_bigquery_spark.operators.retry import NO_WAIT_POLICY

    injected: list[str] = []

    class _FlakyWritePipeline(CdcPipeline):
        """Table handles whose first physical write attempt fails
        transiently."""

        def _table(self, path: str, keyed: bool = False):
            t = super()._table(path, keyed)
            t.retry_policy = NO_WAIT_POLICY  # keep the gate fast
            orig = t.write_files
            state = {"tripped": False}

            def flaky_write(out, dest, *args, _orig=orig, _state=state, _path=path):
                if not _state["tripped"]:
                    _state["tripped"] = True
                    injected.append(_path)
                    raise RuntimeError(f"injected transient write failure for {_path}")
                _orig(out, dest, *args)

            t.write_files = flaky_write
            return t

    target = scratch_dir("dsbq_e2e_")
    p = _FlakyWritePipeline(spark, target, mode="append")
    p.run_batch(synthesize_cdc_events(load_table(spark, sf_dir, "events")))
    if not injected:
        raise RuntimeError(
            "fault injection never fired — the retry path went untested"
        )
    df = _union_tables(p, ["user_id", "event_id", "__op"])
    return (
        df.groupBy("table_name")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("user_id").alias("n_keys"),
            F.countDistinct("__op").alias("n_ops"),
            F.sum("event_id").alias("sum_event_id"),
        )
        .orderBy("table_name")
    )


PIPELINE_RETRY_SQL = f"""{_CDC_CTE}
SELECT {_TABLE_NAME_SQL} AS table_name, COUNT(*) AS n_rows,
  COUNT(DISTINCT user_id) AS n_keys,
  COUNT(DISTINCT __op) AS n_ops,
  CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM cdc WHERE {_NOT_HEARTBEAT}
GROUP BY 1 ORDER BY table_name
"""


def pipeline_backfill_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-scoped backfill under the gate: after a full append
    replication, a correction feed doubles the value of every
    ``event_id % 13 == 0`` row; each destination rewrites ONLY the time
    partitions containing corrected rows via
    ``ParquetTable.backfill_time_partitions`` (copy-on-write, one commit,
    untouched months never move) — the reprocess-one-partition operation
    every warehouse runs when an upstream bug is fixed.

    The corrected-row set is a tz-free event_id predicate, so the
    read-back aggregate is identical under ANY session time zone even
    though partition VALUES themselves render in session time; the
    touched-partition list is an O(months) driver collect (the same
    metadata class as MERGE's bucket list).  sum_event_id pins row
    identity (no loss, no duplication across the rewrite)."""
    p = _run_pipeline(spark, sf_dir, mode="append")
    for dest in sorted(p.tables):
        t = p.tables[dest]
        raw = t.read_raw()
        part_col = t.partition_col()
        touched = [
            r[0]
            for r in raw.filter(F.pmod("event_id", F.lit(13)) == 0)
            .select(part_col)
            .distinct()
            # bounded-collect: O(partitions) distinct partition keys
            .collect()
        ]
        corrected = (
            raw.filter(F.col(part_col).isin(touched))
            .withColumn(
                "value",
                F.when(
                    F.pmod("event_id", F.lit(13)) == 0, F.col("value") * 2
                ).otherwise(F.col("value")),
            )
            .drop(part_col)
        )
        t.backfill_time_partitions(corrected, touched)
    df = _union_tables(p, ["event_id", "value"])
    return (
        df.groupBy("table_name")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
            ).alias("sum_value"),
            F.sum("event_id").alias("sum_event_id"),
        )
        .orderBy("table_name")
    )


PIPELINE_BACKFILL_SQL = f"""{_CDC_CTE}
SELECT {_TABLE_NAME_SQL} AS table_name, COUNT(*) AS n_rows,
  round(CAST(SUM(CAST(CASE WHEN event_id % 13 = 0 THEN value * 2
                           ELSE value END AS DECIMAL(18,6))) AS DOUBLE), 4)
    AS sum_value,
  CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM cdc WHERE {_NOT_HEARTBEAT}
GROUP BY 1 ORDER BY table_name
"""


def pipeline_composite_key_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key MERGE under the gate: every other graded upsert keys
    on the single ``user_id``; real CDC tables key on multi-column primary
    keys (lineitem's (l_orderkey, l_linenumber)).  Three ordered batches —
    snapshot 'r' rows, a quantity-doubling update wave for orderkey%7
    keys, a delete wave for orderkey%11 keys — flow through the real
    bucketed MERGE sink on the composite key; the read-back per-returnflag
    aggregate must equal the oracle's closed-form recomputation.  Proves
    key-tuple bucketing, multi-column join conditions in the MERGE, and
    delete application on composite keys.

    The synthetic lineitem deliberately is NOT key-unique (sf0.01: 60000
    rows, 45832 distinct key pairs), so the in-batch A1 dedup really
    resolves duplicate composite keys; the (l_quantity, l_returnflag)
    tiebreak makes the surviving row deterministic (rows still tying on
    both carry identical observable values, so the output is stable
    either way)."""
    from debezium_server_bigquery_spark.operators.merge import merge_upsert
    from debezium_server_bigquery_spark.operators.table import ParquetTable

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    base = li.withColumns(
        {"__op": F.lit("r"), "__source_ts_ns": F.lit(0).cast("long")}
    )
    upd = (
        li.filter(F.col("l_orderkey") % 7 == 0)
        .withColumn("l_quantity", F.col("l_quantity") * 2)
        .withColumns(
            {"__op": F.lit("u"), "__source_ts_ns": F.lit(1_000).cast("long")}
        )
    )
    dele = li.filter(F.col("l_orderkey") % 11 == 0).withColumns(
        {"__op": F.lit("d"), "__source_ts_ns": F.lit(2_000).cast("long")}
    )
    table = ParquetTable(
        spark,
        os.path.join(scratch_dir("dsbq_ck_"), "t"),
        key_cols=["l_orderkey", "l_linenumber"],
        mode="upsert",
        n_buckets=8,
    )
    for i, batch in enumerate((base, upd, dele)):
        merge_upsert(
            table,
            batch,
            keep_deletes=False,
            tiebreak=("l_quantity", "l_returnflag"),
            epoch_id=f"ck.{i}",
        )
    # keep_deletes=False: the delete wave physically removed its rows
    return (
        table.read()
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"),
                2,
            ).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


PIPELINE_COMPOSITE_KEY_SQL = """
WITH keyed AS (
  SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
    ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber
      ORDER BY l_quantity DESC, l_returnflag DESC) AS rn
  FROM lineitem
), final AS (
  SELECT l_returnflag, l_orderkey,
    CASE WHEN l_orderkey % 7 = 0 THEN l_quantity * 2
         ELSE l_quantity END AS l_quantity
  FROM keyed WHERE rn = 1 AND l_orderkey % 11 <> 0
)
SELECT l_returnflag, COUNT(*) AS n_rows,
  COUNT(DISTINCT l_orderkey) AS n_orders,
  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
FROM final GROUP BY l_returnflag ORDER BY l_returnflag
"""


def incremental_snapshot_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBLog-style incremental snapshot under the gate: a pre-existing
    database state is read in FOUR key-range chunks interleaved with four
    slices of concurrently-arriving live changes, all applied through the
    real MERGE sink.  Snapshot rows enter as ``__op='r'`` with
    ``__source_ts_ns=0``, so the A2 comparator makes any live change beat
    its key's snapshot row no matter which lands first — the ordering
    realization of the DBLog watermark algorithm (Andreakis &
    Papapanagiotou, Netflix '19) that Debezium ships as incremental
    snapshots; the reference inherits it from the embedded engine via its
    snapshot-mode configuration surface.  keep_deletes=True prevents a
    late snapshot
    chunk from resurrecting a key a live delete removed.  The final table
    must equal: live winners where present, else the database row."""
    from debezium_server_bigquery_spark.operators.dedup import dedup_last_writer
    from debezium_server_bigquery_spark.operators.merge import merge_upsert
    from debezium_server_bigquery_spark.operators.routing import filter_heartbeats
    from debezium_server_bigquery_spark.operators.table import ParquetTable

    cdc = filter_heartbeats(
        synthesize_cdc_events(load_table(spark, sf_dir, "events"))
    )
    hist = cdc.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    live = cdc.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1)
    # the database being snapshotted = destructive final state of history
    db = dedup_last_writer(
        hist, ["user_id"], order_col="__source_ts_ns", tiebreak=("event_id",)
    ).filter(F.col("__op") != "d")
    table = ParquetTable(
        spark,
        os.path.join(scratch_dir("dsbq_snap_"), "t"),
        key_cols=["user_id"],
        mode="upsert",
        n_buckets=8,
    )
    for i in range(4):
        chunk = db.filter(F.pmod("user_id", F.lit(4)) == i).withColumns(
            {"__op": F.lit("r"), "__source_ts_ns": F.lit(0).cast("long")}
        )
        merge_upsert(
            table, chunk, keep_deletes=True, tiebreak=("event_id",),
            epoch_id=f"snap.{i}",
        )
        # live ids are all odd, so pmod 8 ∈ {1,3,5,7}: slice i gets the
        # non-empty disjoint quarter 2i+1 — every loop iteration really
        # interleaves live changes with a snapshot chunk
        merge_upsert(
            table,
            live.filter(F.pmod("event_id", F.lit(8)) == 2 * i + 1),
            keep_deletes=True,
            tiebreak=("event_id",),
            epoch_id=f"live.{i}",
        )
    return (
        table.read()
        .filter(F.coalesce(F.col("__deleted"), F.lit("false")) != "true")
        .select("user_id", "event_id", "event_type", "value")
        .orderBy("user_id")
    )


INCREMENTAL_SNAPSHOT_SQL = f"""{_CDC_CTE}
, hist AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      ORDER BY __source_ts_ns DESC, {_OP_PRI} DESC, event_id DESC) AS rn
    FROM cdc WHERE {_NOT_HEARTBEAT} AND event_id % 2 = 0
  ) WHERE rn = 1 AND __op <> 'd'
), live AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      ORDER BY __source_ts_ns DESC, {_OP_PRI} DESC, event_id DESC) AS rn
    FROM cdc WHERE {_NOT_HEARTBEAT} AND event_id % 2 = 1
  ) WHERE rn = 1
)
SELECT user_id, event_id, event_type, value
FROM live WHERE __op <> 'd'
UNION ALL
SELECT user_id, event_id, event_type, value
FROM hist WHERE user_id NOT IN (SELECT user_id FROM live)
ORDER BY user_id
"""


def stream_static_enrich_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment under the gate — the remaining
    Structured Streaming join shape (stream-stream and windowed aggs are
    graded elsewhere): orders flow through REAL ``readStream`` as 4
    micro-batches (maxFilesPerTrigger=1, availableNow drain) and every
    micro-batch inner-joins the STATIC customer dimension — the
    canonical "enrich facts with a broadcast dim at ingest" topology; no
    watermark is required because the static side never grows stale
    within a run.

    Determinism contract: enrichment is row-local (each order meets the
    same dimension row in whatever micro-batch it arrives), so the
    graded per-segment rollup of the enriched append output is exact
    regardless of file-to-batch assignment.  Decimal sums per the repo
    convention; the batch oracle is the plain join + GROUP BY."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    src = scratch_dir("dsbq_sse_src_")
    orders.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    enriched = stream.join(
        F.broadcast(cust), stream["o_custkey"] == cust["c_custkey"]
    ).select("o_orderkey", "c_mktsegment", "o_totalprice")
    out_dir = scratch_dir("dsbq_sse_out_")
    q = (
        enriched.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(out_dir, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out_dir)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_totalprice"),
        )
        .orderBy("c_mktsegment")
    )


STREAM_STATIC_ENRICH_SQL = """
SELECT c.c_mktsegment,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
"""


def denormalized_export_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-table training-data export under the gate: the star schema
    denormalizes (lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ supplier ⋈
    part) into ONE physical parquet table — the layout an ML feature
    pipeline actually trains from — then the graded summary re-reads the
    EXPORTED files, so the row grades the write+read round trip, not the
    in-memory join.

    Scale design (100 TB): one fact-sized join pipeline (dims broadcast
    by AQE at this SF; orders⋈lineitem is the bucketed-layout candidate
    graded separately in bucketed_join_e2e), one pass out to columnar
    files partitioned by the natural slice key (customer nation), and a
    map-side-combinable summary over the export.  Decimal revenue per
    the repo convention; the oracle recomputes the same rollup from the
    normalized tables, so any drift is a loss in the export path."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    wide = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(part, li["l_partkey"] == part["p_partkey"])
        .select(
            "l_orderkey",
            "o_custkey",
            F.col("n_name").alias("cust_nation"),
            "s_name",
            "p_brand",
            "l_extendedprice",
            "l_discount",
        )
    )
    out_dir = scratch_dir("dsbq_denorm_")
    wide.write.mode("overwrite").partitionBy("cust_nation").parquet(out_dir)
    exported = spark.read.parquet(out_dir)
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        exported.groupBy("cust_nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
            F.countDistinct("p_brand").cast("long").alias("n_brands"),
            F.sum(
                dec("l_extendedprice")
                * (
                    F.lit(1).cast("decimal(5,2)")
                    - F.col("l_discount").cast("decimal(5,2)")
                )
            )
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("cust_nation")
    )


DENORM_EXPORT_SQL = """
SELECT n.n_name AS cust_nation,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
  CAST(COUNT(DISTINCT p.p_brand) AS BIGINT) AS n_brands,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(5,2)) - CAST(l.l_discount AS DECIMAL(5,2))))
    AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY n.n_name ORDER BY cust_nation
"""


def stream_checkpoint_resume_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-resume under the gate — the exactly-once property the
    offset store exists for (reference analog: BatchUtil offset commit +
    restart, debezium-server-bigquery's resume-from-offsets contract):
    the source lands in TWO arrivals; the stream drains arrival 1 with
    availableNow against a checkpoint, STOPS (a planned shutdown — same
    state as a crash after commit), more files land, and a SECOND stream
    started from the SAME checkpoint processes ONLY the new arrival.
    The graded rollup re-reads the physical output: row counts equal the
    batch oracle exactly — nothing duplicated across the restart,
    nothing lost.

    Determinism: routing of documents to arrival 1 vs 2 is a pure
    doc_id-hash split; the output aggregate is arrival-order independent
    (append-only enrichless pass-through), so file-to-batch assignment
    cannot move the graded numbers."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    first = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    second = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
    src = scratch_dir("dsbq_ckres_src_")
    out_dir = scratch_dir("dsbq_ckres_out_")
    ckpt = os.path.join(out_dir, "_ckpt")
    first.repartition(2).write.mode("append").parquet(src)

    def drain():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()  # arrival 1 committed, stream stopped
    second.repartition(2).write.mode("append").parquet(src)
    drain()  # resume from the same checkpoint: arrival 2 only
    exported = spark.read.parquet(out_dir)
    return (
        exported.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
        .orderBy("lang")
    )


STREAM_CKPT_RESUME_SQL = """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM documents GROUP BY lang ORDER BY lang
"""


QUERIES = {
    "stream_checkpoint_resume_e2e": stream_checkpoint_resume_e2e,
    "denormalized_export_e2e": denormalized_export_e2e,
    "stream_static_enrich_e2e": stream_static_enrich_e2e,
    "pipeline_upsert_e2e": pipeline_upsert_e2e,
    "pipeline_append_e2e": pipeline_append_e2e,
    "pipeline_keep_deletes_e2e": pipeline_keep_deletes_e2e,
    "pipeline_fanin_rewrite_e2e": pipeline_fanin_rewrite_e2e,
    "ivm_incremental_agg_e2e": ivm_incremental_agg_e2e,
    "ivm_incremental_join_e2e": ivm_incremental_join_e2e,
    "pipeline_schema_evolution_e2e": pipeline_schema_evolution_e2e,
    "pipeline_lazy_upsert_e2e": pipeline_lazy_upsert_e2e,
    "pipeline_rejects_e2e": pipeline_rejects_e2e,
    "pipeline_metrics_e2e": pipeline_metrics_e2e,
    "pipeline_replay_idempotent_e2e": pipeline_replay_idempotent_e2e,
    "cli_run_e2e": cli_run_e2e,
    "pipeline_stream_e2e": pipeline_stream_e2e,
    "stream_dedup_watermark_e2e": stream_dedup_watermark_e2e,
    "stream_window_finalize_e2e": stream_window_finalize_e2e,
    "pipeline_transform_hook_e2e": pipeline_transform_hook_e2e,
    "pipeline_schema_history_e2e": pipeline_schema_history_e2e,
    "pipeline_keyless_append_e2e": pipeline_keyless_append_e2e,
    "pipeline_retry_e2e": pipeline_retry_e2e,
    "pipeline_backfill_e2e": pipeline_backfill_e2e,
    "pipeline_composite_key_e2e": pipeline_composite_key_e2e,
    "incremental_snapshot_e2e": incremental_snapshot_e2e,
}

ORACLES = {
    "pipeline_upsert_e2e": PIPELINE_UPSERT_SQL,
    "pipeline_append_e2e": PIPELINE_APPEND_SQL,
    "pipeline_keep_deletes_e2e": PIPELINE_KEEP_DELETES_SQL,
    "pipeline_fanin_rewrite_e2e": PIPELINE_FANIN_SQL,
    "ivm_incremental_agg_e2e": IVM_SQL,
    "ivm_incremental_join_e2e": IVM_JOIN_SQL,
    "pipeline_schema_evolution_e2e": PIPELINE_EVOLUTION_SQL,
    "pipeline_lazy_upsert_e2e": PIPELINE_UPSERT_SQL,
    "pipeline_rejects_e2e": PIPELINE_REJECTS_SQL,
    "pipeline_metrics_e2e": PIPELINE_METRICS_SQL,
    "pipeline_replay_idempotent_e2e": PIPELINE_REPLAY_SQL,
    "cli_run_e2e": CLI_RUN_SQL,
    "pipeline_stream_e2e": PIPELINE_STREAM_SQL,
    "stream_dedup_watermark_e2e": STREAM_DEDUP_WATERMARK_SQL,
    "stream_window_finalize_e2e": STREAM_WINDOW_FINALIZE_SQL,
    "pipeline_transform_hook_e2e": PIPELINE_TRANSFORM_SQL,
    "pipeline_schema_history_e2e": PIPELINE_SCHEMA_HISTORY_SQL,
    "pipeline_keyless_append_e2e": PIPELINE_KEYLESS_APPEND_SQL,
    "pipeline_retry_e2e": PIPELINE_RETRY_SQL,
    "pipeline_backfill_e2e": PIPELINE_BACKFILL_SQL,
    "pipeline_composite_key_e2e": PIPELINE_COMPOSITE_KEY_SQL,
    "incremental_snapshot_e2e": INCREMENTAL_SNAPSHOT_SQL,
    "stream_static_enrich_e2e": STREAM_STATIC_ENRICH_SQL,
    "denormalized_export_e2e": DENORM_EXPORT_SQL,
    "stream_checkpoint_resume_e2e": STREAM_CKPT_RESUME_SQL,
}
