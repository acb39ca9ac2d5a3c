"""SCD Type 2 dimension build — history-preserving upsert.

The reference applies change events destructively: its MERGE consumer keeps
only each key's last state (BaseBigqueryStorageConsumer's in-batch dedup +
MERGE upsert, mirrored by operators/merge.py / staged_upsert.py).  A data
warehouse frequently needs the *other* projection of the same stream — a
slowly-changing-dimension table where every version of a row survives with
its validity interval.  This module derives that SCD2 table from the same
ordered change stream, so a reference user gets both sinks from one source.

Shape and scale: the whole build is ONE window over the change stream —
``lead(order_col)`` partitioned by the business key with the A2 ordering
(ts, op-priority, event_id) closes each version at the next change (update
OR delete), then delete rows are dropped.  One shuffle on the key, O(1)
state per key in the window, no join, no self-join — the standard
distributed SCD2 shape that holds at 100 TB because cost is a single
key-partitioned sort, the same cost class as the MERGE dedup it parallels.

The incremental sink (``scd2_merge_batch``) writes like the upsert MERGE:
merge-on-read, one delta file per micro-batch holding the re-windowed
history of the keys it touched, with the stored rows it replaces logged as
deletion sets in the same table commit.  It reads only the buckets its
keys hash to, plus the live deltas.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debezium_server_bigquery_spark.coerce import OP_PRIORITY_SQL, op_priority
from debezium_server_bigquery_spark.operators.routing import filter_heartbeats
from debezium_server_bigquery_spark.operators.table import (
    KEY_BUCKET,
    POS_FILE,
    POS_ROW,
    ParquetTable,
)
from debezium_server_bigquery_spark.sources.cdc import (
    cdc_synth_oracle_sql,
    synthesize_cdc_events,
)
from debezium_server_bigquery_spark.sources.tables import load_table, scratch_dir



def scd2_from_changes(
    changes: DataFrame,
    keys: list[str],
    order_col: str,
    op_col: str = "__op",
    delete_op: str = "d",
    tiebreak: tuple[str, ...] = ("event_id",),
    keep_tombstones: bool = False,
) -> DataFrame:
    """Turn an ordered change stream into SCD Type 2 version rows.

    Every non-delete change opens a version valid from its own ``order_col``
    until the key's NEXT change of any kind (update closes and supersedes;
    delete closes without opening).  Adds:

    - ``valid_from`` / ``valid_to`` — interval bounds in ``order_col`` units;
      ``valid_to`` is NULL for the open (current) version.
    - ``is_current`` — ``valid_to IS NULL``.
    - ``version_num`` — 1-based per-key version counter over surviving rows.

    Ordering within a key is (order_col, op-priority, tiebreak) — identical
    to the MERGE consumer's A2 comparator, so the SCD2 table's final open
    version agrees row-for-row with the destructive upsert's final state.
    """
    order_cols: list[Column] = [F.col(order_col), op_priority(F.col(op_col))]
    order_cols += [F.col(c) for c in tiebreak]
    w_all = Window.partitionBy(*keys).orderBy(*order_cols)
    versioned = changes.withColumn("valid_to", F.lead(order_col).over(w_all))
    alive = versioned.filter(F.col(op_col) != delete_op)
    # Second window runs over the already-shuffled key partitioning: Catalyst
    # reuses the exchange (same partition keys), so this costs a sort only.
    w_alive = Window.partitionBy(*keys).orderBy(*order_cols)
    out = (
        alive.withColumn("valid_from", F.col(order_col))
        .withColumn("is_current", F.col("valid_to").isNull())
        .withColumn("version_num", F.row_number().over(w_alive).cast("long"))
    )
    if keep_tombstones:
        # Delete markers carried as non-version rows (version_num NULL,
        # never current): a stored SCD2 table that keeps them can be
        # re-windowed from its own change columns without losing the
        # closure a delete caused — what the incremental sink needs.
        tombs = (
            versioned.filter(F.col(op_col) == delete_op)
            .withColumn("valid_from", F.col(order_col))
            .withColumn("is_current", F.lit(False))
            .withColumn("version_num", F.lit(None).cast("long"))
        )
        out = out.unionByName(tombs)
    return out


# --------------------------------------------------------------------------
# queries() entry: SCD2 user-dimension history from the synthesized CDC
# stream — the history-preserving twin of cdc_upsert_final_state.
# --------------------------------------------------------------------------
def scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    cdc = filter_heartbeats(synthesize_cdc_events(load_table(spark, sf_dir, "events")))
    out = scd2_from_changes(
        cdc,
        keys=["user_id"],
        order_col="__source_ts_ns",
        tiebreak=("event_id",),
    )
    return out.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        "__op",
        F.col("valid_from").alias("valid_from_ns"),
        F.coalesce(F.col("valid_to"), F.lit(-1)).alias("valid_to_ns"),
        "is_current",
        "version_num",
    ).orderBy("user_id", "version_num")


_OP_PRI_SQL = OP_PRIORITY_SQL  # A2 priority map — single source in coerce.py

SCD2_SQL = f"""
WITH cdc AS ({cdc_synth_oracle_sql('events')}),
live AS (
  SELECT * FROM cdc
  WHERE destination NOT LIKE '\\_\\_debezium-heartbeat%' ESCAPE '\\'
),
versioned AS (
  SELECT *, LEAD(__source_ts_ns) OVER (
      PARTITION BY user_id
      ORDER BY __source_ts_ns, {_OP_PRI_SQL}, event_id) AS valid_to_raw
  FROM live
)
SELECT user_id, event_id, event_type, value, __op,
  __source_ts_ns AS valid_from_ns,
  COALESCE(valid_to_raw, -1) AS valid_to_ns,
  valid_to_raw IS NULL AS is_current,
  CAST(ROW_NUMBER() OVER (
      PARTITION BY user_id
      ORDER BY __source_ts_ns, {_OP_PRI_SQL}, event_id) AS BIGINT) AS version_num
FROM versioned
WHERE __op <> 'd'
ORDER BY user_id, version_num
"""


def scd2_merge_batch(
    table: ParquetTable,
    batch: DataFrame,
    order_col: str = "__source_ts_ns",
    op_col: str = "__op",
    delete_op: str = "d",
    tiebreak: tuple[str, ...] = ("event_id",),
    epoch_id: int | str | None = None,
) -> None:
    """Incremental SCD2 sink: apply one CDC micro-batch to a key-bucketed
    dimension table (``ParquetTable(mode='upsert')``), keeping full version
    history — the streaming form of :func:`scd2_from_changes` and the
    history-preserving sibling of ``merge_upsert``.

    Merge-on-read, like ``merge_upsert``: the stored rows of the batch's
    keys are read with their positions (``ParquetTable.rows_of``), and the
    FULL change history of those keys is re-windowed together with the
    batch.  One write job adds the recomputed history as one delta file
    and logs the positions of the stored rows it replaces as deletion sets
    in the same commit (``ParquetTable.replace_rows``, which then runs the
    table's ``maintain``); rows of other keys are neither rewritten nor
    moved.  Re-windowing whole keys (not just open versions) makes the
    merge correct under ANY arrival order — a late event splices into its
    key's history and downstream versions renumber; streams with strict
    per-key ordering could carry only the open version per key through
    the window as a further optimization.  The write is churn × history
    depth; the read scans the buckets the batch's keys hash to (dynamic
    partition pruning) plus the live deltas, so a batch whose keys span
    every bucket reads the whole table.

    Idempotency: the epoch rides in the table commit, as in merge_upsert,
    so a replayed micro-batch is skipped; exact re-deliveries inside the
    window are collapsed by a FULL-ROW dropDuplicates — deduping on the ordering key
    alone would collapse two genuinely different events sharing
    (key, ts, op) into one arbitrary survivor (silent data loss when the
    configured tiebreak does not uniquify the stream).

    Schema evolution: a later batch may add columns the stored history
    lacks — the redo source replays every stored change column and the
    union uses ``allowMissingColumns=True`` (NULL-filling the other side),
    mirroring operators/merge.py.
    """
    if table.epoch_committed(epoch_id):
        return
    keys = list(table.key_cols)
    if not keys:
        raise ValueError("scd2_merge_batch requires key columns")
    # allow-field-addition gate: like merge_upsert, a disabled gate drops
    # batch columns the stored table does not know instead of evolving it.
    batch = table.restrict_to_live(batch)
    redo_src = batch
    touched = table.rows_of(batch.select(*keys).distinct())
    if touched is not None:
        # Replay ALL stored change columns (everything except the derived
        # SCD2/bucket/position columns) — intersecting with batch.columns
        # would NULL out stored-only columns for every touched key when a
        # later batch stops carrying one.
        derived = {"valid_from", "valid_to", "is_current", "version_num",
                   KEY_BUCKET, POS_FILE, POS_ROW}
        stored = touched.select(*[c for c in touched.columns if c not in derived])
        redo_src = stored.unionByName(batch, allowMissingColumns=True)
    history = scd2_from_changes(
        redo_src.dropDuplicates(),  # full row: collapse only exact re-deliveries
        keys, order_col, op_col, delete_op, tiebreak, keep_tombstones=True,
    )
    table.replace_rows(history, touched, epoch_id)


def state_as_of(
    changes: DataFrame,
    as_of: Column,
    keys: list[str],
    order_col: str,
    op_col: str = "__op",
    delete_op: str = "d",
    tiebreak: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """Point-in-time table state: the SCD2 version whose validity interval
    covers ``as_of`` (``valid_from <= as_of < valid_to``).  This is the
    time-travel read the destructive MERGE sink cannot answer — the SCD2
    history makes every past state a cheap interval filter."""
    hist = scd2_from_changes(changes, keys, order_col, op_col, delete_op, tiebreak)
    return hist.filter(
        (F.col("valid_from") <= as_of)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > as_of))
    )


# --------------------------------------------------------------------------
# queries() entries: point-in-time state + snapshot diff between two times.
# The probe times are derived IN-PLAN from the stream's own ts range
# (min + 1/3 and min + 2/3 of the span) so the same definition holds at
# every SF; the one-row range aggregate is broadcast, never collected.
# --------------------------------------------------------------------------
def _cdc_with_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    cdc = filter_heartbeats(synthesize_cdc_events(load_table(spark, sf_dir, "events")))
    rng = cdc.agg(
        F.min("__source_ts_ns").alias("ts_lo"), F.max("__source_ts_ns").alias("ts_hi")
    )
    return cdc.crossJoin(F.broadcast(rng)).withColumns(
        {
            "t1": F.expr("ts_lo + (ts_hi - ts_lo) div 3"),
            "t2": F.expr("ts_lo + 2 * ((ts_hi - ts_lo) div 3)"),
        }
    )


def scd2_state_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    cdc = _cdc_with_probes(spark, sf_dir)
    state = state_as_of(
        cdc, F.col("t1"), keys=["user_id"], order_col="__source_ts_ns"
    )
    return state.select(
        "user_id", "event_id", "event_type", "value", "__op", "version_num"
    ).orderBy("user_id")


def snapshot_diff_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Added / removed / changed keys between the t1 and t2 states — the
    audit query a replication user runs to reconcile two points in time.
    Both states come from the SAME SCD2 window (one key shuffle); the diff
    is a key equi-join of two interval filters over it."""
    cdc = _cdc_with_probes(spark, sf_dir)
    hist = scd2_from_changes(cdc, ["user_id"], "__source_ts_ns")
    s1 = hist.filter(
        (F.col("valid_from") <= F.col("t1"))
        & (F.col("valid_to").isNull() | (F.col("valid_to") > F.col("t1")))
    ).select(F.col("user_id"), F.col("event_id").alias("event_id_t1"))
    s2 = hist.filter(
        (F.col("valid_from") <= F.col("t2"))
        & (F.col("valid_to").isNull() | (F.col("valid_to") > F.col("t2")))
    ).select(F.col("user_id").alias("user_id_2"), F.col("event_id").alias("event_id_t2"))
    joined = s1.join(s2, s1["user_id"] == s2["user_id_2"], "full_outer")
    return (
        joined.select(
            F.coalesce(F.col("user_id"), F.col("user_id_2")).alias("user_id"),
            F.coalesce("event_id_t1", F.lit(-1)).alias("event_id_t1"),
            F.coalesce("event_id_t2", F.lit(-1)).alias("event_id_t2"),
            F.when(F.col("event_id_t1").isNull(), F.lit("added"))
            .when(F.col("event_id_t2").isNull(), F.lit("removed"))
            .when(F.col("event_id_t1") != F.col("event_id_t2"), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
            .alias("change_type"),
        )
        .filter(F.col("change_type") != "unchanged")
        .orderBy("user_id")
    )


_PROBES_CTE = f"""
WITH cdc0 AS ({cdc_synth_oracle_sql('events')}),
live0 AS (
  SELECT * FROM cdc0
  WHERE destination NOT LIKE '\\_\\_debezium-heartbeat%' ESCAPE '\\'
),
rng AS (SELECT MIN(__source_ts_ns) AS ts_lo, MAX(__source_ts_ns) AS ts_hi FROM live0),
live AS (
  SELECT live0.*, ts_lo + (ts_hi - ts_lo) // 3 AS t1,
         ts_lo + 2 * ((ts_hi - ts_lo) // 3) AS t2
  FROM live0 CROSS JOIN rng
),
versioned AS (
  SELECT *, LEAD(__source_ts_ns) OVER (
      PARTITION BY user_id
      ORDER BY __source_ts_ns, {_OP_PRI_SQL}, event_id) AS valid_to_raw
  FROM live
),
hist AS (
  SELECT *, __source_ts_ns AS valid_from,
    CAST(ROW_NUMBER() OVER (
        PARTITION BY user_id
        ORDER BY __source_ts_ns, {_OP_PRI_SQL}, event_id) AS BIGINT) AS version_num
  FROM versioned
  WHERE __op <> 'd'
)"""

SCD2_AS_OF_SQL = f"""{_PROBES_CTE}
SELECT user_id, event_id, event_type, value, __op, version_num
FROM hist
WHERE valid_from <= t1 AND (valid_to_raw IS NULL OR valid_to_raw > t1)
ORDER BY user_id
"""

SNAPSHOT_DIFF_SQL = f"""{_PROBES_CTE},
s1 AS (
  SELECT user_id, event_id AS event_id_t1 FROM hist
  WHERE valid_from <= t1 AND (valid_to_raw IS NULL OR valid_to_raw > t1)
),
s2 AS (
  SELECT user_id, event_id AS event_id_t2 FROM hist
  WHERE valid_from <= t2 AND (valid_to_raw IS NULL OR valid_to_raw > t2)
)
SELECT COALESCE(s1.user_id, s2.user_id) AS user_id,
  COALESCE(event_id_t1, -1) AS event_id_t1,
  COALESCE(event_id_t2, -1) AS event_id_t2,
  CASE WHEN event_id_t1 IS NULL THEN 'added'
       WHEN event_id_t2 IS NULL THEN 'removed'
       WHEN event_id_t1 <> event_id_t2 THEN 'changed'
       ELSE 'unchanged' END AS change_type
FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
WHERE CASE WHEN event_id_t1 IS NULL THEN 'added'
       WHEN event_id_t2 IS NULL THEN 'removed'
       WHEN event_id_t1 <> event_id_t2 THEN 'changed'
       ELSE 'unchanged' END <> 'unchanged'
ORDER BY user_id
"""


def scd2_sink_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental sink through the gate: the CDC stream split into
    three time-tercile micro-batches, each merged by scd2_merge_batch into
    a key-bucketed dimension table on disk; the read-back history must be
    row-identical to the one-shot batch SCD2 (same oracle as
    scd2_user_history), proving the merge-on-read sink end-to-end."""

    cdc = _cdc_with_probes(spark, sf_dir)
    table = ParquetTable(
        spark,
        scratch_dir("dsbq_scd2_"),
        key_cols=("user_id",),
        mode="upsert",
        n_buckets=8,
    )
    change_cols = [
        "user_id",
        "event_id",
        "event_type",
        "value",
        "__op",
        "__source_ts_ns",
        "__source_ts_ms",
    ]
    epochs = [
        cdc.filter(F.col("__source_ts_ns") <= F.col("t1")),
        cdc.filter(
            (F.col("__source_ts_ns") > F.col("t1"))
            & (F.col("__source_ts_ns") <= F.col("t2"))
        ),
        cdc.filter(F.col("__source_ts_ns") > F.col("t2")),
    ]
    for i, e in enumerate(epochs):
        scd2_merge_batch(table, e.select(*change_cols), epoch_id=i)
    # tombstone markers are storage detail; the version view filters them
    hist = table.read().filter(F.col("__op") != "d")
    return hist.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        "__op",
        F.col("valid_from").alias("valid_from_ns"),
        F.coalesce(F.col("valid_to"), F.lit(-1)).alias("valid_to_ns"),
        "is_current",
        "version_num",
    ).orderBy("user_id", "version_num")


def scd2_temporal_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrich facts with the dimension version IN EFFECT at fact time —
    the canonical SCD2 consumer (Kimball's type-2 surrogate lookup).

    The join is a key equi-join (user_id) with the interval condition as a
    residual predicate; versions per key are bounded, so the probe cost
    per fact row is O(versions of its key), never a range explosion.  Here
    the fact stream is the CDC event stream itself, so every event learns
    which version of its entity was current at its own timestamp (deletes
    and pre-creation events match nothing -> -1 sentinels)."""
    cdc = filter_heartbeats(synthesize_cdc_events(load_table(spark, sf_dir, "events")))
    hist = scd2_from_changes(
        cdc, ["user_id"], "__source_ts_ns", tiebreak=("event_id",)
    ).select(
        F.col("user_id").alias("h_user"),
        F.col("event_id").alias("eff_event_id"),
        F.col("version_num").alias("eff_version"),
        "valid_from",
        "valid_to",
    )
    facts = cdc.select("event_id", "user_id", "__op", "__source_ts_ns")
    joined = facts.join(
        hist,
        (facts["user_id"] == hist["h_user"])
        & (hist["valid_from"] <= facts["__source_ts_ns"])
        & (hist["valid_to"].isNull() | (facts["__source_ts_ns"] < hist["valid_to"])),
        "left",
    )
    return joined.select(
        "event_id",
        "user_id",
        "__op",
        F.coalesce("eff_version", F.lit(-1)).alias("eff_version"),
        F.coalesce("eff_event_id", F.lit(-1)).alias("eff_event_id"),
    ).orderBy("event_id")


SCD2_ENRICH_SQL = f"""
WITH cdc AS ({cdc_synth_oracle_sql('events')}),
live AS (
  SELECT * FROM cdc
  WHERE destination NOT LIKE '\\_\\_debezium-heartbeat%' ESCAPE '\\'
),
versioned AS (
  SELECT *, LEAD(__source_ts_ns) OVER (
      PARTITION BY user_id
      ORDER BY __source_ts_ns, {_OP_PRI_SQL}, event_id) AS valid_to_raw
  FROM live
),
hist AS (
  SELECT user_id AS h_user, event_id AS eff_event_id,
    __source_ts_ns AS valid_from, valid_to_raw,
    CAST(ROW_NUMBER() OVER (
        PARTITION BY user_id
        ORDER BY __source_ts_ns, {_OP_PRI_SQL}, event_id) AS BIGINT) AS eff_version
  FROM versioned
  WHERE __op <> 'd'
)
SELECT f.event_id, f.user_id, f.__op,
  COALESCE(h.eff_version, -1) AS eff_version,
  COALESCE(h.eff_event_id, -1) AS eff_event_id
FROM live f
LEFT JOIN hist h
  ON f.user_id = h.h_user
  AND h.valid_from <= f.__source_ts_ns
  AND (h.valid_to_raw IS NULL OR f.__source_ts_ns < h.valid_to_raw)
ORDER BY f.event_id
"""


QUERIES = {
    "scd2_user_history": scd2_user_history,
    "scd2_state_as_of": scd2_state_as_of,
    "snapshot_diff_epochs": snapshot_diff_epochs,
    "scd2_sink_e2e": scd2_sink_e2e,
    "scd2_temporal_enrich": scd2_temporal_enrich,
}
ORACLES = {
    "scd2_user_history": SCD2_SQL,
    "scd2_state_as_of": SCD2_AS_OF_SQL,
    "snapshot_diff_epochs": SNAPSHOT_DIFF_SQL,
    "scd2_sink_e2e": SCD2_SQL,
    "scd2_temporal_enrich": SCD2_ENRICH_SQL,
}
