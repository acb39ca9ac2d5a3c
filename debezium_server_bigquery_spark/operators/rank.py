"""Distributed exact global ranking.

``Window.orderBy`` without a partition key collapses to a SINGLE task —
the textbook global-sort bottleneck.  This primitive computes the exact
same ``row_number`` over a total order at cluster scale:

1. ``repartitionByRange`` on the order columns (a distributed range
   sort — boundaries are sampled, which only moves WHERE partition
   splits fall, never the total order, so the result is deterministic);
2. local ``row_number`` within each range partition;
3. global rank = local rank + the cumulative row count of all earlier
   partitions — an O(num_partitions) driver-side offset list, the same
   metadata class as merge's bucket list.

The order columns must form a total order (append a unique tiebreak);
otherwise ranks of ties would depend on partition placement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debezium_server_bigquery_spark.sources.tables import checkpoint_parquet


def ordered_output(df: DataFrame, *cols: str) -> DataFrame:
    """Deterministically ordered output WITHOUT the range-sampling double
    compute.

    A bare ``orderBy`` compiles to ``Exchange rangepartitioning``, and the
    range partitioner SAMPLES its child to pick split points — when the
    child is map-only (projection straight off the scan, no shuffle /
    aggregate / join in between), the sampling pass re-executes the whole
    lineage from parquet, including regex projections, JSON parsing, and
    Arrow/Python (``mapInPandas``) stages.  Measured 2x end-to-end on
    text_quality_score at sf0.1 (round 11).

    Hash-partitioning the result rows first makes AQE materialize that
    stage, so the sampler reads shuffle output instead of recomputing.
    The extra exchange moves the OUTPUT rows once more — the right trade
    whenever the pre-sort lineage is expensive relative to shuffling its
    (usually narrow) result, which holds for every converted call site;
    queries whose sort child already contains a shuffle or aggregate do
    NOT need this (the sampler reads the materialized stage for free).
    Flagging tool: ``tools/plans.py scan``.

    The repartition uses the default shuffle partition count; for tiny
    outputs that is nominally a ~32-task exchange, but AQE coalesces it
    to a handful of tasks at runtime (measured: the converted queries
    all got FASTER, ADVICE r11 reviewed and accepted the default)."""
    return df.repartition(*cols).orderBy(*cols)


def _ranged_with_offsets(
    df: DataFrame, order_cols: list[Column], per_partition_agg: Column
):
    """Shared two-level machinery: range-partition on the order, compute a
    per-partition aggregate, and turn it into cumulative offsets — the
    O(num_partitions) driver metadata both rank and prefix-sum need."""
    spark = df.sparkSession
    n_parts = max(2, spark.sparkContext.defaultParallelism)
    # checkpoint_parquet: the range partitioner SAMPLES to pick boundaries,
    # so recomputing the lineage for the offsets action and the final plan
    # could place splits differently and mismatch the offsets — materialize
    # the ranged layout once (with __pid frozen as a column) and let both
    # consumers read it.  Scratch parquet, not localCheckpoint: the ranged
    # substrate is DATA-SIZED, and a non-reliable executor-memory block
    # would fail the whole query on executor loss instead of re-reading
    # (sources/tables.py makes the full scale argument).
    ranged = checkpoint_parquet(
        df.repartitionByRange(n_parts, *order_cols).withColumn(
            "__pid", F.spark_partition_id()
        ),
        "dsbq_rank_",
    )
    per_part = {
        r["__pid"]: r["agg"]
        # bounded-collect: O(partitions) per-partition offsets
        for r in ranged.groupBy("__pid").agg(per_partition_agg.alias("agg")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(per_part):
        offsets[pid] = acc
        acc += per_part[pid] or 0
    offset_col = (
        F.coalesce(
            *[
                F.when(F.col("__pid") == pid, F.lit(off))
                for pid, off in sorted(offsets.items())
            ],
            F.lit(0),
        )
        if offsets
        else F.lit(0)
    )
    return ranged, offset_col


def global_row_number(
    df: DataFrame, order_cols: list[Column], out: str = "rank"
) -> DataFrame:
    """Exact 1-based global row_number over ``order_cols`` without a
    single-partition window."""
    ranged, offset_col = _ranged_with_offsets(df, order_cols, F.count(F.lit(1)))
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    return ranged.withColumn(
        out, (F.row_number().over(w).cast("long") + offset_col).cast("long")
    ).drop("__pid")


def global_rank_and_prefix_sum(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    rank_out: str = "rank",
    sum_out: str = "running",
) -> DataFrame:
    """Exact global row_number AND inclusive running sum of ``value_col``
    over the same total order, from ONE range partitioning — for consumers
    that need both (e.g. the vocab coverage curve: rank to pick the K
    cut-offs, running sum for the coverage at each).  Calling
    :func:`global_row_number` then :func:`global_prefix_sum` would range-
    partition the input twice; this computes both per-partition aggregates
    (count and sum) in one pass and derives both offset maps from the same
    O(num_partitions) driver metadata."""
    spark = df.sparkSession
    n_parts = max(2, spark.sparkContext.defaultParallelism)
    # Same reliable materialization as _ranged_with_offsets (see comment
    # there): the sampled range layout must be frozen once for offsets and
    # final plan, and the substrate is data-sized.
    ranged = checkpoint_parquet(
        df.repartitionByRange(n_parts, *order_cols).withColumn(
            "__pid", F.spark_partition_id()
        ),
        "dsbq_rank_",
    )
    per_part = {
        r["__pid"]: (r["cnt"], r["s"])
        for r in ranged.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum(value_col).alias("s"))
        # bounded-collect: O(partitions) per-partition count+sum carries
        .collect()
    }
    cnt_off: dict[int, int] = {}
    sum_off: dict[int, int] = {}
    c_acc, s_acc = 0, 0
    for pid in sorted(per_part):
        cnt_off[pid], sum_off[pid] = c_acc, s_acc
        c_acc += per_part[pid][0] or 0
        s_acc += per_part[pid][1] or 0

    def _offset_col(offsets: dict[int, int]) -> Column:
        if not offsets:
            return F.lit(0)
        return F.coalesce(
            *[
                F.when(F.col("__pid") == pid, F.lit(off))
                for pid, off in sorted(offsets.items())
            ],
            F.lit(0),
        )

    w = Window.partitionBy("__pid").orderBy(*order_cols)
    w_sum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        ranged.withColumn(
            rank_out,
            (F.row_number().over(w).cast("long") + _offset_col(cnt_off)).cast(
                "long"
            ),
        )
        .withColumn(
            sum_out,
            (F.sum(value_col).over(w_sum) + _offset_col(sum_off)).cast("long"),
        )
        .drop("__pid")
    )


def global_prefix_sum(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    out: str = "running",
) -> DataFrame:
    """Exact inclusive running SUM of ``value_col`` over the total order —
    the distributed form of ``SUM() OVER (ORDER BY ...)``, same two-level
    shape as :func:`global_row_number`: per-partition local cumsum plus
    the cumulative sums of all earlier range partitions.  Integer-exact
    for integral value columns under any partitioning."""
    ranged, offset_col = _ranged_with_offsets(df, order_cols, F.sum(value_col))
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ranged.withColumn(
        out, (F.sum(value_col).over(w) + offset_col).cast("long")
    ).drop("__pid")
