"""Z-order clustering — multi-column data skipping for destination tables.

The reference clusters BigQuery tables on PK + ``__source_ts_ms``
(StreamBigqueryChangeConsumer.java:262-345, BaseRecordConverter.java:181-223);
BigQuery clustering is lexicographic, so row pruning degrades fast past the
leading column.  On parquet the engine controls physical layout directly,
which lets it do better: interleave the bits of several columns' bucket
ranks into one ``z-value`` and lay rows out in z-order, so parquet
row-group min/max statistics stay tight on EVERY clustered column and a
point/box predicate on any subset of them prunes row groups.

Scale design:

- **The z-value is pure Catalyst bit algebra** (``width_bucket`` +
  shift/or), codegen'd, no UDF, no shuffle of its own.
- **Bucket ranges are O(metadata)**: one tiny min/max aggregate per layout
  call (or caller-provided ranges).  Nothing is collected but 2 scalars
  per column.
- **`zorder_layout` is the OPTIMIZE-style path**: rows go to contiguous
  z-ranges of near-equal size, cut from exact row counts per z-prefix (at
  most ``2**CUT_BITS`` counts reach the driver), then
  ``sortWithinPartitions``, so every output file covers a compact z-range.
  Exact counts make the layout the same in every run; a sampled range
  partitioner (``repartitionByRange``) seeds its sample with the RDD id,
  so its file boundaries and row-group stats change from job to job.  Cost is the one shuffle any
  re-layout must pay; it is a maintenance operation, amortized exactly like
  the upsert tables' maintenance.
- **Per-batch clustering** (``ParquetTable(zorder_cols=...)``) sorts each
  micro-batch within its existing partitions — no extra shuffle on the
  write path; ranges come from the batch itself.  Row-group skipping only
  needs per-file ordering, so per-batch ranges are sufficient (files from
  different batches simply carry their own stats).

Bits default to 12 per column: 4096 buckets per dimension is far finer
than row-group granularity at any realistic file size, and up to 5 columns
still fit a signed 64-bit z-value.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ZORDER_BITS = 12
# zorder_layout cuts its partitions on the top CUT_BITS bits of the z-value.
CUT_BITS = 12


def validate_zorder(cols: Sequence[str], bits: int = ZORDER_BITS) -> None:
    """Eager configuration check (shape only — column types are checked
    against the actual schema at layout time).  Call at table construction
    so a bad layout fails fast, not on the first write."""
    if len(cols) * bits > 62:
        raise ValueError(
            f"{len(cols)} z-order cols x {bits} bits overflows a signed z-value"
        )


def _proxy(col: Column, dtype) -> Column:
    """Order-preserving DOUBLE rank for any clusterable column type.

    - numerics/booleans: plain cast
    - DATE: days since epoch
    - TIMESTAMP / TIMESTAMP_NTZ: epoch micros (tz-free, timeutil)
    - STRING: first 7.5 UTF-8 bytes as a 60-bit big-endian integer —
      lexicographic byte order is preserved (shorter strings right-pad
      with zero hex digits, ranking before any extension, like a sort)
    """
    from pyspark.sql import types as T

    if isinstance(dtype, T.NumericType):
        return col.cast("double")
    if isinstance(dtype, T.BooleanType):
        return col.cast("int").cast("double")
    if isinstance(dtype, T.DateType):
        return F.unix_date(col).cast("double")
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        from debezium_server_bigquery_spark.timeutil import epoch_micros

        return epoch_micros(col, dtype).cast("double")
    if isinstance(dtype, T.StringType):
        return F.conv(
            F.rpad(F.substring(F.hex(F.encode(col, "UTF-8")), 1, 15), 15, "0"),
            16,
            10,
        ).cast("double")
    raise ValueError(
        f"z-order does not support column type {dtype.simpleString()} "
        "(numeric, boolean, date, timestamp, string are supported)"
    )


def _proxies(df: DataFrame, cols: Sequence[str]) -> dict[str, Column]:
    return {c: _proxy(F.col(c), df.schema[c].dataType) for c in cols}


def column_ranges(df: DataFrame, cols: Sequence[str]) -> dict[str, tuple[float, float]]:
    """One aggregate pass -> {col: (min, max)} of the order-preserving
    numeric proxies.  O(metadata) driver data."""
    proxies = _proxies(df, cols)
    aggs = []
    for c in cols:
        aggs += [F.min(proxies[c]).alias(f"__mn_{c}"), F.max(proxies[c]).alias(f"__mx_{c}")]
    # bounded-collect: one-row min/max aggregate (O(cols) scalars)
    row = df.agg(*aggs).collect()[0]
    out = {}
    for c in cols:
        mn, mx = row[f"__mn_{c}"], row[f"__mx_{c}"]
        if mn is None:  # all-null column: any constant range works
            mn = mx = 0
        out[c] = (float(mn), float(mx))
    return out


def _bucket(col: Column, mn: float, mx: float, bits: int) -> Column:
    """Uniform bucket rank in [0, 2**bits).  NULLs rank first (bucket 0),
    matching NULLS FIRST sort semantics.  Uniform (not quantile) buckets:
    at row-group granularity the layout only has to separate value
    neighborhoods, and uniform buckets keep the expression constant-folded;
    heavy skew degrades toward single-column clustering, never below it."""
    n = 1 << bits
    if mx <= mn:  # constant column contributes nothing to the interleave
        return F.lit(0).cast("long")
    b = F.width_bucket(col.cast("double"), F.lit(mn), F.lit(mx), F.lit(n))
    # width_bucket: 0 below range, n+1 above; clamp into [0, n-1].  NULL is
    # handled with an explicit `when`, NOT least/greatest+coalesce —
    # Spark's least/greatest SKIP null arguments (so least(NULL, n-1)
    # silently becomes n-1 and a NULL would rank last instead of first).
    clamped = F.greatest(F.least(b - F.lit(1), F.lit(n - 1)), F.lit(0))
    return F.when(col.isNull(), F.lit(0)).otherwise(clamped).cast("long")


def zvalue(
    df: DataFrame,
    cols: Sequence[str],
    ranges: Mapping[str, tuple[float, float]],
    bits: int = ZORDER_BITS,
) -> Column:
    """Bit-interleaved z-value over ``cols`` of ``df`` (column j
    contributes bit i of its bucket rank at position ``i*k + j``).
    ``ranges`` are proxy-space bounds from :func:`column_ranges`.  k*bits
    must fit a signed long."""
    k = len(cols)
    if k == 0:
        raise ValueError("zvalue needs at least one column")
    validate_zorder(cols, bits)
    proxies = _proxies(df, cols)
    buckets = [_bucket(proxies[c], *ranges[c], bits) for c in cols]
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, b in enumerate(buckets):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * k + j))
    return z


def zorder_layout(
    df: DataFrame,
    cols: Sequence[str],
    *,
    bits: int = ZORDER_BITS,
    ranges: Mapping[str, tuple[float, float]] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """OPTIMIZE ZORDER BY analog: return ``df`` globally laid out in
    z-order (range-partitioned + sorted on the z-value, ties by ``cols``),
    ready to write.  One shuffle — the price of any re-layout — after one
    aggregate that counts rows per z-prefix to place the partition cuts.
    ``num_partitions`` defaults to ``spark.sql.shuffle.partitions``."""
    ranges = dict(ranges) if ranges is not None else column_ranges(df, cols)
    n = num_partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    with_z = df.select("*", zvalue(df, cols, ranges, bits).alias("__zv"))
    prefix = F.shiftright("__zv", max(len(cols) * bits - CUT_BITS, 0))
    # bounded-collect: one count per z-prefix, at most 2**CUT_BITS rows
    counts = sorted(tuple(r) for r in with_z.groupBy(prefix).count().collect())
    total = sum(c for _, c in counts)
    # cuts[i]: the first prefix of partition i+1; a prefix holding more
    # than a partition's share repeats its cut and leaves a partition empty
    cuts: list[int] = []
    seen = 0
    for p, c in counts:
        cuts += [p] * (min(seen * n // total, n - 1) - len(cuts))
        seen += c
    pid = sum(((prefix >= cut).cast("int") for cut in cuts), F.lit(0))
    return (
        with_z.repartitionById(n, pid)
        .sortWithinPartitions("__zv", *cols)
        .drop("__zv")
    )


# --------------------------------------------------------------------------
# Graded query: layout preservation end-to-end.
# --------------------------------------------------------------------------
def zorder_events_roundtrip(spark, sf_dir: str) -> DataFrame:
    """Z-order the events table by (user_id, event_id), write, read back,
    aggregate — proves the layout path loses/duplicates nothing.  The
    aggregate is layout-independent, so the DuckDB twin reads the source
    directly."""

    from debezium_server_bigquery_spark.sources.tables import load_table, scratch_dir

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type"
    )
    target = scratch_dir("dsbq_zorder_") + "/events_z"
    zorder_layout(events, ["user_id", "event_id"], num_partitions=8).write.mode(
        "overwrite"
    ).parquet(target)
    back = spark.read.parquet(target)
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("event_id").alias("min_event"),
            F.max("event_id").alias("max_event"),
            F.sum("event_id").alias("sum_event"),
        )
        .orderBy("event_type")
    )


ZORDER_ROUNDTRIP_SQL = """
SELECT event_type, COUNT(*) AS n_rows,
  COUNT(DISTINCT user_id) AS n_users,
  MIN(event_id) AS min_event, MAX(event_id) AS max_event,
  CAST(SUM(event_id) AS BIGINT) AS sum_event
FROM events GROUP BY event_type ORDER BY event_type
"""

QUERIES = {"zorder_events_roundtrip": zorder_events_roundtrip}
ORACLES = {"zorder_events_roundtrip": ZORDER_ROUNDTRIP_SQL}
