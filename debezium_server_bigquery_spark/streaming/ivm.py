"""Incremental view maintenance: a materialized aggregate kept in sync
with a CDC-replicated base table by affected-group partial recompute.

The reference replicates tables and leaves aggregation to BigQuery; a
warehouse user then pays a full scan per dashboard refresh.  This
operator maintains the aggregate AS the replication runs: each micro-
batch names the group keys it touched, the aggregate rows for exactly
those groups are recomputed from the base table and swapped in, and
untouched groups are never read or written.

Why partial recompute instead of algebraic deltas: the CDC feed carries
only after-images by default (no ``before`` block), so an update's
delta against the old value is unknowable from the batch alone —
recomputing the touched group from the replicated base is the form that
stays correct under insert + update + delete with no before-image
requirement.

Scale shape per refresh: touched keys are a distinct-select over the
micro-batch (small); the recompute scan prunes to the touched groups
(predicate pushdown; partition pruning when the base is laid out by a
group-functional column); the state table is key-bucketed exactly like
the upsert MERGE target, so the swap rewrites only the buckets holding
touched groups in one table commit, like the MERGE — maintenance cost
tracks batch size, never table size.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_server_bigquery_spark.operators.table import KEY_BUCKET, ParquetTable


def _stored_buckets(table: ParquetTable) -> list[int]:
    """Bucket values currently present on disk — so a repair
    re-initialize can clear buckets whose keys all vanished."""
    out: list[int] = []
    for d in table.partition_file_counts():
        v = d.split("=", 1)[1]
        out.append(int(v))
    return out


class MaterializedAggregate:
    """A stored aggregate over ``group_cols`` maintained incrementally.

    ``agg_fn`` takes base-table rows and returns ONE row per group
    carrying ``group_cols`` plus the aggregate columns (e.g.
    ``lambda df: df.groupBy("dest").agg(F.sum("value").alias("total"))``).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_cols: Sequence[str],
        agg_fn: Callable[[DataFrame], DataFrame],
        n_buckets: int = 16,
    ):
        self.group_cols = list(group_cols)
        self.agg_fn = agg_fn
        self.state = ParquetTable(
            spark,
            path,
            key_cols=self.group_cols,
            mode="upsert",
            n_buckets=n_buckets,
            clustering_field="",
        )

    def initialize(self, base: DataFrame) -> None:
        """Full recompute — the bootstrap (and the repair path).  On a
        repair over existing state, buckets absent from the new output
        are still overwritten (to nothing) so stale groups vanish."""
        out = self.state.with_partition_col(self.agg_fn(base))
        buckets = sorted(
            # bounded-collect: O(buckets) distinct bucket ids (fixed bucket count)
            {r[0] for r in out.select(KEY_BUCKET).distinct().collect()}
            | set(_stored_buckets(self.state))
        )
        self.state.overwrite_partitions(out, expected_partitions=buckets)

    def refresh(self, base: DataFrame, touched: DataFrame) -> None:
        """Re-aggregate exactly the groups in ``touched`` (any DataFrame
        carrying ``group_cols``; extra columns ignored) from ``base``.

        A touched group that vanished from the base (every row deleted)
        is dropped from the state — "recompute to nothing".
        """
        keys = touched.select(*self.group_cols).distinct()
        keyed = self.state.with_partition_col(keys)
        # bounded-collect: O(buckets) distinct bucket ids (fixed bucket count)
        buckets = [r[0] for r in keyed.select(KEY_BUCKET).distinct().collect()]
        if not buckets:
            return
        recomputed = self.state.with_partition_col(
            self.agg_fn(base.join(F.broadcast(keys), self.group_cols))
        )
        live = self.state.read_raw()
        if live is None:
            self.state.overwrite_partitions(recomputed, expected_partitions=buckets)
            return
        untouched = live.filter(F.col(KEY_BUCKET).isin(buckets)).join(
            F.broadcast(keys), self.group_cols, "left_anti"
        )
        self.state.overwrite_partitions(
            untouched.unionByName(recomputed), expected_partitions=buckets
        )

    def read(self) -> DataFrame:
        return self.state.read()


class MaterializedJoin:
    """A stored equi-join view ``left ⋈ right ON join_cols`` maintained by
    affected-key partial recompute — the join sibling of
    :class:`MaterializedAggregate`.

    On refresh the caller names the join keys a micro-batch touched (on
    EITHER side); both base sides are semi-join-pruned to those keys, the
    join is recomputed for exactly those keys, and the state table swaps
    the buckets holding them (untouched keys in those buckets are carried
    over, other buckets never read or written).  Recomputing the touched
    key's whole join group — instead of algebraic ΔA⋈B ∪ A⋈ΔB deltas —
    stays correct under upsert + delete with after-image-only CDC, the
    same argument as the aggregate's docstring; cost is churn × per-key
    join width, never view size.

    The two inputs must already have disjoint non-key column names (the
    view schema is their concatenation).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        join_cols: Sequence[str],
        n_buckets: int = 16,
    ):
        self.join_cols = list(join_cols)
        self.state = ParquetTable(
            spark,
            path,
            key_cols=self.join_cols,
            mode="upsert",
            n_buckets=n_buckets,
            clustering_field="",
        )

    def _compute(self, left: DataFrame, right: DataFrame) -> DataFrame:
        return left.join(right, self.join_cols)

    def _swap(self, rows: DataFrame, buckets: list) -> None:
        self.state.overwrite_partitions(rows, expected_partitions=buckets)

    def initialize(self, left: DataFrame, right: DataFrame) -> None:
        """Full recompute — the bootstrap (and the repair path).  On a
        repair over existing state, buckets absent from the new output
        are still overwritten (to nothing) so stale keys vanish."""
        out = self.state.with_partition_col(self._compute(left, right))
        buckets = sorted(
            # bounded-collect: O(buckets) distinct bucket ids (fixed bucket count)
            {r[0] for r in out.select(KEY_BUCKET).distinct().collect()}
            | set(_stored_buckets(self.state))
        )
        self._swap(out, buckets)

    def refresh(self, left: DataFrame, right: DataFrame, touched: DataFrame) -> None:
        """Recompute the join for exactly the keys in ``touched`` (any
        DataFrame carrying ``join_cols``; extra columns ignored).  A key
        whose rows vanished from either side drops out of the view —
        recompute-to-nothing, like the aggregate."""
        keys = touched.select(*self.join_cols).distinct()
        keyed = self.state.with_partition_col(keys)
        # bounded-collect: O(buckets) distinct bucket ids (fixed bucket count)
        buckets = [r[0] for r in keyed.select(KEY_BUCKET).distinct().collect()]
        if not buckets:
            return
        recomputed = self.state.with_partition_col(
            self._compute(
                left.join(F.broadcast(keys), self.join_cols, "left_semi"),
                right.join(F.broadcast(keys), self.join_cols, "left_semi"),
            )
        )
        live = self.state.read_raw()
        if live is None:
            self._swap(recomputed, buckets)
            return
        untouched = live.filter(F.col(KEY_BUCKET).isin(buckets)).join(
            F.broadcast(keys), self.join_cols, "left_anti"
        )
        self._swap(untouched.unionByName(recomputed), buckets)

    def read(self) -> DataFrame:
        return self.state.read()
