"""Incremental view maintenance: a materialized aggregate kept in sync
with a CDC-replicated base table by affected-group partial recompute.

The reference replicates tables and leaves aggregation to BigQuery; a
warehouse user then pays a full scan per dashboard refresh.  This
operator maintains the aggregate AS the replication runs: each micro-
batch names the group keys it touched, the aggregate rows for exactly
those groups are recomputed from the base table and replace the stored
ones, and untouched groups are never read or written.

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
the upsert MERGE target and written the same way — merge-on-read, one
delta file of the recomputed rows plus the positions of the stored rows
they replace, in one table commit (``ParquetTable.replace_rows``).  The
write tracks batch size; finding the stored rows reads the state buckets
the touched keys hash to (dynamic partition pruning) plus the live
deltas, so a refresh touching every bucket reads the whole state.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_server_bigquery_spark.operators.table import ParquetTable


def _state_table(spark: SparkSession, path: str, keys: list[str], n_buckets: int):
    return ParquetTable(
        spark, path, key_cols=keys, mode="upsert", n_buckets=n_buckets, clustering_field=""
    )


def _replace_all(state: ParquetTable, rows: DataFrame) -> None:
    """Full recompute — the bootstrap and the repair path: one commit
    lands ``rows`` bucketed and removes every live file, deltas included,
    so stale keys vanish."""
    state.write_delta(state.with_partition_col(rows), remove=state.live_files())


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
        self.state = _state_table(spark, path, self.group_cols, n_buckets)

    def initialize(self, base: DataFrame) -> None:
        """Full recompute (see ``_replace_all``)."""
        _replace_all(self.state, self.agg_fn(base))

    def refresh(self, base: DataFrame, touched: DataFrame) -> None:
        """Re-aggregate exactly the groups in ``touched`` (any DataFrame
        carrying ``group_cols``; extra columns ignored) from ``base``.

        A touched group that vanished from the base (every row deleted)
        is dropped from the state — "recompute to nothing".
        """
        keys = touched.select(*self.group_cols).distinct()
        recomputed = self.agg_fn(base.join(F.broadcast(keys), self.group_cols))
        self.state.replace_rows(recomputed, self.state.rows_of(keys))

    def read(self) -> DataFrame:
        return self.state.read()


class MaterializedJoin:
    """A stored equi-join view ``left ⋈ right ON join_cols`` maintained by
    affected-key partial recompute — the join sibling of
    :class:`MaterializedAggregate`.

    On refresh the caller names the join keys a micro-batch touched (on
    EITHER side); both base sides are semi-join-pruned to those keys, the
    join is recomputed for exactly those keys, and the state table
    replaces the stored rows of those keys merge-on-read (other keys are
    never rewritten).  Recomputing the touched
    key's whole join group — instead of algebraic ΔA⋈B ∪ A⋈ΔB deltas —
    stays correct under upsert + delete with after-image-only CDC, the
    same argument as the aggregate's docstring; the write is churn ×
    per-key join width, and the state read is the touched keys' buckets.

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
        self.state = _state_table(spark, path, self.join_cols, n_buckets)

    def _compute(self, left: DataFrame, right: DataFrame) -> DataFrame:
        return left.join(right, self.join_cols)

    def initialize(self, left: DataFrame, right: DataFrame) -> None:
        """Full recompute (see ``_replace_all``)."""
        _replace_all(self.state, self._compute(left, right))

    def refresh(self, left: DataFrame, right: DataFrame, touched: DataFrame) -> None:
        """Recompute the join for exactly the keys in ``touched`` (any
        DataFrame carrying ``join_cols``; extra columns ignored).  A key
        whose rows vanished from either side drops out of the view —
        recompute-to-nothing, like the aggregate."""
        keys = touched.select(*self.join_cols).distinct()
        recomputed = self._compute(
            left.join(F.broadcast(keys), self.join_cols, "left_semi"),
            right.join(F.broadcast(keys), self.join_cols, "left_semi"),
        )
        self.state.replace_rows(recomputed, self.state.rows_of(keys))

    def read(self) -> DataFrame:
        return self.state.read()
