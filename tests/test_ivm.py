"""Incremental view maintenance: partial recompute equals full recompute
under inserts, updates, and deletes."""

from __future__ import annotations

from pyspark.sql import functions as F

from debezium_server_bigquery_spark.operators.table import DELTA_DIR


def _base(spark, rows):
    return spark.createDataFrame(rows, "k string, user_id long, value double")


def _agg(df):
    return df.groupBy("k").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(20,4)")).alias("total"),
    )


def _state(spark, tmp_path):
    from debezium_server_bigquery_spark.streaming.ivm import MaterializedAggregate

    return MaterializedAggregate(spark, str(tmp_path / "mv"), ["k"], _agg)


def _snap(mv):
    return {
        r.k: (r.n, float(r.total)) for r in mv.read().collect()
    }


def test_refresh_matches_full_recompute(spark, tmp_path):
    mv = _state(spark, tmp_path)
    base1 = _base(
        spark, [("a", 1, 10.0), ("a", 2, 5.0), ("b", 3, 2.0), ("c", 4, 7.0)]
    )
    mv.initialize(base1)
    assert _snap(mv) == {"a": (2, 15.0), "b": (1, 2.0), "c": (1, 7.0)}

    # batch touches a (update: user 1 now 20.0) and b (insert user 5)
    base2 = _base(
        spark,
        [("a", 1, 20.0), ("a", 2, 5.0), ("b", 3, 2.0), ("b", 5, 1.0), ("c", 4, 7.0)],
    )
    touched = spark.createDataFrame([("a",), ("b",)], "k string")
    mv.refresh(base2, touched)
    assert _snap(mv) == {"a": (2, 25.0), "b": (2, 3.0), "c": (1, 7.0)}


def test_refresh_drops_vanished_group(spark, tmp_path):
    mv = _state(spark, tmp_path)
    mv.initialize(_base(spark, [("a", 1, 1.0), ("b", 2, 2.0)]))
    # every 'b' row deleted from the base; 'b' is a touched group
    base2 = _base(spark, [("a", 1, 1.0)])
    mv.refresh(base2, spark.createDataFrame([("b",)], "k string"))
    assert _snap(mv) == {"a": (1, 1.0)}


def test_refresh_untouched_groups_not_rewritten(spark, tmp_path):
    mv = _state(spark, tmp_path)
    mv.initialize(
        _base(spark, [("a", 1, 1.0), ("b", 2, 2.0), ("c", 3, 3.0)])
    )
    # a base that LIES about group c (would change its aggregate if read):
    # refreshing only {a} must leave c exactly as stored — proof the
    # recompute scan is restricted to touched groups
    lying_base = _base(spark, [("a", 1, 9.0), ("c", 3, 999.0)])
    mv.refresh(lying_base, spark.createDataFrame([("a",)], "k string"))
    assert _snap(mv) == {"a": (1, 9.0), "b": (1, 2.0), "c": (1, 3.0)}


def test_refresh_with_pipeline_upsert_destination(spark, tmp_path, sf_dir):
    """IVM over the real CDC write path: replicate with merge_upsert, then
    maintain SUM(value) per user bucket and compare to a full recompute of
    the destination."""
    from debezium_server_bigquery_spark.operators.merge import merge_upsert
    from debezium_server_bigquery_spark.operators.table import ParquetTable
    from debezium_server_bigquery_spark.sources.cdc import synthesize_cdc_events
    from debezium_server_bigquery_spark.sources.tables import load_table

    events = synthesize_cdc_events(load_table(spark, sf_dir, "events"))
    dest = ParquetTable(
        spark,
        str(tmp_path / "dest"),
        key_cols=["user_id"],
        mode="upsert",
        partition_field="__ts_ms",
    )
    batch = events.filter(~F.col("destination").startswith("__debezium"))
    merge_upsert(dest, batch, epoch_id="e0")

    mv = _state(spark, tmp_path)

    def agg_over_dest(df):
        return df.groupBy(
            F.pmod(F.col("user_id"), F.lit(7)).cast("string").alias("k")
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(20,4)")).alias("total"),
        )

    mv.agg_fn = agg_over_dest
    mv.group_cols = ["k"]
    mv.initialize(dest.read())

    full = {
        r.k: (r.n, float(r.total)) for r in agg_over_dest(dest.read()).collect()
    }
    assert _snap(mv) == full


# -- MaterializedJoin ------------------------------------------------------
def _mj(spark, tmp_path):
    from debezium_server_bigquery_spark.streaming.ivm import MaterializedJoin

    return MaterializedJoin(spark, str(tmp_path / "jv"), ["user_id"])


def _left(spark, rows):
    return spark.createDataFrame(rows, "user_id long, a_val double")


def _right(spark, rows):
    return spark.createDataFrame(rows, "user_id long, b_val double")


def _jsnap(mj):
    return {r.user_id: (r.a_val, r.b_val) for r in mj.read().collect()}


def test_join_refresh_matches_full_recompute(spark, tmp_path):
    mj = _mj(spark, tmp_path)
    mj.initialize(
        _left(spark, [(1, 10.0), (2, 20.0), (3, 30.0)]),
        _right(spark, [(1, 1.0), (2, 2.0), (4, 4.0)]),
    )
    assert _jsnap(mj) == {1: (10.0, 1.0), 2: (20.0, 2.0)}
    # user 2's left row updates; user 4 gains a left row (new join match)
    l2 = _left(spark, [(1, 10.0), (2, 99.0), (3, 30.0), (4, 40.0)])
    r2 = _right(spark, [(1, 1.0), (2, 2.0), (4, 4.0)])
    mj.refresh(l2, r2, spark.createDataFrame([(2,), (4,)], "user_id long"))
    assert _jsnap(mj) == {1: (10.0, 1.0), 2: (99.0, 2.0), 4: (40.0, 4.0)}


def test_join_refresh_drops_key_vanished_from_one_side(spark, tmp_path):
    mj = _mj(spark, tmp_path)
    mj.initialize(
        _left(spark, [(1, 10.0), (2, 20.0)]), _right(spark, [(1, 1.0), (2, 2.0)])
    )
    # user 2 deleted from the right side: its view row must disappear
    mj.refresh(
        _left(spark, [(1, 10.0), (2, 20.0)]),
        _right(spark, [(1, 1.0)]),
        spark.createDataFrame([(2,)], "user_id long"),
    )
    assert _jsnap(mj) == {1: (10.0, 1.0)}


def test_join_refresh_untouched_keys_not_rewritten(spark, tmp_path):
    mj = _mj(spark, tmp_path)
    mj.initialize(
        _left(spark, [(1, 1.0), (2, 2.0), (3, 3.0)]),
        _right(spark, [(1, 1.5), (2, 2.5), (3, 3.5)]),
    )
    # bases that LIE about key 3: refreshing only {1} must leave 3 stored
    mj.refresh(
        _left(spark, [(1, 9.0), (3, 999.0)]),
        _right(spark, [(1, 1.5), (3, 999.5)]),
        spark.createDataFrame([(1,)], "user_id long"),
    )
    assert _jsnap(mj) == {1: (9.0, 1.5), 2: (2.0, 2.5), 3: (3.0, 3.5)}


def test_join_refresh_multi_row_per_key(spark, tmp_path):
    """Non-unique keys: the view holds the full per-key cross product and
    a refresh recomputes the whole group."""
    mj = _mj(spark, tmp_path)
    mj.initialize(
        _left(spark, [(1, 1.0), (1, 2.0)]), _right(spark, [(1, 10.0)])
    )
    assert sorted((r.a_val, r.b_val) for r in mj.read().collect()) == [
        (1.0, 10.0),
        (2.0, 10.0),
    ]
    mj.refresh(
        _left(spark, [(1, 1.0), (1, 2.0)]),
        _right(spark, [(1, 10.0), (1, 20.0)]),
        spark.createDataFrame([(1,)], "user_id long"),
    )
    assert sorted((r.a_val, r.b_val) for r in mj.read().collect()) == [
        (1.0, 10.0),
        (1.0, 20.0),
        (2.0, 10.0),
        (2.0, 20.0),
    ]


def _holds_delta_and_deletions(table):
    assert any(rel.startswith(DELTA_DIR + "/") for rel in table.live_files())
    assert table._dels


def test_reinitialize_clears_vanished_groups(spark, tmp_path):
    """Repair path: a full re-initialize over existing state — here one
    that a refresh left holding a delta and deletion sets — must clear
    every group that vanished from the base, the delta's too."""
    from debezium_server_bigquery_spark.streaming.ivm import MaterializedAggregate

    mv = MaterializedAggregate(spark, str(tmp_path / "mv"), ["k"], _agg, n_buckets=2)
    mv.initialize(_base(spark, [(f"g{i}", i, 1.0) for i in range(20)]))
    assert len(_snap(mv)) == 20
    base2 = _base(spark, [(f"g{i}", i, 1.0) for i in range(20)] + [("g1", 99, 2.0)])
    mv.refresh(base2, spark.createDataFrame([("g1",)], "k string"))
    assert _snap(mv)["g1"] == (2, 3.0)
    _holds_delta_and_deletions(mv.state)
    mv.initialize(_base(spark, [("g0", 0, 5.0)]))  # 19 groups vanished
    assert _snap(mv) == {"g0": (1, 5.0)}


def test_join_reinitialize_clears_vanished_keys(spark, tmp_path):
    from debezium_server_bigquery_spark.streaming.ivm import MaterializedJoin

    mj = MaterializedJoin(spark, str(tmp_path / "jv"), ["user_id"], n_buckets=2)
    left = _left(spark, [(i, 1.0) for i in range(20)])
    mj.initialize(left, _right(spark, [(i, 2.0) for i in range(20)]))
    assert len(_jsnap(mj)) == 20
    right2 = _right(spark, [(i, 2.0) for i in range(20) if i != 5] + [(5, 7.0)])
    mj.refresh(left, right2, spark.createDataFrame([(5,)], "user_id long"))
    assert _jsnap(mj)[5] == (1.0, 7.0)
    _holds_delta_and_deletions(mj.state)
    mj.initialize(_left(spark, [(3, 9.0)]), _right(spark, [(3, 8.0)]))
    assert _jsnap(mj) == {3: (9.0, 8.0)}


def test_refresh_of_one_group_adds_one_file(spark, tmp_path):
    """A refresh is merge-on-read: refreshing one group of a multi-bucket
    state adds exactly one file and removes no bucket file."""
    from debezium_server_bigquery_spark.streaming.ivm import MaterializedAggregate

    mv = MaterializedAggregate(spark, str(tmp_path / "mv"), ["k"], _agg, n_buckets=4)
    rows = [(f"g{i}", i, 1.0) for i in range(40)]
    mv.initialize(_base(spark, rows))
    before = set(mv.state.live_files())
    assert len(mv.state.partition_file_counts()) == 4
    mv.refresh(_base(spark, rows + [("g7", 99, 1.0)]), spark.createDataFrame([("g7",)], "k string"))
    after = set(mv.state.live_files())
    assert before < after and len(after - before) == 1
    assert _snap(mv)["g7"] == (2, 2.0) and len(_snap(mv)) == 40
    # no touched group: nothing written, no version published
    version = mv.state.version()
    mv.refresh(_base(spark, rows), spark.createDataFrame([], "k string"))
    assert mv.state.version() == version
