"""Lazy upsert (max_staleness parity) — merge-on-read MERGE per batch,
table maintenance every N versions.

The contract under test: at every point in time, ``read_current()`` of
the lazy table equals what the eager per-batch MERGE path would have
produced, regardless of where the maintenance boundary falls, and a
replayed epoch changes nothing.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from debezium_server_bigquery_spark.operators.merge import merge_upsert
from debezium_server_bigquery_spark.operators.staged_upsert import StagedUpsertTable
from debezium_server_bigquery_spark.operators.table import ParquetTable
from debezium_server_bigquery_spark.streaming.pipeline import CdcPipeline

_COLS = "user_id long, v string, __op string, __source_ts_ns long, __deleted boolean"


def _batches(spark):
    return [
        spark.createDataFrame(
            [(1, "a", "c", 100, False), (2, "b", "c", 110, False)], _COLS
        ),
        spark.createDataFrame(
            [(1, "a2", "u", 200, False), (3, "c", "c", 210, False)], _COLS
        ),
        spark.createDataFrame(
            [(2, None, "d", 300, True), (3, "c2", "u", 310, False)], _COLS
        ),
        spark.createDataFrame(
            [(2, "b2", "c", 400, False), (4, "d", "c", 410, False)], _COLS
        ),
    ]


def _snap(df):
    return sorted(
        (r["user_id"], r["v"], r["__op"]) for r in df.select("user_id", "v", "__op").collect()
    )


def _eager(spark, tmp_path, batches, upto, **kw):
    t = ParquetTable(
        spark, str(tmp_path / f"eager_{upto}"), key_cols=["user_id"], mode="upsert", n_buckets=4
    )
    for i, b in enumerate(batches[:upto]):
        merge_upsert(t, b, epoch_id=i, **kw)
    return t.read()


@pytest.mark.heavy
def test_lazy_matches_eager_at_every_point(spark, tmp_path):
    batches = _batches(spark)
    base = ParquetTable(
        spark, str(tmp_path / "lazy"), key_cols=["user_id"], mode="upsert", n_buckets=4
    )
    lazy = StagedUpsertTable(base, staleness_batches=3)
    for i, b in enumerate(batches):
        lazy.apply(b, epoch_id=i)
        assert _snap(lazy.read_current()) == _snap(
            _eager(spark, tmp_path, batches, i + 1)
        ), f"divergence after batch {i}"
    # maintenance ran after version 3; running it again changes nothing
    lazy.compact()
    assert _snap(lazy.read_current()) == _snap(_eager(spark, tmp_path, batches, 4))


@pytest.mark.heavy
def test_lazy_keep_deletes(spark, tmp_path):
    batches = _batches(spark)
    base = ParquetTable(
        spark, str(tmp_path / "lazykd"), key_cols=["user_id"], mode="upsert", n_buckets=4
    )
    lazy = StagedUpsertTable(base, staleness_batches=10, keep_deletes=True)
    for i, b in enumerate(batches[:3]):
        lazy.apply(b, epoch_id=i)
    cur = lazy.read_current()
    # user 2's delete is retained, flagged
    row = cur.filter(F.col("user_id") == 2).collect()
    assert len(row) == 1 and row[0]["__op"] == "d" and row[0]["__deleted"]


def test_lazy_epoch_replay_is_idempotent(spark, tmp_path):
    batches = _batches(spark)
    base = ParquetTable(
        spark, str(tmp_path / "lazyr"), key_cols=["user_id"], mode="upsert", n_buckets=4
    )
    lazy = StagedUpsertTable(base, staleness_batches=10)
    lazy.apply(batches[0], epoch_id=0)
    before = _snap(lazy.read_current())
    lazy.apply(batches[0], epoch_id=0)  # replayed micro-batch
    assert _snap(lazy.read_current()) == before


@pytest.mark.heavy
def test_lazy_state_recovers_after_restart(spark, tmp_path):
    batches = _batches(spark)
    base = ParquetTable(
        spark, str(tmp_path / "lazyc"), key_cols=["user_id"], mode="upsert", n_buckets=4
    )
    lazy = StagedUpsertTable(base, staleness_batches=10)
    lazy.apply(batches[0], epoch_id=0)
    lazy.apply(batches[1], epoch_id=1)
    # "restart": a fresh wrapper over the same path continues from the log
    # (files, deletion sets, committed epochs, maintenance cadence)
    lazy2 = StagedUpsertTable(
        ParquetTable(spark, base.path, key_cols=["user_id"], mode="upsert", n_buckets=4),
        staleness_batches=10,
    )
    assert lazy2.table.version() == 1
    lazy2.apply(batches[1], epoch_id=1)  # replay: skipped
    assert lazy2.table.version() == 1
    lazy2.apply(batches[2], epoch_id=2)
    assert _snap(lazy2.read_current()) == _snap(
        _eager(spark, tmp_path, batches, 3)
    )


@pytest.mark.heavy
def test_pipeline_upsert_lazy_mode(spark, sf_dir, tmp_path):
    from debezium_server_bigquery_spark.sources.cdc import synthesize_cdc_events
    from debezium_server_bigquery_spark.sources.tables import load_table

    cdc = synthesize_cdc_events(load_table(spark, sf_dir, "events"))
    eager = CdcPipeline(
        spark, str(tmp_path / "eager"), mode="upsert", key_cols=("user_id",), n_buckets=8
    )
    eager.run_batch(cdc)
    lazy = CdcPipeline(
        spark,
        str(tmp_path / "lazy"),
        mode="upsert_lazy",
        key_cols=("user_id",),
        n_buckets=8,
        max_staleness_batches=5,
    )
    lazy.run_batch(cdc)
    for dest in sorted(eager.tables):
        e = _snap(eager.read_table(dest).select("user_id", F.col("event_type").alias("v"), "__op"))
        l = _snap(lazy.read_table(dest).select("user_id", F.col("event_type").alias("v"), "__op"))
        assert e == l, dest
    # maintenance (and a full fold back into buckets) changes no state
    lazy.compact_all()
    for dest in sorted(eager.tables):
        lazy.table_for(dest).compact()
        e = _snap(eager.read_table(dest).select("user_id", F.col("event_type").alias("v"), "__op"))
        s = _snap(lazy.read_table(dest).select("user_id", F.col("event_type").alias("v"), "__op"))
        assert e == s, dest


@pytest.mark.heavy
def test_streaming_lazy_upsert_with_checkpoint_restart(spark, sf_dir, tmp_path):
    """Lazy mode under Structured Streaming: MERGEs are epoch-guarded, so
    a checkpoint restart that replays nothing leaves the exact same state;
    the final maintained table equals the eager path."""
    import os

    from debezium_server_bigquery_spark.sources.cdc import synthesize_cdc_events
    from debezium_server_bigquery_spark.sources.tables import load_table

    cdc = synthesize_cdc_events(load_table(spark, sf_dir, "events"))
    src_dir = str(tmp_path / "src")
    cdc.coalesce(1).write.parquet(src_dir)
    ckpt, tgt = str(tmp_path / "ckpt"), str(tmp_path / "tgt")

    def run_once():
        p = CdcPipeline(
            spark, tgt, mode="upsert_lazy", key_cols=("user_id",), n_buckets=8,
            max_staleness_batches=50,
        )
        stream = spark.readStream.schema(cdc.schema).parquet(src_dir)
        q = p.run_stream(stream, ckpt, available_now=True)
        q.awaitTermination(120)
        return p

    p = run_once()
    # every destination is a table on disk, and nothing else is
    dests = sorted(p.tables)
    assert dests
    assert sorted(d for d in os.listdir(tgt) if not d.startswith((".", "_"))) == dests
    state1 = {d: _snap(p.read_table(d).select("user_id", F.col("event_type").alias("v"), "__op")) for d in dests}
    # restart on the same checkpoint: no new data, no MERGE runs twice
    p2 = run_once()
    state2 = {d: _snap(p2.read_table(d).select("user_id", F.col("event_type").alias("v"), "__op")) for d in dests}
    assert state1 == state2
    # maintenance keeps the eager result
    p2.compact_all()
    eager = CdcPipeline(
        spark, str(tmp_path / "eager"), mode="upsert", key_cols=("user_id",), n_buckets=8
    )
    eager.run_batch(cdc)
    for d in dests:
        assert _snap(
            p2.read_table(d).select("user_id", F.col("event_type").alias("v"), "__op")
        ) == _snap(eager.read_table(d).select("user_id", F.col("event_type").alias("v"), "__op"))


def test_epoch_replay_protection_survives_compaction(spark, tmp_path):
    """A streaming retry of an already-merged epoch arriving AFTER a
    maintenance pass must be skipped: the epoch lives in the table log,
    and maintenance is one more commit that forgets none."""
    batches = _batches(spark)
    base = ParquetTable(
        spark, str(tmp_path / "lazyx"), key_cols=["user_id"], mode="upsert", n_buckets=4
    )
    lazy = StagedUpsertTable(base, staleness_batches=2)
    lazy.apply(batches[0], epoch_id=0)
    lazy.apply(batches[1], epoch_id=1)
    lazy.compact()
    after_compact = _snap(lazy.read_current())
    version = base.version()
    lazy.apply(batches[1], epoch_id=1)  # late retry straddling the boundary
    assert _snap(lazy.read_current()) == after_compact
    assert base.version() == version  # nothing was written again


@pytest.mark.heavy
def test_maintenance_crash_after_merge_replays_as_noop(spark, tmp_path, monkeypatch):
    """A crash between a MERGE's commit and the maintenance that follows
    it loses nothing: the replayed epoch is skipped, and the next
    maintenance pass does the work."""
    batches = _batches(spark)
    base = ParquetTable(
        spark, str(tmp_path / "lazym"), key_cols=["user_id"], mode="upsert", n_buckets=4
    )
    lazy = StagedUpsertTable(base, staleness_batches=1)
    lazy.apply(batches[0], epoch_id=0)

    def crash():
        raise RuntimeError("killed before maintenance")

    monkeypatch.setattr(base, "maintain", crash)
    with pytest.raises(RuntimeError, match="killed"):
        lazy.apply(batches[1], epoch_id=1)
    monkeypatch.undo()
    assert base.epoch_committed(1)
    state, merged = _snap(lazy.read_current()), base.version()
    lazy.apply(batches[1], epoch_id=1)  # the replay: skipped
    assert base.version() == merged
    assert _snap(lazy.read_current()) == state == _snap(_eager(spark, tmp_path, batches, 2))
    for i in (2, 3):
        lazy.apply(batches[i], epoch_id=i)
    lazy.compact()
    assert _snap(lazy.read_current()) == _snap(_eager(spark, tmp_path, batches, 4))
