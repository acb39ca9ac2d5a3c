"""T7 — bounded retry/backoff around destination writes.

Budgets mirror the reference: 5 attempts (ConsumerUtil.java:134-147),
500 ms x1.1 backoff (StreamDataWriter.java:73-79), 5-minute elapsed cap.
Injected transient failures must be absorbed with unchanged replay
semantics (each epoch committed exactly once, no duplicate rows), and a
failure that outlasts the budget, at any step of a table commit, must
leave the previous version readable and replay to the fault-free state.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from debezium_server_bigquery_spark.operators.retry import (
    NO_WAIT_POLICY,
    RetryPolicy,
    with_retry,
)
from debezium_server_bigquery_spark.operators.table import ParquetTable


class Flaky:
    def __init__(self, fail_times: int, exc=OSError("transient fs hiccup")):
        self.fail_times = fail_times
        self.calls = 0
        self.exc = exc

    def __call__(self):
        self.calls += 1
        if self.calls <= self.fail_times:
            raise self.exc
        return "ok"


def test_with_retry_absorbs_transient_failures():
    flaky = Flaky(fail_times=2)
    sleeps: list[float] = []
    assert (
        with_retry(flaky, policy=RetryPolicy(), sleep=sleeps.append) == "ok"
    )
    assert flaky.calls == 3
    # 500ms then 500*1.1ms — the StreamDataWriter.java:73-79 schedule.
    assert sleeps == [0.5, pytest.approx(0.55)]


def test_with_retry_exhausts_budget_and_reraises():
    flaky = Flaky(fail_times=100)
    with pytest.raises(OSError, match="transient"):
        with_retry(flaky, policy=NO_WAIT_POLICY)
    assert flaky.calls == 5  # attempts budget, ConsumerUtil.java:138


def test_with_retry_lets_interrupts_propagate():
    """Ctrl-C during a write must abort immediately, not re-run the
    action for 5 attempts."""
    calls = {"n": 0}

    def interrupted():
        calls["n"] += 1
        raise KeyboardInterrupt

    with pytest.raises(KeyboardInterrupt):
        with_retry(interrupted, policy=NO_WAIT_POLICY)
    assert calls["n"] == 1


def test_with_retry_reraises_a_cancelled_job_at_once(spark):
    """A Spark job its job group cancelled (condition SPARK_JOB_CANCELLED)
    is not retried: the group refuses every later job too."""
    from debezium_server_bigquery_spark.streaming.pipeline import _job_group

    sc = spark.sparkContext
    calls = []

    def count():
        calls.append(1)
        return spark.range(3).count()

    with _job_group(sc, "test-cancelled", "refused"):
        sc._jsc.sc().cancelJobGroupAndFutureJobs("test-cancelled")
        with pytest.raises(Exception, match="SPARK_JOB_CANCELLED"):
            with_retry(count, policy=NO_WAIT_POLICY)
    assert len(calls) == 1
    assert spark.range(3).count() == 3  # other groups still run


def test_with_retry_respects_elapsed_cap():
    flaky = Flaky(fail_times=100)
    t = {"now": 0.0}

    def clock():
        t["now"] += 200.0  # every attempt "takes" 200s
        return t["now"]

    with pytest.raises(OSError):
        with_retry(flaky, policy=RetryPolicy(), sleep=lambda s: None, clock=clock)
    assert flaky.calls < 5  # stopped by the 5-minute elapsed cap, not attempts


def _rows(spark, ids):
    return spark.createDataFrame(
        [(i, f"v{i}") for i in ids], "id long, val string"
    ).select(
        "id",
        "val",
        F.to_timestamp(F.lit("2024-01-15T00:00:00")).alias("__ts_ms"),
        F.lit(0).cast("long").alias("__source_ts_ms"),
    )


def test_append_retries_transient_write_failure(spark, tmp_path, monkeypatch):
    t = ParquetTable(
        spark, str(tmp_path / "t"), mode="append", retry_policy=NO_WAIT_POLICY
    )
    original = ParquetTable.write_files
    state = {"fails": 2, "calls": 0}

    def flaky_write(self, out, dest, *args):
        state["calls"] += 1
        if state["calls"] <= state["fails"]:
            raise OSError("transient fs hiccup")
        return original(self, out, dest, *args)

    monkeypatch.setattr(ParquetTable, "write_files", flaky_write)
    t.append(_rows(spark, range(10)), epoch_id=0)
    assert state["calls"] == 3
    assert t.read().count() == 10
    # replay of the committed epoch is a no-op (the log, not retry, decides)
    t.append(_rows(spark, range(10)), epoch_id=0)
    assert state["calls"] == 3
    assert t.read().count() == 10


def test_append_fails_loud_after_budget(spark, tmp_path, monkeypatch):
    t = ParquetTable(
        spark, str(tmp_path / "t"), mode="append", retry_policy=NO_WAIT_POLICY
    )

    def always_fail(self, out, dest, *args):
        raise OSError("permanent outage")

    monkeypatch.setattr(ParquetTable, "write_files", always_fail)
    with pytest.raises(OSError, match="permanent"):
        t.append(_rows(spark, range(10)), epoch_id=0)
    # the epoch never committed -> a later (healed) replay writes the rows
    monkeypatch.undo()
    t.append(_rows(spark, range(10)), epoch_id=0)
    assert t.read().count() == 10


def test_merge_swap_retry_is_idempotent(spark, tmp_path, monkeypatch):
    """A transient failure of the publish step of a compaction (the
    overwrite->commit window) retries without duplicating or losing
    partitions."""
    t = ParquetTable(
        spark,
        str(tmp_path / "t"),
        key_cols=["id"],
        mode="upsert",
        n_buckets=4,
        retry_policy=NO_WAIT_POLICY,
    )
    t.append(_rows(spark, range(20)), epoch_id=0)
    before = sorted(tuple(r) for r in t.read().collect())

    # Fail the first publish of the compaction, then heal.
    real_link = os.link
    state = {"calls": 0}

    def flaky_link(src, dst):
        state["calls"] += 1
        if state["calls"] == 2:  # call 1 publishes the fragmenting append
            raise OSError("transient link failure")
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", flaky_link)
    t.append(_rows(spark, range(20)), epoch_id=1)  # fragment the buckets
    assert t.compact(max_files_per_partition=1) > 0
    rows = sorted(set(tuple(r) for r in t.read().collect()))
    assert rows == before
    assert state["calls"] >= 3  # the publish actually retried
    assert t.version() == 2  # one version per write, none lost or doubled


def _upsert_rows(spark, ids, val, ts):
    return _rows(spark, ids).select(
        "id",
        F.lit(val).alias("val"),
        "__ts_ms",
        "__source_ts_ms",
        F.lit("u").alias("__op"),
        F.lit(ts).cast("long").alias("__source_ts_ns"),
    )


def test_merge_publish_failure_keeps_every_bucket(spark, tmp_path, monkeypatch):
    """A 20-key, 4-bucket upsert table whose publish step fails past the
    retry budget during a MERGE: readers keep seeing all 20 rows, and a
    healed replay of the epoch applies the MERGE to all 20."""
    from debezium_server_bigquery_spark.operators.merge import merge_upsert

    t = ParquetTable(
        spark,
        str(tmp_path / "t"),
        key_cols=["id"],
        mode="upsert",
        n_buckets=4,
        retry_policy=NO_WAIT_POLICY,
    )
    merge_upsert(t, _upsert_rows(spark, range(20), "a", 1), epoch_id=0)

    def broken_link(src, dst):
        raise OSError("publish keeps failing")

    monkeypatch.setattr(os, "link", broken_link)
    with pytest.raises(OSError, match="publish keeps failing"):
        merge_upsert(t, _upsert_rows(spark, range(20), "b", 2), epoch_id=1)
    during = t.read()
    assert during.count() == 20
    assert {r.val for r in during.collect()} == {"a"}
    monkeypatch.undo()
    merge_upsert(t, _upsert_rows(spark, range(20), "b", 2), epoch_id=1)
    after = ParquetTable(spark, t.path).read().collect()  # fresh handle too
    assert sorted(r.id for r in after) == list(range(20))
    assert {r.val for r in after} == {"b"}


class _Fault(Exception):
    """Injected; not an OSError, so no cleanup path swallows it."""


STEPS = ("write", "move", "pre_publish", "post_publish", "remove")


def _inject(monkeypatch, root: str, step: str, k: int) -> None:
    """Raise _Fault at the k-th occurrence of ``step`` under ``root``:
    after the data write, after a file move into place, before or after
    the log publish, or before deleting a replaced file."""
    seen = {"n": 0}

    def hit(path) -> None:
        if str(path).startswith(root):
            seen["n"] += 1
            if seen["n"] == k:
                raise _Fault(f"{step} #{k}")

    if step == "write":
        orig = ParquetTable.write_files

        def write_files(self, out, dest, *args):
            orig(self, out, dest, *args)
            hit(dest)

        monkeypatch.setattr(ParquetTable, "write_files", write_files)
    elif step == "move":
        real_rename = os.rename

        def rename(src, dst):
            real_rename(src, dst)
            hit(dst)

        monkeypatch.setattr(os, "rename", rename)
    elif step in ("pre_publish", "post_publish"):
        real_link = os.link

        def link(src, dst):
            if step == "pre_publish":
                hit(dst)
            real_link(src, dst)
            if step == "post_publish":
                hit(dst)

        monkeypatch.setattr(os, "link", link)
    else:
        real_remove = os.remove

        def remove(path):
            if str(path).endswith(".parquet"):
                hit(path)
            real_remove(path)

        monkeypatch.setattr(os, "remove", remove)


def _every_fault(monkeypatch, root, op, check) -> dict[str, int]:
    """Run ``op(round)`` once per (step, occurrence) with that fault
    injected, then heal and run it again — the replay of the same epoch —
    and ``check`` the table against the fault-free state.  A round whose
    fault never fires ran fault-free and ends that step.  Returns how
    many faults fired per step."""
    fired: dict[str, int] = {}
    rounds = 0
    for step in STEPS:
        k = 1
        while True:
            _inject(monkeypatch, root, step, k)
            try:
                op(rounds)
                hit = False
            except _Fault:
                hit = True
            monkeypatch.undo()
            if hit:
                op(rounds)
            check(rounds)
            rounds += 1
            if not hit:
                break
            fired[step] = k
            k += 1
    return fired


_ONE_SHOT = RetryPolicy(attempts=1, initial_backoff_ms=0.0)


def _ids(df):
    return sorted((r.id, r.val) for r in df.collect())


def test_append_survives_a_fault_at_every_step(spark, tmp_path, monkeypatch):
    t = ParquetTable(spark, str(tmp_path / "t"), mode="append", retry_policy=_ONE_SHOT)
    t.append(_rows(spark, range(4)), epoch_id="seed")
    want = [(i, f"v{i}") for i in range(4)]

    def op(r):
        t.append(_rows(spark, range(100 * (r + 1), 100 * (r + 1) + 4)), epoch_id=r)

    def check(r):
        want.extend((i, f"v{i}") for i in range(100 * (r + 1), 100 * (r + 1) + 4))
        assert _ids(t.read()) == sorted(want)
        assert _ids(ParquetTable(spark, t.path).read()) == sorted(want)

    fired = _every_fault(monkeypatch, t.path, op, check)
    # appends remove nothing: no remove-step fault can fire
    assert set(fired) == set(STEPS) - {"remove"}


def test_overwrite_partitions_survives_a_fault_at_every_step(
    spark, tmp_path, monkeypatch
):
    t = ParquetTable(spark, str(tmp_path / "t"), mode="append", retry_policy=_ONE_SHOT)
    t.append(_rows(spark, range(6)), epoch_id="seed")
    feb = _rows(spark, range(50, 53)).withColumn(
        "__ts_ms", F.to_timestamp(F.lit("2024-02-15T00:00:00"))
    )
    t.append(feb, epoch_id="feb")

    def jan(r):
        return _rows(spark, range(6)).withColumn("val", F.lit(f"r{r}"))

    def op(r):
        # rewrite January, empty February
        out = t.with_partition_col(jan(r))
        t.overwrite_partitions(out, expected_partitions=["2024-01", "2024-02"], epoch_id=r)

    def check(r):
        assert _ids(t.read()) == [(i, f"r{r}") for i in range(6)]
        assert _ids(ParquetTable(spark, t.path).read()) == [(i, f"r{r}") for i in range(6)]

    assert set(_every_fault(monkeypatch, t.path, op, check)) == set(STEPS)


def test_merge_with_deletion_sets_survives_a_fault_at_every_step(
    spark, tmp_path, monkeypatch
):
    """A merge-on-read MERGE — one delta file plus deletion sets in one
    commit — under a fault at every step.  The table path holds a space,
    so the logged deletion-set keys must still match the scan's
    ``_metadata.file_name``."""
    from debezium_server_bigquery_spark.operators.merge import merge_upsert

    t = ParquetTable(
        spark,
        str(tmp_path / "with space" / "t"),
        key_cols=["id"],
        mode="upsert",
        n_buckets=2,
        retry_policy=_ONE_SHOT,
    )
    merge_upsert(t, _upsert_rows(spark, range(6), "seed", 0), epoch_id="seed")
    want = {i: "seed" for i in range(6)}

    def op(r):
        # overlaps the previous round's keys: supersedes stored rows
        merge_upsert(t, _upsert_rows(spark, range(2 * r, 2 * r + 4), f"r{r}", r + 1), epoch_id=r)

    def check(r):
        want.update({i: f"r{r}" for i in range(2 * r, 2 * r + 4)})
        assert _ids(t.read()) == sorted(want.items())
        assert _ids(ParquetTable(spark, t.path).read()) == sorted(want.items())

    fired = _every_fault(monkeypatch, t.path, op, check)
    # no remove-step fault fires: a MERGE's commit removes no file, and
    # the maintenance it runs finds nothing to replace by then (each
    # delta is only half deleted by the next round's keys)
    assert set(fired) == set(STEPS) - {"remove"}
    merges = t.epoch_metrics()[1:]
    assert merges and all(
        m["rows_deleted"] > 0 and m["files_added"] == 1 and m["files_removed"] == 0
        for m in merges
    )


def test_scd2_rewindow_survives_a_fault_at_every_step(spark, tmp_path, monkeypatch):
    """An SCD2 batch that re-windows a stored key — one delta file plus
    the replaced rows' positions as deletion-only rows, in one commit —
    and the maintenance pass it then runs, under a fault at every step.
    After each fault and replay the history equals the one-shot build of
    every change so far, and the epoch is logged once."""
    import glob
    import json

    from debezium_server_bigquery_spark.operators.scd import (
        scd2_from_changes,
        scd2_merge_batch,
    )

    schema = "user_id long, ts long, __op string, value double, event_id long"
    t = ParquetTable(
        spark,
        str(tmp_path / "dim"),
        key_cols=["user_id"],
        mode="upsert",
        n_buckets=2,
        retry_policy=_ONE_SHOT,
    )
    changes = [(k, 100 * j + 10, "u" if j else "c", float(j), 10 * k + j)
               for k in range(4) for j in range(3)]
    scd2_merge_batch(t, spark.createDataFrame(changes, schema), order_col="ts", epoch_id="seed")

    def late(r):
        # older than the key's second stored version: splices into its history
        return [(r % 4, 20 + r, "u", 100.0 + r, 1000 + r)]

    def hist(df):
        return sorted(
            (r.user_id, r.version_num, r.valid_from, r.valid_to, r.value)
            for r in df.filter(F.col("__op") != "d").collect()
        )

    def op(r):
        scd2_merge_batch(t, spark.createDataFrame(late(r), schema), order_col="ts", epoch_id=r)

    def check(r):
        changes.extend(late(r))
        want = hist(scd2_from_changes(spark.createDataFrame(changes, schema), ["user_id"], "ts"))
        assert hist(t.read()) == want
        assert hist(ParquetTable(spark, t.path).read()) == want
        epochs = []
        for p in glob.glob(os.path.join(t.path, "_log", "*.json")):
            with open(p, encoding="utf-8") as fh:
                epochs.append(json.load(fh).get("epoch"))
        assert epochs.count(str(r)) == 1

    fired = _every_fault(monkeypatch, t.path, op, check)
    # the batch's own commit removes no file; the remove-step faults fire
    # in the maintenance pass that follows it
    assert set(fired) == set(STEPS)
    batches = t.epoch_metrics()[1:]
    assert batches and all(
        m["files_added"] == 1 and m["files_removed"] == 0 and m["rows_deleted"] > 0
        for m in batches
    )


@pytest.mark.heavy
def test_maintenance_rewrite_survives_a_fault_at_every_step(spark, tmp_path, monkeypatch):
    """A MERGE and the maintenance pass it runs, which bin-packs every
    delta (its threshold lowered to 0 here), under a fault at every step
    of both commits.  A fault after the MERGE's publish leaves its replay
    skipped and the bin-pack to the next MERGE's maintenance, so at most
    two deltas are ever live."""
    from unittest import mock

    from debezium_server_bigquery_spark.operators import table as table_mod
    from debezium_server_bigquery_spark.operators.merge import merge_upsert

    t = ParquetTable(
        spark,
        str(tmp_path / "t"),
        key_cols=["id"],
        mode="upsert",
        n_buckets=2,
        retry_policy=_ONE_SHOT,
    )
    merge_upsert(t, _upsert_rows(spark, range(6), "seed", 0), epoch_id="seed")
    want = {i: "seed" for i in range(6)}

    def deltas():
        return len([m for m in t._files.values() if m[0] is None])

    def op(r):
        ids = range(r % 5, r % 5 + 2)
        merge_upsert(t, _upsert_rows(spark, ids, f"r{r}", r + 1), epoch_id=r)

    def check(r):
        want.update({i: f"r{r}" for i in range(r % 5, r % 5 + 2)})
        assert _ids(t.read()) == sorted(want.items())
        assert _ids(ParquetTable(spark, t.path).read()) == sorted(want.items())
        assert deltas() <= 2

    with mock.patch.object(table_mod, "MAX_DELTAS", 0):
        fired = _every_fault(monkeypatch, t.path, op, check)
    assert set(fired) == set(STEPS)
    assert fired["pre_publish"] >= 2  # the MERGE, then the maintenance
    assert deltas() == 1  # the last round ran fault-free


def test_shared_append_write_survives_a_fault_at_every_step(spark, tmp_path, monkeypatch):
    """An append batch over two destinations, landed by one write job and
    one commit per table, under a fault at every step: the job, each file
    move, and before and after each table's publish (the first
    post-publish fault falls between the two tables' commits).  After
    every fault and its replay, both tables hold the fault-free rows and
    each log records every epoch exactly once."""
    import json

    from debezium_server_bigquery_spark.streaming.pipeline import CdcPipeline

    class OneShot(CdcPipeline):
        def _table(self, path, keyed=False):
            t = super()._table(path, keyed)
            t.retry_policy = _ONE_SHOT
            return t

    root = str(tmp_path / "tgt")
    p = OneShot(spark, root, mode="append")
    want: dict[str, list] = {"a": [], "b": []}

    def batch(r):
        ids = range(100 * (r + 1), 100 * (r + 1) + 6)
        return (
            _rows(spark, ids)
            .withColumn("destination", F.when(F.col("id") % 2 == 0, "a").otherwise("b"))
            .withColumn("__ts_ms", F.when(F.col("id") % 3 == 0, F.col("__ts_ms"))
                        .otherwise(F.to_timestamp(F.lit("2024-02-15T00:00:00"))))
            .coalesce(1)
        )

    def epochs(dest):
        log = os.path.join(root, dest, "_log")
        entries = sorted((n for n in os.listdir(log) if n.endswith(".json")),
                         key=lambda n: int(n.split(".")[0]))
        out = []
        for n in entries:
            with open(os.path.join(log, n), encoding="utf-8") as fh:
                out.append(json.load(fh).get("epoch"))
        return [e for e in out if e is not None]

    def op(r):
        p.process_batch(batch(r), epoch_id=r)

    def check(r):
        for i in range(100 * (r + 1), 100 * (r + 1) + 6):
            want["a" if i % 2 == 0 else "b"].append((i, f"v{i}"))
        for dest in ("a", "b"):
            assert _ids(p.read_table(dest)) == sorted(want[dest]), dest
            fresh = ParquetTable(spark, os.path.join(root, dest))
            assert _ids(fresh.read()) == sorted(want[dest]), dest
            assert epochs(dest) == [f"{e}.0" for e in range(r + 1)], dest

    fired = _every_fault(monkeypatch, root, op, check)
    # appends remove nothing: no remove-step fault can fire
    assert set(fired) == set(STEPS) - {"remove"}
    assert fired["write"] == 1  # one write job per batch
    assert fired["pre_publish"] == fired["post_publish"] == 2  # one commit per table
    assert fired["move"] == 4  # 2 destinations x 2 months, one task


def test_pipeline_retry_e2e_converges_to_no_fault_state(spark):
    """The gate query itself: every destination's first physical append
    attempt fails, the bounded retry re-runs it, and the final state is
    byte-identical to a fault-free append replication."""
    from debezium_server_bigquery_spark.plans.pipeline_queries import (
        pipeline_retry_e2e,
    )

    rows = pipeline_retry_e2e(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    # destination tables are intact and complete: totals match the raw feed
    from debezium_server_bigquery_spark.sources.cdc import synthesize_cdc_events
    from debezium_server_bigquery_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    synth = synthesize_cdc_events(
        load_table(spark, "/root/testdata/sf0.001", "events")
    ).filter(~F.col("destination").startswith("__debezium-heartbeat"))
    assert sum(r.n_rows for r in rows) == synth.count()
    assert sum(r.sum_event_id for r in rows) == (
        synth.agg(F.sum("event_id")).collect()[0][0]
    )
