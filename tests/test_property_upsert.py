"""Property-based check of the merge-on-read upsert sink.

Random sequences of small micro-batches — in-batch duplicates,
timestamps out of order across batches, deletes, and replays of epochs
already committed — flow through ``CdcPipeline`` in ``mode="upsert"``,
with and without ``keep_deletes``.  After every batch, and again after
``compact()`` folds the table back into buckets, the table must equal a
pure-Python last-writer-wins oracle.  Few keys and a lowered delta limit
make the maintenance each MERGE runs (half-deleted bucket files, fully
deleted or too many deltas) replace files in nearly every example.
"""

from __future__ import annotations

import shutil
import tempfile
from unittest import mock

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from debezium_server_bigquery_spark.operators import table as table_mod
from debezium_server_bigquery_spark.streaming.pipeline import CdcPipeline

_COLS = "destination string, k long, v long, __op string, __source_ts_ns long, __deleted boolean"

# a batch: 1-6 events of (key, op, late); a replay re-delivers an earlier
# epoch
_BATCH = st.lists(
    st.tuples(st.integers(min_value=0, max_value=4), st.sampled_from("cud"), st.booleans()),
    min_size=1,
    max_size=6,
)
_RUN = st.tuples(
    st.lists(_BATCH, min_size=5, max_size=8),
    st.lists(st.integers(min_value=0, max_value=7), max_size=3),
)


def _events(batches):
    """Number every event and give it a distinct timestamp that grows with
    its position, except that a late event is stamped older than the two
    batches before it.  Each batch's first event is never late, so every
    batch wins for at least one key and writes a delta."""
    out = []
    for e, b in enumerate(batches):
        out.append([
            (k, 10 * e + j, op, 100 * (10 * e + j) - (2550 if late and j else 0))
            for j, (k, op, late) in enumerate(b)
        ])
    return out


def _oracle(applied, keep_deletes):
    """Per key, the event with the newest timestamp; deletes hidden unless
    kept."""
    best = {}
    for batch in applied:
        for k, v, op, ts in batch:
            if k not in best or ts > best[k][2]:
                best[k] = (v, op, ts)
    return sorted(
        (k, v, op) for k, (v, op, _) in best.items() if keep_deletes or op != "d"
    )


def _state(pipe):
    return sorted((r["k"], r["v"], r["__op"]) for r in pipe.read_table("t").collect())


@pytest.mark.heavy
@pytest.mark.parametrize("keep_deletes", [False, True])
@settings(max_examples=3, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(run=_RUN)
def test_upsert_matches_last_writer_wins_oracle(spark, keep_deletes, run):
    batches, replays = run
    events = _events(batches)
    root = tempfile.mkdtemp(prefix="dsbq_upsertprop_")
    maintained = []
    real_maintain = table_mod.ParquetTable.maintain

    def maintain(self):
        maintained.append(real_maintain(self))
        return maintained[-1]

    try:
        with mock.patch.object(table_mod, "MAX_DELTAS", 2), mock.patch.object(
            table_mod.ParquetTable, "maintain", maintain
        ):
            pipe = CdcPipeline(
                spark, root, mode="upsert", key_cols=("k",), n_buckets=4,
                keep_deletes=keep_deletes,
            )

            def deliver(epoch):
                rows = [("t", k, v, op, ts, op == "d") for k, v, op, ts in events[epoch]]
                pipe.process_batch(spark.createDataFrame(rows, _COLS), epoch_id=epoch)

            for epoch in range(len(events)):
                deliver(epoch)
                for r in replays:  # replayed epochs change nothing
                    if r <= epoch:
                        deliver(r)
                assert _state(pipe) == _oracle(events[: epoch + 1], keep_deletes), epoch
            assert any(maintained), "no maintenance pass replaced a file"
            pipe.table_for("t").compact()
            assert not [m for m in pipe.table_for("t")._files.values() if m[0] is None]
            assert _state(pipe) == _oracle(events, keep_deletes)
    finally:
        shutil.rmtree(root, ignore_errors=True)
