"""The driver-side fold of small keyed changefeed batches
(ChangefeedRunner._fold_on_driver) against the executor-side MERGE it
replaces below the size gate: the same state at every version and the
same changelog rows per batch, also when consecutive batches cross the
gate and when a batch committed by one path is replayed on the other.

Batches are fed to `_merge_batch` directly (no streaming query), so
each test stays cheap at sf_smoke."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from db_realtime_changefeed_spark.catalog import load_table
from db_realtime_changefeed_spark.streaming import changefeed
from db_realtime_changefeed_spark.streaming.changefeed import (
    ChangefeedRunner,
    cdc_envelope,
)
from db_realtime_changefeed_spark.streaming.replay import streaming_shuffle


@pytest.fixture(autouse=True)
def _micro_batch_conf(spark):
    """run()'s micro-batch settings (AQE off, few shuffle partitions);
    two partitions keep the executor-side MERGE cheap at sf_smoke."""
    with streaming_shuffle(spark, 2):
        yield


def _keyed_runner(spark, sf) -> tuple[ChangefeedRunner, list[int]]:
    """A per-user bucketed runner plus the batch ids its executor-side
    path staged (the fold never calls stage())."""
    r = ChangefeedRunner(spark, sf, key="user_id", driver_merge=False)
    staged: list[int] = []
    stage = r._store.stage

    def spy(batch_id, df, touched):
        staged.append(batch_id)
        return stage(batch_id, df, touched)

    r._store.stage = spy
    return r, staged


def _feed(runner, batches):
    for b, df in enumerate(batches):
        runner._merge_batch(cdc_envelope(df), b)


def _log_rows(runner) -> list[tuple]:
    return sorted(map(tuple, runner.log().collect()))


def _states(runner) -> dict[int, list[tuple]]:
    return {b: sorted(map(tuple, runner.state_at(b).collect()))
            for b in runner.versions()}


def _halves(spark, sf):
    ev = load_table(spark, sf, "events")
    return [ev.where(F.col("event_id") % 2 == i) for i in range(2)]


@pytest.fixture(scope="module")
def crossing(spark, sf_smoke):
    """Two batches, one user's events and then every other user's,
    run forced onto the executor path (gate 0): the batches, and that
    run's state at each version and its log rows."""
    ev = load_table(spark, sf_smoke, "events")
    user = ev.agg(F.min("user_id")).collect()[0][0]
    batches = [ev.where(F.col("user_id") == user),
               ev.where(F.col("user_id") != user)]
    with pytest.MonkeyPatch.context() as mp, streaming_shuffle(spark, 2):
        mp.setattr(changefeed, "_DRIVER_FOLD_ROWS", 0)
        ref, staged = _keyed_runner(spark, sf_smoke)
        _feed(ref, batches)
    assert staged == [0, 1]
    return batches, _states(ref), _log_rows(ref)


def test_fold_matches_executor_merge(spark, sf_smoke, crossing):
    """The same batches through the fold (default gate) and the forced
    executor-side MERGE give identical state at every version and
    identical log rows."""
    batches, ref_states, ref_log = crossing
    fold, staged = _keyed_runner(spark, sf_smoke)
    _feed(fold, batches)
    assert staged == []
    assert fold._store.versions() == [0, 1]
    assert _states(fold) == ref_states
    assert _log_rows(fold) == ref_log


def test_fold_gate_crossing(spark, sf_smoke, monkeypatch, crossing):
    """With the gate between batch sizes, the single-user batch folds
    on the driver and the next, all-user batch takes the executor-side
    MERGE; every version and every batch's log rows equal the run
    forced onto the executor path. Replayed on the fold, the batch the
    executor committed leaves one copy of its log rows and the same
    state."""
    batches, ref_states, ref_log = crossing
    # one key stays below 8; the other users' keys alone exceed it
    monkeypatch.setattr(changefeed, "_DRIVER_FOLD_ROWS", 8)
    r, staged = _keyed_runner(spark, sf_smoke)
    _feed(r, batches)
    assert staged == [1], "the batches must take different paths"
    assert _states(r) == ref_states
    assert _log_rows(r) == ref_log

    monkeypatch.setattr(changefeed, "_DRIVER_FOLD_ROWS", 100_000)
    r._merge_batch(cdc_envelope(batches[1]), 1)
    assert staged == [1]
    assert _log_rows(r) == ref_log
    assert sorted(map(tuple, r.state().collect())) == ref_states[1]


@pytest.mark.parametrize("path", ["fold", "executor"])
def test_keyed_replay_idempotent(spark, sf_smoke, monkeypatch, path):
    """At-least-once redelivery on either bucketed path: re-merging a
    committed batch id rewinds to the preceding version, so repeated
    replays leave state and log unchanged and never touch earlier
    batches' log rows. The executor case replays batches the fold
    committed."""
    r, staged = _keyed_runner(spark, sf_smoke)
    _feed(r, _halves(spark, sf_smoke))
    log0 = _log_rows(r)
    if path == "executor":
        monkeypatch.setattr(changefeed, "_DRIVER_FOLD_ROWS", 0)
    everything = cdc_envelope(load_table(spark, sf_smoke, "events"))
    r._merge_batch(everything, 1)
    s1, l1 = sorted(map(tuple, r.state().collect())), _log_rows(r)
    r._merge_batch(everything, 1)
    assert sorted(map(tuple, r.state().collect())) == s1
    assert _log_rows(r) == l1
    assert [t for t in l1 if t[-1] < 1] == [t for t in log0 if t[-1] < 1]
    assert staged == ([] if path == "fold" else [1, 1])
