"""The driver-side fold of small maintained-view batches
(MaintainedViewsRunner._fold_on_driver) against the executor-side
merge and folds it replaces below the gate: the same rows in the same
bucket of every store at every version, and the same changelog, top-k
log and cohort log per batch — also when batches cross the gate, when
a batch committed by one path is replayed on the other, for NULL
values and for a delete then re-insert of one user.

Batches are fed to `_merge_batch` directly (no streaming query), so
each test stays cheap at sf_smoke."""

from __future__ import annotations

import datetime as dt
import glob
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, TimestampType

from db_realtime_changefeed_spark.streaming import changefeed
from db_realtime_changefeed_spark.streaming.changefeed import cdc_envelope
from db_realtime_changefeed_spark.streaming.replay import (
    build_replay_chunks,
    read_events_file,
    streaming_shuffle,
)
from db_realtime_changefeed_spark.streaming.statefs import STATE_FS
from db_realtime_changefeed_spark.streaming.views import (
    MaintainedViewsRunner,
)

_STORES = ("_base", "_agg", "_support", "_index", "_hashidx")
_LOGS = ("log_dir", "topk_dir", "sample_dir")


@pytest.fixture(autouse=True)
def _micro_batch_conf(spark):
    """run()'s micro-batch settings (AQE off, few shuffle partitions);
    two partitions keep the executor-side merge cheap at sf_smoke."""
    with streaming_shuffle(spark, 2):
        yield


def _runner(spark, sf) -> tuple[MaintainedViewsRunner, list[int]]:
    """A views runner plus the batch ids its executor-side path staged
    into the base store (the fold never calls stage())."""
    r = MaintainedViewsRunner(spark, sf)
    staged: list[int] = []
    stage = r._base.stage

    def spy(batch_id, df, touched):
        staged.append(batch_id)
        return stage(batch_id, df, touched)

    r._base.stage = spy
    return r, staged


def _feed(runner, batches) -> None:
    for b, df in enumerate(batches):
        runner._merge_batch(cdc_envelope(df), b)


def _rows(t) -> list:
    """A table's rows, timestamps as UTC micros (Spark writes them as
    INT96, which pyarrow reads as naive nanoseconds), in a fixed
    order."""
    if t is None:
        return []
    cols = [pc.cast(pc.cast(c, pa.timestamp("us")), pa.int64())
            if pa.types.is_timestamp(c.type) else c for c in t.columns]
    names = t.column_names
    return sorted((tuple(r[n] for n in names)
                   for r in pa.table(cols, names=names).to_pylist()),
                  key=repr)


def _snapshot(runner) -> dict:
    """Every version of every store, bucket by bucket, and every batch
    of the three logs, read with pyarrow (no Spark job)."""
    out = {}
    for name in _STORES:
        store = getattr(runner, name)
        out[name] = {
            v: {b: _rows(t) for b, t in store.read_buckets(
                v, sorted(store.manifest(v))).items()}
            for v in store.versions()}
    for name in _LOGS:
        root = getattr(runner, name)
        out[name] = {
            d: _rows(STATE_FS.read_parquet_dir(os.path.join(root, d)))
            for d in sorted(os.listdir(root)) if d.startswith("batch-")}
    return out


def _chunks(spark, sf, n: int) -> list:
    files = sorted(glob.glob(os.path.join(
        build_replay_chunks(spark, sf, n), "chunk-*.parquet")))
    return [read_events_file(spark, f) for f in files]


def _executor_run(spark, sf, batches) -> dict:
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(changefeed, "_DRIVER_FOLD_ROWS", 0)
        ref, staged = _runner(spark, sf)
        _feed(ref, batches)
    assert staged == list(range(len(batches)))
    return _snapshot(ref)


@pytest.mark.parametrize("n_chunks", [4, 2])
def test_fold_matches_executor_merge(spark, sf_smoke, n_chunks):
    """The replay chunks through the fold (default gate) and through
    the forced executor path give the same contents in every bucket of
    all five stores at every version, and the same changelog, top-k
    log and cohort log rows per batch."""
    batches = _chunks(spark, sf_smoke, n_chunks)
    want = _executor_run(spark, sf_smoke, batches)
    fold, staged = _runner(spark, sf_smoke)
    _feed(fold, batches)
    assert staged == []
    assert fold._batches == list(range(n_chunks))
    got = _snapshot(fold)
    for name in _STORES + _LOGS:
        assert got[name] == want[name], name


def test_fold_gate_crossing_and_replay_across_paths(spark, sf_smoke,
                                                    monkeypatch):
    """With the gate between batch sizes, a small batch folds, a large
    one takes the executor path and the next small one folds again;
    every store and log equals the run forced onto the executor path.
    Replaying the executor's batch on the fold, and the fold's batch
    on the executor path, leaves everything unchanged."""
    ev = read_events_file(spark, os.path.join(sf_smoke,
                                              "events.parquet"))
    slot = F.col("event_id") % 10
    batches = [ev.where(slot == 0), ev.where(slot.between(1, 8)),
               ev.where(slot == 9)]
    want = _executor_run(spark, sf_smoke, batches)
    # the two small batches (plus the state they read) stay below the
    # gate; the large one alone exceeds it
    sizes = [b.count() for b in batches]
    gate = sizes[1]
    assert sizes[0] + sizes[2] < gate // 2
    monkeypatch.setattr(changefeed, "_DRIVER_FOLD_ROWS", gate)
    r, staged = _runner(spark, sf_smoke)
    _feed(r, batches)
    assert staged == [1], "the batches must take different paths"
    assert _snapshot(r) == want

    monkeypatch.setattr(changefeed, "_DRIVER_FOLD_ROWS", 100_000)
    r._merge_batch(cdc_envelope(batches[1]), 1)
    monkeypatch.setattr(changefeed, "_DRIVER_FOLD_ROWS", 0)
    r._merge_batch(cdc_envelope(batches[2]), 2)
    assert staged == [1, 2]
    assert _snapshot(r) == want


def _jobs_of(spark, group: str, action) -> list[int]:
    """The ids of the Spark jobs `action` runs: those of its job group,
    and the new ones without a group (a job started from a thread of
    a pool does not carry the caller's group)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # the status store fills from the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(set(tracker.getJobIdsForGroup(group))
                  | (set(tracker.getJobIdsForGroup(None)) - before))


def test_folded_batch_runs_one_spark_job(spark, sf_smoke):
    """Every folded batch — the first one, the ones whose top-k and
    cohort refresh read the indexes, and the ones refreshed
    incrementally — commits from exactly one Spark job."""
    r, staged = _runner(spark, sf_smoke)
    for b, df in enumerate(_chunks(spark, sf_smoke, 4)):
        batch = cdc_envelope(df)
        jobs = _jobs_of(spark, f"views-fold-{b}",
                        lambda: r._merge_batch(batch, b))
        assert len(jobs) == 1, (b, jobs)
    assert staged == []


def _events_file(path, rows: list[dict]) -> str:
    """`rows` written as an events file of the fixture's schema."""
    pq.write_table(pa.table({
        "event_id": pa.array([r["event_id"] for r in rows], pa.int64()),
        "ts": pa.array([r["ts"] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r["user_id"] for r in rows], pa.int64()),
        "event_type": pa.array([r["event_type"] for r in rows]),
        "value": pa.array([r["value"] for r in rows], pa.float64()),
        "props": pa.array([r["props"] for r in rows]),
    }), path)
    return str(path)


def test_fold_null_value_and_delete_then_reinsert(spark, sf_smoke,
                                                  tmp_path):
    """A batch holding NULL values (one of them a user's latest row),
    then a delete of one user, then its re-insert with a NULL value,
    then that re-insert delivered again: the fold equals the executor
    path in every store and log, the delete retracts the user's row,
    the re-insert brings it back and its redelivery (an equal
    (ts, event_id)) changes nothing."""
    events = pq.read_table(os.path.join(sf_smoke,
                                        "events.parquet")).to_pylist()
    user = min(e["user_id"] for e in events)
    last = max(events, key=lambda e: (e["ts"], e["event_id"]))
    for e in events:
        if e["event_id"] % 7 == 0 or e is max(
                (x for x in events if x["user_id"] == user),
                key=lambda x: (x["ts"], x["event_id"])):
            e["value"] = None

    def event(n, etype, value):
        return {**last, "event_id": last["event_id"] + n,
                "ts": last["ts"] + dt.timedelta(seconds=n),
                "user_id": user, "event_type": etype, "value": value}

    files = [_events_file(tmp_path / "b0.parquet", events),
             _events_file(tmp_path / "b1.parquet",
                          [event(1, "error", 5.0)]),
             _events_file(tmp_path / "b2.parquet",
                          [event(2, "click", None)])]
    files.append(files[-1])
    batches = [read_events_file(spark, f) for f in files]
    want = _executor_run(spark, sf_smoke, batches)
    fold, staged = _runner(spark, sf_smoke)
    _feed(fold, batches)
    assert staged == []
    got = _snapshot(fold)
    assert got == want
    logs = got["log_dir"]
    deleted = [r for r in logs["batch-00001"] if r[0] == user]
    assert len(deleted) == 1 and deleted[0][2] is None      # new_value
    assert deleted[0][4] is None                            # new_event_id
    back = [r for r in logs["batch-00002"] if r[0] == user]
    assert len(back) == 1 and back[0][3] is None            # old_event_id
    assert back[0][4] == last["event_id"] + 2
    assert logs["batch-00003"] == []
    support = [r for rows in got["_support"][0].values() for r in rows]
    assert any(r[1] is None for r in support)


def test_fold_staged_files_read_back_with_spark_types(spark, sf_smoke):
    """The files the fold stages carry Spark's types: `ts` as
    UTC-adjusted microseconds and `sum_value` as decimal(18,6); Spark
    reads them back under the store DDLs with the values the executor
    path writes."""
    batches = _chunks(spark, sf_smoke, 2)
    fold, staged = _runner(spark, sf_smoke)
    _feed(fold, batches)
    assert staged == []
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(changefeed, "_DRIVER_FOLD_ROWS", 0)
        ref, _ = _runner(spark, sf_smoke)
        _feed(ref, batches)
    last = max(fold._batches)
    base_file = glob.glob(os.path.join(
        fold._base.buckets_root, "b*", f"v{last}", "*.parquet"))[0]
    ts = pq.ParquetFile(base_file).schema.column(
        pq.read_schema(base_file).get_field_index("ts"))
    assert ts.logical_type.to_json() == (
        '{"Type": "Timestamp", "isAdjustedToUTC": true, '
        '"timeUnit": "microseconds", "is_from_converted_type": false, '
        '"force_set_converted_type": false}')
    agg_file = glob.glob(os.path.join(
        fold._agg.buckets_root, "b*", "v*", "*.parquet"))[0]
    assert pq.read_schema(agg_file).field("sum_value").type == \
        pa.decimal128(18, 6)
    base_df, agg_df = fold._base.df_at(last), fold._agg.df_at(last)
    assert base_df.schema["ts"].dataType == TimestampType()
    assert agg_df.schema["sum_value"].dataType == DecimalType(18, 6)
    for store, got in (("_base", base_df), ("_agg", agg_df)):
        want = getattr(ref, store).df_at(last)
        assert sorted(map(tuple, got.collect()), key=repr) == \
            sorted(map(tuple, want.collect()), key=repr), store
