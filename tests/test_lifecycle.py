"""State lifecycle: savepoint rescale + event-time row TTL
(streaming/lifecycle.py, state_store.py::rescale)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from db_realtime_changefeed_spark.streaming.changefeed import (
    ChangefeedRunner,
)
from db_realtime_changefeed_spark.streaming.lifecycle import (
    TtlChangefeedRunner,
    chunk_files,
    run_phase,
)
from db_realtime_changefeed_spark.streaming.lifecycle_queries import (
    _TTL_US,
)


# ---------------------------------------------------------------- TTL

@pytest.fixture(scope="module")
def ttl_runner(spark, sf_smoke):
    r = TtlChangefeedRunner(spark, sf_smoke, ttl_us=_TTL_US)
    # record every pruned state read so the bucket-skip property is
    # observable without touching the production path
    reads = []
    orig = r._store.df_at

    def recording_df_at(batch_id, buckets=None):
        reads.append((batch_id, None if buckets is None else list(buckets)))
        return orig(batch_id, buckets)

    r._store.df_at = recording_df_at
    r.run()
    r._reads = list(reads)  # snapshot: only the run()'s merge reads
    return r


def test_ttl_conserves_every_event(ttl_runner):
    """Evicted-era counts + surviving-era counts partition the whole
    event stream — nothing double-counted, nothing lost."""
    expired = ttl_runner.expiry_log().agg(F.sum("cnt")).collect()[0][0] or 0
    live = ttl_runner.state().agg(F.sum("cnt")).collect()[0][0] or 0
    total = ttl_runner.spark.read.parquet(
        os.path.join(ttl_runner.sf_dir, "events.parquet")).count()
    assert expired + live == total


def test_ttl_evictions_happen_and_readmit(ttl_runner):
    log = ttl_runner.expiry_log()
    n = log.count()
    assert n > 0
    # at least one evicted key later re-enters (era semantics): it
    # either appears twice in the log or survives in the final state
    evicted = {r["user_id"] for r in log.select("user_id").collect()}
    live = {r["user_id"]
            for r in ttl_runner.state().select("user_id").collect()}
    assert evicted & live or log.groupBy("user_id").count() \
        .where("count > 1").count() > 0


def test_ttl_expired_rows_are_behind_horizon(ttl_runner):
    """Every tombstone's last_ts is strictly older than the horizon
    of its batch; every survivor's last_ts is not older than the
    final horizon."""
    metas = {}
    b = ttl_runner._ptr.batch()
    for v in ttl_runner._store.versions():
        metas[v] = ttl_runner._read_meta(v)
    log = ttl_runner.expiry_log().collect()
    assert log
    for r in log:
        assert r["last_ts_us"] < metas[r["batch_id"]] - _TTL_US
    final_horizon = metas[b] - _TTL_US
    for r in ttl_runner.state().collect():
        assert r["last_ts_us"] >= final_horizon


def test_ttl_bucket_skip_property(ttl_runner):
    """The evict scan is stats-pruned: batches after the first read
    only delta-touched ∪ stats-expiring buckets, and at least one
    read names an explicit bucket subset (never a full-store
    unpruned scan)."""
    reads = ttl_runner._reads
    assert reads
    for _, buckets in reads:
        assert buckets is not None  # always a pruned read
        assert len(buckets) <= ttl_runner._store.n_buckets


def test_ttl_stats_sidecar_tracks_live_min(ttl_runner):
    """stats-v<b>.json min(last_ts) per bucket matches the committed
    live rows for the final version."""
    b = ttl_runner._ptr.batch()
    stats = ttl_runner._read_stats(b)
    got = {
        int(r["k"]): int(r["mn"])
        for r in ttl_runner._store.df_at(b)
        .groupBy(ttl_runner._store.bucket_expr().alias("k"))
        .agg(F.min(F.unix_micros("last_ts")).alias("mn"))
        .collect()
    }
    assert stats == got


def test_ttl_restart_resumes_without_change(spark, sf_smoke, ttl_runner):
    """A fresh runner over the same root finds every chunk
    committed: no new batches, identical state."""
    before = {(r["user_id"], r["cnt"], r["last_ts_us"])
              for r in ttl_runner.state().collect()}
    r2 = TtlChangefeedRunner(spark, sf_smoke, ttl_us=_TTL_US,
                             root=ttl_runner.root)
    r2.run()
    after = {(r["user_id"], r["cnt"], r["last_ts_us"])
             for r in r2.state().collect()}
    assert before == after


# ------------------------------------------------------------ rescale

@pytest.fixture(scope="module")
def rescaled(spark, sf_smoke):
    files = chunk_files(spark, sf_smoke)
    r1 = ChangefeedRunner(spark, sf_smoke, key="user_id", state_buckets=4)
    run_phase(r1, files[: len(files) // 2])
    mid = {(r["user_id"], r["cnt"]) for r in r1.state().collect()}
    r1.rescale_state(8)
    r2 = ChangefeedRunner(spark, sf_smoke, key="user_id", root=r1.root)
    r2._mid_state = mid
    run_phase(r2, files)
    return r2


def test_rescale_is_result_invisible(spark, sf_smoke, rescaled):
    straight = ChangefeedRunner(spark, sf_smoke, key="user_id")
    straight.run()
    want = {(r["user_id"], r["cnt"], round(r["sum_value"], 6))
            for r in straight.state().collect()}
    got = {(r["user_id"], r["cnt"], round(r["sum_value"], 6))
           for r in rescaled.state().collect()}
    assert got == want


def test_rescale_preserves_state_at_boundary(rescaled):
    """Immediately after rescale the state contents are unchanged —
    only the sharding moved."""
    v = rescaled._ptr.batch()
    # pointer still names the pre-restart boundary version in the
    # manifest history; compare the rescaled version's contents
    store = rescaled._store
    first_half = min(
        b for b in store.versions()
        if store._manifest_n_buckets(b) == 8
    )
    df = store.df_at(first_half)
    got = {(r["user_id"], r["cnt"]) for r in df.collect()}
    assert got == rescaled._mid_state
    assert v >= first_half


def test_rescale_adopts_new_bucket_count_on_restart(rescaled):
    assert rescaled._store.n_buckets == 8


def test_rescale_manifest_is_tagged_and_durable(rescaled):
    store = rescaled._store
    v = min(b for b in store.versions()
            if store._manifest_n_buckets(b) == 8)
    man = store.manifest(v)
    assert all(str(t).endswith("r8") for t in man.values())
    with open(store._manifest_path(v)) as f:
        assert json.load(f)["n_buckets"] == 8


def test_rescale_movement_is_consistent_split(rescaled):
    """pmod-doubling: every key's new bucket is its old bucket or
    old bucket + 4 — the minimal consistent-split movement, not a
    reshuffle."""
    df = rescaled.state().select(
        F.pmod(F.xxhash64("user_id"), F.lit(4)).alias("b4"),
        F.pmod(F.xxhash64("user_id"), F.lit(8)).alias("b8"),
    )
    bad = df.where(
        (F.col("b8") != F.col("b4")) & (F.col("b8") != F.col("b4") + 4)
    ).count()
    assert bad == 0


def test_rescale_gc_reclaims_untagged_dirs(rescaled):
    """After gc to the post-rescale versions, the pre-rescale bucket
    dirs are gone but every retained manifest still reads clean."""
    store = rescaled._store
    keep = {b for b in store.versions()
            if store._manifest_n_buckets(b) == 8}
    store.gc(keep)
    assert set(store.versions()) == keep
    for b in sorted(keep):
        assert store.df_at(b).count() > 0


@pytest.mark.parametrize("path", ["fold", "executor"])
def test_keyed_lifecycle_on_both_merge_paths(spark, sf_smoke, monkeypatch,
                                             path):
    """Rescale, restart and compact on the per-user and the
    per-event-type feed, once with every batch below the driver-fold
    gate and once with the gate at 0 (the executor-side MERGE): the
    restarted runner adopts the new bucket count, folds onto the
    rescaled buckets, and the final state equals the batch aggregate
    on both paths. Replays on both paths are tested in
    tests/test_changefeed_fold.py."""
    from db_realtime_changefeed_spark.catalog import load_table
    from db_realtime_changefeed_spark.streaming import changefeed
    from db_realtime_changefeed_spark.streaming.changefeed import (
        cdc_envelope,
    )
    from db_realtime_changefeed_spark.streaming.replay import (
        streaming_shuffle,
    )

    if path == "executor":
        monkeypatch.setattr(changefeed, "_DRIVER_FOLD_ROWS", 0)
    ev = load_table(spark, sf_smoke, "events")
    halves = [cdc_envelope(ev.where(F.col("event_id") % 2 == i))
              for i in range(2)]
    for key in ("user_id", "event_type"):
        r1 = ChangefeedRunner(spark, sf_smoke, key=key, state_buckets=4)
        with streaming_shuffle(spark, 2):
            r1._merge_batch(halves[0], 0)
            r1.rescale_state(8)
            r2 = ChangefeedRunner(spark, sf_smoke, key=key, root=r1.root)
            assert r2._store.n_buckets == 8
            r2._merge_batch(halves[1], 1)
        assert r2.compact(keep_last=1) == [0]
        assert r2.versions() == [1]
        want = {
            (r[key], r["cnt"], r["s"])
            for r in ev.groupBy(key).agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.col("value").cast("decimal(28,6)"))
                .cast("double").alias("s"),
            ).collect()
        }
        assert set(map(tuple, r2.state().collect())) == want, key
        last = {r[key]: r["new_count"]
                for r in r2.log().orderBy("batch_id").collect()}
        assert last == {k: c for k, c, _ in want}, key


# ------------------------------------------------- feed sequence

def test_empty_batch_before_any_meta_is_noop(spark, sf_smoke):
    """ADVICE r7: an empty micro-batch arriving before any meta
    sidecar exists must be a no-op, not a ValueError from max() over
    an empty generator."""
    r = TtlChangefeedRunner(spark, sf_smoke, ttl_us=_TTL_US)
    empty = spark.createDataFrame(
        [], "op string, after struct<user_id:long, ts:timestamp>")
    r._merge_batch(empty, 0)          # must not raise
    assert r._ptr.batch() is None  # nothing committed


def test_run_phase_and_run_continue_one_sequence(spark, sf_smoke,
                                                monkeypatch):
    """run_phase() and run() feed one batch sequence (chunk i is batch
    i): a phase over the first chunk followed by run() ends equal to a
    clean run(), and a phase after run() commits nothing."""
    def rows(df):
        return sorted(map(tuple, df.collect()))

    clean = ChangefeedRunner(spark, sf_smoke, key="user_id")
    clean.run()
    r = ChangefeedRunner(spark, sf_smoke, key="user_id")
    files = chunk_files(spark, sf_smoke)
    run_phase(r, files[:1])
    assert r.versions() == [0]
    r.run()
    assert r.versions() == clean.versions()
    assert rows(r.state()) == rows(clean.state())
    assert rows(r.log()) == rows(clean.log())

    merged = []
    merge = ChangefeedRunner._merge_batch
    monkeypatch.setattr(
        ChangefeedRunner, "_merge_batch",
        lambda self, df, b: (merged.append(b), merge(self, df, b)))
    run_phase(clean, files[:1])
    assert merged == []
    assert rows(clean.state()) == rows(r.state())
