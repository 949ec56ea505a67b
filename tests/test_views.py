"""Maintained standing-view family (streaming/views.py): incremental
view maintenance with retractions, the support-relation min/max, the
top-k enter/leave feed, and squash delivery."""

from __future__ import annotations

from pyspark.sql import functions as F

from db_realtime_changefeed_spark.queries import QUERIES, load_all
from db_realtime_changefeed_spark.streaming.view_queries import _runner

load_all()


def test_agg_view_final_batch_equals_direct_aggregate(spark, sf_smoke):
    """The last trajectory version must equal a from-scratch grouped
    aggregate over the visible keep-latest table — i.e. the chain of
    per-batch retraction folds lands exactly on the batch answer."""
    traj = QUERIES["changefeed_agg_view"](spark, sf_smoke)
    last = traj.agg(F.max("batch_id")).collect()[0][0]
    got = {
        (r["event_type"]): (r["cnt"], round(r["sum_value"], 6))
        for r in traj.where(F.col("batch_id") == last).collect()
    }
    r = _runner(spark, sf_smoke)
    direct = (
        r._base.df_at(last)
        .where(~F.col("deleted"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"),
             F.sum(F.col("value").cast("decimal(18,6)"))
             .cast("double").alias("s"))
        .collect()
    )
    want = {r2["event_type"]: (r2["cnt"], round(r2["s"], 6))
            for r2 in direct}
    assert got == want


def test_agg_view_commit_touches_only_delta_buckets(spark, sf_smoke):
    """IVM contract: a batch whose delta names only some groups must
    rewrite only those groups' buckets — later versions carry
    untouched buckets forward from earlier manifests (mixed version
    ids in the manifest prove no full-view rewrite happened)."""
    QUERIES["changefeed_agg_view"](spark, sf_smoke)
    r = _runner(spark, sf_smoke)
    last = max(r._batches)
    man = r._agg.manifest(last)
    # every group fits 4 buckets; if any bucket's version predates
    # the last batch, that bucket was carried forward, not rewritten
    assert len(man) <= 4
    assert all(v <= last for v in man.values())


def test_minmax_support_multiset_is_consistent(spark, sf_smoke):
    """The support relation must be exactly the multiset of visible
    (event_type, value) rows: every multiplicity positive, and the
    total count per group equals the visible row count."""
    QUERIES["changefeed_minmax_view"](spark, sf_smoke)
    r = _runner(spark, sf_smoke)
    last = max(r._batches)
    sup = r._support.df_at(last)
    assert sup.where(F.col("cnt") <= 0).count() == 0
    sup_n = {
        r2["event_type"]: r2["n"]
        for r2 in sup.groupBy("event_type")
        .agg(F.sum("cnt").alias("n")).collect()
    }
    vis_n = {
        r2["event_type"]: r2["n"]
        for r2 in r._base.df_at(last).where(~F.col("deleted"))
        .groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert sup_n == vis_n


def test_topk_log_replays_to_final_topk(spark, sf_smoke):
    """Folding the enter/leave/update log forward must reproduce the
    membership of the final top-k — the delta stream is complete and
    minimal (no phantom enters, no missed leaves)."""
    log = QUERIES["changefeed_topk_view"](spark, sf_smoke).collect()
    members: set = set()
    for row in sorted(log, key=lambda r: (r["batch_id"],)):
        if row["change"] == "enter":
            assert row["user_id"] not in members
            members.add(row["user_id"])
        elif row["change"] == "leave":
            assert row["user_id"] in members
            members.discard(row["user_id"])
        else:
            assert row["user_id"] in members
    r = _runner(spark, sf_smoke)
    assert members == {u for u, _v, _e in r._topk_at(max(r._batches))}
    assert len(members) <= 10


def test_squash_drops_net_noops_and_coalesces(spark, sf_smoke):
    """Squash must never emit a row whose old and new event ids are
    equal, and each (window, user) appears at most once — multiple
    per-batch deltas coalesce."""
    sq = QUERIES["changefeed_squash"](spark, sf_smoke)
    assert sq.where(
        F.col("old_event_id").eqNullSafe(F.col("new_event_id"))
    ).count() == 0
    dup = (
        sq.groupBy("window_id", "user_id").count()
        .where(F.col("count") > 1).count()
    )
    assert dup == 0


def test_views_runner_driver_state_is_bounded(spark, sf_smoke):
    """Scale guard (the stream_scd2_maintain lesson): the runner's
    driver-side state must be the O(k) top-k cache — never
    entity-cardinality (the top-k delta log itself is durable
    parquet, not driver memory). Also pin the source: no collect()
    outside the top-k refresh / touched-bucket helpers, and the one
    Arrow collect of the driver fold only behind `.limit(gate)`, the
    fold gate read from changefeed._DRIVER_FOLD_ROWS."""
    QUERIES["changefeed_topk_view"](spark, sf_smoke)
    r = _runner(spark, sf_smoke)
    assert r._topk_cache is not None
    assert len(r._topk_cache[1]) <= r.k
    assert r.topk_log().count() <= 3 * r.k * len(r._batches)
    import inspect
    import re

    from db_realtime_changefeed_spark.streaming import views as mod

    src = inspect.getsource(mod)
    collects = src.count(".collect()")
    assert collects == 3, (
        "views.py may only collect O(k)/O(buckets) rows: the top-k "
        "band read, the combined touched-set job, and the hash-"
        "bucket cohort read; "
        f"found {collects} collect() sites"
    )
    arrow = src.count(".toArrow()")
    assert arrow == 1, (
        "views.py may collect Arrow only in the driver fold; "
        f"found {arrow} toArrow() sites")
    assert re.search(r"\.limit\(gate\)\.toArrow\(\)", src), (
        "the driver fold's Arrow collect must be limited to the gate")
    fold = inspect.getsource(mod.MaintainedViewsRunner._fold_on_driver)
    assert "gate = changefeed._DRIVER_FOLD_ROWS" in fold
    assert ".limit(gate).toArrow()" in fold


def test_delta_join_final_equals_direct_join(spark, sf_smoke):
    """The last trajectory version of the delta-join view must equal
    a from-scratch join of the two side stores — the chain of
    touched-key-only merges lands exactly on the batch answer."""
    from db_realtime_changefeed_spark.streaming.view_queries import (
        _dj_runner,
    )

    traj = QUERIES["changefeed_delta_join_view"](spark, sf_smoke)
    r = _dj_runner(spark, sf_smoke)
    last = max(r._batches)
    got = traj.where(F.col("batch_id") == last).drop("batch_id")
    a = r._a.df_at(last).select(
        "user_id", F.col("value").alias("purchase_value"),
        F.col("event_id").alias("purchase_event_id"))
    b = r._b.df_at(last).select(
        "user_id", F.col("value").alias("click_value"),
        F.col("event_id").alias("click_event_id"))
    want = a.join(b, "user_id")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_delta_join_prunes_untouched_buckets(spark, sf_smoke):
    """IVM contract for the view store: buckets whose keys saw no
    change in the final batch must be carried forward by manifest
    reference (their version id predates the final batch)."""
    from db_realtime_changefeed_spark.streaming.view_queries import (
        _dj_runner,
    )

    QUERIES["changefeed_delta_join_view"](spark, sf_smoke)
    r = _dj_runner(spark, sf_smoke)
    last = max(r._batches)
    man = r._v.manifest(last)
    assert all(v <= last for v in man.values())


def test_cascade_view_consistent_with_join_view(spark, sf_smoke):
    """Each cascade version must equal the direct grouped aggregate
    of the SAME version of the join view — stage-2 of the dataflow
    never drifts from stage-1."""
    from db_realtime_changefeed_spark.streaming.view_queries import (
        _dj_runner,
    )

    casc = QUERIES["changefeed_cascade_view"](spark, sf_smoke)
    r = _dj_runner(spark, sf_smoke)
    for b in r._batches:
        want = (
            r._v.df_at(b)
            .groupBy(F.floor(F.col("click_value") / F.lit(25.0))
                     .cast("long").alias("band"))
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum(F.col("purchase_value").cast("decimal(18,6)"))
                 .cast("double").alias("sum_purchase"))
        )
        got = casc.where(F.col("batch_id") == b).drop("batch_id")
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_range_index_reads_only_overlapping_bands(spark, sf_smoke):
    """The between() read must list ONLY band directories overlapping
    the predicate — manifest-level partition pruning is the index's
    contract, not an optimization that may silently disappear."""
    QUERIES["changefeed_index_range_scan"](spark, sf_smoke)
    r = _runner(spark, sf_smoke)
    idx = r._index
    assert idx.bands_for(50.0, 250.0) == [0, 1, 2]
    last = max(r._batches)
    pruned = idx.df_at(last, buckets=idx.bands_for(50.0, 250.0))
    files = [row[0] for row in
             pruned.select(F.input_file_name()).distinct().collect()]
    import re

    bands = {int(re.search(r"/b(\d+)/", f).group(1)) for f in files}
    assert bands <= {0, 1, 2}


def test_quantile_view_banded_read_matches_naive_window(
        spark, sf_smoke):
    """The banded two-level quantile extraction must (a) equal the
    naive whole-group cumulative window answer exactly, and (b) feed
    its fine window O(crossed-band rows) only — partitioned by band,
    never a whole group through one task."""
    from pyspark.sql import Window

    got = QUERIES["changefeed_quantile_view"](spark, sf_smoke)
    r = _runner(spark, sf_smoke)
    naive_parts = []
    for b in r._batches:
        sup = r._support.df_at(b)
        wcum = (Window.partitionBy("event_type").orderBy("value")
                .rowsBetween(Window.unboundedPreceding,
                             Window.currentRow))
        wall = Window.partitionBy("event_type")
        c = sup.select(
            "event_type", "value",
            F.sum("cnt").over(wcum).alias("cumw"),
            F.sum("cnt").over(wall).alias("w"))
        naive_parts.append(
            c.groupBy("event_type").agg(
                F.any_value("w").alias("n"),
                F.min(F.when(2 * F.col("cumw") >= F.col("w"),
                             F.col("value"))).alias("median_value"),
                F.min(F.when(10 * F.col("cumw") >= 9 * F.col("w"),
                             F.col("value"))).alias("p90_value"),
            ).select(F.lit(b).cast("long").alias("batch_id"),
                     "event_type", "n", "median_value", "p90_value"))
    naive = naive_parts[0]
    for p in naive_parts[1:]:
        naive = naive.unionByName(p)
    assert got.exceptAll(naive).count() == 0
    assert naive.exceptAll(got).count() == 0
    # plan pin: every value-ordered cumulative window is partitioned
    # by band (the fine in-band window); only the bounded band
    # histogram may use a (batch, group)-level window
    plan = got._jdf.queryExecution().executedPlan().toString()
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln and "value#" in ln.split(
                "windowspecdefinition")[1][:400] and "sum(cnt" in ln:
            assert "band#" in ln, f"unbanded value window: {ln}"


def test_range_index_equals_base_state_rows(spark, sf_smoke):
    """The index must hold exactly the visible base rows (projected
    to user/value/event_id) — no stale entry survives an update that
    moved a user to another band, no visible row is missing."""
    QUERIES["changefeed_index_range_scan"](spark, sf_smoke)
    r = _runner(spark, sf_smoke)
    last = max(r._batches)
    idx = r._index.df_at(last).select("user_id", "value", "event_id")
    base = (
        r._base.df_at(last).where(~F.col("deleted"))
        .select("user_id", "value", "event_id")
    )
    assert idx.exceptAll(base).count() == 0
    assert base.exceptAll(idx).count() == 0


def test_consumer_groups_partition_disjoint_and_rebalanced(
        spark, sf_smoke):
    """Every delta row lands with exactly one consumer, ownership
    follows user_id mod 2 before the rebalance batch and mod 3 from
    it on, and the union of all consumers equals the delta log."""
    from db_realtime_changefeed_spark.streaming.view_queries import (
        _REB,
    )

    got = QUERIES["changefeed_consumer_groups"](spark, sf_smoke)
    # ownership rule, including across the rebalance boundary
    n = F.when(F.col("batch_id") < _REB, F.lit(2)).otherwise(F.lit(3))
    bad = got.where(
        F.col("consumer_id") != (F.col("user_id") % n).cast("int"))
    assert bad.count() == 0
    # exactly-once: delivery union == the runner's delta log
    r = _runner(spark, sf_smoke)
    log = r.delta_log().select(
        "batch_id", "user_id", "old_event_id", "new_event_id",
        "new_value")
    deliv = got.select(
        "batch_id", "user_id", "old_event_id", "new_event_id",
        "new_value")
    assert deliv.exceptAll(log).count() == 0
    assert log.exceptAll(deliv).count() == 0
    # both regimes actually exercised
    assert got.where(F.col("batch_id") < _REB).count() > 0
    assert got.where(F.col("batch_id") >= _REB).count() > 0


def test_consumer_groups_preserve_per_key_order(spark, sf_smoke):
    """Per-key delivery order survives the rebalance: for every user
    the delivered batch ids are strictly increasing regardless of
    which consumer owned the key at each batch."""
    got = QUERIES["changefeed_consumer_groups"](spark, sf_smoke)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("batch_id")
    bad = (
        got.withColumn("prev", F.lag("batch_id").over(w))
        .where(F.col("prev") >= F.col("batch_id"))
        .count()
    )
    assert bad == 0


def test_views_runner_restart_serves_identical_trajectories(
        spark, sf_smoke):
    """Crash recovery: a brand-new runner instance constructed on the
    old runner's root (durable stores + parquet logs) must serve
    identical trajectories and top-k deltas WITHOUT re-processing —
    and a re-run() over the restored root is a no-op (every chunk is
    at or below the newest base version)."""
    from db_realtime_changefeed_spark.streaming.views import (
        MaintainedViewsRunner,
    )

    QUERIES["changefeed_agg_view"](spark, sf_smoke)
    old = _runner(spark, sf_smoke)
    fresh = MaintainedViewsRunner(spark, sf_smoke, root=old.root)
    assert fresh._batches == old._batches
    for name in ("agg_trajectory", "minmax_trajectory", "topk_log"):
        a = getattr(old, name)()
        b = getattr(fresh, name)()
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0
    before = fresh._batches
    fresh.run()  # every chunk committed: nothing reprocessed
    assert fresh._batches == before


def test_views_live_mode_matches_batch_final_state(spark, sf_smoke):
    """Continuous maintenance: a live runner fed the same chunk files
    through ingest() must converge every view to the batch-run final
    answer (the live path exercises the identical merge+fold)."""
    import glob
    import os

    from db_realtime_changefeed_spark.streaming.replay import (
        build_replay_chunks,
    )
    from db_realtime_changefeed_spark.streaming.views import (
        MaintainedViewsRunner,
    )

    live = MaintainedViewsRunner(spark, sf_smoke)
    live.start_live()
    chunks = build_replay_chunks(spark, sf_smoke)
    files = sorted(glob.glob(os.path.join(chunks, "chunk-*.parquet")))
    for f in files:
        live.ingest(f)
    # convergence: every ingested file has committed as its batch
    done = live.drain(180)
    live.stop_live()
    assert done, "live views runner did not absorb all chunks in time"
    # final agg view equals the batch runner's final agg view
    QUERIES["changefeed_agg_view"](spark, sf_smoke)
    batch = _runner(spark, sf_smoke)
    a = live._agg.df_at(max(live._batches))
    b = batch._agg.df_at(max(batch._batches))
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    # and the live range index agrees with the live base state
    idx = live._index.df_at(max(live._batches)) \
        .select("user_id", "value", "event_id")
    base = live._base.df_at(max(live._batches)) \
        .where(~F.col("deleted")) \
        .select("user_id", "value", "event_id")
    assert idx.exceptAll(base).count() == 0
    assert base.exceptAll(idx).count() == 0


def test_api_standing_views_surface(spark, sf_smoke):
    """The fluent API exposes the maintained-view family:
    db.table('events').views() serves the latest committed version
    of every view, consistent with the graded trajectories."""
    import pytest as _pytest

    from db_realtime_changefeed_spark.api import Database

    v = Database(spark, sf_smoke).table("events").views()
    r = _runner(spark, sf_smoke)  # graded runner, same semantics
    QUERIES["changefeed_agg_view"](spark, sf_smoke)
    last = max(r._batches)
    want = r._agg.df_at(last).select(
        "event_type", "cnt",
        F.col("sum_value").cast("double").alias("sum_value"))
    got = v.group_agg()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    top = v.top_k()
    assert 0 < len(top) <= 10
    # best-first ordering
    vals = [t[1] for t in top]
    assert vals == sorted(vals, reverse=True)
    rng = v.between(50.0, 250.0)
    assert rng.where(~F.col("value").between(50.0, 250.0)).count() == 0
    # misuse fails loudly (orders is WIRED now — the generic-runner
    # lift — so the unmapped-table raise moved to e.g. customer)
    with _pytest.raises(KeyError):
        Database(spark, sf_smoke).table("customer").views()
    with _pytest.raises(ValueError):
        (Database(spark, sf_smoke).table("events")
         .filter("value > 1").views())


def test_views_final_state_is_chunking_invariant(spark, sf_smoke):
    """The final view answers must not depend on micro-batch
    boundaries: a runner replaying the same events in 2 chunks lands
    on the same final agg view, support relation, and index as the
    default-chunk runner."""
    from db_realtime_changefeed_spark.streaming.views import (
        MaintainedViewsRunner,
    )

    QUERIES["changefeed_agg_view"](spark, sf_smoke)
    ref = _runner(spark, sf_smoke)
    two = MaintainedViewsRunner(spark, sf_smoke)
    two.run(n_chunks=2)
    for store in ("_agg", "_support", "_index"):
        a = getattr(ref, store).df_at(max(ref._batches))
        b = getattr(two, store).df_at(max(two._batches))
        assert a.exceptAll(b).count() == 0, store
        assert b.exceptAll(a).count() == 0, store


def test_view_from_tail_exactly_once_across_restart(spark, sf_smoke):
    """The wire->views path survives a mid-stream crash: half the
    wire log is appended and folded, the query stops, the rest is
    appended, and a BRAND-NEW runner instance on the same root and
    checkpoint folds only the remainder — the final views equal the
    parquet-replay runner's (nothing lost, nothing double-folded at
    the boundary)."""
    import os

    from db_realtime_changefeed_spark.queries.scans import (
        TailStreamSource,
        _tail_lines_full,
    )
    from db_realtime_changefeed_spark.streaming.views import (
        MaintainedViewsRunner,
    )
    from db_realtime_changefeed_spark.tmputil import scratch_dir

    spark.dataSource.register(TailStreamSource)
    lines = _tail_lines_full(sf_smoke)
    half = len(lines) // 2
    wire_dir = scratch_dir(prefix="dbrcf-viewtail-restart-")
    wire = os.path.join(wire_dir, "wire.ndjson")

    def _stream():
        return (
            spark.readStream.format("dbrcf_stream_tail")
            .option("path", wire).option("wire", "events6").load()
            .select(
                "event_id",
                F.timestamp_micros(F.col("ts_us")).alias("ts"),
                "user_id", "event_type", "value", "props",
            )
        )

    with open(wire, "w") as f:
        f.writelines(lines[:half])
    first = MaintainedViewsRunner(spark, sf_smoke)
    first.run_from_stream(_stream())
    n_batches_first = len(first._batches)
    with open(wire, "a") as f:
        f.writelines(lines[half:])
    resumed = MaintainedViewsRunner(spark, sf_smoke, root=first.root)
    resumed.run_from_stream(_stream())
    assert len(resumed._batches) == n_batches_first + 1
    QUERIES["changefeed_agg_view"](spark, sf_smoke)
    ref = _runner(spark, sf_smoke)
    a = resumed._agg.df_at(max(resumed._batches))
    b = ref._agg.df_at(max(ref._batches))
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_vacuum_drops_old_versions_and_fails_loudly(spark, sf_smoke):
    """View-store retention: vacuum(keep_last=1) must leave only the
    newest version of every store readable and make reads past the
    horizon fail loudly instead of serving stale buckets. Runs on a
    private runner so the session-cached graded trajectories stay
    intact."""
    import pytest as _pytest

    from db_realtime_changefeed_spark.streaming.views import (
        MaintainedViewsRunner,
    )

    r = MaintainedViewsRunner(spark, sf_smoke)
    r.run()
    last = max(r._batches)
    removed = r.vacuum(keep_last=1)
    assert all(
        v == [last] for v in (
            r._base.versions(), r._agg.versions(),
            r._support.versions(), r._index.versions(),
            r._hashidx.versions())
    )
    assert any(removed.values())
    assert r._agg.df_at(last).count() > 0
    with _pytest.raises(FileNotFoundError):
        r._agg.manifest(last - 1)


def test_api_register_sql_views(spark, sf_smoke):
    """register_sql exposes the maintained views to SQL text; the
    registered snapshot equals the API read."""
    from db_realtime_changefeed_spark.api import Database

    db = Database(spark, sf_smoke)
    v = db.table("events").views()
    names = v.register_sql()
    assert "events_agg_view" in names
    got = spark.sql(
        "SELECT event_type, cnt, sum_value FROM events_agg_view")
    want = v.group_agg()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert spark.sql("SELECT count(*) FROM events_changes") \
        .collect()[0][0] == v.changes().count()


def test_range_index_band_clamping():
    """bands_for clamps both tails into the band domain."""
    from db_realtime_changefeed_spark.streaming.views import (
        RangeBucketedIndex,
    )

    class _Stub(RangeBucketedIndex):
        def __init__(self):
            self.band_width = 100.0
            self.n_buckets = 8

    ix = _Stub()
    assert ix.bands_for(700.0, 900.0) == [7]
    assert ix.bands_for(-50.0, 20.0) == [0]
    assert ix.bands_for(0.0, 799.0) == list(range(8))
    assert ix.bands_for(250.0, 250.0) == [2]


def test_delta_join_runner_restart_serves_identical_views(
        spark, sf_smoke):
    """Crash recovery parity for the delta-join dataflow: a fresh
    instance on the old root serves identical join and cascade
    trajectories, and a re-run() over the restored root is a
    no-op."""
    from db_realtime_changefeed_spark.streaming.view_queries import (
        _dj_runner,
    )
    from db_realtime_changefeed_spark.streaming.views import (
        DeltaJoinViewRunner,
    )

    QUERIES["changefeed_delta_join_view"](spark, sf_smoke)
    old = _dj_runner(spark, sf_smoke)
    fresh = DeltaJoinViewRunner(spark, sf_smoke, root=old.root)
    assert fresh._batches == old._batches
    for name in ("join_trajectory", "cascade_trajectory"):
        a = getattr(old, name)()
        b = getattr(fresh, name)()
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0
    before = fresh._batches
    fresh.run()
    assert fresh._batches == before


def test_fused_touched_sets_match_per_store_computation(
        spark, sf_smoke):
    """The single-job touched-set aggregation must name exactly the
    buckets the per-store distinct computations would — a fused
    expression drifting from a store's bucket_expr would silently
    read/commit the wrong buckets."""
    QUERIES["changefeed_agg_view"](spark, sf_smoke)
    r = _runner(spark, sf_smoke)
    last = max(r._batches)
    delta = r.delta_log().where(F.col("batch_id") == last)
    t_agg, t_sup, t_idx, t_hx, _extras = r._fold_touched(delta)
    agg_want = sorted({
        row[0] for side, cond in (("old", "old_event_id"),
                                  ("new", "new_event_id"))
        for row in delta.where(F.col(cond).isNotNull())
        .select(r._agg.bucket_expr(F.col(f"{side}_type")))
        .distinct().collect()
    })
    idx_want = sorted({
        row[0] for side, cond in (("old", "old_event_id"),
                                  ("new", "new_event_id"))
        for row in delta.where(F.col(cond).isNotNull())
        .select(r._index.bucket_expr(F.col(f"{side}_value")))
        .distinct().collect()
    })
    sup_want = sorted({
        row[0] for side, cond in (("old", "old_event_id"),
                                  ("new", "new_event_id"))
        for row in delta.where(F.col(cond).isNotNull())
        .select(r._support.bucket_expr(
            F.col(f"{side}_type"), F.col(f"{side}_value")))
        .distinct().collect()
    })
    hx_want = sorted({
        row[0] for row in delta
        .select(r._hashidx.bucket_expr(F.col("user_id")))
        .distinct().collect()
    })
    assert t_agg == agg_want
    assert t_sup == sup_want
    assert t_idx == idx_want
    assert t_hx == hx_want


def test_left_delta_join_final_equals_direct_left_join(
        spark, sf_smoke):
    """Outer-IVM correctness: the final left-view version equals the
    from-scratch left join of the side stores, including the
    null-extended rows for users with a purchase but no click."""
    from db_realtime_changefeed_spark.streaming.view_queries import (
        _CACHE,
    )

    traj = QUERIES["changefeed_delta_join_left_view"](spark, sf_smoke)
    r = _CACHE[(id(spark), sf_smoke, "__deltajoin_left__")]
    last = max(r._batches)
    got = traj.where(F.col("batch_id") == last).drop("batch_id")
    a = r._a.df_at(last).select(
        "user_id", F.col("value").alias("purchase_value"),
        F.col("event_id").alias("purchase_event_id"))
    b = r._b.df_at(last).select(
        "user_id", F.col("value").alias("click_value"),
        F.col("event_id").alias("click_event_id"))
    want = a.join(b, "user_id", "left")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # the outer form is exercised: some key is null-extended at some
    # point in the trajectory (sf0.001 has purchase-only users early)
    assert traj.where(F.col("click_event_id").isNull()).count() > 0


def test_support_serves_distinct_and_variance_consistently(
        spark, sf_smoke):
    """The distinct-count and variance views must agree with direct
    computations over the visible base rows — a different code path
    from both the trajectory oracle and the support folds."""
    QUERIES["changefeed_distinct_view"](spark, sf_smoke)
    vv = QUERIES["changefeed_variance_view"](spark, sf_smoke)
    r = _runner(spark, sf_smoke)
    last = max(r._batches)
    base = r._base.df_at(last).where(~F.col("deleted"))
    want_nd = {
        x["event_type"]: x["nd"]
        for x in base.groupBy("event_type")
        .agg(F.countDistinct("value").alias("nd")).collect()
    }
    got_nd = {
        x["event_type"]: x["nd_value"]
        for x in QUERIES["changefeed_distinct_view"](spark, sf_smoke)
        .where(F.col("batch_id") == last).collect()
    }
    assert got_nd == want_nd
    got_var = {
        x["event_type"]: x["var_pop6"]
        for x in vv.where(F.col("batch_id") == last).collect()
    }
    want_var = {
        x["event_type"]: round(x["v"], 4)
        for x in base.groupBy("event_type")
        .agg(F.var_pop("value").alias("v")).collect()
    }
    for k, v6 in got_var.items():
        assert abs(v6 - want_var[k]) < 1e-3, (k, v6, want_var[k])
        assert v6 >= 0


def test_dispatch_is_idempotent_across_instances(spark, sf_smoke):
    """A second dispatcher instance on the same delivery tree (the
    crashed-and-restarted dispatcher) must not re-append batches it
    already delivered — durable markers make dispatch exactly-once
    at the file level."""
    from db_realtime_changefeed_spark.streaming.view_queries import (
        _REB,
        _CACHE,
    )
    from db_realtime_changefeed_spark.streaming.views import (
        ConsumerGroupDispatcher,
    )

    QUERIES["changefeed_consumer_groups"](spark, sf_smoke)
    d = _CACHE[(id(spark), sf_smoke, "__groups__")]
    before = d.received().count()
    again = ConsumerGroupDispatcher(
        d.runner, n_before=2, n_after=3, rebalance_at=_REB)
    again.dispatch()
    assert again.received().count() == before
    # the harder crash shape: the batch write COMMITTED but the
    # marker never landed (crash between the two). The restarted
    # dispatcher must overwrite that batch's own directory, not
    # append a duplicate copy of its rows.
    import os as _os

    last = max(d._log_batches())
    _os.remove(d._marker(last))
    crashed = ConsumerGroupDispatcher(
        d.runner, n_before=2, n_after=3, rebalance_at=_REB)
    crashed.dispatch()
    assert crashed.received().count() == before
    assert _os.path.exists(d._marker(last))


def test_fixture_value_nullability_assumption(spark, sf_smoke,
                                              sf_oracle):
    """CANARY for driver testdata regeneration (the round-3 ts-unit
    lesson): every view fold treats a NULL value as +0, which equals
    SQL's null-skipping SUM unless a group's values are ALL null
    (sum() would be NULL, the fold says 0), and the distinct/
    quantile reads would need a cnt_nonnull moment to mirror
    count(DISTINCT value)'s null-skipping. The fixture has no null
    values at any SF today; if this test ever fails, add the
    cnt_nonnull moment to the support relation instead of relaxing
    the assertion."""
    for d in (sf_smoke, sf_oracle):
        ev = spark.read.parquet(f"{d}/events.parquet")
        assert ev.where(F.col("value").isNull()).count() == 0, (
            f"{d}: events.value grew NULLs — see docstring for the "
            "required support-relation change")


def test_orders_view_final_equals_direct_aggregate(spark, sf_smoke):
    """The generic runner on ORDERS must land exactly on a direct
    grouped aggregate over each customer's latest order — same
    retraction-fold contract, second table."""
    from db_realtime_changefeed_spark.streaming.generic_views import (
        _CACHE as GCACHE,
    )

    traj = QUERIES["changefeed_agg_view_orders"](spark, sf_smoke)
    r = GCACHE[(id(spark), sf_smoke, "__orders_view__")]
    last = max(r._batches)
    got = traj.where(F.col("batch_id") == last).drop("batch_id")
    want = (
        r._base.df_at(last)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("cnt"),
             F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
             .cast("double").alias("sum_value"))
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # the agg commits carried buckets forward (IVM, not recompute)
    man = r._agg.manifest(last)
    assert all(v <= last for v in man.values())


def test_orders_support_holds_exact_latest_multiset(spark, sf_smoke):
    """The generic support relation must equal the multiset of
    (status, price) over customers' latest orders at the final
    batch — a stale retraction or missed apply would desynchronize
    it from the base state it derives from."""
    from db_realtime_changefeed_spark.streaming.generic_views import (
        _CACHE as _GCACHE,
    )

    QUERIES["changefeed_minmax_view_orders"](spark, sf_smoke)
    r = _GCACHE[(id(spark), sf_smoke, "__orders_view__")]
    last = max(r._batches)
    sup = r._support.df_at(last)
    base = (
        r._base.df_at(last)
        .groupBy("o_orderstatus", "o_totalprice")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    assert sup.exceptAll(base).count() == 0
    assert base.exceptAll(sup).count() == 0
    assert sup.where(F.col("cnt") <= 0).count() == 0
