"""Graded queries for the incrementally-maintained standing views.

Every oracle reconstructs, in pure SQL, the state the incremental
engine must reach after EACH micro-batch: the replay chunking is a
deterministic function of (row count, chunk count) — events ordered
by event_id, split into equal slices — so "state after batch b" is
"the keep-latest-visible view over chunks <= b", and the whole
trajectory (not just the final state) is hash-graded.  A view that
drifts by one retraction in any batch breaks the hash.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..queries import query
from .replay import default_chunks
from .views import DeltaJoinViewRunner, MaintainedViewsRunner

_NB = default_chunks()

#: Shared oracle scaffold: `vis` = (batch_id, user_id, value,
#: event_type, event_id) — the visible keep-latest row per user at
#: each batch-prefix, with 'error' acting as the CDC DELETE type
#: (the same convention as changefeed_delete).
_VIS_CTE = f"""
    WITH numbered AS (
      SELECT user_id, ts, event_id, value, event_type,
             row_number() OVER (ORDER BY event_id) - 1 AS rn,
             count(*) OVER () AS n
      FROM events
    ), chunked AS (
      SELECT user_id, ts, event_id, value, event_type,
             CAST(floor(rn / ceil(n / {_NB}.0)) AS BIGINT) AS chunk
      FROM numbered
    ), batches AS (
      SELECT DISTINCT chunk AS batch_id FROM chunked
    ), latest AS (
      SELECT b.batch_id, c.user_id, c.ts, c.event_id, c.value,
             c.event_type,
             row_number() OVER (PARTITION BY b.batch_id, c.user_id
                                ORDER BY c.ts DESC, c.event_id DESC)
               AS rrn
      FROM batches b JOIN chunked c ON c.chunk <= b.batch_id
    ), vis AS (
      SELECT batch_id, user_id, value, event_type, event_id
      FROM latest WHERE rrn = 1 AND event_type <> 'error'
    )
"""

_CACHE: dict = {}


def _runner(spark, sf_dir) -> MaintainedViewsRunner:
    key = (id(spark), sf_dir)
    if key not in _CACHE:
        r = MaintainedViewsRunner(spark, sf_dir)
        r.run()
        _CACHE[key] = r
    return _CACHE[key]


@query(
    "changefeed_agg_view",
    oracle=_VIS_CTE + """
    SELECT batch_id, event_type,
           count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_value
    FROM vis GROUP BY batch_id, event_type
    """,
)
def changefeed_agg_view(spark, sf_dir):
    """Incremental view maintenance with retractions (the
    materialized-view half of a changefeed engine): a grouped
    count/sum view over the LWW base table, updated per micro-batch
    from the {old,new} delta stream ALONE — an update that moves a
    user between event_types retracts from the old group and applies
    to the new; a delete retracts only.  Graded output is the FULL
    per-batch trajectory (every committed view version), so a single
    missed retraction in any batch breaks the hash.  Per batch only
    the groups present in the delta are rewritten (touched-bucket
    commit in streaming/views.py) — at 100 TB the per-batch view
    write is O(|delta groups|), never O(|view|), and the base table
    is never re-scanned."""
    r = _runner(spark, sf_dir)
    return r.agg_trajectory()


@query(
    "changefeed_minmax_view",
    oracle=_VIS_CTE + """
    SELECT batch_id, event_type,
           count(*) AS n,
           min(value) AS min_value,
           max(value) AS max_value
    FROM vis GROUP BY batch_id, event_type
    """,
)
def changefeed_minmax_view(spark, sf_dir):
    """The NON-distributive IVM case: MIN/MAX under deletes cannot be
    maintained from the answer's deltas (deleting the current minimum
    needs the runner-up), so the view maintains the classic auxiliary
    SUPPORT relation (event_type, value) -> multiplicity — which IS
    delta-maintainable with the same retraction algebra — and folds
    it to min/max/count at read time.  Trajectory-graded like
    changefeed_agg_view.  At 100 TB the support relation is bounded
    by distinct (group, value) pairs, partitioned by its own bucketed
    store; the per-batch write touches only buckets of values present
    in the delta."""
    r = _runner(spark, sf_dir)
    return r.minmax_trajectory()


@query(
    "changefeed_topk_view",
    oracle=_VIS_CTE + """
    , ranked AS (
      SELECT batch_id, user_id, value, event_id,
             row_number() OVER (PARTITION BY batch_id
                                ORDER BY value DESC NULLS LAST,
                                         event_id ASC) AS rk
      FROM vis
    ), topk AS (
      SELECT batch_id, user_id, value, event_id
      FROM ranked WHERE rk <= 10
    ), cur AS (
      SELECT batch_id AS bb, user_id, value, event_id FROM topk
    ), prev AS (
      SELECT batch_id + 1 AS bb, user_id, value, event_id FROM topk
      WHERE batch_id + 1 <= (SELECT max(chunk) FROM chunked)
    )
    SELECT bb AS batch_id, user_id,
           CASE WHEN prev.event_id IS NULL THEN 'enter'
                WHEN cur.event_id IS NULL THEN 'leave'
                ELSE 'update' END AS change,
           prev.value AS old_value,
           cur.value AS new_value
    FROM cur FULL JOIN prev USING (bb, user_id)
    WHERE cur.event_id IS NULL OR prev.event_id IS NULL
       OR cur.event_id <> prev.event_id
    """,
)
def changefeed_topk_view(spark, sf_dir):
    """RethinkDB's orderBy(desc).limit(k).changes(): a maintained
    top-10 by (value DESC, event_id ASC) over the visible LWW table,
    emitting enter/leave/update deltas per micro-batch (an 'update'
    means the member's ROW changed — pure rank shifts from other
    rows moving do not emit, matching the reference surface).  The
    per-batch refresh reads the ORDERED SECONDARY INDEX (the range-
    bucketed index the runner maintains anyway): descending value
    bands, widened until they hold k rows — every unread band is
    strictly worse than everything read, so the refresh touches
    O(k + band) rows, never the whole state, and everything the
    driver ever holds is O(k).  The oracle reconstructs every
    batch's true top-k and diffs consecutive batches, so a stale or
    phantom member in any batch breaks the hash."""
    r = _runner(spark, sf_dir)
    # the durable log also carries the include_offsets positions
    # (graded separately by changefeed_topk_offsets); this query's
    # contract is the 5-column enter/leave/update delta shape
    return r.topk_log().select(
        "batch_id", "user_id", "change", "old_value", "new_value")


@query(
    "changefeed_squash",
    oracle=_VIS_CTE + """
    , winspec AS (
      SELECT DISTINCT CAST(floor(chunk / 2) AS BIGINT) AS w
      FROM chunked
    ), maxb AS (SELECT max(chunk) AS mb FROM chunked),
    s AS (
      SELECT w.w, v.user_id, v.value, v.event_id
      FROM winspec w JOIN vis v ON v.batch_id = 2 * w.w - 1
    ), e AS (
      SELECT w.w, v.user_id, v.value, v.event_id
      FROM winspec w
      JOIN vis v
        ON v.batch_id = least(2 * w.w + 1, (SELECT mb FROM maxb))
    )
    SELECT COALESCE(s.w, e.w) AS window_id,
           COALESCE(s.user_id, e.user_id) AS user_id,
           s.value AS old_value,
           e.value AS new_value,
           s.event_id AS old_event_id,
           e.event_id AS new_event_id
    FROM s FULL JOIN e ON s.w = e.w AND s.user_id = e.user_id
    WHERE s.event_id IS DISTINCT FROM e.event_id
    """,
)
def changefeed_squash(spark, sf_dir):
    """Squash delivery (RethinkDB changes(squash=True) / Debezium
    tombstone coalescing): deltas for the same key within a squash
    window of 2 micro-batches coalesce into ONE delta from the
    window-start row to the window-end row, and a net no-op (insert
    then delete of the same key inside one window) is dropped
    entirely.  Implemented as a pure derivation over the emitted
    delta log — first_old via min_by(batch), last_new via
    max_by(batch), one shuffle on (user, window) — exactly the
    subscriber-side buffer a real squashing feed runs, so it
    composes with any upstream view.  first/last emission per
    (user, window) are struct-min/max keyed on batch_id — unique
    within the group, so the fold is exact and NULL old/new fields
    (inserts/deletes) ride along safely.  The oracle reconstructs
    window-start/window-end visible states per user and keeps rows
    whose event_id changed across the window."""
    r = _runner(spark, sf_dir)
    log = r.delta_log()
    w = F.floor(F.col("batch_id") / F.lit(2)).cast("long")
    sq = (
        log.withColumn("window_id", w)
        .groupBy("window_id", "user_id")
        .agg(
            F.min(F.struct(
                F.col("batch_id"),
                F.col("old_value").alias("ov"),
                F.col("old_event_id").alias("oe"),
            )).alias("first"),
            F.max(F.struct(
                F.col("batch_id"),
                F.col("new_value").alias("nv"),
                F.col("new_event_id").alias("ne"),
            )).alias("last"),
        )
        .select(
            "window_id", "user_id",
            F.col("first.ov").alias("old_value"),
            F.col("last.nv").alias("new_value"),
            F.col("first.oe").alias("old_event_id"),
            F.col("last.ne").alias("new_event_id"),
        )
        .where(~F.col("old_event_id").eqNullSafe(F.col("new_event_id")))
    )
    return sq


def _dj_runner(spark, sf_dir) -> DeltaJoinViewRunner:
    key = (id(spark), sf_dir, "__deltajoin__")
    if key not in _CACHE:
        r = DeltaJoinViewRunner(spark, sf_dir)
        r.run()
        _CACHE[key] = r
    return _CACHE[key]


#: Per-batch-prefix latest row per user for ONE event type — the
#: two mutating join sides of the delta-join view.
_SIDE_CTE = f"""
    WITH numbered AS (
      SELECT user_id, ts, event_id, value, event_type,
             row_number() OVER (ORDER BY event_id) - 1 AS rn,
             count(*) OVER () AS n
      FROM events
    ), chunked AS (
      SELECT user_id, ts, event_id, value, event_type,
             CAST(floor(rn / ceil(n / {_NB}.0)) AS BIGINT) AS chunk
      FROM numbered
    ), batches AS (
      SELECT DISTINCT chunk AS batch_id FROM chunked
    ), pa AS (
      SELECT b.batch_id, c.user_id, c.value, c.event_id,
             row_number() OVER (PARTITION BY b.batch_id, c.user_id
                                ORDER BY c.ts DESC, c.event_id DESC)
               AS rrn
      FROM batches b
      JOIN chunked c
        ON c.chunk <= b.batch_id AND c.event_type = 'purchase'
    ), pb AS (
      SELECT b.batch_id, c.user_id, c.value, c.event_id,
             row_number() OVER (PARTITION BY b.batch_id, c.user_id
                                ORDER BY c.ts DESC, c.event_id DESC)
               AS rrn
      FROM batches b
      JOIN chunked c
        ON c.chunk <= b.batch_id AND c.event_type = 'click'
    ), v AS (
      SELECT a.batch_id, a.user_id,
             a.value AS purchase_value,
             a.event_id AS purchase_event_id,
             k.value AS click_value,
             k.event_id AS click_event_id
      FROM (SELECT * FROM pa WHERE rrn = 1) a
      JOIN (SELECT * FROM pb WHERE rrn = 1) k
        USING (batch_id, user_id)
    )
"""


@query(
    "changefeed_delta_join_view",
    oracle=_SIDE_CTE + """
    SELECT batch_id, user_id, purchase_value, purchase_event_id,
           click_value, click_event_id
    FROM v
    """,
)
def changefeed_delta_join_view(spark, sf_dir):
    """Bilinear delta-join IVM (the differential-dataflow /
    Materialize core shape): V = A join B where BOTH sides mutate —
    A = latest 'purchase' per user, B = latest 'click' per user,
    each LWW-maintained in its own bucketed MVCC store.  Per
    micro-batch only keys touched by dA or dB are re-joined
    (dV = (A' join B') restricted to changed keys); history is never
    re-joined, and because all three stores share the bucket
    function the delta-vs-state reads are bucket-aligned pruned
    scans.  Trajectory-graded: every batch's view version must equal
    the SQL join of the two prefix-latest sides."""
    return _dj_runner(spark, sf_dir).join_trajectory()


@query(
    "changefeed_cascade_view",
    oracle=_SIDE_CTE + """
    SELECT batch_id,
           CAST(floor(click_value / 25.0) AS BIGINT) AS band,
           count(*) AS cnt,
           CAST(sum(CAST(purchase_value AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_purchase
    FROM v GROUP BY 1, 2
    """,
)
def changefeed_cascade_view(spark, sf_dir):
    """View-on-view cascade IVM: a grouped count/sum view maintained
    ON TOP of the delta-join view's own {old,new} delta stream —
    each stage of the dataflow sees only the previous stage's
    deltas, never its full state (the chaining contract that makes
    Materialize-style dataflows compose).  A changed key retracts
    its old (band, purchase_value) contribution and applies the new
    one; bands untouched by a batch are carried forward by manifest
    reference.  Trajectory-graded per batch like the other
    maintained views."""
    return _dj_runner(spark, sf_dir).cascade_trajectory()


_REB = max(1, _NB // 2)


@query(
    "changefeed_index_range_scan",
    oracle=_VIS_CTE + """
    SELECT batch_id, user_id, value, event_id
    FROM vis
    WHERE value BETWEEN 50.0 AND 250.0
    """,
)
def changefeed_index_range_scan(spark, sf_dir):
    """Secondary-index range scan (RethinkDB between() on a value
    index / CREATE INDEX + range predicate): the runner maintains a
    RANGE-BUCKETED index over the visible LWW rows — bucket =
    floor(value / 100), clamped — from the delta stream alone (the
    old row leaves its value band, the new row enters its band; only
    bands whose values appear in a batch's delta are rewritten).
    The between(50, 250) read lists ONLY the overlapping band
    directories from the version manifest — manifest-level partition
    pruning, the index's reason to exist; at 100 TB the scan cost is
    O(selectivity), not O(table).  Trajectory-graded: every batch's
    pruned range read must equal the SQL range predicate over that
    batch-prefix's visible rows."""
    r = _runner(spark, sf_dir)
    return r.index_range_trajectory(50.0, 250.0)


@query(
    "changefeed_consumer_groups",
    oracle=_VIS_CTE + f"""
    , cur AS (
      SELECT batch_id AS bb, user_id, value, event_id FROM vis
    ), prevv AS (
      SELECT batch_id + 1 AS bb, user_id, value, event_id FROM vis
      WHERE batch_id + 1 <= (SELECT max(chunk) FROM chunked)
    ), dl AS (
      SELECT bb AS batch_id,
             user_id,
             prevv.event_id AS old_event_id,
             cur.event_id AS new_event_id,
             cur.value AS new_value
      FROM cur FULL JOIN prevv USING (bb, user_id)
      WHERE cur.event_id IS DISTINCT FROM prevv.event_id
    )
    SELECT CAST(user_id % (CASE WHEN batch_id < {_REB} THEN 2
                                ELSE 3 END) AS INTEGER)
             AS consumer_id,
           batch_id, user_id, old_event_id, new_event_id, new_value
    FROM dl
    """,
)
def changefeed_consumer_groups(spark, sf_dir):
    """Consumer-group delivery with a mid-stream rebalance (the
    Kafka-group / changefeed-sink contract): 2 consumers own
    user_id mod 2 for the first half of the stream; at the rebalance
    batch the group grows to 3 and ownership moves to user_id mod 3.
    Routing is executor-side — the owner column is a projection and
    the delta parquet is written partitioned by (batch_id,
    consumer_id), so each consumer tails its own directory and the
    fan-out never touches the driver.  Graded on the union of what
    every consumer RECEIVED, read back from the partitioned delivery
    tree: the oracle reconstructs the full per-batch delta log
    (vis-diff between consecutive batch prefixes) and assigns owners
    by the same deterministic rule — one lost, duplicated, or
    misrouted delta anywhere (including across the rebalance
    boundary) breaks the hash."""
    from .views import ConsumerGroupDispatcher

    r = _runner(spark, sf_dir)
    key = (id(spark), sf_dir, "__groups__")
    if key not in _CACHE:
        d = ConsumerGroupDispatcher(r, n_before=2, n_after=3,
                                    rebalance_at=_REB)
        d.dispatch()
        _CACHE[key] = d
    return _CACHE[key].received()


@query(
    "changefeed_view_live",
    oracle="""
    WITH latest AS (
      SELECT user_id, value, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC)
               AS rrn
      FROM events
    )
    SELECT event_type,
           count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_value
    FROM latest WHERE rrn = 1 AND event_type <> 'error'
    GROUP BY event_type
    """,
)
def changefeed_view_live(spark, sf_dir):
    """The LIVE path of the maintained-view engine (continuous mode,
    not a terminating replay): a fresh runner's live worker commits
    each change file a producer ingests as its own batch, the
    producer waits until every file has committed (drain()), and the
    worker is stopped.  Graded on the FINAL agg view: the answer is
    chunking-invariant, so the final state must equal the batch
    keep-latest-visible aggregate however the batches fell."""
    from .replay import build_replay_chunks, chunk_paths
    from .views import MaintainedViewsRunner

    key = (id(spark), sf_dir, "__view_live__")
    if key not in _CACHE:
        live = MaintainedViewsRunner(spark, sf_dir)
        live.start_live()
        chunks = build_replay_chunks(spark, sf_dir)
        files = chunk_paths(chunks)
        try:
            for f in files:
                live.ingest(f)
            if not live.drain(180):
                raise AssertionError(
                    "live view did not commit every ingested file "
                    "before the deadline")
        finally:
            live.stop_live()
        _CACHE[key] = live
    live = _CACHE[key]
    last = max(live._batches)
    return live._agg.df_at(last).select(
        "event_type", "cnt",
        F.col("sum_value").cast("double").alias("sum_value"))


@query(
    "changefeed_quantile_view",
    oracle=_VIS_CTE + """
    , c AS (
      SELECT batch_id, event_type, value,
             count(*) OVER (PARTITION BY batch_id, event_type
                            ORDER BY value
                            ROWS UNBOUNDED PRECEDING) AS cumw,
             count(*) OVER (PARTITION BY batch_id, event_type) AS w
      FROM vis)
    SELECT batch_id, event_type,
           CAST(any_value(w) AS BIGINT) AS n,
           min(CASE WHEN 2 * cumw >= w THEN value END)
             AS median_value,
           min(CASE WHEN 10 * cumw >= 9 * w THEN value END)
             AS p90_value
    FROM c GROUP BY batch_id, event_type
    """,
)
def changefeed_quantile_view(spark, sf_dir):
    """Exact quantiles as a MAINTAINED view — the support relation
    generalizes past min/max: (group, value) -> multiplicity is
    enough to answer ANY order statistic exactly, so the maintained
    quantile view costs nothing extra to maintain (it reads the
    same delta-folded support the min/max view uses) and the
    read-time extraction — smallest value whose cumulative
    multiplicity reaches the quantile fraction, the
    quantileExactWeighted rule shared with agg_weighted_median —
    runs over O(|support|) rows, never re-scanning the corpus.

    The extraction is the BANDED TWO-LEVEL read (VERDICT r6 item 4):
    a per-group window over the raw support would serialize each
    group through one task (10^9 support rows per group at 100 TB).
    Instead (1) the support is banded by the range index's band
    function and folded to a per-(batch, group, band) histogram —
    one map-side-combined aggregate, tiny result; (2) a prefix sum
    over that histogram (windows over the bounded band domain) finds
    the ONE band where each quantile's cumulative-weight crossing
    lands, plus that band's starting offset; (3) only rows of the
    crossed bands enter the fine cumulative window, partitioned by
    (batch, group, band, quantile) — band offset + in-band running
    weight reproduces the global cumw exactly, so the crossing rule
    returns the identical value (same oracle). The window input is
    O(crossed-band rows), not O(group rows); test_views pins both
    the equivalence with the naive whole-group window and the plan
    shape.  Trajectory-graded per batch: median and p90 per group at
    every micro-batch must match the SQL order statistics over that
    batch-prefix's visible rows."""
    from pyspark.sql import Window

    r = _runner(spark, sf_dir)
    idx = r._index
    sup_all = None
    for b in r._batches:
        p = r._support.df_at(b).withColumn(
            "batch_id", F.lit(b).cast("long"))
        sup_all = p if sup_all is None else sup_all.unionByName(p)
    sb = sup_all.withColumn("band", idx.bucket_expr(F.col("value")))
    hist = sb.groupBy("batch_id", "event_type", "band").agg(
        F.sum("cnt").alias("bn"))
    wh = (Window.partitionBy("batch_id", "event_type")
          .orderBy("band")
          .rowsBetween(Window.unboundedPreceding, -1))
    wall = Window.partitionBy("batch_id", "event_type")
    off = hist.select(
        "batch_id", "event_type", "band", "bn",
        F.coalesce(F.sum("bn").over(wh), F.lit(0)).alias("boff"),
        F.sum("bn").over(wall).alias("w"),
    )
    cum_end = F.col("boff") + F.col("bn")
    # first band where each quantile's crossing can land: the rule
    # "min value with k*cumw >= m*w" is monotone in cumw, so the
    # crossing value sits in the first band whose END cumulative
    # weight satisfies it
    targets = None
    for q, k, m in (("med", 2, 1), ("p90", 10, 9)):
        t = (
            off.where(k * cum_end >= m * F.col("w"))
            .groupBy("batch_id", "event_type")
            .agg(F.min("band").alias("band"))
            .withColumn("q", F.lit(q))
        )
        targets = t if targets is None else targets.unionByName(t)
    tgt = targets.join(
        off.select("batch_id", "event_type", "band", "boff", "w"),
        ["batch_id", "event_type", "band"])
    inband = sb.join(
        F.broadcast(tgt),
        ["batch_id", "event_type", "band"])
    wcum = (Window.partitionBy("batch_id", "event_type", "band", "q")
            .orderBy("value")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = inband.select(
        "batch_id", "event_type", "q", "value", "w",
        (F.col("boff") + F.sum("cnt").over(wcum)).alias("cumw"),
    )
    med = (
        c.where(F.col("q") == "med")
        .groupBy("batch_id", "event_type")
        .agg(F.min(F.when(2 * F.col("cumw") >= F.col("w"),
                          F.col("value"))).alias("median_value"))
    )
    p90 = (
        c.where(F.col("q") == "p90")
        .groupBy("batch_id", "event_type")
        .agg(F.min(F.when(10 * F.col("cumw") >= 9 * F.col("w"),
                          F.col("value"))).alias("p90_value"))
    )
    ngrp = off.groupBy("batch_id", "event_type").agg(
        F.any_value("w").alias("n"))
    return (
        ngrp.join(med, ["batch_id", "event_type"])
        .join(p90, ["batch_id", "event_type"])
        .select("batch_id", "event_type", "n",
                "median_value", "p90_value")
    )


@query(
    "changefeed_view_from_tail",
    oracle="""
    WITH latest AS (
      SELECT user_id, value, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC)
               AS rrn
      FROM events
    )
    SELECT event_type,
           count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_value
    FROM latest WHERE rrn = 1 AND event_type <> 'error'
    GROUP BY event_type
    """,
)
def changefeed_view_from_tail(spark, sf_dir):
    """END-TO-END composition of the network path with the view
    engine: the events table serialized as an NDJSON wire log, the
    byte-offset tail DataSource parsing appended ranges with Arrow
    under the 6-column wire schema (ts as epoch micros — integers
    survive JSON exactly), the CDC envelope wrapping the decoded
    rows, and the FULL maintained-view machinery (LWW base, agg/
    support/index folds, top-k log) folding the stream — wire bytes
    in, materialized views out, no parquet replay anywhere on the
    path.  Graded on the final agg view vs the keep-latest-visible
    oracle; the ts round-trip is part of the grade (a lossy ts
    encoding would flip LWW winners and break the hash)."""
    import os

    from ..queries.scans import TailStreamSource, _tail_lines_full
    from ..tmputil import scratch_dir
    from .views import MaintainedViewsRunner

    key = (id(spark), sf_dir, "__view_tail__")
    if key not in _CACHE:
        spark.dataSource.register(TailStreamSource)
        wire_dir = scratch_dir(prefix="dbrcf-viewtail-")
        wire = os.path.join(wire_dir, "wire.ndjson")
        with open(wire, "w") as f:
            f.writelines(_tail_lines_full(sf_dir))
        stream = (
            spark.readStream.format("dbrcf_stream_tail")
            .option("path", wire).option("wire", "events6").load()
            .select(
                "event_id",
                F.timestamp_micros(F.col("ts_us")).alias("ts"),
                "user_id", "event_type", "value", "props",
            )
        )
        r = MaintainedViewsRunner(spark, sf_dir)
        r.run_from_stream(stream)
        _CACHE[key] = r
    r = _CACHE[key]
    last = max(r._batches)
    return r._agg.df_at(last).select(
        "event_type", "cnt",
        F.col("sum_value").cast("double").alias("sum_value"))


@query(
    "changefeed_delta_join_left_view",
    oracle=_SIDE_CTE + """
    SELECT a.batch_id, a.user_id,
           a.value AS purchase_value,
           a.event_id AS purchase_event_id,
           k.value AS click_value,
           k.event_id AS click_event_id
    FROM (SELECT * FROM pa WHERE rrn = 1) a
    LEFT JOIN (SELECT * FROM pb WHERE rrn = 1) k
      USING (batch_id, user_id)
    """,
)
def changefeed_delta_join_left_view(spark, sf_dir):
    """LEFT-OUTER delta-join IVM — the null-extension case: every
    user with a purchase row appears in V even before their first
    click, and the arrival of the click RETRACTS the null-extended
    row and applies the matched one.  The touched-key recompute
    handles outer semantics with no extra machinery: the B-side
    arrival puts the key in dB, so (A' left-join B') restricted to
    touched keys regenerates exactly the flipped row — the reason
    differential dataflows implement outer joins as key-scoped
    recompute rather than trying to difference the null extension
    algebraically.  Trajectory-graded per batch like the inner
    form."""
    key = (id(spark), sf_dir, "__deltajoin_left__")
    if key not in _CACHE:
        r = DeltaJoinViewRunner(spark, sf_dir, how="left")
        r.run()
        _CACHE[key] = r
    return _CACHE[key].join_trajectory()


@query(
    "changefeed_delta_join_full_view",
    oracle=_SIDE_CTE + """
    SELECT COALESCE(a.batch_id, k.batch_id) AS batch_id,
           COALESCE(a.user_id, k.user_id) AS user_id,
           a.value AS purchase_value,
           a.event_id AS purchase_event_id,
           k.value AS click_value,
           k.event_id AS click_event_id
    FROM (SELECT * FROM pa WHERE rrn = 1) a
    FULL JOIN (SELECT * FROM pb WHERE rrn = 1) k
      USING (batch_id, user_id)
    """,
)
def changefeed_delta_join_full_view(spark, sf_dir):
    """FULL-OUTER delta-join IVM — both sides preserved: a user
    appears as soon as EITHER side has a row, null-extended on the
    missing side, and each side's first arrival retracts the
    one-sided row and applies the matched one.  The pruned
    bucket-aligned reads may carry co-bucketed untouched keys, so
    the full join is semi-restricted to the touched-key set before
    commit — rewriting an untouched key as a one-sided row is the
    outer-IVM footgun this restriction pins down (and the
    trajectory oracle would catch).  Completes the join-mode family
    (inner / left / full) on the same dataflow."""
    key = (id(spark), sf_dir, "__deltajoin_full__")
    if key not in _CACHE:
        r = DeltaJoinViewRunner(spark, sf_dir, how="full")
        r.run()
        _CACHE[key] = r
    return _CACHE[key].join_trajectory()


@query(
    "changefeed_distinct_view",
    oracle=_VIS_CTE + """
    SELECT batch_id, event_type,
           count(DISTINCT value) AS nd_value
    FROM vis GROUP BY batch_id, event_type
    """,
)
def changefeed_distinct_view(spark, sf_dir):
    """Exact COUNT(DISTINCT) as a maintained view: the support
    relation (group, value) -> multiplicity maintained for min/max
    already IS the distinct-value set with reference counts — a
    value leaves the view exactly when its multiplicity hits zero,
    which is the part a naive distinct-count delta cannot know.
    The read is count(*) per group over O(|support|) rows; no extra
    maintenance cost, trajectory-graded per micro-batch."""
    r = _runner(spark, sf_dir)
    parts = [
        r._support.df_at(b).groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("nd_value"))
        .select(F.lit(b).alias("batch_id"), "event_type", "nd_value")
        for b in r._batches
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "changefeed_variance_view",
    oracle=_VIS_CTE + """
    SELECT batch_id, event_type,
           count(*) AS n,
           FLOOR(((CAST(sum(CAST(value AS DECIMAL(18,6))
                            * CAST(value AS DECIMAL(18,6)))
                        AS DOUBLE)
                   - CAST(sum(CAST(value AS DECIMAL(18,6)))
                          AS DOUBLE)
                     * CAST(sum(CAST(value AS DECIMAL(18,6)))
                            AS DOUBLE) / count(*))
                  / count(*)) * 1000000.0 + 0.5) / 1000000.0
             AS var_pop6
    FROM vis GROUP BY batch_id, event_type
    """,
)
def changefeed_variance_view(spark, sf_dir):
    """Exact population variance as a maintained view — the
    second-moment case: the support relation already carries every
    (value, multiplicity) pair, so n, sum(v) and sum(v^2) fold from
    it in EXACT DECIMAL at read time (value^2 is decimal(36,12),
    multiplied by the integer multiplicity and summed — no float
    order-dependence anywhere), and only the final
    (sumsq - sum^2/n)/n runs in IEEE doubles on bit-identical
    rational inputs, quantized to 6 dp.  No new maintenance state:
    min/max, quantiles, distinct counts and variance all ride the
    ONE delta-folded support relation.  Trajectory-graded per
    micro-batch."""
    r = _runner(spark, sf_dir)
    vdec = F.col("value").cast("decimal(18,6)")
    parts = []
    for b in r._batches:
        g = r._support.df_at(b).groupBy("event_type").agg(
            F.sum("cnt").alias("n"),
            F.sum(vdec * F.col("cnt")).alias("s"),
            F.sum(vdec * vdec * F.col("cnt")).alias("sq"),
        )
        var = (
            (F.col("sq").cast("double")
             - F.col("s").cast("double") * F.col("s").cast("double")
             / F.col("n"))
            / F.col("n")
        )
        parts.append(
            g.select(
                F.lit(b).alias("batch_id"), "event_type", "n",
                (F.floor(var * F.lit(1000000.0) + F.lit(0.5))
                 .cast("double") / F.lit(1000000.0)).alias("var_pop6"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "changefeed_sample_cohort",
    oracle=_VIS_CTE + """
    , hashed AS (
      SELECT batch_id, user_id,
             md5(CAST(user_id AS VARCHAR)) AS h
      FROM (SELECT DISTINCT batch_id, user_id FROM vis)
    ), ranked AS (
      SELECT batch_id, user_id,
             row_number() OVER (PARTITION BY batch_id
                                ORDER BY h, user_id) AS rk
      FROM hashed
    ), coh AS (
      SELECT batch_id, user_id FROM ranked WHERE rk <= 10
    ), cur AS (
      SELECT batch_id AS bb, user_id FROM coh
    ), prev AS (
      SELECT batch_id + 1 AS bb, user_id FROM coh
      WHERE batch_id + 1 <= (SELECT max(chunk) FROM chunked)
    )
    SELECT bb AS batch_id,
           COALESCE(cur.user_id, prev.user_id) AS user_id,
           CASE WHEN prev.user_id IS NULL THEN 'enter'
                ELSE 'leave' END AS change
    FROM cur FULL JOIN prev USING (bb, user_id)
    WHERE cur.user_id IS NULL OR prev.user_id IS NULL
    """,
)
def changefeed_sample_cohort(spark, sf_dir):
    """Maintained HOLDOUT COHORT (the stable A/B-holdout contract):
    the k=10 visible users smallest by md5(user_id) — a
    deterministic uniform key sample that is STABLE under churn
    (row updates never move a member; membership changes only when
    a member is deleted from the table or a smaller-hash user
    appears), with enter/leave deltas per micro-batch.  This is the
    sample shape a naive rand()-per-batch cannot give: the cohort
    is reproducible across engines, restarts, and partitionings.
    The oracle reconstructs every batch-prefix's true cohort and
    diffs consecutive batches."""
    r = _runner(spark, sf_dir)
    return r.sample_log()


@query(
    "changefeed_consumer_lag",
    oracle=_VIS_CTE + f"""
    , cur AS (
      SELECT batch_id AS bb, user_id, event_id FROM vis
    ), prevv AS (
      SELECT batch_id + 1 AS bb, user_id, event_id FROM vis
      WHERE batch_id + 1 <= (SELECT max(chunk) FROM chunked)
    ), dl AS (
      SELECT bb AS batch_id, user_id
      FROM cur FULL JOIN prevv USING (bb, user_id)
      WHERE cur.event_id IS DISTINCT FROM prevv.event_id
    ), owned AS (
      SELECT CAST(user_id % (CASE WHEN batch_id < {_REB} THEN 2
                                  ELSE 3 END) AS INTEGER)
               AS consumer_id,
             batch_id
      FROM dl
    ), offsets AS (
      SELECT 0 AS consumer_id, CAST(1 AS BIGINT) AS committed_batch
      UNION ALL
      SELECT 1, CAST({_NB} - 1 AS BIGINT)
      UNION ALL
      SELECT 2, CAST({_REB} AS BIGINT)
    ), head AS (SELECT max(chunk) AS head_batch FROM chunked)
    SELECT o.consumer_id, o.committed_batch,
           (SELECT head_batch FROM head) AS head_batch,
           (SELECT head_batch FROM head) - o.committed_batch
             AS batch_lag,
           CAST(count(w.batch_id) FILTER (
                  WHERE w.batch_id > o.committed_batch) AS BIGINT)
             AS pending_rows
    FROM offsets o LEFT JOIN owned w USING (consumer_id)
    GROUP BY o.consumer_id, o.committed_batch
    """,
)
def changefeed_consumer_lag(spark, sf_dir):
    """Consumer-group LAG TELEMETRY (the kafka-consumer-groups
    --describe contract): given each consumer's committed resume
    token — consumer 0 stalled at batch 1, consumer 1 fully caught
    up, consumer 2 (born at the rebalance) committed at its first
    owned batch — report batch lag vs the log head and the exact
    count of PENDING rows sitting in that consumer's delivery
    partitions beyond its token.  Pending counts are computed from
    the real partitioned delivery tree (partition pruning on
    consumer_id does the per-consumer isolation), and the oracle
    recomputes them from the delta-log reconstruction with the same
    ownership rule — a monitoring endpoint that can drift from the
    data it monitors is worse than none."""
    from .views import ConsumerGroupDispatcher

    r = _runner(spark, sf_dir)
    key = (id(spark), sf_dir, "__groups__")
    if key not in _CACHE:
        d = ConsumerGroupDispatcher(r, n_before=2, n_after=3,
                                    rebalance_at=_REB)
        d.dispatch()
        _CACHE[key] = d
    d = _CACHE[key]
    head = max(r._batches)
    offsets = spark.createDataFrame(
        [(0, 1), (1, _NB - 1), (2, _REB)],
        "consumer_id int, committed_batch long")
    got = d.received()
    return (
        offsets.join(got, "consumer_id", "left")
        .groupBy("consumer_id", "committed_batch")
        .agg(
            F.count(F.when(F.col("batch_id")
                           > F.col("committed_batch"), 1))
            .cast("long").alias("pending_rows"),
        )
        .select(
            "consumer_id", "committed_batch",
            F.lit(head).cast("long").alias("head_batch"),
            (F.lit(head) - F.col("committed_batch")).cast("long")
            .alias("batch_lag"),
            "pending_rows",
        )
    )
