"""Log retention and the expired-cursor resume contract.

Real changefeeds garbage-collect their delta history (Kafka segment
retention, CockroachDB's gc.ttlseconds protected-timestamp window):
a consumer whose resume token falls below the retention horizon can
no longer be served by replaying deltas — the deltas are gone.  The
contract every production feed implements is:

1. a raw resume below the horizon must FAIL LOUDLY (silently
   skipping the GC'd batches would be data loss presented as
   success), and
2. the recovery path is SNAPSHOT + TAIL: serve the materialized
   state as of the horizon (the MVCC version the retention policy
   pinned), then the retained deltas after it — CockroachDB's
   initial_scan-on-expired-cursor shape.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import functions as F

from ..queries import query
from .changefeed import ChangefeedRunner
from .replay import default_chunks

_H = max(1, default_chunks() // 2)

_DELIVERY_DDL = ("kind string, event_type string, batch_id long, "
                 "old_count long, new_count long, "
                 "old_sum double, new_sum double")


def retention_gc(runner: ChangefeedRunner, horizon: int,
                 pins: list[int] | None = None) -> list[int]:
    """Apply the retention policy: drop log segments below `horizon`
    and every state version below `horizon - 1` (the snapshot the
    policy pins for expired-cursor recovery stays).  Returns the log
    batch ids removed.

    `pins` are PROTECTED TIMESTAMPS (CockroachDB's protected-ts
    records / Kafka's consumer-group committed offsets): the resume
    tokens of still-active subscribers.  The effective horizon never
    advances past the slowest pin, so an active consumer can always
    be served by pure delta replay — GC waits for it instead of
    forcing it through snapshot recovery."""
    if pins:
        horizon = min(horizon, min(pins))
    removed = []
    for name in sorted(os.listdir(runner.log_dir)):
        m = re.match(r"batch-(\d+)", name)
        if m and int(m.group(1)) < horizon:
            shutil.rmtree(os.path.join(runner.log_dir, name))
            removed.append(int(m.group(1)))
    runner._store.gc({b for b in runner.versions() if b >= horizon - 1})
    return removed


def oldest_retained_batch(runner: ChangefeedRunner) -> int | None:
    ids = []
    for name in os.listdir(runner.log_dir):
        m = re.match(r"batch-(\d+)", name)
        if m:
            ids.append(int(m.group(1)))
    return min(ids) if ids else None


class ExpiredCursorError(RuntimeError):
    """Raised when a resume token predates the retention horizon and
    snapshot recovery was not requested — the loud-failure half of
    the contract."""


def resume(runner: ChangefeedRunner, token: int,
           allow_snapshot: bool = False):
    """Resume a consumer at `token`.  Returns a DataFrame of what the
    consumer receives (schema `_DELIVERY_DDL`): pure retained deltas
    when the token is still covered; snapshot-then-tail when it
    expired and `allow_snapshot` is set; ExpiredCursorError
    otherwise."""
    spark = runner.spark
    oldest = oldest_retained_batch(runner)
    log = runner.log()
    deltas_from = token
    parts = []
    if oldest is None or token < oldest:
        if not allow_snapshot:
            raise ExpiredCursorError(
                f"resume token {token} predates the retention "
                f"horizon (oldest retained batch: {oldest}); "
                "re-subscribe with allow_snapshot=True")
        snap_at = (oldest if oldest is not None else 0) - 1
        snapshot = runner.state_at(snap_at).select(
            F.lit("snapshot").alias("kind"),
            runner.key,
            F.lit(snap_at).alias("batch_id"),
            F.lit(None).cast("long").alias("old_count"),
            F.col("cnt").alias("new_count"),
            F.lit(None).cast("double").alias("old_sum"),
            F.col("sum_value").alias("new_sum"),
        )
        parts.append(snapshot)
        deltas_from = oldest if oldest is not None else 0
    deltas = log.where(F.col("batch_id") >= deltas_from).select(
        F.lit("delta").alias("kind"),
        runner.key,
        "batch_id", "old_count", "new_count", "old_sum", "new_sum",
    )
    parts.append(deltas)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_CACHE: dict = {}


def _gc_runner(spark, sf_dir) -> ChangefeedRunner:
    key = (id(spark), sf_dir, "__retention__")
    if key not in _CACHE:
        r = ChangefeedRunner(spark, sf_dir)
        r.run()
        retention_gc(r, _H)
        _CACHE[key] = r
    return _CACHE[key]


@query(
    "changefeed_resume_expired_cursor",
    oracle=f"""
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
    ), full_log AS (
      SELECT event_type,
             CAST(sum(d_cnt) OVER w - d_cnt AS BIGINT) AS old_count,
             CAST(sum(d_cnt) OVER w AS BIGINT) AS new_count,
             CAST(sum(d_sum) OVER w - d_sum AS DOUBLE) AS old_sum,
             CAST(sum(d_sum) OVER w AS DOUBLE) AS new_sum,
             batch_id
      FROM per
      WINDOW w AS (PARTITION BY event_type ORDER BY batch_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT 'delta' AS kind, event_type, batch_id,
           old_count, new_count, old_sum, new_sum
    FROM full_log WHERE batch_id >= {_H}
    UNION ALL
    SELECT 'snapshot' AS kind, event_type,
           CAST({_H} - 1 AS BIGINT) AS batch_id,
           CAST(NULL AS BIGINT) AS old_count,
           count(*) AS new_count,
           CAST(NULL AS DOUBLE) AS old_sum,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             AS new_sum
    FROM chunked WHERE batch_id <= {_H} - 1
    GROUP BY event_type
    """,
)
def changefeed_resume_expired_cursor(spark, sf_dir):
    """Expired-cursor recovery (the retention contract of every
    production feed): after the stream completes, the retention
    policy GARBAGE-COLLECTS log segments below the horizon and every
    state version except the one the policy pins at horizon-1.  A
    consumer resuming at token 0 — now below the horizon — cannot be
    served by delta replay (the deltas are GONE; silently skipping
    them would be data loss presented as success, and the raw-resume
    path raises ExpiredCursorError, pinned by test).  With
    allow_snapshot it receives the CockroachDB
    initial_scan-on-expired-cursor shape instead: the pinned MVCC
    snapshot at horizon-1 tagged 'snapshot', then every retained
    delta tagged 'delta'.  The oracle reconstructs both legs from
    the deterministic chunking: a snapshot that disagrees with the
    prefix aggregate, a GC'd batch leaking through, or a retained
    delta going missing all break the hash."""
    r = _gc_runner(spark, sf_dir)
    return resume(r, token=0, allow_snapshot=True)
