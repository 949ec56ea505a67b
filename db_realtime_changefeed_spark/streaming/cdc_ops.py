"""True mixed-op CDC input (§2.A5 completed): envelopes with
populated `before` images for update/delete — the form a Debezium /
CockroachDB changefeed actually emits — synthesized deterministically
from the `events` fixture and run end-to-end through the executor-
side LWW merge.

Producer model (the upstream database): each user's event sequence,
ordered by (ts, event_id), mutates that user's CURRENT ROW:
- first event of a user (or first after a delete) → op=insert,
  before=NULL;
- an 'error' event → op=delete, after=NULL, before=the visible row
  (NULL if the row was already absent — a no-op delete);
- anything else → op=update, before=the previous visible row.
The before image is the lag() of the payload over the per-user
window — computed ONCE at fixture-prep time (the producer knows its
own history; the consumer never needs cross-batch lookback).

Envelope schema (Debezium-shaped): op, key (user_id), seq
(event_id — the total order within a key), ts, before, after;
after is NULL on delete, before is NULL on insert.

Consumer: CdcOpsUpsertRunner — the same executor-side LWW merge as
UpsertChangefeedRunner (full-outer join vs versioned parquet state,
tombstone high-water marks), with the delete decision taken from the
envelope's `op` instead of interpreting event_type.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .changefeed import UpsertChangefeedRunner
from .replay import (
    _chunk_dir,
    _write_chunk,
    chunk_paths,
    default_chunks,
    replay_files,
)

_PAYLOAD_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]

ENVELOPE_DDL = (
    "op string, key bigint, seq bigint, ts timestamp, "
    "before struct<event_id:bigint,ts:timestamp,user_id:bigint,"
    "event_type:string,value:double,props:string>, "
    "after struct<event_id:bigint,ts:timestamp,user_id:bigint,"
    "event_type:string,value:double,props:string>"
)


def cdc_ops_envelope(events: DataFrame, delete_on: str = "error") -> DataFrame:
    """Batch derivation of the mixed-op envelope stream (producer
    side). One window pass per user: lag() supplies the before image
    and the previous op decides insert-vs-update after a delete."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    payload = F.struct(*_PAYLOAD_COLS)
    is_del = F.col("event_type") == F.lit(delete_on)
    prev_payload = F.lag(payload).over(w)
    prev_was_del = F.lag(is_del).over(w)
    # visible row exists iff there is a previous event and it was not
    # a delete (a delete empties the row; the next write re-inserts)
    had_row = prev_was_del.isNotNull() & ~prev_was_del
    op = (
        F.when(is_del, F.lit("delete"))
        .when(had_row, F.lit("update"))
        .otherwise(F.lit("insert"))
    )
    return events.select(
        op.alias("op"),
        F.col("user_id").alias("key"),
        F.col("event_id").alias("seq"),
        "ts",
        F.when(had_row, prev_payload).alias("before"),
        F.when(~is_del, payload).alias("after"),
    )


def build_cdc_ops_chunks(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int | None = None,
    delete_on: str = "error",
) -> str:
    """Fixture prep: materialize the envelope stream as time-ordered
    chunk files for the replay (same layout contract as
    replay.build_replay_chunks). Idempotent per (sf_dir, params)."""
    if n_chunks is None:
        n_chunks = default_chunks()
    tag = f"cdcops-c{n_chunks}-{delete_on}"
    out = _chunk_dir(sf_dir, tag)
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    env = cdc_ops_envelope(load_table(spark, sf_dir, "events"), delete_on)
    tbl = env.orderBy("seq").toArrow()  # seq monotone with ts (FIXTURES.md)
    n = tbl.num_rows
    per = (n + n_chunks - 1) // n_chunks
    for i in range(n_chunks):
        _write_chunk(tbl.slice(i * per, per), out, i)
    with open(done, "w") as f:
        f.write("ok")
    return out


class CdcOpsUpsertRunner(UpsertChangefeedRunner):
    """Upsert feed over TRUE mixed-op envelopes: the delete decision
    comes from `op`, the row image from `after`, and LWW ordering
    from the envelope's (ts, seq). Everything else — the executor-
    side full-outer LWW merge, MVCC state versions, per-batch
    changelog, replay rewind — is inherited unchanged."""

    def __init__(self, spark: SparkSession, sf_dir: str,
                 root: str | None = None):
        super().__init__(spark, sf_dir, delete_on=None,
                         driver_merge=False, root=root)

    def _winners(self, batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(
                F.col("key").alias("user_id"),
                "ts",
                F.col("seq").alias("event_id"),
                F.col("after.value").alias("value"),
                (F.col("op") == "delete").alias("is_del"),
            )
            .groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "value", "is_del"))
                 .alias("m"))
            .select(
                "user_id",
                F.col("m.ts").alias("w_ts"),
                F.col("m.event_id").alias("w_eid"),
                F.col("m.value").alias("w_val"),
                F.col("m.is_del").alias("w_del"),
            )
        )

    def run(self, n_chunks: int | None = None) -> None:
        """Replay the envelope chunks: chunk i commits as batch i, from
        the batch after CURRENT (replay.replay_files)."""
        chunks = build_cdc_ops_chunks(self.spark, self.sf_dir, n_chunks)
        replay_files(
            self, chunk_paths(chunks),
            lambda path: self.spark.read.schema(ENVELOPE_DDL).parquet(path))
