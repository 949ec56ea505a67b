"""State lifecycle management: phased replay, savepoint rescale,
and row TTL (SURVEY.md §2.I7 family — the operational half of a
changefeed engine's state story).

Two production behaviors land here:

- **Phased replay** (`run_phase`): drive a runner's standing query
  over an explicit subset of the replay chunks, then later over
  more — the same checkpoint resumes exactly where it stopped, so a
  maintenance operation (rescale, upgrade) can be dropped between
  two committed micro-batches deterministically. This is the
  harness-side stand-in for "stop the connector, operate, restart".

- **Row TTL** (`TtlChangefeedRunner`): every key's state row carries
  `last_ts` (event-time of its latest event); after each merged
  micro-batch the runner computes the horizon `cum_max_ts - ttl`
  and EVICTS rows whose `last_ts` fell behind it, emitting a
  tombstone delta (user_id, cnt, last_ts, batch_id) into the feed
  log — CockroachDB row-level TTL / Flink state-TTL semantics, with
  the expiry visible to subscribers as a delete event. A key seen
  again after eviction re-enters with a FRESH era (cnt restarts):
  state TTL, not a windowed aggregate.

100 TB design: the evict scan must not read full state per batch.
Each committed version carries per-bucket `min(last_ts)` stats in a
sidecar (carried forward for untouched buckets, exactly like the
manifest); a batch reads only `delta-touched ∪ {buckets whose
min_last_ts < horizon}` — the timer-wheel role played by file-level
stats, the same trick as parquet min/max skipping. Eviction cost is
O(expiring buckets), not O(state).
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tmputil import scratch_dir
from .changefeed import cdc_envelope
from .replay import (
    build_replay_chunks,
    fresh_sink_name,
    guard_not_live_fed,
    guard_not_phase_fed,
    read_events_stream,
    streaming_shuffle,
)
from .state_store import BucketedMvccState, VersionPointer


def chunk_files(spark: SparkSession, sf_dir: str,
                n_chunks: int | None = None) -> list[str]:
    """The replay chunk files, in replay order."""
    chunks = build_replay_chunks(spark, sf_dir, n_chunks)
    return sorted(glob.glob(os.path.join(chunks, "chunk-*.parquet")))


def run_phase(runner, files: list[str]) -> None:
    """Feed `files` (replay chunk files) into `runner`'s standing
    query via its OWN durable source dir + checkpoint, AvailableNow.
    Chunks already present/processed are skipped by the file-source
    checkpoint, so successive calls with growing prefixes of the
    chunk list advance the feed deterministically one phase at a
    time. copy2 preserves the chunk mtimes that encode replay
    order."""
    src = os.path.join(runner.root, "src")
    # reverse of the run() guard: a checkpoint that predates root/src
    # was created by run() streaming from the replay-chunks dir;
    # feeding the same checkpoint from src would double-process.
    if not os.path.exists(src) and os.path.exists(runner.ckpt):
        raise RuntimeError(
            "this runner was fed via run(); run_phase() would "
            "re-deliver the same events from a different path — "
            "use a fresh runner root")
    guard_not_live_fed(runner.root)
    os.makedirs(src, exist_ok=True)
    for f in files:
        dst = os.path.join(src, os.path.basename(f))
        if not os.path.exists(dst):
            shutil.copy2(f, dst)
    env = cdc_envelope(read_events_stream(runner.spark, src))
    with streaming_shuffle(runner.spark):
        q = (
            env.writeStream.foreachBatch(runner._merge_batch)
            .outputMode("update")
            .option("checkpointLocation", runner.ckpt)
            .trigger(availableNow=True)
            .queryName(fresh_sink_name("cf_phase"))
            .start()
        )
        q.awaitTermination()


class TtlChangefeedRunner:
    """Keyed standing query (per-user count + last event time) with
    event-time row TTL. See module docstring for semantics; layout
    and idempotency follow ChangefeedRunner (bucketed MVCC store,
    per-batch overwritten log subdirs, pointer flip last, rewind on
    re-delivery), with two extra per-version sidecars:

      meta-v<b>.json   {"cum_max_us": <max event ts seen ≤ b>}
      stats-v<b>.json  {"<bucket>": <min last_ts (µs) of live rows>}

    Both are tiny (one scalar; ≤ B entries), both written before the
    pointer flip, both re-read from version b-1 on rewind — so the
    horizon trajectory is exactly reproducible under at-least-once
    re-delivery."""

    _STATE_DDL = "user_id long, cnt long, last_ts timestamp"
    _LOG_DDL = ("user_id long, cnt long, last_ts timestamp, "
                "batch_id long")

    def __init__(self, spark: SparkSession, sf_dir: str,
                 ttl_us: int, root: str | None = None,
                 state_buckets: int | None = None):
        self.spark = spark
        self.sf_dir = sf_dir
        self.ttl_us = int(ttl_us)
        self.root = root or scratch_dir(prefix="dbrcf-ttl-")
        self.log_dir = os.path.join(self.root, "expirylog")
        self.state_root = os.path.join(self.root, "state")
        self.ckpt = os.path.join(self.root, "checkpoint")
        os.makedirs(self.state_root, exist_ok=True)
        os.makedirs(self.log_dir, exist_ok=True)
        self._store = BucketedMvccState(
            self.spark, self.state_root, self._STATE_DDL, "user_id",
            n_buckets=state_buckets,
        )
        self._ptr = VersionPointer(self.root, self._store)
        self._last_batch = self._ptr.batch()

    # ---- sidecars ----
    def _sidecar(self, kind: str, batch_id: int) -> str:
        return os.path.join(self.state_root,
                            f"{kind}-v{batch_id}.json")

    def _read_meta(self, batch_id: int) -> int | None:
        p = self._sidecar("meta", batch_id)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return int(json.load(f)["cum_max_us"])

    def _read_stats(self, batch_id: int) -> dict[int, int]:
        p = self._sidecar("stats", batch_id)
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return {int(k): int(v) for k, v in json.load(f).items()}

    def _write_json(self, path: str, obj) -> None:
        with open(path + ".tmp", "w") as f:
            json.dump(obj, f)
        os.replace(path + ".tmp", path)

    # ---- the standing query with TTL ----
    def _merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            # empty micro-batch before any meta sidecar exists would
            # leave both prev_cum and batch_max None and the cum max()
            # below would raise on an empty generator; nothing to
            # merge, nothing to expire (the horizon only moves on data)
            return
        if self._last_batch is not None and batch_id <= self._last_batch:
            # the sidecars of the rewound-to version are re-read below
            self._ptr.rewind_before(batch_id)
        delta = (
            batch_df.select("after.*")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("d_cnt"),
                 F.max("ts").alias("d_ts"))
            .persist()
        )
        try:
            touched = self._store.touched_buckets(delta, "user_id")
            batch_max = delta.agg(
                F.max(F.unix_micros("d_ts"))).collect()[0][0]
            base = self._ptr.batch()
            prev_cum = self._read_meta(base) if base is not None else None
            cum = max(x for x in (prev_cum, batch_max) if x is not None)
            horizon = cum - self.ttl_us
            # timer-wheel-by-stats: buckets that might hold an
            # expiring row, per the previous version's min(last_ts)
            prev_stats = (self._read_stats(base)
                          if base is not None else {})
            expiring = [k for k, mn in prev_stats.items()
                        if mn < horizon]
            read_buckets = sorted(set(touched) | set(expiring))
            if base is not None:
                old = self._store.df_at(base, buckets=read_buckets)
            else:
                old = self.spark.createDataFrame([], self._STATE_DDL)
            merged = (
                old.join(delta, "user_id", "full")
                .select(
                    "user_id",
                    (F.coalesce("cnt", F.lit(0))
                     + F.coalesce("d_cnt", F.lit(0))).alias("cnt"),
                    F.greatest("last_ts", "d_ts").alias("last_ts"),
                )
                .persist()
            )
            try:
                is_dead = F.unix_micros("last_ts") < F.lit(horizon)
                log_path = os.path.join(self.log_dir,
                                        f"batch-{batch_id:05d}")
                (
                    merged.where(is_dead)
                    .select("user_id", "cnt", "last_ts",
                            F.lit(batch_id).alias("batch_id"))
                    .write.mode("overwrite").parquet(log_path)
                )
                live = merged.where(~is_dead)
                self._store.commit(batch_id, base, live, read_buckets)
                # per-bucket min(last_ts) over the REWRITTEN buckets
                # (≤ B rows to the driver), carried forward elsewhere
                new_stats = dict(prev_stats)
                for k in read_buckets:
                    new_stats.pop(k, None)
                rows = (
                    live.groupBy(
                        self._store.bucket_expr().alias("b"))
                    .agg(F.min(F.unix_micros("last_ts")).alias("mn"))
                    .collect()
                )
                for r in rows:
                    new_stats[int(r["b"])] = int(r["mn"])
                self._write_json(self._sidecar("stats", batch_id),
                                 {str(k): v
                                  for k, v in new_stats.items()})
                self._write_json(self._sidecar("meta", batch_id),
                                 {"cum_max_us": cum})
                self._ptr.flip(batch_id)
            finally:
                merged.unpersist()
        finally:
            delta.unpersist()
        self._last_batch = batch_id

    def run(self, n_chunks: int | None = None) -> None:
        guard_not_phase_fed(self.root)
        chunks = build_replay_chunks(self.spark, self.sf_dir, n_chunks)
        env = cdc_envelope(read_events_stream(self.spark, chunks))
        with streaming_shuffle(self.spark):
            q = (
                env.writeStream.foreachBatch(self._merge_batch)
                .outputMode("update")
                .option("checkpointLocation", self.ckpt)
                .trigger(availableNow=True)
                .queryName(fresh_sink_name("ttl_changefeed"))
                .start()
            )
            q.awaitTermination()

    # ---- reads ----
    def state(self) -> DataFrame:
        """Live rows (survivors) with era-local counts."""
        b = self._ptr.batch()
        if b is None:
            df = self.spark.createDataFrame([], self._STATE_DDL)
        else:
            df = self._store.df_at(b)
        return df.select(
            "user_id", "cnt",
            F.unix_micros("last_ts").alias("last_ts_us"),
        )

    def expiry_log(self) -> DataFrame:
        """Every tombstone emitted, across all batches."""
        if not glob.glob(os.path.join(self.log_dir, "*", "*.parquet")):
            return self.spark.createDataFrame([], self._LOG_DDL) \
                .select("batch_id", "user_id", "cnt",
                        F.unix_micros("last_ts").alias("last_ts_us"))
        return (
            self.spark.read.option("recursiveFileLookup", "true")
            .schema(self._LOG_DDL).parquet(self.log_dir)
            .select("batch_id", "user_id", "cnt",
                    F.unix_micros("last_ts").alias("last_ts_us"))
        )
