"""The namesake operator (§2.I7 `changefeed_core`): a standing
aggregation query over a CDC stream that maintains a materialized
result and emits per-trigger deltas — the Spark-first re-expression
of a RethinkDB/CockroachDB-style changefeed.

Semantics (docs/changefeed-semantics.md):
- input: CDC-envelope stream (op, before, after, ts) — here built
  from the replayed `events` table as inserts (§2.A5);
- standing query: per-key count + sum(value);
- materialization: foreachBatch merges each micro-batch's partial
  aggregate into a versioned parquet state table (MVCC-style: write
  new version, flip a pointer file). A replayed batch (at-least-once
  delivery) REWINDS to the state version preceding it before
  re-applying, then overwrites its own state version and its own log
  file — merges are idempotent end to end, not just log-file-named.
- feed: every key whose aggregate changed appends an
  {old_count,new_count,old_sum,new_sum,batch_id} row to a changelog
  — the {old_val,new_val} shape of classic changefeeds.
- durability: a RESTARTED runner (same root) resumes instead of
  re-merging what it committed. A replay (run()) resumes from its
  Spark checkpoint under the root. A live feed (start_live()) needs
  none: its batch id is its file's sequence number, and the worker
  commits every live file above the CURRENT version.

Scale notes: for every key (a 5-value event_type rollup or a per-user
feed alike) state is the hash-bucketed MVCC store (state_store.py),
and one gate picks where a batch merges. A batch whose change rows,
and whose keyed delta plus the state rows of its touched buckets,
stay below _DRIVER_FOLD_ROWS is folded on the driver: one Spark job
collects the batch's raw (key, value, bucket) rows as Arrow with no
shuffle, the driver aggregates and merges them with exact Decimal
arithmetic and rewrites the touched buckets through the store's own
stage layout and publish(). Above the gate Spark computes the delta
and the merge stays IN SPARK as a keyed full-outer join, and nothing
key-cardinality-sized crosses to the driver. At 100 TB the parquet
state dir becomes an Iceberg/Delta MERGE target with foreachBatch
unchanged. Both sides of the gate are tested for equivalence
(tests/test_streaming.py, tests/test_changefeed_fold.py).
"""

from __future__ import annotations

import os
import threading
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tmputil import scratch_dir
from .replay import (
    LiveWorker,
    build_replay_chunks,
    fresh_sink_name,
    guard_not_live_fed,
    guard_not_phase_fed,
    read_events_file,
    read_events_stream,
    streaming_shuffle,
)
from .state_store import BucketedMvccState, VersionPointer

_STATE_DEC = "decimal(28,6)"

#: a batch whose change rows, and whose keyed delta plus the state
#: rows of the buckets it touches, stay below this is folded on the
#: driver (_fold_on_driver); larger batches run the executor-side MERGE
_DRIVER_FOLD_ROWS = 100_000


_PAYLOAD_DDL = (
    "struct<event_id:bigint,ts:timestamp,user_id:bigint,"
    "event_type:string,value:double,props:string>"
)


def cdc_envelope(events: DataFrame) -> DataFrame:
    """§2.A5: wrap raw events in a CDC envelope {op, before, after,
    ts}. The replayed table is insert-only (before = typed NULL);
    update/delete arrive pre-tagged in real CDC feeds (see
    streaming/cdc_ops.py for the mixed-op form)."""
    payload = F.struct("event_id", "ts", "user_id", "event_type", "value", "props")
    return events.select(
        F.lit("insert").alias("op"),
        F.lit(None).cast(_PAYLOAD_DDL).alias("before"),
        payload.alias("after"),
        F.col("ts"),
    )


#: grouping keys the CDC payload supports → (Spark DDL, pyarrow type)
_KEY_TYPES = {
    "event_type": ("string", "string"),
    "user_id": ("long", "int64"),
}


def _has_parquet(root: str) -> bool:
    for _, _, files in os.walk(root):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


class ChangefeedRunner:
    """Runs a changefeed over the replay chunks; exposes the final
    materialized state and the delta log. The standing query is a
    keyed count+sum, parameterized by `key` — a changefeed is a
    standing QUERY, not a fixed demo, so the same runner serves
    low-cardinality rollups (event_type) and per-entity feeds
    (user_id) alike."""

    def __init__(self, spark: SparkSession, sf_dir: str,
                 key: str = "event_type",
                 root: str | None = None, filter_sql: str | None = None,
                 state_buckets: int | None = None):
        """`root`: pass a previous runner's root to RESTART from its
        durable state — the CURRENT pointer names the committed
        version; a replay resumes from the checkpoint under root, a
        live feed from the live file after CURRENT (crash-recovery
        semantics; tested in tests/test_streaming.py and
        tests/test_live_worker.py). A root whose pointer is not a
        bucketed-store version raises.
        `filter_sql`: SQL predicate over the CDC payload columns
        (e.g. "event_type = 'purchase'") — the standing query
        becomes a FILTERED aggregate; the predicate runs before the
        keyed delta, so ineligible changes never enter state."""
        self.spark = spark
        self.sf_dir = sf_dir
        self.key = key
        self.filter_sql = filter_sql
        self._key_ddl, self._key_pa = _KEY_TYPES[key]
        self._STATE_DDL = (
            f"{key} {self._key_ddl}, cnt long, sum_value decimal(28,6)"
        )
        self._LOG_DDL = (
            f"{key} {self._key_ddl}, old_count long, new_count long, "
            "old_sum double, new_sum double, batch_id long"
        )
        self.root = root or scratch_dir(prefix="dbrcf-changefeed-")
        self.log_dir = os.path.join(self.root, "changelog")
        self.state_root = os.path.join(self.root, "state")
        self.ckpt = os.path.join(self.root, "checkpoint")
        os.makedirs(self.state_root, exist_ok=True)
        os.makedirs(self.log_dir, exist_ok=True)
        # hash-bucketed MVCC store so a micro-batch rewrites only the
        # buckets its delta touches (state_store.py) — the
        # partial-rewrite design 100 TB needs
        self._store = BucketedMvccState(
            self.spark, self.state_root, self._STATE_DDL, self.key,
            n_buckets=state_buckets,
        )
        self._ptr = VersionPointer(self.root, self._store)
        self._last_batch = self._ptr.batch()
        # push-delivery subscribers (streaming/push.py); the lock
        # serializes live pushes against subscription catch-up so
        # every subscriber sees batch ids strictly increasing
        self._subscribers: list = []
        self._sub_lock = threading.Lock()
        self._live = LiveWorker(
            self.root, self.ckpt,
            lambda path: cdc_envelope(read_events_file(spark, path)),
            self._merge_batch, self.committed_batch)

    def _current_state_df(self) -> DataFrame | None:
        b = self._ptr.batch()
        return None if b is None else self._store.df_at(b)

    def committed_batch(self) -> int | None:
        """The last committed batch id (CURRENT), None before the
        first commit. A changelog dir above it belongs to a batch
        whose commit has not finished, or crashed before the pointer
        flip; push catch-up and Cursor.poll stop here."""
        return self._ptr.batch()

    # ---- the exact driver-side merge ----
    def _fold_delta(self, state: dict, delta_rows, batch_id: int):
        """Fold one batch's delta rows into `state` ({key: (cnt,
        Decimal sum)}, updated in place) with exact Decimal
        arithmetic, and return the batch's changelog as a pyarrow
        table: one {old,new} row per changed key, sums as
        float(Decimal) — the executor path's double cast."""
        import pyarrow as pa

        changes = []
        for r in sorted(delta_rows, key=lambda r: r[self.key]):
            k = r[self.key]
            old_c, old_s = state.get(k, (0, Decimal(0)))
            d_sum = r["d_sum"] if r["d_sum"] is not None else 0
            new_c, new_s = old_c + r["d_count"], old_s + d_sum
            state[k] = (new_c, new_s)
            changes.append((k, old_c, new_c, float(old_s), float(new_s)))
        cols = list(zip(*changes)) or [()] * 5
        return pa.table(
            {
                self.key: pa.array(cols[0], pa.type_for_alias(self._key_pa)),
                "old_count": pa.array(cols[1], pa.int64()),
                "new_count": pa.array(cols[2], pa.int64()),
                "old_sum": pa.array(cols[3], pa.float64()),
                "new_sum": pa.array(cols[4], pa.float64()),
                "batch_id": pa.array([batch_id] * len(changes), pa.int64()),
            }
        )

    def _state_table(self, items):
        """State rows [(key, (cnt, Decimal sum))] as a pyarrow table
        in the state DDL's types."""
        import pyarrow as pa

        return pa.table(
            {
                self.key: pa.array([k for k, _ in items], pa.type_for_alias(self._key_pa)),
                "cnt": pa.array([c for _, (c, _) in items], pa.int64()),
                "sum_value": pa.array(
                    [s for _, (_, s) in items], pa.decimal128(28, 6)
                ),
            }
        )

    # ---- driver-side fold of a batch below the gate ----
    def _fold_on_driver(self, changes: DataFrame, batch_id: int,
                        base: int | None) -> bool:
        """Commit a batch whose change rows, and whose keyed delta
        plus touched state, stay below _DRIVER_FOLD_ROWS without the
        executor-side MERGE. ONE Spark job brings the batch's raw
        (key, value, bucket) rows to the driver as Arrow, with no
        exchange. The touched buckets' row counts come from parquet
        footers, and the merge, the bucket rewrite and the changelog
        run on the driver into the same store layout, through the same
        publish(). Returns False, having written nothing, when the
        batch is not small enough."""
        import pyarrow as pa
        import pyarrow.compute as pc

        from .statefs import STATE_FS

        store = self._store
        bucket = store.bucket_expr(F.col(self.key))
        # limit bounds what crosses to the driver; toArrow runs it as
        # one job, a single stage when the batch is one partition
        raw = (changes.withColumn("__bucket", bucket)
               .limit(_DRIVER_FOLD_ROWS).toArrow())
        # a NULL key never matches in the executor-side join; keep
        # that path's semantics rather than merging NULLs here
        if (raw.num_rows >= _DRIVER_FOLD_ROWS
                or raw.column(self.key).null_count):
            return False
        # the executor path's delta: count(1) and an exact decimal sum,
        # NULL when every value of a key is NULL
        raw = raw.set_column(
            raw.schema.get_field_index("value"), "value",
            pc.cast(raw.column("value"), pa.decimal128(38, 6)))
        delta = raw.group_by([self.key, "__bucket"]).aggregate(
            [([], "count_all"), ("value", "sum")])
        keys = delta.column(self.key).to_pylist()
        buckets = delta.column("__bucket").to_pylist()
        touched = sorted(set(buckets))
        old = {}
        if base is not None and touched:
            held = store.bucket_counts(base, touched)
            if delta.num_rows + sum(held.values()) >= _DRIVER_FOLD_ROWS:
                return False
            old = store.read_buckets(base, touched)
        rows = [{self.key: k, "d_count": c, "d_sum": s} for k, c, s in zip(
            keys, delta.column("count_all").to_pylist(),
            delta.column("value_sum").to_pylist())]
        state, bucket_of = {}, dict(zip(keys, buckets))
        for b, t in old.items():
            for k, c, s in zip(t.column(self.key).to_pylist(),
                               t.column("cnt").to_pylist(),
                               t.column("sum_value").to_pylist()):
                state[k] = (c, s)
                bucket_of[k] = b
        log_tbl = self._fold_delta(state, rows, batch_id)
        by_bucket: dict[int, list] = {b: [] for b in touched}
        for k, v in sorted(state.items()):
            by_bucket[bucket_of[k]].append((k, v))
        # same commit order as the executor path: the log and the
        # staged buckets are durable before publish() writes the
        # manifest, and the pointer flips last
        STATE_FS.put_small_parquet_dir(
            log_tbl, os.path.join(self.log_dir, f"batch-{batch_id:05d}"))
        store.stage_tables(batch_id, {
            b: self._state_table(items) for b, items in by_bucket.items()})
        store.publish(batch_id, base, touched)
        self._ptr.flip(batch_id)
        return True

    # ---- the one merge gate: driver fold, else executor-side MERGE ----
    def _merge_batch_spark(self, changes: DataFrame, batch_id: int) -> None:
        base = self._ptr.batch()
        if self._fold_on_driver(changes, batch_id, base):
            return
        spark = self.spark
        delta = self._keyed_delta(changes).persist()
        # the batch's delta names the buckets it can change; the old-
        # state read is PRUNED to those bucket paths, and the commit
        # below rewrites only them — untouched state is never read,
        # rewritten, or copied (manifest carries it forward)
        touched = self._store.touched_buckets(delta, self.key)
        if base is None:
            old = spark.createDataFrame([], self._STATE_DDL)
        else:
            old = self._store.df_at(base, buckets=touched)
        zero = F.lit(0).cast(_STATE_DEC)
        merged = (
            old.join(delta, self.key, "full")
            .select(
                self.key,
                F.coalesce("cnt", F.lit(0)).alias("old_count"),
                F.coalesce("sum_value", zero).alias("old_sum"),
                (F.coalesce("cnt", F.lit(0)) + F.coalesce("d_count", F.lit(0)))
                .alias("new_count"),
                (F.coalesce("sum_value", zero)
                 + F.coalesce("d_sum", zero)).cast(_STATE_DEC).alias("new_sum"),
                F.col("d_count").isNotNull().alias("changed"),
            )
        ).cache()
        try:
            # per-batch log SUBDIR, overwritten — a replayed batch
            # rewrites its own rows instead of double-appending. The
            # log write and the state-store STAGE both consume the
            # cached `merged`, so they run concurrently; the state
            # manifest publication (the commit point) happens only
            # after both writes are durable, then the pointer flips.
            from concurrent.futures import ThreadPoolExecutor

            log_path = os.path.join(self.log_dir, f"batch-{batch_id:05d}")
            log_df = merged.where("changed").select(
                self.key, "old_count", "new_count",
                F.col("old_sum").cast("double").alias("old_sum"),
                F.col("new_sum").cast("double").alias("new_sum"),
                F.lit(batch_id).alias("batch_id"),
            )
            state_df = merged.select(
                self.key,
                F.col("new_count").alias("cnt"),
                F.col("new_sum").alias("sum_value"),
            )
            with ThreadPoolExecutor(max_workers=2) as ex:
                fl = ex.submit(
                    lambda: log_df.write.mode("overwrite")
                    .parquet(log_path))
                fs = ex.submit(self._store.stage, batch_id,
                               state_df, touched)
                fl.result(), fs.result()
            self._store.publish(batch_id, base, touched)
            self._ptr.flip(batch_id)
        finally:
            merged.unpersist()
            delta.unpersist()

    # ---- the standing query ----
    def _keyed_delta(self, changes: DataFrame) -> DataFrame:
        """The batch's keyed partial aggregate: count and exact sum of
        the (key, decimal value) change rows per key."""
        return changes.groupBy(self.key).agg(
            F.count(F.lit(1)).alias("d_count"),
            F.sum("value").cast(_STATE_DEC).alias("d_sum"),
        )

    def _merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._last_batch is not None and batch_id <= self._last_batch:
            self._ptr.rewind_before(batch_id)
        payload = batch_df.select("after.*")
        if self.filter_sql is not None:
            payload = payload.where(self.filter_sql)
        changes = payload.select(
            self.key, F.col("value").cast(_STATE_DEC).alias("value"))
        self._merge_batch_spark(changes, batch_id)
        self._last_batch = batch_id
        self._push(batch_id)

    # ---- push delivery (streaming/push.py) ----
    def _push(self, batch_id: int) -> None:
        """Deliver one committed batch's delta rows to every
        subscriber. Runs AFTER the state/log commit (so a crash
        before here re-delivers the batch — at-least-once upstream);
        each subscriber's durable ack dedupes to exactly-once."""
        from .push import read_batch_log

        # subscriber check INSIDE the lock: checked outside, a
        # concurrent subscribe() that already listed the log (without
        # this batch) but had not yet appended itself would miss the
        # batch on both paths (same race class as the multitable
        # runner — ADVICE r11, fixed on both)
        with self._sub_lock:
            if not self._subscribers:
                return
            rows = read_batch_log(self.log_dir, batch_id)
            if not rows:
                return
            for s in self._subscribers:
                s.deliver(batch_id, rows)

    def subscribe(self, callback, name: str = "default"):
        """Register a push subscriber: `callback(batch_id, rows)` is
        invoked once per committed batch with that batch's {old,new}
        delta rows (list of dicts), in batch order. Committed history
        the subscriber has not acked is delivered immediately
        (catch-up, up to CURRENT: a log dir above it is a batch not yet
        committed), then live batches push as they commit. Returns the
        Subscriber (its durable ack file keys resume-on-restart)."""
        from .push import Subscriber, log_batches, read_batch_log

        sub = Subscriber(self, callback, name)
        with self._sub_lock:
            # read under the lock, as _push delivers under it: a batch
            # committing now is caught up here or pushed, and a double
            # delivery is dropped by the ack
            committed = self.committed_batch()
            for b in log_batches(self.log_dir):
                if committed is None or b > committed:
                    break
                if b > sub.acked:
                    sub.deliver(b, read_batch_log(self.log_dir, b))
            self._subscribers.append(sub)
        return sub

    def rescale_state(self, new_buckets: int) -> "int | None":
        """Re-shard the bucketed MVCC state to `new_buckets` hash
        buckets at a committed batch boundary (stream stopped) — the
        stop-with-savepoint → restore-at-new-parallelism operation.
        The new count is durable in the republished manifest, so a
        runner restarted over this root adopts it automatically."""
        return self._store.rescale(new_buckets)

    def batch_for_ts(self, ts, n_chunks: int | None = None):
        """Timestamp-based resume point — Kafka `offsetsForTimes` /
        CockroachDB `cursor=<ts>`: the FIRST replay batch containing
        any change with event time >= ts, or None past the log end.
        Read from the chunk spine's parquet FOOTER STATISTICS alone
        (per-file row-group max of the ts column) — a metadata-only
        index probe, O(chunks) tiny reads, no data scan; the replay
        chunks are event-time-ordered so per-chunk max is monotone
        and min-eligible is the seek answer (exactly a Kafka
        time-index lookup)."""
        import glob as _glob
        import os as _os

        import pyarrow.parquet as _pq

        chunks = build_replay_chunks(self.spark, self.sf_dir,
                                     n_chunks)
        best = None
        for f in sorted(_glob.glob(_os.path.join(
                chunks, "chunk-*.parquet"))):
            idx = int(_os.path.basename(f)[6:-8])
            pf = _pq.ParquetFile(f)
            col = pf.schema_arrow.get_field_index("ts")
            mx = None
            for rg in range(pf.metadata.num_row_groups):
                st = pf.metadata.row_group(rg).column(col).statistics
                if st is not None and st.max is not None:
                    mx = st.max if mx is None else max(mx, st.max)
            if mx is not None and mx >= ts and (
                    best is None or idx < best):
                best = idx
        return best

    def run(self, n_chunks: int | None = None) -> None:
        guard_not_phase_fed(self.root)
        guard_not_live_fed(self.root)
        chunks = build_replay_chunks(self.spark, self.sf_dir, n_chunks)
        env = cdc_envelope(read_events_stream(self.spark, chunks))
        with streaming_shuffle(self.spark):
            q = (
                env.writeStream.foreachBatch(self._merge_batch)
                .outputMode("update")
                .option("checkpointLocation", self.ckpt)
                .trigger(availableNow=True)
                .queryName(fresh_sink_name("changefeed"))
                .start()
            )
            q.awaitTermination()

    def start_live(self, source_dir: str | None = None) -> str:
        """Continuous subscription mode — the namesake behavior a
        replay-and-terminate run() lacks: the standing query keeps
        merging change files as they land in a LIVE source directory,
        until stop_live(). Consumers follow the delta log via
        Feed.cursor() (api.py) or push (subscribe()).

        The runner owns the batch sequence (replay.LiveWorker): each
        `live-<seq>.parquet` commits as batch seq, read as one batch
        through the same _merge_batch as a replay (one Spark job below
        the fold gate), from the file after CURRENT. Returns the live
        source dir."""
        return self._live.start(
            source_dir or scratch_dir(prefix="dbrcf-live-src-"))

    def ingest(self, parquet_file: str) -> None:
        """Drop one change file into the live source dir (producer
        side of the feed) as the next `live-<seq>.parquet`, and wake
        the live worker if one runs. Raises the worker's error, if it
        stopped on one, without dropping the file."""
        self._live.ingest(parquet_file)

    def drain(self, timeout: float) -> bool:
        """Wait until every file ingested so far has committed; False
        on timeout (replay.LiveWorker.drain)."""
        return self._live.drain(timeout)

    def stop_live(self) -> None:
        """Stop the live worker after the batch it is committing, if
        any; files still pending stay in the source dir. Raises the
        error the worker stopped on, if it did."""
        self._live.stop()

    def state(self) -> DataFrame:
        df = self._current_state_df()
        if df is None:
            # a live feed polled before its first commit has a valid,
            # EMPTY materialized state — not an error
            df = self.spark.createDataFrame([], self._STATE_DDL)
        return df.select(
            self.key,
            "cnt",
            F.col("sum_value").cast("double").alias("sum_value"),
        )

    def versions(self) -> list[int]:
        """Batch ids of all retained MVCC state versions."""
        return self._store.versions()

    def state_at(self, batch_id: int) -> DataFrame:
        """Time travel: the materialized state AS OF a past batch —
        MVCC versions are retained, not garbage-collected, so any
        trigger's view stays readable (the AS OF SYSTEM TIME analogue
        of versioned changefeed stores)."""
        if not self._store.has_version(batch_id):
            raise KeyError(
                f"no state version for batch {batch_id}; "
                f"have {self.versions()}")
        return self._store.df_at(batch_id).select(
            self.key,
            "cnt",
            F.col("sum_value").cast("double").alias("sum_value"),
        )

    def log(self) -> DataFrame:
        """The {old,new} delta rows across all batches. A filtered
        standing query that matched zero rows never wrote a file —
        return a typed empty frame instead of failing schema
        inference."""
        if not _has_parquet(self.log_dir):
            return self.spark.createDataFrame([], self._LOG_DDL)
        return (
            self.spark.read.option("recursiveFileLookup", "true")
            .parquet(self.log_dir)
        )

    def compact(self, keep_last: int = 2) -> list[int]:
        """Retention/GC policy for MVCC state versions: drop all but
        the newest `keep_last` versions (never the CURRENT one). The
        changelog is NOT touched — it is the feed's durable history;
        state versions are merely snapshots that can be GC'd once no
        reader pins them. Time-travel (state_at) and at-least-once
        rewind past the retention horizon fail loudly afterwards —
        the same contract as AS OF SYSTEM TIME retention windows.
        Returns the batch ids removed."""
        versions = self.versions()
        current = self._ptr.batch()
        keep = set(versions[-keep_last:])
        if current is not None:
            keep.add(current)
        return self._store.gc(keep)


class UpsertChangefeedRunner:
    """Point-changefeed / upsert semantics — the other half of the
    namesake: maintain the CURRENT ROW per key (last-writer-wins by
    (ts, event_id)) and emit {old_val, new_val} whenever a key's row
    changes. This is RethinkDB's per-document changes() shape, while
    ChangefeedRunner is the aggregate-rollup shape.

    The key space is entity-scale (per-user), so the DEFAULT merge
    path is executor-side: per micro-batch Spark computes the per-key
    argmax (struct max — partial+final, one shuffle of keys), then
    merges LWW into the versioned parquet state with a keyed
    full-outer join — the MERGE INTO ... WHEN MATCHED AND
    source.(ts,id) > target.(ts,id) shape, with tombstoned deletes
    kept as high-water marks so stale pre-delete events cannot
    resurrect a newer tombstone. Nothing key-cardinality-sized ever
    reaches the driver. `driver_merge=True` keeps the round-1
    driver-dict path for equivalence tests."""

    _STATE_DDL = ("user_id long, ts timestamp, event_id long, "
                  "value double, deleted boolean")
    _LOG_DDL = ("user_id long, old_value double, new_value double, "
                "old_event_id bigint, new_event_id bigint, batch_id long")

    def __init__(self, spark: SparkSession, sf_dir: str,
                 delete_on: str | None = None, driver_merge: bool = False,
                 root: str | None = None, filter_sql: str | None = None):
        """`delete_on`: event_type treated as a CDC DELETE — the key
        is tombstoned (removed from the materialized view, old_value
        emitted with new_value NULL) until a newer non-delete event
        re-inserts it.
        `filter_sql`: predicate over the envelope (e.g.
        "after.user_id = 42") — the point-lookup feed shape
        (get(key).changes()): non-matching changes never touch
        state."""
        self.spark = spark
        self.sf_dir = sf_dir
        self.delete_on = delete_on
        self.driver_merge = driver_merge
        self.filter_sql = filter_sql
        self.root = root or scratch_dir(prefix="dbrcf-upsert-")
        self.log_dir = os.path.join(self.root, "changelog")
        self.state_root = os.path.join(self.root, "state")
        self.ckpt = os.path.join(self.root, "checkpoint")
        os.makedirs(self.log_dir, exist_ok=True)
        os.makedirs(self.state_root, exist_ok=True)
        self._store = BucketedMvccState(
            self.spark, self.state_root, self._STATE_DDL, "user_id"
        )
        self._ptr = VersionPointer(self.root, self._store)
        self._subscribers: list = []
        self._sub_lock = threading.Lock()
        # driver-path state; LWW replays are inherently idempotent
        # here (a stale (ts, id) never beats the high-water mark)
        self._state: dict[int, tuple] = {}
        # deleted keys keep their (ts, id) high-water mark so stale
        # pre-delete events cannot resurrect a newer tombstone
        self._tombstones: dict[int, tuple] = {}
        self._last_batch = self._ptr.batch()

    _current_state_df = ChangefeedRunner._current_state_df
    committed_batch = ChangefeedRunner.committed_batch
    versions = ChangefeedRunner.versions
    _push = ChangefeedRunner._push
    subscribe = ChangefeedRunner.subscribe

    def _winners(self, batch_df: DataFrame) -> DataFrame:
        """Per-key LWW winner of one micro-batch: the (ts, event_id)
        max, with its delete flag. Partial+final aggregate — one
        shuffle of keys. Overridden by the op-tagged CDC runner
        (streaming/cdc_ops.py), which derives the flag from the
        envelope's `op` instead of interpreting event_type."""
        is_del = (
            (F.col("after.event_type") == F.lit(self.delete_on))
            if self.delete_on is not None
            else F.lit(False)
        )
        return (
            batch_df.select(
                "after.user_id", "after.ts", "after.event_id",
                "after.value", is_del.alias("is_del"),
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

    # ---- executor-side LWW merge (the default; the 100 TB path) ----
    def _merge_batch_spark(self, batch_df: DataFrame, batch_id: int) -> None:
        winners = self._winners(batch_df).persist()
        # pruned read + partial rewrite: only the buckets this
        # batch's keys hash into are read and rewritten (state_store)
        touched = self._store.touched_buckets(winners, "user_id")
        base = self._ptr.batch()
        if base is None:
            old = self.spark.createDataFrame([], self._STATE_DDL)
        else:
            old = self._store.df_at(base, buckets=touched)
        j = old.join(winners, "user_id", "full")
        has_w = F.col("w_eid").isNotNull()
        has_o = F.col("event_id").isNotNull()
        newer = (F.col("w_ts") > F.col("ts")) | (
            (F.col("w_ts") == F.col("ts"))
            & (F.col("w_eid") > F.col("event_id"))
        )
        wins = has_w & (~has_o | newer)
        is_del = wins & F.coalesce("w_del", F.lit(False))
        old_visible = has_o & ~F.coalesce("deleted", F.lit(False))
        merged = j.select(
            "user_id",
            F.when(wins, F.col("w_ts")).otherwise(F.col("ts")).alias("n_ts"),
            F.when(wins, F.col("w_eid")).otherwise(F.col("event_id"))
            .alias("n_eid"),
            F.when(wins, F.col("w_val")).otherwise(F.col("value"))
            .alias("n_val"),
            F.when(wins, is_del)
            .otherwise(F.coalesce("deleted", F.lit(False))).alias("n_del"),
            # change emission: every LWW win except a delete of a key
            # that was never visible (tombstone refresh only)
            (wins & ~(is_del & ~old_visible)).alias("emit"),
            F.when(old_visible, F.col("value")).alias("log_old_value"),
            F.when(~is_del, F.col("w_val")).alias("log_new_value"),
            F.when(old_visible, F.col("event_id")).alias("log_old_eid"),
            F.col("w_eid").alias("log_new_eid"),
        ).cache()
        try:
            # log write + state STAGE run concurrently off the cached
            # `merged`; the manifest publication (commit point) waits
            # for both, then the pointer flips — same contract as the
            # aggregate runner above
            from concurrent.futures import ThreadPoolExecutor

            log_path = os.path.join(self.log_dir, f"batch-{batch_id:05d}")
            log_df = merged.where("emit").select(
                "user_id",
                F.col("log_old_value").alias("old_value"),
                F.col("log_new_value").alias("new_value"),
                F.col("log_old_eid").alias("old_event_id"),
                F.col("log_new_eid").alias("new_event_id"),
                F.lit(batch_id).alias("batch_id"),
            )
            state_df = merged.select(
                "user_id",
                F.col("n_ts").alias("ts"),
                F.col("n_eid").alias("event_id"),
                F.col("n_val").alias("value"),
                F.col("n_del").alias("deleted"),
            )
            with ThreadPoolExecutor(max_workers=2) as ex:
                fl = ex.submit(
                    lambda: log_df.write.mode("overwrite")
                    .parquet(log_path))
                fs = ex.submit(self._store.stage, batch_id,
                               state_df, touched)
                fl.result(), fs.result()
            self._store.publish(batch_id, base, touched)
            self._ptr.flip(batch_id)
        finally:
            merged.unpersist()
            winners.unpersist()

    # ---- driver-side merge (equivalence-test path) ----
    def _merge_batch_driver(self, batch_df: DataFrame, batch_id: int) -> None:
        import pyarrow as pa

        from .statefs import STATE_FS

        winners = (
            batch_df.select("after.user_id", "after.ts",
                            "after.event_id", "after.value",
                            "after.event_type")
            .groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "value", "event_type"))
                 .alias("m"))
            .collect()
        )
        changes = []
        for r in sorted(winners, key=lambda r: r["user_id"]):
            k, m = r["user_id"], r["m"]
            new = (m["ts"], m["event_id"], m["value"])
            old = self._state.get(k)
            # LWW incl. tombstones: a stale (ts, id) always loses
            prev = old if old is not None else self._tombstones.get(k)
            if prev is not None and new[:2] <= prev[:2]:
                continue
            if self.delete_on is not None and m["event_type"] == self.delete_on:
                self._tombstones[k] = new
                if old is not None:
                    del self._state[k]
                    changes.append((k, old[2], None, old[1], new[1]))
            else:
                self._state[k] = new
                self._tombstones.pop(k, None)
                changes.append(
                    (k,
                     old[2] if old else None,
                     new[2],
                     old[1] if old else None,
                     new[1])
                )
        if changes:
            cols = list(zip(*changes))
            tbl = pa.table(
                {
                    "user_id": pa.array(cols[0], pa.int64()),
                    "old_value": pa.array(cols[1], pa.float64()),
                    "new_value": pa.array(cols[2], pa.float64()),
                    "old_event_id": pa.array(cols[3], pa.int64()),
                    "new_event_id": pa.array(cols[4], pa.int64()),
                    "batch_id": pa.array([batch_id] * len(changes), pa.int64()),
                }
            )
            STATE_FS.put_small_parquet_dir(
                tbl, os.path.join(self.log_dir, f"batch-{batch_id:05d}"))

    def _merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.filter_sql is not None:
            batch_df = batch_df.where(self.filter_sql)
        if self.driver_merge:
            self._merge_batch_driver(batch_df, batch_id)
        else:
            if self._last_batch is not None and batch_id <= self._last_batch:
                self._ptr.rewind_before(batch_id)
            self._merge_batch_spark(batch_df, batch_id)
        self._last_batch = batch_id
        self._push(batch_id)

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
                .queryName(fresh_sink_name("upsertfeed"))
                .start()
            )
            q.awaitTermination()

    def state(self) -> DataFrame:
        if self.driver_merge:
            rows = [(k, ts, eid, v)
                    for k, (ts, eid, v) in sorted(self._state.items())]
            return self.spark.createDataFrame(
                rows,
                "user_id long, ts timestamp, event_id long, value double",
            )
        df = self._current_state_df()
        assert df is not None, "upsert changefeed produced no state"
        return df.where(~F.col("deleted")).select(
            "user_id", "ts", "event_id", "value"
        )

    def log(self) -> DataFrame:
        if not _has_parquet(self.log_dir):
            return self.spark.createDataFrame([], self._LOG_DDL)
        return (
            self.spark.read.option("recursiveFileLookup", "true")
            .parquet(self.log_dir)
        )


class MultiChangefeedRunner:
    """Many standing queries, ONE change-stream scan — the fan-out
    shape of a real changefeed engine (N subscribers share the CDC
    source; each maintains its own materialized state). Per
    micro-batch the batch DataFrame is cached once and every feed
    merges from it through its own ChangefeedRunner — so each feed
    gets its own size gate (driver fold of a small batch, else
    the executor-side keyed join), its own MVCC state versions, and
    its own changelog.

    Scale: the shared scan is the point — at 100 TB the dominant
    cost is reading the change stream, and it is paid once for all
    feeds; each feed adds only its own keyed partial aggregate, and
    no entity-cardinality state ever crosses to the driver."""

    def __init__(self, spark: SparkSession, sf_dir: str,
                 keys: tuple[str, ...] = ("event_type", "user_id")):
        self.spark = spark
        self.sf_dir = sf_dir
        self.keys = keys
        self.root = scratch_dir(prefix="dbrcf-multi-")
        self.feeds = {
            k: ChangefeedRunner(
                spark, sf_dir, key=k,
                root=os.path.join(self.root, f"feed-{k}"),
            )
            for k in keys
        }
        # (batch_id, resolved_ts): every feed has merged ALL changes
        # with ts <= resolved_ts once the batch commits — the
        # CockroachDB-style resolved-timestamp surface. Consistency
        # across feeds is per-micro-batch atomic by construction:
        # all feeds merge inside ONE foreachBatch invocation, which
        # is Structured Streaming's transaction boundary.
        self._resolved: list[tuple[int, object]] = []

    def _merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            # re-delivered batch: drop its (and later) resolved
            # entries before re-appending — no duplicate tokens
            self._resolved = [r for r in self._resolved if r[0] < batch_id]
            for k in self.keys:
                self.feeds[k]._merge_batch(batch_df, batch_id)
            hwm = batch_df.agg(F.max("ts").alias("m")).collect()[0]["m"]
            if hwm is not None:
                self._resolved.append((batch_id, hwm))
        finally:
            batch_df.unpersist()

    def run(self, n_chunks: int | None = None) -> None:
        guard_not_phase_fed(self.root)
        chunks = build_replay_chunks(self.spark, self.sf_dir, n_chunks)
        env = cdc_envelope(read_events_stream(self.spark, chunks))
        ckpt = os.path.join(self.root, "checkpoint")
        with streaming_shuffle(self.spark):
            q = (
                env.writeStream.foreachBatch(self._merge_batch)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .queryName(fresh_sink_name("multifeed"))
                .start()
            )
            q.awaitTermination()

    def state(self) -> DataFrame:
        """All feeds' states unioned under a feed tag (key rendered
        as string for a uniform schema)."""
        out = None
        for k in self.keys:
            part = self.feeds[k].state().select(
                F.lit(f"by_{k}").alias("feed"),
                F.col(k).cast("string").alias("key"),
                "cnt",
                "sum_value",
            )
            out = part if out is None else out.unionByName(part)
        return out

    def resolved(self) -> DataFrame:
        """Resolved-timestamp log: after batch b commits, EVERY feed
        reflects exactly the changes with ts <= resolved_ts(b), so a
        cross-feed read at any committed batch (state_at) is a
        transactionally consistent snapshot. Monotonicity and
        cross-feed agreement are asserted in tests."""
        return self.spark.createDataFrame(
            self._resolved, "batch_id long, resolved_ts timestamp"
        )


class JoinViewRunner:
    """Incrementally-maintained JOIN view — the third standing-query
    shape next to the aggregate rollup (ChangefeedRunner) and the
    point/upsert view (UpsertChangefeedRunner): a filtered change
    stream enriched against a dimension table, materialized
    append-only. Per micro-batch the DELTA join runs (batch rows ⋈
    broadcast dim — never a re-join of history), and the result lands
    in a per-batch file overwritten on replay, so at-least-once
    delivery appends each change exactly once. At 100 TB this is the
    canonical IVM shape for enrichment pipelines: per-batch cost is
    O(new rows), the view is partitioned by arrival batch, and the
    dim swap-in is a broadcast refresh."""

    def __init__(self, spark: SparkSession, sf_dir: str,
                 filter_sql: str = "event_type = 'purchase'",
                 root: str | None = None):
        from ..catalog import load_table

        self.spark = spark
        self.sf_dir = sf_dir
        self.filter_sql = filter_sql
        self.root = root or scratch_dir(prefix="dbrcf-joinview-")
        self.view_dir = os.path.join(self.root, "view")
        self.ckpt = os.path.join(self.root, "checkpoint")
        os.makedirs(self.view_dir, exist_ok=True)
        self._dim = load_table(spark, sf_dir, "customer")

    def _merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        delta = (
            batch_df.select("after.*")
            .where(self.filter_sql)
            .join(
                F.broadcast(self._dim),
                F.col("c_custkey") == F.col("user_id") + 1,
            )
            .select("event_id", "user_id", "c_name", "c_mktsegment",
                    "value")
        )
        out = os.path.join(self.view_dir, f"batch-{batch_id:05d}")
        delta.write.mode("overwrite").parquet(out)

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
                .queryName(fresh_sink_name("joinview"))
                .start()
            )
            q.awaitTermination()

    def view(self) -> DataFrame:
        if not _has_parquet(self.view_dir):
            return self.spark.createDataFrame(
                [], "event_id long, user_id long, c_name string, "
                    "c_mktsegment string, value double"
            )
        return (
            self.spark.read.option("recursiveFileLookup", "true")
            .parquet(self.view_dir)
        )
