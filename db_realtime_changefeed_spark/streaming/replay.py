"""Event-stream replay harness (SURVEY.md §1.1, §2.A3).

The graded `events` table is replayed as a Structured Streaming
source: the parquet is re-chunked (once, into a writable tmp dir)
into time-ordered files, then read with `readStream` +
`maxFilesPerTrigger=1` + `Trigger.AvailableNow` — Spark's file
source processes the chunks oldest-first, giving a deterministic
sequence of micro-batches that simulates real-time arrival.

Never touches /root/testdata (read-only): chunks are copies.

100 TB note: in production the source would be Kafka/files-on-
object-store; everything downstream of `readStream` is source-
agnostic, so this harness IS the swap point.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import tempfile
import threading

from ..tmputil import scratch_dir
import time

from pyspark.sql import DataFrame, SparkSession

from ..catalog import EVENTS_NS_SCHEMA, SCHEMAS, ns_to_us, parquet_ts_unit

def _replay_root() -> str:
    """Replay-chunk cache root: co-located with the scratch base
    (RAM-backed when available — the chunk files are re-read once
    per micro-batch by the file source, so they benefit from the
    same placement as the checkpoints; see tmputil.scratch_base)."""
    from ..tmputil import scratch_base

    return os.path.join(
        scratch_base() or tempfile.gettempdir(), "dbrcf_replay")


_REPLAY_ROOT = _replay_root()


def default_chunks() -> int:
    """Replay micro-batch count. Streaming results are chunking-
    invariant (tested: tests/test_streaming.py), so correctness runs
    use few chunks — per-micro-batch scheduler+checkpoint cost is the
    dominant term locally. 4 keeps multi-batch semantics (watermark
    advancement, incremental merges) observable."""
    return int(os.environ.get("SPARK_GRAFT_STREAM_CHUNKS", "4"))


def _chunk_dir(sf_dir: str, tag: str, table: str = "events") -> str:
    # hash of the absolute path AND the BACKING table file's
    # (size, mtime) — two dirs named sf0.01 under different parents
    # must not share a cache, and a driver-side testdata REGENERATION
    # (which has changed the physical timestamp layout between rounds)
    # must invalidate chunks cached under /tmp from an earlier round.
    # The fingerprint tracks the specific table each cache replays
    # (multitable caches orders chunks: an orders-only regeneration
    # must invalidate THEM, and must not be masked by an unchanged
    # events.parquet). A missing table file falls back to
    # fingerprinting every *.parquet in sf_dir rather than raising.
    import glob
    import hashlib

    ap = os.path.abspath(os.path.normpath(sf_dir))
    sf_name = os.path.basename(ap)
    backing = os.path.join(ap, f"{table}.parquet")
    try:
        st = os.stat(backing)
        stamp = f"{table}|{st.st_size}|{st.st_mtime_ns}"
    except OSError:
        parts = []
        for p in sorted(glob.glob(os.path.join(ap, "*.parquet"))):
            s = os.stat(p)
            parts.append(f"{os.path.basename(p)}|{s.st_size}|{s.st_mtime_ns}")
        stamp = ";".join(parts) or "empty"
    digest = hashlib.md5(f"{ap}|{stamp}".encode()).hexdigest()[:8]
    return os.path.join(_REPLAY_ROOT, f"{sf_name}-{digest}-{tag}")


def build_replay_chunks(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int | None = None,
    holdback_mod: int | None = None,
) -> str:
    """Split events into time-ordered chunk files. With
    `holdback_mod`, every (event_id % holdback_mod == 0) row is
    withheld from its time slot and appended as a final straggler
    chunk — the deterministic late-data fixture for watermark tests.
    Idempotent per (sf_dir, parameters).

    Fixture prep (not a query path) — done with pyarrow directly:
    one read + n slice-writes instead of n Spark filter jobs, and it
    preserves the original ns-timestamp physical type bit-for-bit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if n_chunks is None:
        n_chunks = default_chunks()
    tag = f"c{n_chunks}" + (f"-h{holdback_mod}" if holdback_mod else "")
    out = _chunk_dir(sf_dir, tag)
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    t = t.sort_by("event_id")  # event_id monotone with ts (FIXTURES.md)
    if holdback_mod:
        held_np = t.column("event_id").to_numpy() % holdback_mod == 0
        held = t.filter(pa.array(held_np))
        t_main = t.filter(pa.array(~held_np))
    else:
        held = None
        t_main = t
    n = t_main.num_rows
    per = (n + n_chunks - 1) // n_chunks
    for i in range(n_chunks):
        _write_chunk(t_main.slice(i * per, per), out, i)
    if held is not None:
        _write_chunk(held, out, n_chunks)
    with open(done, "w") as f:
        f.write("ok")
    return out


def _write_chunk(tbl, out: str, idx: int) -> None:
    """Write one chunk as a single parquet file with a name AND mtime
    that both sort in replay order (the file stream source orders by
    mtime, ties by path)."""
    import pyarrow.parquet as pq

    dst = os.path.join(out, f"chunk-{idx:04d}.parquet")
    pq.write_table(tbl, dst)
    os.utime(dst, (time.time(), 1_700_000_000.0 + idx))


_LIVE_NAME = re.compile(r"live-(\d+)\.parquet")
#: serializes drop_live_file within the process, so two concurrent
#: ingests never pick the same sequence number or temp file
_LIVE_DROP_LOCK = threading.Lock()


def live_file_name(seq: int) -> str:
    """The name of the live change file with sequence number `seq`."""
    return f"live-{seq:06d}.parquet"


def _last_live_seq(source_dir: str) -> int:
    """The highest live-<n> sequence in `source_dir`, -1 if none."""
    return max((int(m.group(1)) for m in map(_LIVE_NAME.fullmatch,
                                             os.listdir(source_dir)) if m),
               default=-1)


def drop_live_file(source_dir: str, src) -> None:
    """Producer side of a live feed (LiveWorker): put one change file
    (`src`, a parquet path to copy or a pyarrow table to write) into
    `source_dir`, created if missing, as `live-<seq>.parquet`, where seq is one above the
    highest live-<n> already there (0 in an empty dir), so names and
    mtimes sort in ingest order, also across a restart over the same
    dir; other files in the dir do not shift the sequence. The whole
    drop holds a module lock, so concurrent drops in one process get
    distinct names and land in sequence order. The file is written
    under a dot-prefixed temp name, which Spark's file listing skips,
    and renamed into place, so a reader never sees a half-written
    file."""
    import pyarrow.parquet as pq

    with _LIVE_DROP_LOCK:
        os.makedirs(source_dir, exist_ok=True)
        seq = _last_live_seq(source_dir) + 1
        name = live_file_name(seq)
        tmp = os.path.join(source_dir, f".{name}.tmp")
        if isinstance(src, str):
            shutil.copyfile(src, tmp)
        else:
            pq.write_table(src, tmp)
        # the mtime is set before the rename: a poll that listed the
        # file with its write time would take it as older than the
        # files seen so far and skip it for good
        os.utime(tmp, (time.time(), 1_800_000_000.0 + seq))
        os.replace(tmp, os.path.join(source_dir, name))


def _read_events(reader, path: str) -> DataFrame:
    """`reader` (a batch or stream reader) over event files with the
    same physical-layout sniffing the batch catalog applies (chunk and
    live files preserve the source table's timestamp type
    bit-for-bit)."""
    if parquet_ts_unit(path) == "timestamp[ns]":
        return ns_to_us(reader.schema(EVENTS_NS_SCHEMA).parquet(path))
    return reader.schema(SCHEMAS["events"]).parquet(path)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """readStream over event chunks, `max_files_per_trigger` files per
    micro-batch."""
    return _read_events(
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger),
        path)


def read_events_file(spark: SparkSession, path: str) -> DataFrame:
    """Batch read of one event file (a live changefeed's batch)."""
    return _read_events(spark.read, path)


@contextlib.contextmanager
def streaming_shuffle(spark: SparkSession, n: int | None = None):
    """Bound shuffle/state-store partitions for the duration of one
    replay run. Stateful streaming ops create one state-store
    instance per shuffle partition PER MICRO-BATCH, so a plain
    session's default of 200 costs 200 near-empty tasks × batches on
    this replay's tiny keyed state. Sized to key cardinality here
    (graded streams key on event_type/user_id/window — ≤ thousands);
    at 100 TB state you'd size this up, not down — it's the same
    knob. Restored afterwards so batch queries keep their setting."""
    key = "spark.sql.shuffle.partitions"
    aqe = "spark.sql.adaptive.enabled"
    if n is None:
        n = int(os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", "8"))
    prev = spark.conf.get(key)
    prev_aqe = spark.conf.get(aqe)
    spark.conf.set(key, str(n))
    # r13: AQE OFF for the replay run's foreachBatch bodies. Spark
    # already disables AQE inside streaming plans; the batch queries
    # a foreachBatch body runs, however, regain it — and on the
    # per-micro-batch folds (bounded O(|delta|) joins over explicit
    # bucket-pruned stores) AQE's stage-by-stage materialization
    # only multiplies tiny Spark jobs (measured at sf0.1:
    # changefeed_agg_view 28-45 s with AQE vs 19-22 s without; the
    # run is job-count-bound, ~35 jobs/batch). Partitioning is
    # already sized explicitly by this context manager — the same
    # knob a production deployment tunes — so runtime coalescing has
    # nothing left to fix. Restored on exit: large ad-hoc batch
    # queries keep AQE's skew/coalesce machinery.
    spark.conf.set(aqe, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)
        spark.conf.set(aqe, prev_aqe)


def run_available_now(
    stream_df: DataFrame, sink_name: str, output_mode: str = "append"
) -> str:
    """Execute a streaming DataFrame to completion (AvailableNow) into
    a fresh in-memory sink table + fresh checkpoint. Returns the
    checkpoint location so callers can introspect the run's state
    store (scan_state_store reads it back via the Spark-4
    `statestore` batch source)."""
    ckpt = scratch_dir(prefix=f"dbrcf-ckpt-{sink_name}-")
    with streaming_shuffle(stream_df.sparkSession):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(sink_name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return ckpt


def guard_not_phase_fed(root: str) -> None:
    """Refuse run() on a runner root that lifecycle.run_phase already
    fed: run_phase streams from root/src while run() streams from the
    shared replay-chunks dir with the SAME checkpoint, and the file
    source tracks paths — mixing the two feeds would re-deliver every
    event under a second path. (run_phase holds the reverse guard.)"""
    if os.path.exists(os.path.join(root, "src")):
        raise RuntimeError(
            "this runner was fed via run_phase(); run() would "
            "re-deliver the same events from a different path — "
            "use a fresh runner root")


#: a file under a changefeed root that start_live() fed
LIVE_MARK = "LIVE"


def guard_not_live_fed(root: str) -> None:
    """Refuse a replay (run(), run_phase()) on a changefeed root that
    start_live() fed: a live feed numbers its batches by file sequence
    and a replay by its checkpoint, both from 0, so the replay's batch
    0 would rewind onto the live feed's state. (start_live() holds the
    reverse guard.)"""
    if os.path.exists(os.path.join(root, LIVE_MARK)):
        raise RuntimeError(
            f"changefeed root {root} was fed live; a replay would "
            "reuse its batch ids — use a fresh root")


class LiveWorker:
    """The live (start_live) mode of every live runner: the runner
    owns the batch sequence. One worker thread commits
    `live-<seq>.parquet` from the source dir in order, with batch id =
    seq, as `merge_batch(read_batch(path), seq)` (the runner's
    foreachBatch body, so a batch merges exactly as a replay's
    micro-batch does); ingest() wakes it, and an idle feed waits on a
    condition without polling. It starts at `committed()` + 1 (0 on a
    fresh root), so files dropped before start(), left pending by
    stop(), or landed before a crash commit then. It stops at its
    first error, which the next ingest(), drain() and stop() raise. It
    never sets session conf: a concurrent reader of the session would
    see it change."""

    def __init__(self, root: str, ckpt: str, read_batch, merge_batch,
                 committed, source_dir: str | None = None):
        self.root = root
        self._ckpt = ckpt
        self._read = read_batch
        self._merge = merge_batch
        self._committed = committed
        self.source_dir = source_dir
        self._thread: threading.Thread | None = None
        # guards _next, _stopping and _error; ingest(), stop() and each
        # commit notify it
        self._cv = threading.Condition()
        self._next = 0
        self._stopping = False
        self._error: Exception | None = None

    def start(self, source_dir: str | None = None) -> str:
        """Start the worker over `source_dir` (or the one given at
        construction) and mark the root live-fed. Refuses a root that a
        replay fed (it has a checkpoint): both number batches from 0.
        Returns the source dir."""
        # the reverse of guard_not_live_fed
        if os.path.exists(self._ckpt):
            raise RuntimeError(
                f"changefeed root {self.root} was fed by a replay "
                "(run()); start_live() would reuse its batch ids — use "
                "a fresh root")
        if self._thread is not None:
            raise RuntimeError(f"changefeed {self.root} is already live")
        self.source_dir = source_dir or self.source_dir
        os.makedirs(self.source_dir, exist_ok=True)
        open(os.path.join(self.root, LIVE_MARK), "a").close()
        base = self._committed()
        self._next = 0 if base is None else base + 1
        self._stopping = False
        self._error = None
        self._thread = threading.Thread(
            target=self._loop, name=f"live-{self.root}", daemon=True)
        self._thread.start()
        return self.source_dir

    def _loop(self) -> None:
        while True:
            seq = self._next
            path = os.path.join(self.source_dir, live_file_name(seq))
            with self._cv:
                while not self._stopping and not os.path.exists(path):
                    self._cv.wait()
                if self._stopping:
                    return
            try:
                self._merge(self._read(path), seq)
            except Exception as e:
                err = RuntimeError(
                    f"changefeed {self.root}: live batch {seq} "
                    f"({path}) failed: {e!r}")
                err.__cause__ = e
                with self._cv:
                    self._error = err
                    self._cv.notify_all()
                return
            with self._cv:
                self._next = seq + 1
                self._cv.notify_all()

    def _raise_error(self) -> None:
        if self._error is not None:
            raise self._error

    def ingest(self, src) -> None:
        """Drop one change file (a parquet path or a pyarrow table) as
        the next `live-<seq>.parquet` and wake the worker. Raises the
        worker's error, if it stopped on one, without dropping."""
        self._raise_error()
        drop_live_file(self.source_dir, src)
        with self._cv:
            self._cv.notify_all()

    def drain(self, timeout: float) -> bool:
        """Wait until every file dropped into the source dir so far has
        committed. Returns False if `timeout` seconds pass first or the
        worker is not running; raises the error it stopped on."""
        if self._thread is None:
            self._raise_error()
            return False
        last = _last_live_seq(self.source_dir)
        with self._cv:
            self._cv.wait_for(
                lambda: self._next > last or self._error is not None
                or self._stopping, timeout)
            self._raise_error()
            return self._next > last

    def stop(self) -> None:
        """Stop the worker after the batch it is committing, if any;
        files still pending stay in the source dir. Raises the error the
        worker stopped on, if it did."""
        t = self._thread
        if t is not None:
            with self._cv:
                self._stopping = True
                self._cv.notify_all()
            t.join()
            self._thread = None
        self._raise_error()


_SINK_SEQ = [0]


def fresh_sink_name(base: str) -> str:
    """Memory-sink names are session-global; make each run unique."""
    _SINK_SEQ[0] += 1
    return f"{base}_{_SINK_SEQ[0]}"


def build_evolving_chunks(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4
) -> str:
    """Schema-evolution fixture: time-ordered event chunks where the
    SECOND HALF of the stream gains a new column `v2` (:= value * 2,
    deterministic so an oracle can reconstruct it) — the add-column
    DDL a long-lived changefeed must survive. Old chunk files simply
    lack the column; a reader holding the widened schema gets NULLs
    for them from the parquet reader itself, no rewrite of history.
    Idempotent per (sf_dir, n_chunks); normalized through
    load_table first so both physical timestamp layouts feed the
    same fixture."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..catalog import load_table

    tag = f"evolve-c{n_chunks}"
    out = _chunk_dir(sf_dir, tag)
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    t = (
        load_table(spark, sf_dir, "events")
        .orderBy("event_id")  # event_id monotone with ts (FIXTURES.md)
        .toArrow()
    )
    n = t.num_rows
    per = (n + n_chunks - 1) // n_chunks
    for i in range(n_chunks):
        sl = t.slice(i * per, per)
        if i >= n_chunks // 2:
            v2 = pc.multiply(
                sl.column("value"), pa.scalar(2.0, pa.float64())
            )
            sl = sl.append_column("v2", v2)
        _write_chunk(sl, out, i)
    with open(done, "w") as f:
        f.write("ok")
    return out
