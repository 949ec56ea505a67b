"""The live worker of ChangefeedRunner: each ingested file commits as
its own batch (batch id = file sequence) through the same merge as a
replay, with no streaming query. Covers concurrent ingests, restarts
after a crash at each commit step, worker errors, the one Spark job
per batch, and the symlink CURRENT and ack pointers next to the
regular files older runners wrote."""

from __future__ import annotations

import os
import sys
import threading
import time

import pyarrow.parquet as pq
import pytest

from db_realtime_changefeed_spark.streaming.changefeed import (
    ChangefeedRunner,
)
from db_realtime_changefeed_spark.streaming.lifecycle import run_phase
from db_realtime_changefeed_spark.streaming.replay import drop_live_file
from db_realtime_changefeed_spark.streaming.state_store import (
    BucketedMvccState,
    VersionPointer,
)

N_FILES = 4


def _change_files(sf, tmp_path, n: int, rows: int) -> list[str]:
    """`n` change files of `rows` consecutive events each."""
    t = pq.read_table(os.path.join(sf, "events.parquet"))
    out = []
    for i in range(n):
        p = str(tmp_path / f"change-{i:03d}.parquet")
        pq.write_table(t.slice((i * rows) % (t.num_rows - rows), rows), p)
        out.append(p)
    return out


def _wait_until(pred, timeout=60.0) -> None:
    deadline = time.time() + timeout
    while not pred():
        if time.time() > deadline:
            raise AssertionError("condition not met before timeout")
        time.sleep(0.05)


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


class _Pushes:
    """A push subscriber's record: {batch_id: rows}, and the order in
    which batch ids arrived."""

    def __init__(self):
        self.order: list[int] = []
        self.rows: dict[int, list] = {}

    def __call__(self, batch_id, rows):
        self.order.append(batch_id)
        self.rows[batch_id] = sorted(tuple(sorted(r.items())) for r in rows)


def _live_run(spark, sf, src, pushes, root=None):
    """Subscribe, start live over `src`, and wait until every file
    already dropped there committed or the worker stopped. Returns the
    runner, still live."""
    r = ChangefeedRunner(spark, sf, key="user_id", root=root)
    r.subscribe(pushes, name="sub")
    r.start_live(source_dir=str(src))
    n = len(os.listdir(src))
    _wait_until(lambda: r._ptr.batch() == n - 1
                or not r._live_thread.is_alive())
    return r


def _dropped(files, src):
    """A source dir holding `files` as live-<seq> files, dropped before
    start_live (they commit when the worker starts)."""
    src.mkdir()
    for f in files:
        drop_live_file(str(src), f)
    return src


@pytest.fixture(scope="module")
def clean_run(spark, sf_smoke, tmp_path_factory):
    """State, log and pushes of an uninterrupted live run."""
    tmp = tmp_path_factory.mktemp("clean")
    files = _change_files(sf_smoke, tmp, N_FILES, 60)
    pushes = _Pushes()
    r = _live_run(spark, sf_smoke, _dropped(files, tmp / "src"), pushes)
    r.stop_live()
    return files, _rows(r.state()), _rows(r.log()), pushes


@pytest.fixture(scope="module")
def replayed(spark, sf_smoke):
    """A runner fed by run()."""
    r = ChangefeedRunner(spark, sf_smoke)
    r.run()
    return r


@pytest.mark.parametrize("point", ["after_stage", "after_publish",
                                   "after_flip"])
def test_live_restart_after_crash_point_matches_clean_run(
        spark, sf_smoke, clean_run, tmp_path, monkeypatch, point):
    """A worker that dies at batch 2 after stage_tables, after
    publish() but before the CURRENT flip, or after the flip but
    before the push, is restarted over the same root and source dir:
    the final state, the changelog and the delivered batches equal
    an uninterrupted run's, each batch delivered once."""
    files, want_state, want_log, want_pushes = clean_run
    owner, attr = {
        "after_stage": (BucketedMvccState, "stage_tables"),
        "after_publish": (BucketedMvccState, "publish"),
        "after_flip": (VersionPointer, "flip"),
    }[point]
    real = getattr(owner, attr)

    def crash(self, batch_id, *args):
        real(self, batch_id, *args)
        if batch_id == 2:
            raise OSError(f"injected crash {point}")

    monkeypatch.setattr(owner, attr, crash)
    pushes = _Pushes()
    src = _dropped(files, tmp_path / "src")
    a = _live_run(spark, sf_smoke, src, pushes)
    a._live_thread.join(60)
    assert not a._live_thread.is_alive()
    with pytest.raises(RuntimeError, match="live batch 2") as err:
        a.stop_live()
    assert point in str(err.value.__cause__)
    monkeypatch.setattr(owner, attr, real)

    b = _live_run(spark, sf_smoke, src, pushes, root=a.root)
    b.stop_live()
    assert _rows(b.state()) == want_state
    assert _rows(b.log()) == want_log
    assert pushes.order == list(range(N_FILES))
    assert pushes.rows == want_pushes.rows


def test_catch_up_and_poll_stop_at_the_committed_batch(
        spark, sf_smoke, clean_run, tmp_path, monkeypatch):
    """A worker that dies after stage_tables of batch 2 leaves batch
    2's changelog dir behind an uncommitted CURRENT (v1). Over the
    reopened root a fresh subscriber catches up on [0, 1] only and a
    cursor polls no batch-2 rows; once the batch recommits, batch 2
    arrives once on both."""
    from db_realtime_changefeed_spark.api import Cursor

    files, _state, want_log, want_pushes = clean_run
    real = BucketedMvccState.stage_tables

    def crash(self, batch_id, *args):
        real(self, batch_id, *args)
        if batch_id == 2:
            raise OSError("injected crash after_stage")

    monkeypatch.setattr(BucketedMvccState, "stage_tables", crash)
    src = _dropped(files, tmp_path / "src")
    a = ChangefeedRunner(spark, sf_smoke, key="user_id")
    a.start_live(source_dir=str(src))
    a._live_thread.join(60)
    assert not a._live_thread.is_alive()
    with pytest.raises(RuntimeError, match="live batch 2"):
        a.stop_live()
    monkeypatch.setattr(BucketedMvccState, "stage_tables", real)

    b = ChangefeedRunner(spark, sf_smoke, key="user_id", root=a.root)
    assert b.committed_batch() == 1
    assert os.path.isdir(os.path.join(b.log_dir, "batch-00002"))
    pushes = _Pushes()
    b.subscribe(pushes, name="fresh")
    assert pushes.order == [0, 1]
    cursor = Cursor(b)
    assert sorted({r["batch_id"] for r in cursor.poll()}) == [0, 1]
    assert cursor.position == 2

    b.start_live(source_dir=str(src))
    _wait_until(lambda: b.committed_batch() == N_FILES - 1)
    b.stop_live()
    assert pushes.order == list(range(N_FILES))
    assert pushes.rows == want_pushes.rows
    polled = cursor.poll()
    assert sorted({r["batch_id"] for r in polled}) == [2, 3]
    assert _rows(b.log()) == want_log


def test_live_worker_error_surfaces_from_ingest_and_stop(
        spark, sf_smoke, tmp_path):
    """A batch that cannot be read stops the worker; the next ingest()
    (which then drops nothing) and stop_live() raise, naming it."""
    good = _change_files(sf_smoke, tmp_path, 1, 20)[0]
    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"not parquet")
    r = ChangefeedRunner(spark, sf_smoke, key="user_id")
    src = r.start_live()
    r.ingest(good)
    r.ingest(str(bad))
    r._live_thread.join(60)
    assert not r._live_thread.is_alive()
    assert r._ptr.batch() == 0
    with pytest.raises(RuntimeError, match="live batch 1"):
        r.ingest(good)
    assert sorted(os.listdir(src)) == ["live-000000.parquet",
                                       "live-000001.parquet"]
    with pytest.raises(RuntimeError, match="live batch 1"):
        r.stop_live()


def test_live_concurrent_ingests_each_commit_once(spark, sf_smoke,
                                                  tmp_path):
    """4 threads x 10 ingests into a live feed land 40 distinct files
    and 40 batches; the summed count equals the ingested rows, and
    pushes arrive in strictly increasing batch order."""
    files = _change_files(sf_smoke, tmp_path, 40, 25)
    r = ChangefeedRunner(spark, sf_smoke, key="user_id")
    pushes = _Pushes()
    r.subscribe(pushes, name="sub")
    src = r.start_live()
    try:
        threads = [threading.Thread(
            target=lambda part: [r.ingest(f) for f in part],
            args=(files[i::4],)) for i in range(4)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(60)
                assert not t.is_alive()
        finally:
            sys.setswitchinterval(interval)
        _wait_until(lambda: r._ptr.batch() == 39)
    finally:
        r.stop_live()
    assert sorted(os.listdir(src)) == [
        f"live-{n:06d}.parquet" for n in range(40)]
    assert r.versions() == list(range(40))
    assert sum(row["cnt"] for row in r.state().collect()) == 40 * 25
    assert pushes.order == list(range(40))


def test_live_batch_runs_one_spark_job(spark, sf_smoke, tmp_path):
    """A live batch below the fold gate runs exactly one Spark job (the
    raw collect), counted through the status tracker."""
    files = _change_files(sf_smoke, tmp_path, 2, 50)
    tracker = spark.sparkContext.statusTracker()
    r = ChangefeedRunner(spark, sf_smoke, key="user_id")
    done = threading.Event()
    r.subscribe(lambda b, rows: b == 1 and done.set(), name="sub")
    r.start_live()
    try:
        r.ingest(files[0])
        _wait_until(lambda: r._ptr.batch() == 0)
        time.sleep(0.5)  # the status store is fed asynchronously
        before = set(tracker.getJobIdsForGroup(None))
        r.ingest(files[1])
        assert done.wait(60)
        _wait_until(lambda: set(tracker.getJobIdsForGroup(None)) - before)
        time.sleep(0.5)  # a second job would show up by now
        new = set(tracker.getJobIdsForGroup(None)) - before
    finally:
        r.stop_live()
    assert len(new) == 1, sorted(new)


def test_live_and_replay_refuse_each_others_root(spark, sf_smoke,
                                                 replayed):
    """run() (or run_phase()) and start_live() number batches from 0
    each, so neither feeds a root the other fed; the error names the
    root."""
    with pytest.raises(RuntimeError, match=replayed.root):
        ChangefeedRunner(spark, sf_smoke, root=replayed.root).start_live()
    live = ChangefeedRunner(spark, sf_smoke)
    live.start_live()
    live.stop_live()
    with pytest.raises(RuntimeError, match=live.root):
        ChangefeedRunner(spark, sf_smoke, root=live.root).run()
    with pytest.raises(RuntimeError, match=live.root):
        run_phase(ChangefeedRunner(spark, sf_smoke, root=live.root), [])


def test_pointer_and_ack_symlinks_and_regular_files_reopen(spark,
                                                            sf_smoke,
                                                            replayed):
    """CURRENT and a subscriber's ack are symlinks whose target is the
    value; the same values written by hand as regular files, as older
    runners wrote them, reopen to the same batch, state and ack."""
    a = replayed
    seen: list[int] = []
    a.subscribe(lambda b, rows: seen.append(b), name="old")
    cur = os.path.join(a.root, "CURRENT")
    ack = os.path.join(a.root, "subscriber-old.ack")
    last = a._ptr.batch()
    assert seen and seen[-1] == last
    assert os.readlink(cur) == f"v{last}"
    assert os.readlink(ack) == str(last)
    state = _rows(a.state())
    for path, value in ((cur, f"v{last}"), (ack, str(last))):
        os.remove(path)
        with open(path, "w") as f:
            f.write(value + "\n")
    b = ChangefeedRunner(spark, sf_smoke, root=a.root)
    assert b._ptr.batch() == last
    assert _rows(b.state()) == state
    again: list[int] = []
    assert b.subscribe(lambda b_, rows: again.append(b_),
                       name="old").acked == last
    assert again == []
    b._ptr.flip(last)
    assert os.readlink(cur) == f"v{last}"


def test_symlink_pointer_to_whole_file_layout_is_refused(spark,
                                                          sf_smoke,
                                                          tmp_path):
    """A CURRENT symlink naming `v3.parquet` (the whole-file layout) is
    refused by root name, as the regular-file form is."""
    import re

    root = tmp_path / "old-root"
    (root / "state").mkdir(parents=True)
    os.symlink("v3.parquet", root / "CURRENT")
    with pytest.raises(RuntimeError, match=re.escape(str(root))):
        ChangefeedRunner(spark, sf_smoke, root=str(root))
