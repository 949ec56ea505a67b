"""The live worker (replay.LiveWorker) of every live runner family —
ChangefeedRunner, MaintainedViewsRunner and MultiTableChangefeedRunner
here: each ingested file commits as its own batch (batch id = file
sequence) through the same merge and batch driver as a replay, with no
streaming query. Covers concurrent ingests, restarts of a live feed and
of a replay after a crash at each commit step, worker errors, the one
Spark job per batch, the refusal to mix live and replay feeds on one
root, and the symlink CURRENT and ack pointers next to the regular
files older runners wrote."""

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
from db_realtime_changefeed_spark.streaming.multitable import (
    MultiTableChangefeedRunner,
)
from db_realtime_changefeed_spark.streaming.replay import drop_live_file
from db_realtime_changefeed_spark.streaming.state_store import (
    BucketedMvccState,
    VersionPointer,
)
from db_realtime_changefeed_spark.streaming.views import (
    MaintainedViewsRunner,
)

N_FILES = 4
FAMILIES = ("changefeed", "views", "multitable")
#: the table each family's change files come from
_TABLE = {"changefeed": "events", "views": "events",
          "multitable": "orders"}


def _runner(family, spark, sf, root=None):
    if family == "changefeed":
        return ChangefeedRunner(spark, sf, key="user_id", root=root)
    if family == "views":
        return MaintainedViewsRunner(spark, sf, root=root)
    return MultiTableChangefeedRunner(spark, sf, tables=("orders",),
                                      root=root)


def _ingest(family, r, src) -> None:
    """Ingest one change file of the family's table."""
    if family == "multitable":
        r.ingest("orders", src)
    else:
        r.ingest(src)


def _outputs(family, r) -> tuple:
    """What an interrupted and a clean run of a family must agree on."""
    if family == "views":
        return (_rows(r.agg_trajectory()), _rows(r.delta_log()),
                _rows(r.topk_log()))
    return _rows(r.state()), _rows(r.log())


def _change_files(sf, tmp_path, n: int, rows: int,
                  table: str = "events") -> list[str]:
    """`n` change files of `rows` consecutive rows of `table` each."""
    t = pq.read_table(os.path.join(sf, f"{table}.parquet"))
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
    # by repr: rows may hold NULLs, which do not order
    return sorted(map(tuple, df.collect()), key=repr)


class _Pushes:
    """A push subscriber's record: {batch_id: rows}, and the order in
    which batch ids arrived."""

    def __init__(self):
        self.order: list[int] = []
        self.rows: dict[int, list] = {}

    def __call__(self, batch_id, rows):
        self.order.append(batch_id)
        self.rows[batch_id] = sorted(tuple(sorted(r.items())) for r in rows)


def _opened(family, spark, sf, pushes, root=None):
    """A runner on a fresh root, or reopened over `root`, subscribed
    when the family pushes."""
    r = _runner(family, spark, sf, root)
    if family != "views":
        r.subscribe(pushes, name="sub")
    return r


def _live_run(family, spark, sf, files, src, pushes, root=None):
    """Start a live runner over `files`, dropped before start_live on a
    fresh root (they commit when the worker starts), subscribed when
    the family pushes, and wait until every file committed or the
    worker stopped. Returns the runner, still live."""
    r = _opened(family, spark, sf, pushes, root)
    if family == "multitable":
        if root is None:
            for f in files:
                r.ingest("orders", f)
        r.start_live()
    else:
        if root is None:
            _dropped(files, src)
        r.start_live(source_dir=str(src))
    _wait_until(lambda: r.committed_batch() == len(files) - 1
                or not r._live._thread.is_alive())
    return r


def _dropped(files, src):
    """A source dir holding `files` as live-<seq> files."""
    src.mkdir()
    for f in files:
        drop_live_file(str(src), f)
    return src


@pytest.fixture(scope="module")
def clean_runs(spark, sf_smoke, tmp_path_factory):
    """Per family and mode, on first use: the change files (live
    mode), the batch count, and the outputs and pushes of an
    uninterrupted live run or run()."""
    runs = {}

    def get(family, mode="live"):
        if (family, mode) not in runs:
            pushes = _Pushes()
            if mode == "live":
                tmp = tmp_path_factory.mktemp(f"clean-{family}")
                files = _change_files(sf_smoke, tmp, N_FILES, 60,
                                      _TABLE[family])
                r = _live_run(family, spark, sf_smoke, files,
                              tmp / "src", pushes)
                r.stop_live()
            else:
                files = None
                r = _opened(family, spark, sf_smoke, pushes)
                r.run()
            runs[family, mode] = (files, r.committed_batch() + 1,
                                  _outputs(family, r), pushes)
        return runs[family, mode]
    return get


@pytest.fixture(scope="module")
def replayed(spark, sf_smoke):
    """A runner fed by run()."""
    r = ChangefeedRunner(spark, sf_smoke)
    r.run()
    return r


def _is_views_base(store) -> bool:
    return os.path.basename(store.root) == "base"


#: family -> crash point -> (owner, method, which stores crash). A
#: views batch commits when its base store publishes, after the view
#: stores: that publish is its flip.
_CRASHES = {
    "changefeed": {
        "after_stage": (BucketedMvccState, "stage_tables", None),
        "after_publish": (BucketedMvccState, "publish", None),
        "after_flip": (VersionPointer, "flip", None),
    },
    "views": {
        "after_stage": (BucketedMvccState, "stage_tables", None),
        "after_publish": (BucketedMvccState, "publish", None),
        "after_flip": (BucketedMvccState, "publish", _is_views_base),
    },
    "multitable": {
        "after_stage": (BucketedMvccState, "stage", None),
        "after_publish": (BucketedMvccState, "publish", None),
        "after_flip": (VersionPointer, "flip", None),
    },
}


@pytest.mark.parametrize("mode,family,point", [
    pytest.param(mode, family, point,
                 id=("" if mode == "live" else "replay-")
                 + (point if family == "changefeed"
                    else f"{family}-{point}"))
    for mode in ("live", "replay") for family in FAMILIES
    for point in _CRASHES[family]])
def test_live_restart_after_crash_point_matches_clean_run(
        spark, sf_smoke, clean_runs, tmp_path, monkeypatch, mode,
        family, point):
    """A live worker, or a run(), that dies at batch 2 after staging,
    after a publish() but before the commit point, or after the commit
    point (the CURRENT flip; a views batch's base publish) but before
    the push, is restarted over the same root (and source dir): the
    final state, the changelog and the delivered batches equal an
    uninterrupted run's, each batch delivered once, and the restart
    merges only the batches after the committed one."""
    files, n, want, want_pushes = clean_runs(family, mode)
    owner, attr, crashes = _CRASHES[family][point]
    real = getattr(owner, attr)

    def crash(self, batch_id, *args):
        real(self, batch_id, *args)
        if batch_id == 2 and (crashes is None or crashes(self)):
            raise OSError(f"injected crash {point}")

    monkeypatch.setattr(owner, attr, crash)
    pushes = _Pushes()
    src = tmp_path / "src"
    if mode == "live":
        a = _live_run(family, spark, sf_smoke, files, src, pushes)
        a._live._thread.join(60)
        assert not a._live._thread.is_alive()
        with pytest.raises(RuntimeError, match="live batch 2") as err:
            a.stop_live()
        assert point in str(err.value.__cause__)
    else:
        a = _opened(family, spark, sf_smoke, pushes)
        with pytest.raises(OSError, match=point):
            a.run()
    monkeypatch.setattr(owner, attr, real)
    committed = a.committed_batch()
    merged = []
    merge = type(a)._merge_batch

    def recorded(self, batch_df, batch_id):
        merged.append(batch_id)
        merge(self, batch_df, batch_id)

    monkeypatch.setattr(type(a), "_merge_batch", recorded)

    if mode == "live":
        b = _live_run(family, spark, sf_smoke, files, src, pushes,
                      root=a.root)
        b.stop_live()
    else:
        b = _opened(family, spark, sf_smoke, pushes, root=a.root)
        b.run()
    # the restart resumes after the committed batch, re-merging none
    assert merged == list(range(committed + 1, n))
    assert _outputs(family, b) == want
    if family != "views":
        assert pushes.order == list(range(n))
        assert pushes.rows == want_pushes.rows


def test_catch_up_and_poll_stop_at_the_committed_batch(
        spark, sf_smoke, clean_runs, tmp_path, monkeypatch):
    """A worker that dies after stage_tables of batch 2 leaves batch
    2's changelog dir behind an uncommitted CURRENT (v1). Over the
    reopened root a fresh subscriber catches up on [0, 1] only and a
    cursor polls no batch-2 rows; once the batch recommits, batch 2
    arrives once on both."""
    from db_realtime_changefeed_spark.api import Cursor

    files, _n, (_state, want_log), want_pushes = clean_runs("changefeed")
    real = BucketedMvccState.stage_tables

    def crash(self, batch_id, *args):
        real(self, batch_id, *args)
        if batch_id == 2:
            raise OSError("injected crash after_stage")

    monkeypatch.setattr(BucketedMvccState, "stage_tables", crash)
    src = _dropped(files, tmp_path / "src")
    a = ChangefeedRunner(spark, sf_smoke, key="user_id")
    a.start_live(source_dir=str(src))
    a._live._thread.join(60)
    assert not a._live._thread.is_alive()
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


@pytest.mark.parametrize("family", FAMILIES)
def test_live_worker_error_surfaces_from_ingest_and_stop(
        spark, sf_smoke, tmp_path, family):
    """A batch that cannot be read stops the worker; the next ingest()
    (which then drops nothing) and stop_live() raise, naming it."""
    good = _change_files(sf_smoke, tmp_path, 1, 20, _TABLE[family])[0]
    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"not parquet")
    r = _runner(family, spark, sf_smoke)
    src = r.start_live()
    _ingest(family, r, good)
    # past a table feed's ingest(), which would read it first
    r._live.ingest(str(bad))
    r._live._thread.join(60)
    assert not r._live._thread.is_alive()
    assert r.committed_batch() == 0
    with pytest.raises(RuntimeError, match="live batch 1"):
        _ingest(family, r, good)
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


def _second_batch_jobs(spark, r, files) -> set:
    """The Spark jobs that a live runner's second batch ran, counted
    through the status tracker."""
    tracker = spark.sparkContext.statusTracker()
    r.start_live()
    try:
        r.ingest(files[0])
        assert r.drain(60)
        time.sleep(0.5)  # the status store is fed asynchronously
        before = set(tracker.getJobIdsForGroup(None))
        r.ingest(files[1])
        assert r.drain(60)
        _wait_until(lambda: set(tracker.getJobIdsForGroup(None)) - before)
        time.sleep(0.5)  # a second job would show up by now
        return set(tracker.getJobIdsForGroup(None)) - before
    finally:
        r.stop_live()


def test_live_batch_runs_one_spark_job(spark, sf_smoke, tmp_path):
    """A live batch below the fold gate runs exactly one Spark job (the
    raw collect), counted through the status tracker."""
    files = _change_files(sf_smoke, tmp_path, 2, 50)
    new = _second_batch_jobs(
        spark, ChangefeedRunner(spark, sf_smoke, key="user_id"), files)
    assert len(new) == 1, sorted(new)


def test_live_views_batch_runs_one_spark_job(spark, sf_smoke, tmp_path):
    """A live maintained-views batch below the fold gate runs exactly
    one Spark job (the fold's collect of the batch and base rows)."""
    files = _change_files(sf_smoke, tmp_path, 2, 50)
    new = _second_batch_jobs(spark, MaintainedViewsRunner(spark, sf_smoke),
                             files)
    assert len(new) == 1, sorted(new)


@pytest.mark.parametrize("family", FAMILIES)
def test_live_and_replay_refuse_each_others_root(spark, sf_smoke,
                                                 replayed, family):
    """run() (or run_phase()) and start_live() number batches from 0
    each, so neither feeds a root the other fed; the error names the
    root."""
    if family == "changefeed":
        fed = replayed
    else:
        fed = _runner(family, spark, sf_smoke)
        fed.run()
    with pytest.raises(RuntimeError, match=fed.root):
        _runner(family, spark, sf_smoke, root=fed.root).start_live()
    live = _runner(family, spark, sf_smoke)
    live.start_live()
    live.stop_live()
    with pytest.raises(RuntimeError, match=live.root):
        _runner(family, spark, sf_smoke, root=live.root).run()
    if family == "changefeed":
        with pytest.raises(RuntimeError, match=live.root):
            run_phase(ChangefeedRunner(spark, sf_smoke, root=live.root),
                      [])


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
