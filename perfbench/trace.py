"""Per-layer tracing from outside the engine.

The benchmark does not edit the program: it wraps the public
functions of each layer module with span recorders at run time.
A span is (name, start, end, thread, op id, parent, counts).  Spans
stay in memory; `Tracer.dump` writes them out when the run ends.

Every wrapper also times its own bookkeeping (the part of the wrapper
outside the wrapped call, including the footer reads that count
staged rows), so the cost tracing adds is measured, not guessed.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time

from harness import median

PKG = "db_realtime_changefeed_spark"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.op_id: int | None = None
        self._ids = itertools.count(1)
        self.overhead_s = 0.0
        self._local = threading.local()
        self._overhead_lock = threading.Lock()

    # ---- recording ----
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _add_overhead(self, dt: float) -> None:
        with self._overhead_lock:
            self.overhead_s += dt

    def call(self, name: str, fn, args, kwargs, counts=None, batch=None):
        """Run fn(*args, **kwargs) inside a span called `name`.
        `counts(args, kwargs, result)` may return a dict of counts to
        attach; `batch` is the batch id the call serves, if known."""
        w0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
        extra = counts(args, kwargs, result) if counts else None
        self.spans.append((name, t0, t1, threading.get_ident(), self.op_id,
                           batch, sid, parent, extra))
        self._add_overhead((t0 - w0) + (time.perf_counter() - t1))
        return result

    def span(self, name: str):
        """Context manager form, for spans the benchmark opens around
        its own calls into a layer (e.g. a read plus its collect)."""
        return _Span(self, name)

    # ---- installation ----
    def wrap(self, owner, attr: str, name: str, counts=None,
             batch_arg: int | None = None) -> None:
        """Replace owner.attr by a traced wrapper.  For a function
        that other modules imported by name, every module attribute
        holding the same object is replaced too."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            batch = None
            if batch_arg is not None and len(args) > batch_arg:
                batch = args[batch_arg]
            return tracer.call(name, orig, args, kwargs, counts, batch)

        setattr(owner, attr, traced)
        if not isinstance(owner, type):
            for mod in list(sys.modules.values()):
                if (getattr(mod, "__name__", "").startswith(PKG)
                        and getattr(mod, attr, None) is orig):
                    setattr(mod, attr, traced)

    def dump(self, path: str) -> None:
        """Write every span as one JSON line, with its self time: its
        duration minus the part of it that its child spans cover."""
        children: dict[int, list] = {}
        for s in self.spans:
            children.setdefault(s[7], []).append((s[1], s[2]))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for name, t0, t1, tid, op, batch, sid, parent, extra in self.spans:
                self_s = (t1 - t0) - _covered(
                    [(max(a, t0), min(b, t1)) for a, b in children.get(sid, ())
                     if min(b, t1) > max(a, t0)])
                f.write(json.dumps({
                    "name": name, "start": t0, "end": t1, "self_s": self_s,
                    "thread": tid, "op": op, "batch": batch, "id": sid,
                    "parent": parent, "counts": extra}) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        w0 = time.perf_counter()
        stack = self.tracer._stack()
        self.parent = stack[-1] if stack else None
        self.sid = next(self.tracer._ids)
        stack.append(self.sid)
        self.t0 = time.perf_counter()
        self.tracer._add_overhead(self.t0 - w0)
        return self

    def __exit__(self, *exc):
        t1 = time.perf_counter()
        self.tracer._stack().pop()
        self.tracer.spans.append((self.name, self.t0, t1,
                                  threading.get_ident(), self.tracer.op_id,
                                  None, self.sid, self.parent, None))
        self.tracer._add_overhead(time.perf_counter() - t1)
        return False


class NullTracer:
    """Stand-in when tracing is off: spans cost one attribute lookup."""

    op_id = None

    def span(self, name: str):
        return _NULL_SPAN

    def call(self, name, fn, args, kwargs, counts=None, batch=None):
        return fn(*args, **kwargs)


class _NullSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL_SPAN = _NullSpan()


# ---- counts gathered at layer boundaries ----
def _staged_counts(args, kwargs, result):
    """Files, bytes and rows a state_store.stage() call wrote, read
    from its private tmp dir before publish() moves it."""
    import pyarrow.parquet as pq

    store, batch_id = args[0], args[1]
    tmp = os.path.join(store.root, f"tmp-v{batch_id}")
    files = nbytes = rows = 0
    for base, _dirs, names in os.walk(tmp):
        for n in names:
            p = os.path.join(base, n)
            files += 1
            nbytes += os.path.getsize(p)
            if n.endswith(".parquet"):
                rows += pq.read_metadata(p).num_rows
    return {"files": files, "bytes": nbytes, "rows": rows}


def _footer_counts(args, kwargs, result):
    d = args[1]
    n = len([f for f in os.listdir(d) if f.endswith(".parquet")]) \
        if os.path.isdir(d) else 0
    return {"footers": n}


def _delivered_counts(args, kwargs, result):
    return {"rows": len(args[2]) if result else 0}


def install(tracer: Tracer) -> None:
    """Wrap the public functions of every layer the benchmark
    attributes time to.  Call after the engine's modules are
    imported (the query registry imports them all)."""
    from db_realtime_changefeed_spark import api, catalog
    from db_realtime_changefeed_spark.streaming import (
        changefeed, push, replay, state_store, statefs, views)

    tracer.wrap(replay, "build_replay_chunks", "replay.build_chunks")
    tracer.wrap(api.TableRef, "changes", "api.register")
    tracer.wrap(api.TableRef, "views", "api.register")
    tracer.wrap(changefeed.ChangefeedRunner, "ingest", "changefeed.ingest")
    st = state_store.BucketedMvccState
    tracer.wrap(st, "touched_buckets", "state_store.touched")
    # stage's tmp dir is complete when stage returns: count it then
    tracer.wrap(st, "stage", "state_store.stage", counts=_staged_counts,
                batch_arg=1)
    tracer.wrap(st, "publish", "state_store.publish", batch_arg=1)
    tracer.wrap(st, "df_at", "state_store.df_at")
    tracer.wrap(st, "bucket_counts", "state_store.bucket_counts")
    tracer.wrap(statefs.LocalStateFS, "parquet_row_counts",
                "state_store.footers", counts=_footer_counts)
    tracer.wrap(push, "read_batch_log", "push.read_log")
    tracer.wrap(push.Subscriber, "deliver", "push.deliver",
                counts=_delivered_counts, batch_arg=1)
    tracer.wrap(views.MaintainedViewsRunner, "run", "views.register")
    tracer.wrap(views.RangeBucketedIndex, "between", "views.between")
    tracer.wrap(catalog, "load_table", "catalog.load_table")


# ---- per-layer metrics of a traced run ----
STORE_CALLS = ("state_store.touched", "state_store.stage",
               "state_store.publish", "state_store.df_at",
               "state_store.bucket_counts")


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def layer_metrics(tracer: Tracer, records: list[dict],
                  overhead_s: float) -> dict:
    """The per-layer values of one traced run, by metric name.  Set-up
    metrics are totals in seconds; per-op metrics average each op's
    total over the timed window's ops that reached the layer."""
    window = [r for r in records if r["phase"] == "window"]
    by_op: dict[int, list[tuple]] = {}
    for s in tracer.spans:
        by_op.setdefault(s[4], []).append(s)

    def setup_total(name):
        return sum(s[2] - s[1] for s in by_op.get(None, ()) if s[0] == name)

    per_op: dict[str, list[float]] = {}
    reached: set[str] = set()

    def add(key, value):
        # an op's value counts towards a layer's average only if the op
        # reached that layer, so a read mix reports each layer's cost
        # per call-site op; spark.* covers every op
        layer = key.split(".")[0]
        if layer == "spark" or layer in reached:
            per_op.setdefault(key, []).append(value)

    delivered = staged = 0
    for r in window:
        spans = by_op.get(r["i"], [])
        reached = {s[0].split(".")[0] for s in spans}
        ms: dict[str, float] = {}
        n: dict[str, int] = {}
        counts: dict[str, int] = {}
        for name, t0, t1, _tid, _op, _b, _sid, _par, extra in spans:
            ms[name] = ms.get(name, 0.0) + (t1 - t0) * 1e3
            n[name] = n.get(name, 0) + 1
            for k, v in (extra or {}).items():
                counts[f"{name}.{k}"] = counts.get(f"{name}.{k}", 0) + v
        for name in ("api.read", "changefeed.ingest", "state_store.touched",
                     "state_store.stage", "state_store.publish",
                     "state_store.df_at", "state_store.bucket_counts",
                     "push.read_log", "push.deliver", "views.between",
                     "catalog.load_table", "queries.build", "queries.exec"):
            add(f"{name}_ms", ms.get(name, 0.0))
        add("state_store.calls_per_op", sum(n.get(c, 0) for c in STORE_CALLS))
        add("state_store.files_written_per_op",
            counts.get("state_store.stage.files", 0))
        add("state_store.bytes_written_per_op",
            counts.get("state_store.stage.bytes", 0))
        add("state_store.footers_read_per_op",
            counts.get("state_store.footers.footers", 0))
        add("push.rows_per_op", counts.get("push.deliver.rows", 0))
        add("catalog.load_table_calls_per_op", n.get("catalog.load_table", 0))
        staged += counts.get("state_store.stage.rows", 0)
        delivered += counts.get("push.deliver.rows", 0)
        # pre-fold: end of ingest to the batch's first state_store call
        intervals = [(max(s[1], r["start"]), min(s[2], r["end"]))
                     for s in spans]
        ingest_end = max((s[2] for s in spans
                          if s[0] == "changefeed.ingest"), default=None)
        first_store = min((s[1] for s in spans if s[0] in STORE_CALLS
                           and ingest_end is not None and s[1] >= ingest_end),
                          default=None)
        pre_fold = 0.0
        if first_store is not None:
            pre_fold = (first_store - ingest_end) * 1e3
            intervals.append((ingest_end, first_store))
        add("changefeed.pre_fold_ms", pre_fold)
        add("spark.jobs_per_op", r["jobs"])
        add("spark.unattributed_ms",
            r["ms"] - _covered([iv for iv in intervals if iv[1] > iv[0]]) * 1e3)

    out = {
        "session.start_s": setup_total("session.start"),
        "replay.build_chunks_s": setup_total("replay.build_chunks"),
        "api.register_s": setup_total("api.register"),
        "views.register_s": setup_total("views.register"),
        "state_store.rows_written_per_changed_row":
            staged / delivered if delivered else 0.0,
        "trace.overhead_pct":
            100.0 * overhead_s / sum(r["ms"] / 1e3 for r in window),
    }
    # the job count is a median so one late listener event cannot blur it
    out.update((key, sum(v) / len(v)) for key, v in per_op.items())
    out["spark.jobs_per_op"] = median(per_op.get("spark.jobs_per_op", []))
    return out
