"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload feed_live --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository.  The run builds
its inputs from --seed, sets up the workload through the public API
of `db_realtime_changefeed_spark`, warms it up, times a fixed number
of closed-loop ops that take about --seconds at the workload's nominal
op cost, checks every op's output, and prints one JSON object:
with --trace 0 the end-to-end metrics, with --trace 1 the per-layer
metrics of a run whose layer functions are wrapped with span
recorders.  It exits non-zero if any op failed or any check did not
hold.  All scratch state lives in a fresh directory under
.perfbench_run/ that is removed at exit; warm-up curves and spans are
kept under .perfbench_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "db_realtime_changefeed_spark"
WORKLOADS = ("feed_live", "view_reads")
#: a window that runs past this many times --seconds is cut short, so
#: that a much slower engine still ends in time
WINDOW_CAP = 3


def window_ops(wl, seconds: float) -> int:
    """The number of timed ops: --seconds at the workload's nominal op
    cost, in whole blocks of its read mix.  The count does not depend
    on how fast the run goes, so the two sides of a comparison time
    the same op indices (a feed's batches keep getting cheaper as the
    JVM warms, so a faster run that timed more of them would also
    time cheaper ones)."""
    return max(1, round(seconds / wl.op_s / wl.block)) * wl.block


def _workload(name: str):
    if name == "feed_live":
        from feed_live import FeedLive
        return FeedLive
    from view_reads import ViewReads
    return ViewReads


class Context:
    """What a workload's set-up gets: its scratch dir, the seed, the
    SparkSession and the tracer."""

    def __init__(self, run_dir, seed, spark, tracer):
        self.run_dir, self.seed, self.spark, self.tracer = (
            run_dir, seed, spark, tracer)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"{PKG} not found under {ROOT}: run from a checkout of the "
              "repository", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from harness import isolate, proc_start_wall

    t_proc = proc_start_wall()
    run_dir = os.path.join(ROOT, ".perfbench_run",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        host = isolate(run_dir)
        return _run(args, run_dir, t_proc, host)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir, t_proc, host) -> int:
    from harness import OpLog, Session, cpu_ticks, median, percentile
    from trace import NullTracer, Tracer, install, layer_metrics

    tracer = Tracer() if args.trace else NullTracer()
    if args.trace:
        from db_realtime_changefeed_spark.queries import load_all

        load_all()  # import every module before wrapping by identity
        install(tracer)
    session = Session(tracer)
    ctx = Context(run_dir, args.seed, session.spark, tracer)
    log = OpLog(session, tracer)
    wl = None
    final_err = None
    try:
        wl = _workload(args.workload)(ctx)
        tag = getattr(wl, "tag", lambda i: {})
        for i in range(wl.warmup_ops):
            log.run(lambda: wl.op(i), i, "warmup", **tag(i))
        setup_s = time.time() - t_proc
        overhead0 = getattr(tracer, "overhead_s", 0.0)
        steal0 = cpu_ticks()
        t0 = time.perf_counter()
        for i in range(wl.warmup_ops,
                       wl.warmup_ops + window_ops(wl, args.seconds)):
            rec = log.run(lambda: wl.op(i), i, "window", **tag(i))
            if rec["error"] and rec["error"].startswith("check: batch"):
                break  # a lost feed batch leaves later ops meaningless
            if time.perf_counter() - t0 >= WINDOW_CAP * args.seconds:
                break
        overhead = getattr(tracer, "overhead_s", 0.0) - overhead0
        steal1 = cpu_ticks()
        try:
            wl.finish()
        except Exception as e:  # reported, and fails the run
            final_err = f"{type(e).__name__}: {e}"
        peak_rss = session.peak_rss_mb()
    finally:
        if wl is not None:
            wl.close()
        session.stop()

    window = log.phase("window")
    lat = [r["ms"] for r in window]
    wall = window[-1]["end"] - window[0]["start"]
    failed = sum(1 for r in log.records if r["error"])
    attempted = len(log.records)
    correct = failed == 0 and final_err is None
    e2e = {"setup_s": setup_s, "p50_ms": median(lat),
           "p90_ms": percentile(lat, 90), "ops_per_s": len(window) / wall,
           "peak_rss_mb": peak_rss}
    # steal: the share of the host's CPU time taken by other machines
    # during the timed window, to tell a slow host from a slow engine
    steal = 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    with open(os.path.join(out_dir, f"curve-{stem}.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "seconds": args.seconds, "host": host,
                   "setup_s": setup_s, "steal_pct": steal,
                   "ops": [{k: r[k] for k in r if k not in ("start", "end")}
                           for r in log.records]}, f, indent=0)
    # the metric names and units are BENCHMARK.json's; a layer this
    # workload never calls reports 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        tracer.dump(os.path.join(out_dir, f"spans-{stem}.jsonl"))
        values = layer_metrics(tracer, log.records, overhead)
        names = spec["per_layer"]
    else:
        values = e2e
        names = spec["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0),
                           "unit": m["unit"]} for m in names}
    # p90, its sample count, peak memory and fail_ratio ride on this
    # line: the result line carries only the metrics BENCHMARK.json names
    print("host: " + json.dumps(host))
    print("e2e: " + json.dumps({**e2e, "fail_ratio": failed / attempted,
                                "samples": len(lat), "steal_pct": steal}))
    if final_err:
        print(f"final check failed: {final_err}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
