"""Run every workload and print the end-to-end table (and, with
--trace, the per-layer table) with medians and spreads.

    python3 perfbench/suite.py                       # 1 seed, untraced
    python3 perfbench/suite.py --seeds 1-10          # spread over 10 seeds
    python3 perfbench/suite.py --trace               # plus the traced runs
    python3 perfbench/suite.py --seeds 1-10 --curves perfbench/curves

Each run is a separate `run.py` process, one after another.  The
spread of a metric is the distance between the first and third
quartile of its values, as a share of their median.  With --trace,
every seed also gets a traced run; the traced run's own p50 minus the
untraced p50 is printed as the end-to-end cost of tracing, next to
trace.overhead_pct (the wrappers' own measured time).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: numbers of the `e2e:` line that the result line does not carry
E2E_EXTRA = {"p90_ms": "ms", "samples": "count", "peak_rss_mb": "MB",
             "fail_ratio": "ratio", "steal_pct": "pct"}


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    p = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    out, err = p.communicate()
    lines = out.strip().splitlines()
    if not lines:
        sys.exit(f"{workload} seed {seed}: no output\n{err[-2000:]}")
    res = json.loads(lines[-1])
    e2e = next(json.loads(x[5:]) for x in lines if x.startswith("e2e: "))
    curve = os.path.join(ROOT, ".perfbench_out", f"curve-{workload}-seed{seed}"
                         f"-trace{trace}-{p.pid}.json")
    res.update(exit=p.returncode, wall_s=time.time() - t0, e2e=e2e,
               curve=curve)
    return res


def keep_curves(out_dir: str, workload: str, seconds: int,
                runs: list[dict]) -> None:
    """Save every run's per-op latencies (warm-up and window) in one
    compact file per workload."""
    kept = []
    for r in runs:
        with open(r["curve"]) as f:
            c = json.load(f)
        kept.append({
            "seed": c["seed"], "setup_s": round(c["setup_s"], 3),
            "steal_pct": round(c["steal_pct"], 3), "host": c["host"],
            **{f"{ph}_ms": [round(o["ms"], 1) for o in c["ops"]
                            if o["phase"] == ph] for ph in ("warmup", "window")}})
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{workload}.json"), "w") as f:
        json.dump({"workload": workload, "seconds": seconds, "runs": kept},
                  f, indent=1)


def spread(xs: list[float]) -> float:
    if len(xs) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return (q3 - q1) / med if med else float("nan")


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in text.split(",")]


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", type=seeds_arg, default=[1])
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--curves", metavar="DIR",
                    help="also save the untraced runs' per-op curves here")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    failed = False
    for wl in args.workloads.split(","):
        runs = [run_once(wl, s, args.seconds, 0) for s in args.seeds]
        if args.curves:
            keep_curves(args.curves, wl, args.seconds, runs)
        failed |= any(r["exit"] or not r["correct"] for r in runs)
        print(f"\n== {wl}: {len(runs)} runs, exit codes "
              f"{[r['exit'] for r in runs]}, wall "
              f"{[round(r['wall_s']) for r in runs]} s")
        print(f"{'metric':<16}{'unit':<7}{'median':>12}{'spread':>9}"
              f"{'bound':>7}  values")
        for name, m in runs[0]["metrics"].items():
            xs = [r["metrics"][name]["value"] for r in runs]
            print(f"{name:<16}{m['unit']:<7}{statistics.median(xs):>12.4g}"
                  f"{spread(xs):>9.3f}{bounds[name]:>7}  "
                  f"{[round(x, 3) for x in xs]}")
        for name, unit in E2E_EXTRA.items():
            xs = [r["e2e"][name] for r in runs]
            print(f"{name:<16}{unit:<7}{statistics.median(xs):>12.4g}"
                  f"{spread(xs):>9.3f}{'-':>7}  {[round(x, 3) for x in xs]}")
        if not args.trace:
            continue
        traced = [run_once(wl, s, args.seconds, 1) for s in args.seeds]
        failed |= any(r["exit"] or not r["correct"] for r in traced)
        print(f"-- {wl} traced: {len(traced)} runs, per-layer medians")
        for name, m in traced[0]["metrics"].items():
            xs = [r["metrics"][name]["value"] for r in traced]
            if any(xs):
                print(f"{name:<44}{m['unit']:<7}"
                      f"{statistics.median(xs):>12.4g}  "
                      f"{[round(x, 3) for x in xs]}")
        cost = [100.0 * (t["e2e"]["p50_ms"] / u["e2e"]["p50_ms"] - 1)
                for t, u in zip(traced, runs)]
        print(f"{'traced minus untraced p50':<44}{'pct':<7}"
              f"{statistics.median(cost):>12.4g}  "
              f"{[round(x, 2) for x in cost]}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
