"""What every workload shares: process isolation, the Spark session,
the closed-loop timer with its failure rules, and the statistics and
counters the result line reports."""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import sys
import time
import traceback

#: an op slower than this counts as failed (it is still waited for)
OP_TIMEOUT_S = 60.0
#: the driver JVM's heap, fixed in size (SPARK_GRAFT_DRIVER_MEM is the
#: maximum, -Xms the start); both workloads peak under 2.9 GB resident
DRIVER_HEAP_GB = 2


class CheckFailed(Exception):
    """An op's output differs from the reference computation."""


def proc_start_wall() -> float:
    """Wall-clock time this process was started, from /proc: the
    interpreter's own start-up counts towards set-up time."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def isolate(run_dir: str) -> dict:
    """Point every scratch location of Python, the JVM and the engine
    into `run_dir`, so runs share no warm state (replay-chunk cache,
    MVCC roots, Spark local dirs) and write nothing outside it.
    Returns the facts about the host the result should record."""
    dirs = {k: os.path.join(run_dir, k)
            for k in ("state", "spark-local", "tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    ncpu = len(os.sched_getaffinity(0))
    heap = f"{DRIVER_HEAP_GB}g"
    os.environ.update({
        "SPARK_GRAFT_TMP": dirs["state"],
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "TMPDIR": dirs["tmp"],
        # the JVM's own temp files and perf-data file would otherwise
        # land in /tmp; the warehouse dir defaults to the cwd.  The
        # heap starts at its maximum: a heap the collector resizes as
        # it goes made whole runs 10-20% faster or slower than others
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Djava.io.tmpdir={dirs["tmp"]} '
            f'-XX:-UsePerfData -Xms{heap}" --conf spark.sql.warehouse.dir='
            f'{dirs["warehouse"]} --conf spark.ui.showConsoleProgress=false '
            'pyspark-shell'),
    })
    import pyspark

    fs = subprocess.run(["stat", "-f", "-c", "%T", run_dir],
                        capture_output=True, text=True).stdout.strip()
    return {"nproc": ncpu, "scratch_fs": fs or "unknown", "heap": heap,
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0]}


class Session:
    """The SparkSession plus the process-level counters read from
    outside the engine: Spark job ids and peak resident memory."""

    def __init__(self, tracer):
        from db_realtime_changefeed_spark.session import get_spark

        self.spark = tracer.call("session.start", get_spark,
                                 ("perfbench",), {})
        self.sc = self.spark.sparkContext
        self._jvm = self.sc._gateway.proc
        self._store = self.sc._jsc.sc().statusStore()

    def max_job_id(self) -> int:
        """The highest job id the status store holds, whatever the
        job's group or tags (the status tracker lists jobs by group, so
        a job run under a job group would not show in the no-group
        list).  The store lists jobs newest first."""
        jobs = self._store.jobsList(None)
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def peak_rss_mb(self) -> float:
        """Peak resident set (VmHWM) of the driver JVM plus this
        Python process."""
        total_kb = 0
        for pid in ("self", str(self._jvm.pid)):
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(int(line.split()[1]) for line in f
                                 if line.startswith("VmHWM"))
        return total_kb / 1024.0

    def stop(self) -> None:
        """Stop Spark and wait until the JVM has exited."""
        self.spark.stop()
        gw = self.sc._gateway
        gw.shutdown()
        self._jvm.stdin.close()
        try:
            self._jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self._jvm.kill()
            self._jvm.wait()


class OpLog:
    """Closed-loop op timer.  An op fails if it raises, if its
    check fails, if it takes longer than OP_TIMEOUT_S, or if it ran
    no Spark job (a memoized result would otherwise time a cache
    hit)."""

    def __init__(self, session: Session, tracer):
        self.session = session
        self.tracer = tracer
        self.records: list[dict] = []

    def run(self, op, index: int, phase: str, **tags) -> dict:
        self.tracer.op_id = index
        j0 = self.session.max_job_id()
        t0 = time.perf_counter()
        err = None
        try:
            op()
        except CheckFailed as e:
            err = f"check: {e}"
        except Exception as e:  # an op that raises is a failed op
            err = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        t1 = time.perf_counter()
        jobs = self.session.max_job_id() - j0
        # the status store is fed asynchronously by the listener bus:
        # give a job that already ran time to show up
        deadline = time.perf_counter() + 1.0
        while jobs <= 0 and err is None and time.perf_counter() < deadline:
            time.sleep(0.01)
            jobs = self.session.max_job_id() - j0
        if err is None and jobs <= 0:
            err = "no Spark job ran (memoized result?)"
        if err is None and t1 - t0 > OP_TIMEOUT_S:
            err = f"timeout: {t1 - t0:.1f}s"
        self.tracer.op_id = None
        rec = {"i": index, "phase": phase, "start": t0, "end": t1,
               "ms": (t1 - t0) * 1e3, "jobs": jobs, "error": err, **tags}
        if err is not None:
            print(f"op {index} failed: {err}", file=sys.stderr)
        self.records.append(rec)
        return rec

    def phase(self, phase: str) -> list[dict]:
        return [r for r in self.records if r["phase"] == phase]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat.
    Steal is time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in 0..100)."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# ---- result comparison ----
def same_rows(cols_a, rows_a, cols_b, rows_b) -> str | None:
    """Order-insensitive, exact comparison of two results, columns
    matched by name, through the repository's oracle canonicalization
    (tests/oracle_harness.py).  Returns None when equal, else a short
    reason."""
    from tests.oracle_harness import canon_frame

    ca, a = canon_frame(list(cols_a), rows_a)
    cb, b = canon_frame(list(cols_b), rows_b)
    if ca != cb:
        return f"columns {ca} != {cb}"
    if len(a) != len(b):
        return f"{len(a)} rows != {len(b)} rows"
    return next((f"row {ra} != {rb}" for ra, rb in zip(a, b) if ra != rb),
                None)
