"""Shared pieces of the benchmark: statistics, the environment record, the
bare codecs kernel, the Spark job census and peak memory."""

from __future__ import annotations

import multiprocessing as mp
import os
import resource
import statistics
import time

PERCENTILES = (50, 66, 75, 90, 95, 99, 99.9)


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(round(p / 100.0 * len(s) + 0.5)) - 1))
    return float(s[k])


def latency_summary(xs: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples beyond
    it, with the sample count."""
    out = {"n": len(xs), "p50": median(xs)}
    tail = [p for p in PERCENTILES if p > 50 and len(xs) * (1 - p / 100.0) >= 10]
    if tail:
        out[f"p{tail[-1]:g}"] = percentile(xs, tail[-1])
    return out


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_steal() -> int:
    """Steal ticks summed over all CPUs, from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


class EnvRecord:
    """nproc, loadavg before and after, and the CPU-steal delta of one run."""

    def __init__(self) -> None:
        self.load_before = os.getloadavg()
        self.steal_before = _cpu_steal()
        self.t0 = time.time()

    def finish(self, kernel: dict) -> dict:
        return {
            "nproc": nproc(),
            "loadavg_before": [round(x, 2) for x in self.load_before],
            "loadavg_after": [round(x, 2) for x in os.getloadavg()],
            "steal_ticks": _cpu_steal() - self.steal_before,
            "wall_s": round(time.time() - self.t0, 2),
            "kernel_rows_per_s": kernel,
        }


# ----------------------------------------------------------- codecs kernel


def _payload(lo_hi_seed):
    from newscrawler_spark import datagen

    lo, hi, seed = lo_hi_seed
    out = []
    for i in range(lo, hi):
        _id, data, w, h, fmt, _caption, phash = datagen.payload_row(i, seed)
        out.append((i, data, w, h, fmt, phash))
    return out


def _kernel(args) -> int:
    """The fetch UDF's per-row work with no Spark: decode, compare against
    the expected pixels (PSNR for the lossy format), perceptual hash."""
    import numpy as np

    from newscrawler_spark import codecs, datagen

    rows, seed = args
    n_ok = 0
    for i, data, w, h, fmt, phash in rows:
        arr = codecs.decode(data, fmt)
        if arr.shape[1] != w or arr.shape[0] != h:
            continue
        exp = datagen.expected_pixels(i, seed)
        if fmt == "qpng":
            if codecs.psnr(exp, arr) < 40.0:
                continue
        elif not np.array_equal(exp, arr):
            continue
        n_ok += codecs.average_phash(arr) == phash
    return n_ok


def kernel_rows_per_s(n_rows: int, seed: int, reps: int = 2) -> dict:
    """Bare decode + validate + phash rows/s over payload rows 0..n_rows-1
    at 1 and at nproc worker processes (best of ``reps`` at each level).
    Payload bytes are made once, outside the timer."""
    import numpy  # noqa: F401  imported before the fork, so workers share it

    from newscrawler_spark import codecs, datagen  # noqa: F401

    workers = nproc()
    # fork, not spawn: this runs before the JVM starts, and a forked worker
    # needs no fresh interpreter and imports
    ctx = mp.get_context("fork")
    with ctx.Pool(workers) as pool:
        step = max(1, n_rows // workers)
        rows = [r for part in pool.map(_payload, [(lo, min(lo + step, n_rows), seed)
                                                  for lo in range(0, n_rows, step)])
                for r in part]
        chunks = [(rows[i::workers * 4], seed) for i in range(workers * 4)]
        best_n = 0.0
        for _ in range(reps):
            t0 = time.perf_counter()
            ok = sum(pool.map(_kernel, chunks, chunksize=1))
            best_n = max(best_n, len(rows) / (time.perf_counter() - t0))
    best_1 = 0.0
    for _ in range(reps):
        t0 = time.perf_counter()
        ok1 = _kernel((rows, seed))
        best_1 = max(best_1, len(rows) / (time.perf_counter() - t0))
    if ok != ok1 or ok1 == 0:
        raise RuntimeError(f"codecs kernel disagrees with itself: {ok} vs {ok1}")
    return {"1": round(best_1, 1), str(workers): round(best_n, 1)}


# -------------------------------------------------------- reference job


def reference_s(spark, workdir: str) -> float:
    """Wall of a fixed Spark job mix that runs no program code: a parquet
    write and read-back, a shuffle aggregation and a Python UDF over 20k
    rows in four partitions, the same kinds of work as an epoch or a query.
    Timed in the same JVM as the ops, it tracks how fast the shared host
    runs at that moment. A change to the program can move it only through
    the JVM state the program leaves behind (heap, caches)."""
    from pyspark.sql import functions as F

    path = os.path.join(workdir, "reference")
    mix = F.udf(lambda x: (x * 2654435761) % 1000003, "long")
    t0 = time.perf_counter()
    spark.range(0, 20_000, numPartitions=4).select(
        "id", F.xxhash64("id").alias("h"), (F.col("id") % 97).alias("k")
    ).write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    back.groupBy("k").agg(F.max("h"), F.count("*")).write.format("noop").mode("overwrite").save()
    back.select(mix("id")).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def geomean(xs: list[float]) -> float:
    return float(statistics.geometric_mean(xs)) if xs else 0.0


# ------------------------------------------------------------ job census


class Census:
    """Exact Spark job, stage and task counts, read from the status tracker
    by diffing the job ids of a job group around a window of work."""

    def __init__(self, sc) -> None:
        self.st = sc.statusTracker()

    def jobs(self, group: str | None = None) -> set[int]:
        return set(self.st.getJobIdsForGroup(group))

    def count(self, job_ids: set[int]) -> dict:
        stages: set[int] = set()
        for j in job_ids:
            info = self.st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        n_stages = n_tasks = 0
        for s in stages:
            si = self.st.getStageInfo(s)
            if si is not None and si.numCompletedTasks > 0:
                n_stages += 1
                n_tasks += si.numCompletedTasks
        return {"jobs": len(job_ids), "stages": n_stages, "tasks": n_tasks}


# -------------------------------------------------------- process teardown


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def child_pids(root: int) -> list[int]:
    """Every live process below ``root``, read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _running(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] not in ("Z", "X")


def stop_all(grace_s: float = 30.0) -> list[int]:
    """Stop every process this one started and wait until each has ended:
    the Spark JVM (closing its stdin makes the gateway exit), the Python
    workers it forked, and the multiprocessing resource tracker. Processes
    still running after ``grace_s`` get SIGTERM, then SIGKILL. Returns the
    pids that had to be killed."""
    import signal
    from multiprocessing import resource_tracker

    from pyspark import SparkContext

    pids = child_pids(os.getpid())  # before the JVM's children are orphaned
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=grace_s)
        except Exception:
            proc.kill()
            proc.wait()
    tracker = getattr(resource_tracker, "_resource_tracker", None)
    if tracker is not None and getattr(tracker, "_pid", None) is not None:
        tracker._stop()
    killed = []
    deadline = time.monotonic() + grace_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        left = [p for p in pids if _running(p)]
        if sig is not None:
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            killed += [p for p in left if p not in killed]
            deadline = time.monotonic() + 5.0
        while left and time.monotonic() < deadline:
            for p in left:
                try:  # reaps our own children; orphans are reaped by init
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            time.sleep(0.05)
            left = [p for p in left if _running(p)]
        if not left:
            break
    return killed


def rss_peak_mb(spark) -> float:
    """JVM VmHWM plus this Python process's peak RSS, in MB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0
