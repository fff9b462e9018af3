"""Measurements taken from outside the program: the host, the process
tree in /proc, the single-core parse kernel, and Spark's status store.

Nothing here changes what the pipeline runs; the status store is read
after a run has returned, so the timed calls carry no extra Spark jobs.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import subprocess
import time

_CLK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------- host

def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def source_digest(root: str, packages: tuple[str, ...]) -> str:
    """sha256 of the ``.py`` files under ``root``'s ``packages``."""
    digest = hashlib.sha256()
    for pkg in packages:
        for d, _, names in sorted(os.walk(os.path.join(root, pkg))):
            for n in sorted(names):
                if n.endswith(".py"):
                    with open(os.path.join(d, n), "rb") as f:
                        digest.update(f.read())
    return digest.hexdigest()


def host_record(root: str) -> dict:
    import pyarrow
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, check=False)
        commit = out.stdout.strip() or None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_total_mb(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "git_commit": commit,
        "source_sha256": source_digest(root, ("redeye_spark",)),
    }


# ------------------------------------------------------------ process tree

def _tree_pids(root_pid: int) -> list[int]:
    pids, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return pids


def tree_cpu_s(root_pid: int | None = None) -> float:
    """User+sys CPU seconds of a process and all its descendants, live
    ones plus the children they have reaped."""
    total = 0
    for pid in _tree_pids(root_pid or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _CLK


def child_pids() -> list[int]:
    return _tree_pids(os.getpid())[1:]


def reset_peak_rss() -> None:
    """Restart every tree process's peak-RSS counter (VmHWM) from its
    current resident size."""
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except (FileNotFoundError, ProcessLookupError):
            continue


def peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak resident size
    since ``reset_peak_rss`` (or since it started, if later)."""
    total_kb = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (FileNotFoundError, ProcessLookupError, StopIteration):
            continue
    return total_kb / 1024


# ------------------------------------------------------------ parse kernel

KERNEL_BATCH = 10_000
KERNEL_REPS = 3


def kernel_rates(tokens, fmt: str) -> tuple[float, float, bool]:
    """(parse rows/s, detokenize rows/s, pinned) of the arrow parse kernel
    on one core, outside Spark, in batches of the pipeline's Arrow batch
    size; each rate is the median of KERNEL_REPS passes over ``tokens``.
    Pinned is False when the core could not be pinned."""
    import pyarrow as pa

    from redeye_spark.functions.logparse import parse_lines_arrow
    from redeye_spark.functions.tokens import detokenize_list_array

    threads = pa.cpu_count()
    pa.set_cpu_count(1)
    prev = os.sched_getaffinity(0)
    try:
        os.sched_setaffinity(0, {max(prev)})
        pinned = True
    except OSError:
        pinned = False
    detok_s, parse_s = [], []
    try:
        for _ in range(KERNEL_REPS):
            detok_s.append(0.0)
            parse_s.append(0.0)
            for i in range(0, len(tokens), KERNEL_BATCH):
                t0 = time.perf_counter()
                lines = detokenize_list_array(tokens.slice(i, KERNEL_BATCH))
                t1 = time.perf_counter()
                parse_lines_arrow(lines, fmt)
                t2 = time.perf_counter()
                detok_s[-1] += t1 - t0
                parse_s[-1] += t2 - t1
    finally:
        os.sched_setaffinity(0, prev)
        pa.set_cpu_count(threads)
    n = len(tokens)
    return n / statistics.median(parse_s), n / statistics.median(detok_s), pinned


# ------------------------------------------------------------ status store

class StatusStore:
    """Jobs, stages and SQL executions of one session, read from the
    driver's app status store (populated with the UI disabled)."""

    def __init__(self, spark):
        self._spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(10_000)

    def watermark(self) -> tuple[int, int]:
        """(last job id, last SQL execution id) seen so far."""
        self._drain()
        jobs = self._conv.asJava(self._sc.statusStore().jobsList(None))
        execs = self._conv.asJava(self._spark._jsparkSession.sharedState()
                                  .statusStore().executionsList())
        return (max((j.jobId() for j in jobs), default=-1),
                max((e.executionId() for e in execs), default=-1))

    def executions_since(self, mark: tuple[int, int]) -> list[dict]:
        """Every SQL execution after ``mark``: its kind, plan and jobs."""
        self._drain()
        out = []
        for e in self._conv.asJava(self._spark._jsparkSession.sharedState()
                                   .statusStore().executionsList()):
            if e.executionId() <= mark[1]:
                continue
            plan = e.physicalPlanDescription()
            jobs = sorted(int(j) for j in self._conv.asJava(e.jobs()).keySet())
            out.append({"id": e.executionId(), "plan": plan, "jobs": jobs})
        return out

    def jobs_since(self, mark: tuple[int, int]) -> list[dict]:
        """Every finished job after ``mark``, with its completed stages."""
        from py4j.protocol import Py4JJavaError

        self._drain()
        store = self._sc.statusStore()
        out = []
        for j in self._conv.asJava(store.jobsList(None)):
            if j.jobId() <= mark[0] or j.completionTime().isEmpty():
                continue
            stages = []
            for sid in self._conv.asJava(j.stageIds()):
                try:
                    s = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage AQE skipped was never attempted
                    continue
                if s.status().toString() != "COMPLETE":
                    continue
                stages.append({
                    "id": s.stageId(),
                    "tasks": s.numCompleteTasks(),
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "gc_s": s.jvmGcTime() / 1e3,
                    "input_bytes": s.inputBytes(),
                    "output_bytes": s.outputBytes(),
                    "shuffle_bytes": s.shuffleWriteBytes(),
                    "spill_bytes": s.diskBytesSpilled(),
                })
            out.append({
                "id": j.jobId(),
                "start": j.submissionTime().get().getTime() / 1e3,
                "end": j.completionTime().get().getTime() / 1e3,
                "stages": stages,
            })
        return out


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
