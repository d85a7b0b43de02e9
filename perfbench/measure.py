"""Timing statistics, host counters from /proc, and Spark counters read
from Spark's status store."""

from __future__ import annotations

import hashlib
import math
import os
import statistics


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> tuple[int, float]:
    """The highest whole percentile with at least ten samples beyond
    it, and its value (nearest rank). Fewer than eleven samples leave no
    such percentile: that reads as (0, minimum)."""
    if not xs:
        return 0, 0.0
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return 0, float(s[0])
    pct = math.floor(100.0 * (n - 10) / n)
    rank = max(1, math.ceil(pct / 100.0 * n))
    return pct, float(s[rank - 1])


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the host's aggregate cpu line."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def descendants(root_pid: int) -> list[int]:
    """Every live process below ``root_pid``, from /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        for pid in kids.get(todo.pop(), []):
            out.append(pid)
            todo.append(pid)
    return out


def hwm_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of ``pid`` in KiB; 0 once it is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak RSS of this Python process plus its JVM (the child that runs
    ``java``), in MiB."""
    kb = hwm_kb(os.getpid())
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    kb += hwm_kb(pid)
        except OSError:
            continue
    return kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def frame_hash(pdf) -> tuple[list[str], int, str]:
    """Order-insensitive identity of a result frame: sorted column
    names, row count and a hash of the rows sorted as strings (floats
    by ``repr``)."""
    cols = sorted(pdf.columns)
    rows = []
    for tup in pdf[cols].itertuples(index=False):
        row = []
        for v in tup:
            if hasattr(v, "item"):
                v = v.item()
            row.append(repr(v) if isinstance(v, float) else str(v))
        rows.append("\x01".join(row))
    rows.sort()
    h = hashlib.sha256("\x02".join(rows).encode()).hexdigest()[:16]
    return cols, len(rows), h


class SparkCounters:
    """Counters of the Spark jobs one operation ran, from Spark's
    status store: jobs, completed tasks, executor CPU/run/GC time,
    shuffle bytes, and each job's wall-clock interval.

    Jobs are taken by id range (the client is a single thread, so every
    job submitted between two readings is the operation's). A job group
    cannot carry this: the corpus queries' plan memo sets its own group
    around plan building."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self.store = jsc.statusStore()
        self.dag = jsc.dagScheduler()

    def next_job(self) -> int:
        return int(self.dag.numTotalJobs())

    def jobs(self, first: int, stop: int) -> dict:
        from py4j.protocol import Py4JError

        out = {"jobs": 0, "tasks": 0, "cpu_ms": 0.0, "run_ms": 0.0,
               "gc_ms": 0.0, "shuffle_bytes": 0, "intervals": []}
        for jid in range(first, stop):
            try:
                job = self.store.job(jid)
            except Py4JError:  # evicted from the store, or never registered
                continue
            out["jobs"] += 1
            out["tasks"] += int(job.numCompletedTasks())
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                out["intervals"].append(
                    (sub.get().getTime() / 1000.0, end.get().getTime() / 1000.0)
                )
            ids = job.stageIds().mkString(",")
            for sid in (int(x) for x in ids.split(",") if x):
                attempts = self.store.stageData(sid, False, None, False, None)
                if attempts.isEmpty():
                    continue
                st = attempts.head()
                out["cpu_ms"] += st.executorCpuTime() / 1e6
                out["run_ms"] += float(st.executorRunTime())
                out["gc_ms"] += float(st.jvmGcTime())
                out["shuffle_bytes"] += int(st.shuffleReadBytes()) + int(st.shuffleWriteBytes())
        return out
