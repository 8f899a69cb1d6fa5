"""Measurement plumbing for the CDC engine benchmark.

Everything here is benchmark-side: the Spark session with the pinned
noise controls, process-tree CPU and RSS read from /proc, the host-phase
gauge, the span recorder, and the Spark job/stage/task and GC counters
read through Spark's status tracker and the JVM's MXBeans.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")
#: fits a 15 GB host next to the Python workers; the workloads' largest
#: reads (audio payload columns) stay well inside it
DRIVER_MEMORY = "4g"


def n_cpus() -> int:
    """Cores this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# /proc process tree: CPU time and peak RSS
# ---------------------------------------------------------------------------


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def _tree(root: int) -> list[str]:
    """`root` and every live descendant, from the ppid links in /proc."""
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        f = _stat_fields(pid)
        if f is not None:
            children.setdefault(f[1], []).append(pid)
    out, todo = [], [str(root)]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of the process tree under `root` (default:
    this process).  A live process's cutime/cstime hold its reaped
    children, so summing all four fields over the live tree counts every
    process that ever ran in it exactly once (Spark's short-lived Python
    workers included)."""
    total = 0
    for pid in _tree(root or os.getpid()):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat(5): utime stime cutime cstime
            total += sum(int(x) for x in f[11:15])
    return total / _CLK_TCK


def tree_peak_rss_mb(root: int) -> float:
    """Sum of VmHWM (peak resident set) over the live tree under `root`."""
    kb = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def dir_bytes(path: str) -> int:
    """Bytes in the file or directory tree at `path` (0 if absent)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


# ---------------------------------------------------------------------------
# host-phase gauge (diagnostic only: never used to drop or scale a run)
# ---------------------------------------------------------------------------


def host_gauge() -> dict:
    """Fixed memory-bandwidth and single-core probes, ~0.5 s in total.

    This host's throughput drifts in phases; printing the same fixed
    probe before and after each run lets a reader tell a host phase from
    a regression of the program."""
    import numpy as np

    src = np.ones(16 << 20, dtype=np.float32)  # 64 MiB
    dst = np.empty_like(src)
    copies = []
    for _ in range(5):
        t = time.perf_counter()
        np.copyto(dst, src)
        copies.append(time.perf_counter() - t)
    t = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc += i & 7
    core_ms = (time.perf_counter() - t) * 1000
    return {
        "mem_copy_gb_s": round(2 * src.nbytes / statistics.median(copies) / 1e9, 3),
        "py_loop_ms": round(core_ms, 2),
    }


def cpu_times() -> list[int]:
    """System-wide jiffies from /proc/stat: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict:
    """Share of all CPU time that was busy, waiting on I/O, or stolen by
    the hypervisor between two cpu_times() readings."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {
        "busy_pct": round(100 * (d[0] + d[1] + d[2] + d[5] + d[6]) / total, 1),
        "iowait_pct": round(100 * d[4] / total, 1),
        "steal_pct": round(100 * d[7] / total, 1),
    }


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder: name, start, end, parent and op id.

    Spans are written out once, when the run ends.  A span's self time is
    its duration minus the time its child spans cover."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self.t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()

    @staticmethod
    def ms(rec: dict) -> float:
        return (rec["end"] - rec["start"]) * 1000.0


# ---------------------------------------------------------------------------
# Spark session and JVM-side counters
# ---------------------------------------------------------------------------


def start_spark(work: str, cores: int):
    """One local Spark session with every scratch path inside `work`."""
    from pyspark.sql import SparkSession

    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("cdc-perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(max(b.getCollectionTime(), 0) for b in beans))


class JobCounter:
    """Jobs, stages and tasks Spark ran inside one job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.n = 0

    @contextmanager
    def group(self):
        self.n += 1
        gid = f"perfbench-op-{self.n}"
        self.sc.setJobGroup(gid, gid)
        counts = {"jobs": 0, "stages": 0, "tasks": 0}
        try:
            yield counts
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            tracker = self.sc.statusTracker()
            for jid in tracker.getJobIdsForGroup(gid):
                counts["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    # skipped stages (shuffle reuse) never ran a task
                    if st is not None and st.numTasks and st.numCompletedTasks:
                        counts["stages"] += 1
                        counts["tasks"] += st.numCompletedTasks


def noop(df) -> None:
    """Execute a DataFrame's whole plan and discard the rows."""
    df.write.format("noop").mode("overwrite").save()

