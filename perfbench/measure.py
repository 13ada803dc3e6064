"""Sample statistics, process memory and the machine-state record."""

from __future__ import annotations

import os
import platform
import statistics
import time


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) at the highest percentile that leaves at
    least ten samples above it.  With eleven samples or fewer that is the
    minimum, which is what is returned."""
    s = sorted(xs)
    n = len(s)
    if not n:
        return 0.0, 0.0, 0
    k = max(0, n - 11)
    return s[k], 100.0 * (k + 1) / n, n


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return int(fh.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def _descendants(root: int) -> set[int]:
    parents = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            ppid = _ppid(int(name))
            if ppid is not None:
                parents[int(name)] = ppid
    out: set[int] = set()
    frontier = {root}
    while frontier:
        frontier = {p for p, pp in parents.items() if pp in frontier} - out
        out |= frontier
    return out


def reset_peak_rss(pids: list[int]) -> None:
    """Reset the resident-memory high-water mark (VmHWM) of each process,
    so that a later `peak_rss_mb` covers only what runs after this call."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' resident-memory high-water marks, in MiB."""
    return sum(_status_kb(pid, "VmHWM") for pid in pids) / 1024.0


def host_probe_s() -> float:
    """Median time of a fixed pure-Python loop: the host's speed for
    single-threaded work right now, comparable across runs."""
    times = []
    for _ in range(11):
        t0 = time.perf_counter()
        sum(i * i for i in range(200_000))
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def machine_state(spark=None) -> dict:
    """Host facts a reader needs to judge a run: CPUs, load, host speed,
    versions, and other pytest, java or benchmark processes running
    beside it.  The benchmark's own process tree is not counted."""
    import pyarrow
    import pyspark

    me = os.getpid()
    own = _descendants(me) | {me}
    ancestor = _ppid(me)
    while ancestor and ancestor > 1:
        own.add(ancestor)
        ancestor = _ppid(ancestor)
    others = {"pytest": 0, "java": 0, "bench": 0}
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) in own:
            continue
        cmd = _cmdline(int(name))
        others["pytest"] += "pytest" in cmd
        others["java"] += "java" in cmd.split(" ", 1)[0]
        others["bench"] += "bench.py" in cmd or "perfbench/run.py" in cmd
    nproc = os.cpu_count() or 1
    load = os.getloadavg()
    state = {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": nproc,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg": [round(x, 2) for x in load],
        "host_probe_s": host_probe_s(),
        "concurrent": others,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }
    if spark is not None:
        state["master"] = spark.sparkContext.master
        state["defaultParallelism"] = spark.sparkContext.defaultParallelism
    state["contended"] = any(others.values()) or load[0] > state["nproc"]
    return state


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return sum(ticks), ticks[7]


def jvm_pid() -> int | None:
    """Pid of the Spark JVM this process launched, if any."""
    for pid in sorted(_descendants(os.getpid())):
        if "java" in _cmdline(pid).split(" ", 1)[0]:
            return pid
    return None
