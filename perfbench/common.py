"""Helpers shared by the workloads: statistics, memory, timing."""

from __future__ import annotations

import os
import resource
import statistics
import time

now = time.perf_counter


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float | None, float]:
    """(value, percentile) of the highest percentile that keeps at
    least ten samples beyond it, or (None, 0) when there are too few
    samples for any (fewer than 20)."""
    n = len(values)
    if n < 20:
        return None, 0.0
    pct = 100.0 * (n - 10) / n
    ordered = sorted(values)
    return float(ordered[n - 11]), pct


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _parents() -> dict[int, int]:
    """pid -> parent pid for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii",
                      errors="replace") as f:
                # the command name may hold spaces: ppid follows ")"
                out[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return out


def _descendants(pid: int) -> list[int]:
    parents = _parents()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(c for c, pp in parents.items() if pp == p)
    return out


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then end the JVM (it exits when its stdin
    closes) and wait until it and the Python workers it forked are
    gone."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    pids = _descendants(
        int(spark._jvm.java.lang.ProcessHandle.current().pid()))
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    while time.time() < deadline and \
            any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver: this Python process, the
    JVM, and the Python worker processes the JVM forked (those alive
    now; Spark reuses workers, so they span the run)."""
    total = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    total += sum(_vm_hwm_kb(pid) for pid in _descendants(jvm_pid))
    return total / 1024.0


def dir_stats(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(number of data files, their total bytes) at or under ``path``."""
    if os.path.isfile(path):
        return 1, os.path.getsize(path)
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size
