"""Host and process-tree readings from /proc: CPU seconds, peak RSS, steal.

The benchmark's process tree is the Python driver, the JVM it launches and
the Python workers the JVM forks; CPU is summed over all of them.
"""

from __future__ import annotations

import os
import platform
import sys
from pathlib import Path

import pyspark

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # comm may contain spaces; everything after the last ')' is fixed-format
    return raw[raw.rindex(")") + 2:].split()


def _tree(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f:
                parent[int(d)] = int(f[1])
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_s(pid: int) -> float:
    """utime + stime of ``pid`` plus those of its reaped children."""
    f = _stat_fields(pid)
    if not f:
        return 0.0
    return sum(int(x) for x in f[11:15]) / _CLK


def tree_cpu_s() -> float:
    """CPU seconds of this process and all its descendants."""
    return sum(cpu_s(p) for p in _tree(os.getpid()))


def peak_rss_mb(pid: int) -> float:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def ticks(seconds: float) -> float:
    """Clock ticks the whole machine has in ``seconds`` (all CPUs)."""
    return seconds * _CLK * os.cpu_count()


def steal_ticks() -> int:
    """Host-wide CPU-steal ticks since boot (the 8th field of 'cpu')."""
    for line in Path("/proc/stat").read_text().splitlines():
        if line.startswith("cpu "):
            return int(line.split()[8])
    return 0


def environment(spark) -> dict:
    mem_kb = 0
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            mem_kb = int(line.split()[1])
    return {
        "nproc": os.cpu_count(),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "python": sys.version.split()[0],
        "platform": platform.platform(),
        "spark_graft_env": {k: v for k, v in sorted(os.environ.items())
                            if k.startswith("SPARK_GRAFT_")},
        "loadavg": Path("/proc/loadavg").read_text().split()[:3],
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
    }
