"""Host readings from /proc: core count, load, CPU steal and worker memory."""

from __future__ import annotations

import os
import time


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> list[int] | None:
    """(user..steal) ticks from /proc/stat line 1; None off-Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError, IndexError):
        return None


def steal_pct(t0: list[int] | None, t1: list[int] | None) -> float:
    """Hypervisor steal between two ``cpu_ticks`` readings, in percent."""
    if not t0 or not t1:
        return 0.0
    d = [b - a for a, b in zip(t0, t1)]
    return 100.0 * d[7] / sum(d) if sum(d) > 0 else 0.0


def steal_busy_frac(t0: list[int] | None, t1: list[int] | None) -> float:
    """Share of the time the CPUs wanted to run (busy or stolen) that the
    hypervisor gave to others, between two ``cpu_ticks`` readings."""
    if not t0 or not t1:
        return 0.0
    d = [b - a for a, b in zip(t0, t1)]
    wanted = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]  # user nice system irq softirq steal
    return d[7] / wanted if wanted > 0 else 0.0


def loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return []


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses; ppid follows it
        out[int(name)] = int(stat[stat.rfind(")") + 2 :].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for child, parent in _parents().items():
        kids.setdefault(parent, []).append(child)
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds(pid: int) -> float:
    """User plus system CPU seconds of ``pid`` and its live descendants,
    including the exited children each of them has waited for."""
    ticks = 0
    for p in (pid, *descendants(pid)):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, ValueError, IndexError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def python_worker_peak_rss_mb(driver_pid: int) -> float:
    """Largest VmHWM among the PySpark daemon and its forked workers under
    this driver, in MiB. VmHWM is a per-process peak, so a reading after a
    pass covers everything the live workers did up to then."""
    peak_kb = 0
    for pid in descendants(driver_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except (OSError, ValueError):
            continue
    return peak_kb / 1024.0


class Interval:
    """Times a block: ``wall`` seconds; ``steal``, the share of the CPU time
    the machine wanted in it that the hypervisor gave to other guests;
    ``net``, the wall time net of that share; and, with ``cpu_pid``,
    ``cpu``, the CPU seconds of that process tree in the block."""

    def __init__(self, cpu_pid: int | None = None):
        self.cpu_pid = cpu_pid

    def __enter__(self) -> "Interval":
        self._cpu0 = cpu_seconds(self.cpu_pid) if self.cpu_pid else 0.0
        self._ticks = cpu_ticks()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> bool:
        self.wall = time.perf_counter() - self._t0
        self.steal = steal_busy_frac(self._ticks, cpu_ticks())
        self.net = self.wall * (1.0 - self.steal)
        self.cpu = cpu_seconds(self.cpu_pid) - self._cpu0 if self.cpu_pid else 0.0
        return False
