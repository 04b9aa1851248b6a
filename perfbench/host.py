"""Host contention and memory readings from /proc.

Every run records steal%, sys% and the load average over its measured
phase, so a slow run on a busy host can be told apart from a slow plan.
A noisy run is flagged in the run's details line, never dropped.
"""

from __future__ import annotations

import os
import time

import numpy as np

STEAL_NOISY_PCT = 5.0


def _cpu_sample() -> list[int] | None:
    """Aggregate jiffies from /proc/stat: user nice sys idle iowait irq
    softirq steal."""
    try:
        with open("/proc/stat") as f:
            return [int(v) for v in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def loadavg() -> float | None:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):
        return None


def cpu_probe_s() -> float:
    """Seconds for a fixed single-threaded NumPy loop.  A slower host
    shows here even when steal% stays at zero, so each run's timings
    can be set beside the speed of the host they ran on."""
    x = np.linspace(0.0, 1.0, 1 << 18)
    t0 = time.perf_counter()
    for _ in range(40):
        x = np.sqrt(np.sin(x) * np.sin(x) + 1.0) - 1.0 + x
    return time.perf_counter() - t0


class HostWindow:
    """CPU shares, load average and host speed between ``__init__`` and
    ``stop``."""

    def __init__(self):
        self.probe0 = cpu_probe_s()
        self.cpu0 = _cpu_sample()
        self.load0 = loadavg()

    def stop(self, cores: int) -> dict:
        end = _cpu_sample()
        out = {"loadavg_start": self.load0, "loadavg_end": loadavg(),
               "cpu_probe_s_start": round(self.probe0, 4),
               "cpu_probe_s_end": round(cpu_probe_s(), 4)}
        if self.cpu0 and end and len(end) >= 8 and len(self.cpu0) >= 8:
            d = [e - s for e, s in zip(end, self.cpu0)]
            tot = sum(d[:8]) or 1
            out.update({
                "user_pct": round(100.0 * (d[0] + d[1]) / tot, 2),
                "sys_pct": round(100.0 * d[2] / tot, 2),
                "iowait_pct": round(100.0 * d[4] / tot, 2),
                "steal_pct": round(100.0 * d[7] / tot, 2),
            })
        reasons = []
        if out.get("steal_pct", 0.0) > STEAL_NOISY_PCT:
            reasons.append("steal")
        # the benchmark itself keeps about `cores` runnable threads busy
        if (out["loadavg_start"] or 0.0) > cores:
            reasons.append("loadavg")
        out["noisy"] = reasons
        return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """``pid`` (default: this process) and every process below it."""
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_cpu_s() -> float:
    """CPU seconds used by the engine's processes (the JVM and its
    Python workers, reaped children included) — everything below this
    process, this process excluded."""
    tick = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    total = 0
    for p in descendants():
        if p == me:
            continue
        f = _stat_fields(p)
        if f:
            # utime stime cutime cstime (fields 14-17; index from state)
            total += sum(int(v) for v in f[11:15])
    return total / tick


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of the peak resident sizes of the engine's processes (the
    JVM and its Python workers): every process below this one.  This
    process is left out, because it also runs the oracle checks."""
    me = os.getpid()
    return sum(_hwm_kb(p) for p in descendants() if p != me) / 1024.0
