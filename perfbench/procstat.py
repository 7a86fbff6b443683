"""CPU time and peak memory of this process and its descendants (the
Spark JVM and any Python workers), read from Linux ``/proc``."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def host_ticks() -> tuple[int, int, int]:
    """(steal, busy, total) CPU ticks of the machine since boot. Busy
    ticks are those a CPU wanted to run, stolen ones included (all but
    idle and iowait); the stolen share of them between two readings is
    the share of its running time the hypervisor took from the
    machine."""
    with open("/proc/stat") as f:
        user, nice, system, idle, iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return steal, user + nice + system + irq + softirq + steal, sum(
        (user, nice, system, idle, iowait, irq, softirq, steal))


def age_s() -> float:
    """Seconds since this process started (its start time as the kernel
    recorded it, so interpreter start-up and imports are included)."""
    start_ticks = int(_stat_fields(os.getpid())[19])  # stat field 22
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _TICK


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of the processes, including their reaped
    children."""
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' peak resident set sizes (VmHWM)."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0
