"""Host-side measurements: whole-machine busy CPU, process-tree peak RSS,
usable core count and a single-thread speed anchor."""

from __future__ import annotations

import os
import time


def cores() -> int:
    """Cores this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def busy_cpu_s() -> float:
    """Whole-machine busy CPU-seconds from /proc/stat (user + nice + system
    + irq + softirq). Steal, the time the hypervisor ran something else on
    this machine's virtual CPUs, is left out: it measures the host's load,
    not this machine's work. Differences over an interval are robust to the
    host's clock phases in a way wall time is not."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:8]]
    busy = vals[0] + vals[1] + vals[2] + vals[5] + vals[6]
    return busy / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces: the parent pid is the
                # second field after the closing parenthesis
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(pid: int | None = None) -> float:
    """Sum of VmHWM over this process and every descendant: the
    benchmark's Python process, the JVM and the Python workers it forked."""
    pid = os.getpid() if pid is None else pid
    return sum(_vm_hwm_kb(p) for p in [pid] + descendants(pid)) / 1024.0


def host_spins(seconds: float = 2.0) -> int:
    """Single-thread loop iterations in `seconds`: host-speed context for a
    recorded figure (the same anchor bench.py records as host_spins_2s)."""
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < seconds:
        n += 1
    return n
