"""Host context of a run: core count, hypervisor steal, peak memory."""

from __future__ import annotations

import os


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Steal:
    """Share of the host's CPU time stolen by the hypervisor since start,
    from `bench._steal_ticks` (VM-wide ticks, normalized by the VM's cores
    as `bench.py` does)."""

    def __init__(self, steal_ticks):
        self._ticks = steal_ticks
        self._t0 = os.times().elapsed
        self._s0 = steal_ticks()

    def fraction(self) -> float:
        wall = os.times().elapsed - self._t0
        stolen = (self._ticks() - self._s0) / os.sysconf("SC_CLK_TCK")
        return stolen / ((os.cpu_count() or 1) * max(wall, 1e-9))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # process ended while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of the peak resident set sizes of this process and every live
    descendant: the Spark JVM and its Python workers."""
    kids = _children()
    todo, total = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        total += _hwm_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024.0
