"""Resident memory and CPU time of a process and all its descendants,
read from ``/proc`` (the benchmark's own process, the driver JVM it
launches and the JVM's Python workers)."""

from __future__ import annotations

import os

_PAGE_KIB = os.sysconf("SC_PAGE_SIZE") >> 10
_TICKS = os.sysconf("SC_CLK_TCK")


def _tree_stats(root: int) -> list[list[str]]:
    """``/proc/<pid>/stat`` fields (from the state field on) of ``root``
    and every process descending from it."""
    parent: dict[int, int] = {}
    fields: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fs = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we listed
            continue
        pid = int(name)
        parent[pid] = int(fs[1])
        fields[pid] = fs
    out = []
    for pid, fs in fields.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            out.append(fs)
    return out


def tree_rss_kib(root: int) -> int:
    return sum(int(fs[21]) for fs in _tree_stats(root)) * _PAGE_KIB


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, reaped children included.
    Time the hypervisor steals from the machine is not charged to any
    process, so this varies less between runs than wall time does."""
    return sum(sum(int(x) for x in fs[11:15]) for fs in _tree_stats(root)) / _TICKS
