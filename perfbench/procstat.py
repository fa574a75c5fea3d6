"""Process-tree readings from /proc: CPU seconds, peak RSS and load.

The engine runs in one JVM (Spark local mode) plus the Python worker
processes that JVM forks for pandas UDFs. These readers take the JVM's pid
and walk its descendants, so the benchmark sees the engine's cost from
outside without touching engine code.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm sits in parentheses and may hold spaces: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            kids.setdefault(int(f[1]), []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def cpu_seconds(pid: int) -> float:
    """utime + stime + cutime + cstime of one process, in seconds."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    # fields 14-17 of /proc/<pid>/stat; f[0] is field 3 (state)
    return sum(int(x) for x in f[11:15]) / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


@dataclass(frozen=True)
class TreeCpu:
    jvm_s: float
    python_s: float

    @property
    def total_s(self) -> float:
        return self.jvm_s + self.python_s

    def __sub__(self, other: TreeCpu) -> TreeCpu:
        return TreeCpu(self.jvm_s - other.jvm_s, self.python_s - other.python_s)


def tree_cpu(jvm_pid: int) -> TreeCpu:
    """CPU seconds of the JVM and of its live descendants (the Python
    daemon and workers). A worker that exits is reaped by its parent, so
    its time moves into the parent's cutime and stays counted."""
    return TreeCpu(
        cpu_seconds(jvm_pid),
        sum(cpu_seconds(p) for p in descendants(jvm_pid)),
    )


def peak_rss_mb(jvm_pid: int) -> tuple[float, float, int]:
    """(JVM VmHWM, summed VmHWM of its live descendants, their count), MiB."""
    kids = descendants(jvm_pid)
    return (
        _status_kb(jvm_pid, "VmHWM") / 1024.0,
        sum(_status_kb(p, "VmHWM") for p in kids) / 1024.0,
        len(kids),
    )


def alive(pid: int) -> bool:
    """True while the process exists and is not a zombie."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / _TICK


def loadavg() -> str:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return " ".join(fh.read().split()[:3])
