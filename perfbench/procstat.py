"""CPU seconds of a process tree, read from ``/proc`` (no psutil).

The tree is the benchmark's own process and every descendant: the Spark
driver JVM launched through py4j, the PySpark worker daemon and the Python
workers it forks. For each live process in the tree the sample adds
``utime + stime + cutime + cstime``; a worker that exits and is reaped by
its parent moves its time into the parent's ``cutime``/``cstime``, so the
difference of two samples counts it once.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> tuple[int, list[str]] | None:
    """(ppid, fields after the command name) or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    # the command name may hold spaces or parentheses: split after the last ')'
    rest = raw[raw.rindex(")") + 2 :].split()
    return int(rest[1]), rest


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        st = _stat_fields(entry)
        if st is not None:
            children.setdefault(st[0], []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(root: int | None = None) -> float:
    """utime+stime+cutime+cstime summed over ``root``'s process tree."""
    total = 0
    for pid in descendants(os.getpid() if root is None else root):
        st = _stat_fields(str(pid))
        if st is None:
            continue
        f = st[1]
        # fields 14-17 of proc(5), counted from 1 at the pid: f[0] is field 3
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK
