"""CPU time of a live process tree, read from /proc.

A spark-submit run is a tree: the JVM, the Python driver it starts, and the
PySpark daemon with its forked workers. Each process's ``cutime``/``cstime``
already hold the CPU of children it has reaped, so summing
``utime + stime + cutime + cstime`` over the live tree counts every process
that ever ran in it, including Python workers that have since exited.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _fields(pid: int) -> list[bytes] | None:
    """Fields of /proc/<pid>/stat from the state on, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(b")") + 2 :].split()


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, CPU ticks including reaped children), or None if gone."""
    fields = _fields(pid)
    if fields is None:
        return None
    return int(fields[1]), sum(int(x) for x in fields[11:15])  # utime stime cutime cstime


def _snapshot() -> dict[int, tuple[int, int]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def tree_pids(root: int, snap: dict[int, tuple[int, int]] | None = None) -> list[int]:
    """``root`` and every live descendant."""
    snap = _snapshot() if snap is None else snap
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in snap.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in snap:
            out.append(pid)
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and its descendants."""
    snap = _snapshot()
    return sum(snap[p][1] for p in tree_pids(root, snap)) / _TICK


def group_pids(pgid: int) -> list[int]:
    """Live (not zombie) processes of process group ``pgid``."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _fields(int(name))
            if fields is not None and int(fields[2]) == pgid and fields[0] != b"Z":
                out.append(int(name))
    return out
