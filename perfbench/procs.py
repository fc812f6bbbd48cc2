"""Process-tree memory, shared by the load generator and the Spark
process. Reads ``/proc`` only."""

from __future__ import annotations

import os


def _tree(root_pid: int, jvm: bool) -> list[int]:
    """``root_pid`` and all its descendants (the Spark process, its JVM
    and any forked Python workers); with ``jvm=False`` the JVM is left
    out. A JVM child that still runs the JVM's own binary was spawned
    with the JVM's address space and has not exec'd yet: its memory is
    the JVM's, so it is left out too."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    pids, todo = set(), [root_pid]
    while todo:
        p = todo.pop()
        pids.add(p)
        todo.extend(c for c, pp in parent.items() if pp == p and c not in pids)
    exe: dict[int, str] = {}
    for p in pids:
        try:
            exe[p] = os.readlink(f"/proc/{p}/exe")
        except OSError:
            continue
    return [p for p in exe if not (exe[p].endswith("/java") and (
        not jvm or exe.get(parent.get(p)) == exe[p]))]


def _field_kb(path: str, key: str) -> int:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except (OSError, IndexError, ValueError):
        pass
    return 0


def tree_pss_mb(root_pid: int, jvm: bool = True) -> float:
    """Proportional set size of the process tree of ``root_pid``. PSS
    divides each shared page among the processes sharing it, so forked
    workers are not counted twice."""
    return sum(_field_kb(f"/proc/{p}/smaps_rollup", "Pss:")
               for p in _tree(root_pid, jvm)) / 1024


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of each process's peak resident set (``VmHWM``) over the
    process tree of ``root_pid``, the JVM included. The kernel keeps
    the peaks, so nothing has to poll while the program runs."""
    return sum(_field_kb(f"/proc/{p}/status", "VmHWM:")
               for p in _tree(root_pid, True)) / 1024
