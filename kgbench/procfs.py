"""Process-tree accounting from ``/proc``: descendants, CPU seconds, PSS."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def stat(pid: int) -> list[str] | None:
    """Fields 3.. of ``/proc/<pid>/stat``, or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces: split after its ")"
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> dict[int, list[str]]:
    """``root`` and its live descendants → their parsed stat fields
    (index 0 is field 3 of ``/proc/<pid>/stat``)."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = stat(int(name))
            if st is not None:
                stats[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(int(st[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(kids.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU of ``root``'s tree, including reaped children."""
    return sum(sum(int(st[i]) for i in (11, 12, 13, 14))
               for st in tree(root).values()) / _TICK


def pss_mb(pids) -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def start_time(st: list[str]) -> int:
    return int(st[19])
