"""CPU accounting read from ``/proc``: per-process CPU of the benchmark's
process tree and the host's steal share.

The tree is the driver Python process, the JVM it launched, and the JVM's
descendants (the PySpark worker daemon and its forked Python workers).
Each process counts its own CPU plus that of children it has reaped, so a
worker that exits between two samples is still charged to the tree.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """(comm, ppid, cpu seconds incl. reaped children) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state; utime, stime, cutime, cstime are stat fields 14-17
    ticks = sum(int(x) for x in fields[11:15])
    return comm, int(fields[1]), ticks / _TICK


def tree_cpu() -> dict[str, float]:
    """CPU seconds so far, split into driver_py, jvm and py_worker."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)

    me = os.getpid()
    out = {"driver_py": procs[me][2] if me in procs else 0.0,
           "jvm": 0.0, "py_worker": 0.0}
    for pid in children.get(me, []):
        comm, _, cpu = procs[pid]
        if comm != "java":
            continue
        out["jvm"] += cpu
        stack = list(children.get(pid, []))
        while stack:
            p = stack.pop()
            out["py_worker"] += procs[p][2]
            stack.extend(children.get(p, []))
    return out


def host_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's aggregate CPU line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7], sum(vals[:8])
