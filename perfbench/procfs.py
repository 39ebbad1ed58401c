"""Process-tree readings from /proc: members, memory and CPU time."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (state is [0])."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree(root: int) -> list[int]:
    """`root` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(name)[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def pss(pid: int) -> int:
    """Proportional set size in bytes: RSS with each shared page split among
    its sharers, so forked workers are not counted once per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of `root`'s tree, including children
    that ended and were reaped inside it. Time the hypervisor stole from
    the machine is not counted."""
    ticks = 0
    for pid in tree(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        ticks += sum(int(v) for v in f[11:15])  # utime, stime, cutime, cstime
    return ticks / CLK_TCK


def threads_cpu_s(root: int, names: tuple[str, ...]) -> float:
    """User plus system CPU seconds of the live threads in `root`'s tree
    whose name (as the kernel truncates it, 15 characters) starts with one
    of `names`."""
    ticks = 0
    for pid in tree(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            comm, rest = stat[stat.index("(") + 1 :].rsplit(")", 1)
            if comm.startswith(names):
                ticks += sum(int(v) for v in rest.split()[11:13])  # utime, stime
    return ticks / CLK_TCK


def group_alive(pgid: int) -> bool:
    """Whether any process of group `pgid` still runs (zombies aside)."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            f = _stat_fields(name)
        except OSError:
            continue
        if int(f[2]) == pgid and f[0] != "Z":
            return True
    return False
