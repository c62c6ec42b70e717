"""Process-tree accounting from ``/proc``: the benchmark's worker, its
JVM and the JVM's Python workers form one tree."""

from __future__ import annotations

import os


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in tree(pid):
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


# thread names (truncated to 15 characters by the kernel) of the JVM's
# JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(stat: str) -> list[int]:
    return [int(x) for x in stat.rsplit(")", 1)[1].split()[11:15]]


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by the tree under ``pid``,
    including its children that have exited and been waited for, but not
    by the JVM's JIT compiler threads: how much bytecode the JIT compiles,
    and when, follows the JVM's warm-up, not the work.  The JVM must keep
    its compiler threads alive (``-XX:-UseDynamicNumberOfCompilerThreads``)
    so that their time never folds into the process total uncounted."""
    ticks = 0
    for p in tree(pid):
        try:
            with open(f"/proc/{p}/stat") as fh:
                ticks += sum(_ticks(fh.read()))
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tids:
            try:
                with open(f"/proc/{p}/task/{t}/comm") as fh:
                    if fh.read().strip() not in JIT_THREADS:
                        continue
                with open(f"/proc/{p}/task/{t}/stat") as fh:
                    ticks -= sum(_ticks(fh.read())[:2])
            except OSError:
                continue
    return ticks / os.sysconf("SC_CLK_TCK")


def kill_tree(pid: int) -> None:
    for p in reversed(tree(pid)):
        try:
            os.kill(p, 9)
        except OSError:
            pass
