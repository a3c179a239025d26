"""CPU time and resident memory of this process and every descendant.

The Spark driver JVM is a child of the Python process that starts the
session, and the Python workers are children of the JVM, so the descendant
tree of ``os.getpid()`` is the whole engine.  Linux ``/proc`` only.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces and ')': fields start after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """`root` (default: this process) and all of its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """utime + stime of the tree, plus the reaped children each member
    waited for (cutime + cstime), so workers that exit mid-window still
    count once they are reaped."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[0] is `state`; utime..cstime are stat fields 14-17
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def reset_peak_rss(root: int | None = None) -> None:
    """Reset the peak RSS (``VmHWM``) of every process in the tree."""
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")  # 5: reset the peak resident set size only
        except OSError:  # the process ended meanwhile
            pass


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum over the tree's live processes of each one's peak RSS since
    `reset_peak_rss`.  Read once, after the work, it adds nothing to the
    measured window, unlike a sampling thread that would compete with the
    driver for the interpreter lock."""
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8", errors="replace") as f:
                total_kb += next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
        except (OSError, StopIteration):  # ended meanwhile, or a kernel thread
            pass
    return total_kb * 1024 / 1e6
