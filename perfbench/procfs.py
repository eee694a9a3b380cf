"""CPU time and peak memory of a process tree, read from ``/proc``.

The benchmark's process starts the Spark JVM, which forks the Python
workers, so the cost of a run is spread over a tree of processes.
``tree_cpu`` gives each live process's utime + stime plus the cutime +
cstime it has collected from children it reaped, so workers that exit
between two samples still count.
``tree_peak_rss_mb`` sums VmHWM (peak resident set) over the tree.
Both take the ``/proc`` root as an argument so a fake tree can stand in.
"""

from __future__ import annotations

import os

# stat fields after the ")" that closes comm: state is field 3, so
# field n sits at index n - 3
_PPID, _UTIME, _STIME, _CUTIME, _CSTIME = 4 - 3, 14 - 3, 15 - 3, 16 - 3, 17 - 3


def clock_ticks() -> int:
    return os.sysconf("SC_CLK_TCK")


def _stat(proc: str, pid: int) -> tuple[str, list[str]] | None:
    """(comm, the fields after comm) of /proc/<pid>/stat; comm may
    itself hold spaces and parentheses, so split at the last ")"."""
    try:
        with open(os.path.join(proc, str(pid), "stat")) as fh:
            raw = fh.read()
    except OSError:  # the process exited after it was listed
        return None
    close = raw.rindex(")")
    return raw[raw.index("(") + 1:close], raw[close + 2:].split()


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and every live descendant, found by parent pid."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        stat = _stat(proc, int(name))
        if stat is not None:
            children.setdefault(int(stat[1][_PPID]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return sorted(out)


def tree_cpu(
    root: int, proc: str = "/proc", ticks: int | None = None
) -> dict[int, tuple[str, float]]:
    """{pid: (command name, user + system CPU seconds so far)} over the
    live tree under ``root``."""
    ticks = ticks or clock_ticks()
    out = {}
    for pid in tree_pids(root, proc):
        stat = _stat(proc, pid)
        if stat is None:
            continue
        comm, fields = stat
        ticks_used = sum(
            int(fields[i]) for i in (_UTIME, _STIME, _CUTIME, _CSTIME)
        )
        out[pid] = (comm, ticks_used / ticks)
    return out


def tree_peak_rss_mb(root: int, proc: str = "/proc") -> float:
    """Summed VmHWM of the live tree under ``root``, in MiB."""
    kb = 0
    for pid in tree_pids(root, proc):
        try:
            with open(os.path.join(proc, str(pid), "status")) as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024
