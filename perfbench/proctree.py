"""Process-tree CPU and RSS from /proc.

A Spark job is a Python driver, a JVM it launches, and Python workers
the JVM forks. ``RUSAGE_CHILDREN`` sees only children that were waited
for, so it misses the JVM while it runs; this module walks every
descendant of a root pid instead.

CPU of a live process is utime + stime; CPU of descendants that have
already exited and been reaped is in their parent's cutime + cstime,
so summing both over the live tree counts every process exactly once.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may contain spaces; fields after it start past ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> dict[int, list[str]]:
    """pid -> stat fields (from field 3 on) for root and its descendants."""
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def group_tree(pgid: int) -> set[int]:
    """Members of process group ``pgid`` and all their descendants.

    PySpark's Python worker daemon moves itself into a group of its
    own, under the JVM; once the group's leader has exited, this is
    still how to find it."""
    stats = {pid: st for pid, st in
             ((int(n), _stat(int(n))) for n in os.listdir("/proc") if n.isdigit())
             if st is not None}
    out, todo = set(), [pid for pid, st in stats.items() if int(st[2]) == pgid]
    while todo:
        pid = todo.pop()
        if pid not in out:
            out.add(pid)
            todo.extend(p for p, st in stats.items() if int(st[1]) == pid)
    return out


def cpu_seconds(root: int) -> float:
    """utime + stime + cutime + cstime summed over the tree, in seconds."""
    # fields 14-17 (1-based) are at 11-14 once the first two are dropped
    return sum(sum(int(x) for x in st[11:15]) for st in tree(root).values()) / _TICK


def host_cpu() -> dict[str, float]:
    """Machine-wide CPU seconds (all cores) by state, from /proc/stat.

    ``steal`` is time the hypervisor gave this VM's vCPUs to others."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:9]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {n: int(v) / _TICK for n, v in zip(names, fields)}


def rss_mb(root: int) -> float:
    """Summed resident set size of the tree, in MiB."""
    return sum(int(st[21]) for st in tree(root).values()) * _PAGE / (1 << 20)


class PeakRss:
    """Samples the summed RSS of a process tree until stopped.

    ``with PeakRss(pid) as p: ...`` then ``p.peak_mb``."""

    def __init__(self, root: int, interval_s: float = 0.05):
        self.root, self.interval_s = root, interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
