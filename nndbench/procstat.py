"""Per-run resource record read only from this run's own processes and
``/proc/stat``: CPU seconds split into driver, JVM and Python workers,
peak RSS of the whole process tree, and host CPU steal.

The tree is this process, the JVM it launches and the JVM's Python
worker daemons and workers. CPU of a process that has exited and been
reaped lives on in its parent's ``cutime``/``cstime``, so each read sums
both and the total stays continuous as workers come and go.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_FORKNOEXEC = 0x40  # PF_FORKNOEXEC: forked and not yet exec'd


def _stat(pid: int):
    """(comm, ppid, own cpu s, reaped-children cpu s, rss bytes, kernel
    flags) or None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("utf-8", "replace")
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state=0 ppid=1 ... flags=6 ... utime=11 stime=12
    # cutime=13 cstime=14 ... rss=21 (pages)
    return (
        comm,
        int(f[1]),
        (int(f[11]) + int(f[12])) / _TICK,
        (int(f[13]) + int(f[14])) / _TICK,
        int(f[21]) * _PAGE,
        int(f[6]),
    )


def host_steal_s() -> float:
    """Cumulative CPU time stolen from this VM, all CPUs, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def _stats() -> dict[int, tuple]:
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s is not None:
                stats[int(name)] = s
    return stats


def _subtree(stats: dict[int, tuple], root: int) -> set[int]:
    """``root`` and every process below it that is still listed."""
    out = {root} if root in stats else set()
    grew = bool(out)
    while grew:
        grew = False
        for pid, s in stats.items():
            if s[1] in out and pid not in out:
                out.add(pid)
                grew = True
    return out


def split(stats: dict[int, tuple], root: int) -> dict[str, float]:
    """CPU seconds of the driver, the JVM and the Python workers, the
    number of Python worker processes and the summed RSS of the tree
    under ``root``. A child the JVM has cloned but not yet exec'd (a
    Hadoop shell-out during a local write) is left out: it shares the
    JVM's memory, so its RSS would count the JVM twice. Its name is that
    of the JVM thread that cloned it, so it is told apart by the kernel's
    forked-not-exec'd flag, read in the same line as its RSS."""
    tree = _subtree(stats, root)
    tree -= {
        p for p in tree
        if stats.get(stats[p][1], ("",))[0] == "java" and stats[p][5] & _FORKNOEXEC
    }
    java = {p for p in tree if stats[p][0] == "java"}
    under_java = set().union(*(_subtree(stats, j) for j in java)) & tree - java
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid in tree:
        _comm, _ppid, own, reaped, _rss, _flags = stats[pid]
        if pid == root:
            # the JVM and its workers are counted from their own rows
            # while alive; once reaped they land here
            out["driver"] += own
            out["jvm"] += reaped
        elif pid in java:
            out["jvm"] += own
            out["pyworker"] += reaped
        elif pid in under_java:
            out["pyworker"] += own + reaped
        else:
            out["driver"] += own + reaped
    out["pyworkers"] = len(under_java)
    out["rss"] = sum(stats[p][4] for p in tree)
    out["procs"] = sorted(((stats[p][0], stats[p][4]) for p in tree), key=lambda x: -x[1])
    return out


class Sample:
    """One reading of the tree's CPU split, its RSS and the host's steal."""

    def __init__(self, root: int):
        for key, value in split(_stats(), root).items():
            setattr(self, key, value)
        self.steal = host_steal_s()
        self.t = time.perf_counter()

    @property
    def cpu(self) -> float:
        return self.driver + self.jvm + self.pyworker


class Monitor:
    """Samples the tree's RSS in a background thread for the peak, and
    takes synchronous CPU/steal readings at phase boundaries."""

    def __init__(self, interval_s: float = 0.2):
        self.root = os.getpid()
        self.interval_s = interval_s
        self.peak_rss = 0
        self.peak_procs: list[tuple[str, int]] = []  # (name, rss) at the peak
        self.max_pyworkers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "Monitor":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.read()
            self._stop.wait(self.interval_s)

    def read(self) -> Sample:
        s = Sample(self.root)
        if s.rss > self.peak_rss:
            self.peak_rss = s.rss
            self.peak_procs = s.procs
        self.max_pyworkers = max(self.max_pyworkers, s.pyworkers)
        return s

    def descendants(self) -> list[int]:
        return sorted(_subtree(_stats(), self.root) - {self.root})
