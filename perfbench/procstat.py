"""CPU seconds and resident memory of this process and all its descendants.

Read straight from ``/proc`` (psutil is not a dependency): the driver
Python process, the Spark JVM it launched and the Python workers the JVM
forks form one tree.  CPU is utime+stime of every live process plus the
cutime+cstime that reaped children left with their parents, so the total
never falls when a worker exits.  Resident memory (RSS; PSS for the forked
Python workers) is sampled by a background thread; ``peak_mb`` is the
largest tree-wide sum it saw.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:  # the process exited between listdir and open
        return None
    # the command name may hold spaces or parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[str]:
    """``root`` (default: this process) and every live descendant."""
    root = str(root or os.getpid())
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            fields = _stat_fields(pid)
            if fields:
                children.setdefault(fields[1], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _kind(pid: str, root: str) -> str:
    if pid == root:
        return "driver"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            exe = f.read().split(b"\0", 1)[0]
    except OSError:
        return "pyworkers"
    return "jvm" if exe.endswith(b"java") else "pyworkers"


def tree_cpu_by_kind(root: int | None = None) -> dict[str, float]:
    """CPU seconds used so far, split into the driver process, the JVM and
    everything else in the tree (the Python workers and their daemon)."""
    root = str(root or os.getpid())
    out = {"driver": 0.0, "jvm": 0.0, "pyworkers": 0.0}
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields:  # fields[11:15] = utime stime cutime cstime
            out[_kind(pid, root)] += sum(int(v) for v in fields[11:15]) / _TICK
    return out


def _resident_mb(pid: str, kind: str) -> float:
    """RSS, except PSS for the Python workers: they are forked from one
    daemon and share most of their pages with it, so summing their RSS
    would count those pages once per worker."""
    try:
        if kind == "pyworkers":
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) / 1024
            return 0.0
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE / 2**20
    except OSError:  # the process exited
        return 0.0


def tree_rss_mb(root: int | None = None) -> dict[str, float]:
    """Resident MB of the process tree, split like :func:`tree_cpu_by_kind`."""
    root = str(root or os.getpid())
    out = {"driver": 0.0, "jvm": 0.0, "pyworkers": 0.0}
    for pid in tree_pids(root):
        kind = _kind(pid, root)
        out[kind] += _resident_mb(pid, kind)
    return out


class RssSampler:
    """Background sampler of the tree's resident memory; use as a context
    manager around the phase whose peak should be reported."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_by_kind = {"driver": 0.0, "jvm": 0.0, "pyworkers": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            rss = tree_rss_mb()
            self.peak_mb = max(self.peak_mb, sum(rss.values()))
            for k, v in rss.items():
                self.peak_by_kind[k] = max(self.peak_by_kind[k], v)
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
