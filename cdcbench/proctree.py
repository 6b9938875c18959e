"""CPU and memory of this process and every process below it, from /proc.

The engine runs in three kinds of process: this Python driver, the JVM it
launches, and the Python workers the JVM forks. CPU time is read as
utime + stime + cutime + cstime, so a worker that exited and was reaped by a
live parent still counts.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces; fields resume after ")"
    return s[s.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    total = 0
    for pid in pids if pids is not None else tree_pids():
        st = _stat(pid)
        if st is not None:  # fields 14-17 of stat, counted from 1
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def tree_pss_mb(pids: list[int] | None = None) -> float:
    """Proportional set size: pages shared between processes, such as a
    forked worker's copy of its parent's imports, are split between them
    instead of counted once per process."""
    total = 0
    for pid in pids if pids is not None else tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total / 1024


def tree_rss_mb(pids: list[int] | None = None) -> float:
    total = 0
    for pid in pids if pids is not None else tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 2**20


class MemorySampler:
    """Samples on a thread every ``interval_s`` and keeps, in MB, the
    highest proportional set size of the tree without the JVM process
    ``jvm``, that is the Python driver and workers (``python_peak_mb``), and
    the highest of that plus the JVM's resident size (``tree_peak_mb``)."""

    def __init__(self, jvm: int, interval_s: float = 0.25):
        self.jvm, self.interval_s = jvm, interval_s
        self.tree_peak_mb = self.python_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        pids = tree_pids()
        py = tree_pss_mb([p for p in pids if p != self.jvm])
        self.tree_peak_mb = max(self.tree_peak_mb, py + tree_rss_mb([self.jvm]))
        self.python_peak_mb = max(self.python_peak_mb, py)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
