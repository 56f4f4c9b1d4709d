"""CPU time and resident memory of a process tree, read from ``/proc``.

The benchmark's Spark application is the workload process's descendants:
the driver JVM (launched by ``spark-submit``) and the Python daemon and
workers it forks. Their CPU time is ``utime + stime`` of every live
process plus ``cutime + cstime`` (children that already exited and were
reaped), so a worker that ends between two samples is still counted.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of ``/proc/<pid>/stat``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (not ``root`` itself)."""
    return list(_tree(root))


def _tree(root: int) -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) of every live process below ``root``."""
    table: dict[int, tuple[int, str]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            stat = _stat(int(entry))
            if stat is not None:
                table[int(entry)] = (int(stat[1][1]), stat[0])
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[int, tuple[int, str]] = {}
    stack = [root]
    while stack:
        for child in children.get(stack.pop(), []):
            out[child] = table[child]
            stack.append(child)
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """CPU seconds used so far by ``pids`` and their reaped children."""
    ticks = 0
    for pid in pids:
        stat = _stat(pid)
        if stat is not None:
            # utime stime cutime cstime (stat fields 14-17)
            ticks += sum(int(v) for v in stat[1][11:15])
    return ticks / _TICK


def rss_mb(pid: int) -> float:
    """Resident memory of ``pid`` right now, in MB (0 once it has ended)."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE / 1e6
    except OSError:
        return 0.0


class RssSampler:
    """Background thread that records the peak resident memory of the
    process tree below ``root`` (and of the JVM in it) while
    :attr:`active` is set. The tree is listed afresh at every sample, so
    short-lived Python workers are seen. A JVM child of the JVM is a fork
    that has not yet run ``exec`` (the JVM starts shell commands for local
    file permissions): it shares the JVM's memory, so it is not counted."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self._root = root
        self._interval = interval_s
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._peak = (0.0, 0.0)
        self.active = False
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            if not self.active:
                continue
            tree = _tree(self._root)
            sizes = [
                (rss_mb(pid), name == "java")
                for pid, (ppid, name) in tree.items()
                if not (name == "java" and tree.get(ppid, (0, ""))[1] == "java")
            ]
            total = sum(size for size, _ in sizes)
            jvm = sum(size for size, is_jvm in sizes if is_jvm)
            with self._lock:
                self._peak = (max(self._peak[0], total), max(self._peak[1], jvm))

    def take_peak(self) -> tuple[float, float]:
        """(tree, JVM) peak in MB since the last call, then reset."""
        with self._lock:
            peak, self._peak = self._peak, (0.0, 0.0)
        return peak

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
