"""What the host and this process tree did during a run, read from /proc.

The benchmark's driver process starts the Spark JVM as a child, and the
JVM forks the Python worker daemon and its workers, so "the driver JVM plus
its Python workers" is exactly the process tree under ``os.getpid()``.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited between listdir and open
            continue
        # the command name may hold spaces and parentheses: split after it
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by the process tree.

    Each live process contributes its own time plus that of its reaped
    children (``cutime``/``cstime``), so Python workers that already
    exited and were waited for by the worker daemon still count.
    """
    ticks = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        # fields[11:15] = utime, stime, cutime, cstime (stat fields 14-17)
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


#: thread names (``comm``, cut to 15 characters) of HotSpot's JIT
#: compiler threads
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def tree_jit_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by the JIT compiler threads
    of the JVMs in the process tree.

    Only live threads are counted, so the JVM must keep its compiler
    threads for its whole life (``-XX:-UseDynamicNumberOfCompilerThreads``).
    """
    ticks = 0
    for pid in tree_pids(root):
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
            comm = stat[stat.index("(") + 1:stat.rindex(")")]
            if comm.startswith(_JIT_THREADS):
                fields = stat[stat.rindex(")") + 2:].split()
                ticks += int(fields[11]) + int(fields[12])
    return ticks / _CLK_TCK


def tree_rss_bytes(root: int | None = None) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


def host_mem_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


class RssSampler:
    """Samples the process tree's summed RSS on a thread; keeps the peak
    that two consecutive samples both saw.

    A process the JVM spawns shows the JVM's whole memory under its own
    pid until it execs (the spawn shares the parent's address space), so
    a single sample can count the JVM twice; a sustained peak cannot.
    Use as a context manager around the region whose peak is wanted.
    """

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._last = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        now = tree_rss_bytes()
        self.peak = max(self.peak, min(now, self._last))
        self._last = now

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="rss-sampler")
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
