"""Host probes: driver heap sizing, process-tree CPU and RSS, steal ticks.

Everything here reads /proc and /sys only; nothing touches the program
under test.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def memory_limit_bytes() -> int:
    """The memory this process may use: the smaller of MemAvailable and the
    cgroup limit (v2 or v1), whichever exist."""
    limits = []
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                limits.append(int(line.split()[1]) * 1024)
    for p in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(p) as f:
                v = f.read().strip()
        except OSError:
            continue
        if v.isdigit() and int(v) < 1 << 60:
            limits.append(int(v))
    return min(limits) if limits else 4 << 30


def driver_heap_mb() -> int:
    """Spark driver heap: a quarter of the usable memory, clamped to
    [1, 2] GiB. In local mode every task runs inside the driver JVM, and
    the JVM's off-heap, the Python workers and the page cache need the rest;
    the package default (48g) is larger than many hosts and gets the JVM
    OOM-killed. The 2 GiB ceiling is ample for the benchmark's inputs and
    keeps the heap (hence peak RSS) from tracking the host's free memory."""
    mb = memory_limit_bytes() // 4 // (1 << 20)
    return max(1024, min(2048, mb))


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses; fields resume after the last ')'
    return s[s.rindex(")") + 2 :].split()


def process_tree(root: int | None = None) -> list[int]:
    """`root` and all its live descendants (the driver, its JVM and the
    Python workers the JVM forks)."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """user+sys CPU seconds of the process tree, including reaped children
    (a finished Python worker's time lands in its parent's cutime/cstime).
    Steal time is not part of utime/stime."""
    total = 0
    for p in pids or process_tree():
        f = _stat_fields(p)
        if f is not None:
            # fields 14-17 of proc(5): utime stime cutime cstime (0-based 11..14 here)
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK


def tree_rss_bytes(pids: list[int] | None = None) -> int:
    total = 0
    for p in pids or process_tree():
        f = _stat_fields(p)
        if f is not None:
            total += int(f[21]) * _PAGE  # field 24 of proc(5): rss in pages
    return total


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) if len(cpu) > 8 else 0


def host_stamp() -> dict:
    return {"steal_ticks": steal_ticks(), "loadavg": os.getloadavg()[0], "nproc": os.cpu_count()}


class RssSampler:
    """Peak RSS of the process tree, sampled on a background thread while
    the context is open."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        pids = process_tree()
        last_tree = time.monotonic()
        while not self._stop.is_set():
            if time.monotonic() - last_tree > 1.0:  # workers come and go
                pids = process_tree()
                last_tree = time.monotonic()
            self.peak = max(self.peak, tree_rss_bytes(pids))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self.peak = tree_rss_bytes()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())
