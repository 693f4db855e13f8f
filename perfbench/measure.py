"""Small measurement helpers: percentiles, spreads, process-tree RSS
from /proc, and the scan for competing processes."""

from __future__ import annotations

import os
import statistics
import threading
import time

MIN_BEYOND = 10  # samples a tail percentile must have above it


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float], beyond: int = MIN_BEYOND) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least
    ``beyond`` samples above it, or None when there are too few samples.

    With n sorted samples the value at 1-based rank n - beyond has
    exactly ``beyond`` samples above it; its percentile is
    100 * (n - beyond) / n (n = 100 gives p90, n = 1000 gives p99)."""
    n = len(xs)
    if n <= beyond:
        return None
    s = sorted(xs)
    return 100.0 * (n - beyond) / n, float(s[n - beyond - 1])


def quartile_spread(xs: list[float]) -> float:
    """(Q3 - Q1) / median, with Python's default quantile method."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


# -- /proc process tree ------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces/parens: fields resume after the last ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each page shared by k
    processes counted 1/k.  Summed over a tree it counts the pages
    forked Python workers share with their parent once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited between listing and reading
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv = [a.decode(errors="replace") for a in f.read().split(b"\0") if a]
    except OSError:
        return "?"
    if not argv:
        return "?"
    if "pyspark.daemon" in argv or "pyspark.worker" in argv:
        return "python-worker"
    return os.path.basename(argv[0])


def tree_rss(pid: int) -> dict[str, int]:
    """PSS bytes of this process tree by program: the driver Python,
    java and the pyspark daemon with its Python workers."""
    out: dict[str, int] = {}
    for p in [pid, *descendants(pid)]:
        name = "driver" if p == pid else _comm(p)
        out[name] = out.get(name, 0) + pss_bytes(p)
    return out


class RssSampler:
    """Background sampler of the resident memory (PSS) of this process
    and all of its descendants (driver Python, the JVM and its Python
    workers).  ``peak`` is the peak of the whole run, with its
    per-program breakdown in ``peak_parts``; ``window()`` starts a new
    window and returns the previous window's peak."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._window = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        parts = tree_rss(os.getpid())
        total = sum(parts.values())
        with self._lock:
            self._window = max(self._window, total)
            if total > self.peak:
                self.peak, self.peak_parts = total, parts

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def window(self) -> int:
        self._sample()
        with self._lock:
            w, self._window = self._window, 0
        return w

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


def competing_processes() -> list[str]:
    """java or pytest processes outside this process tree."""
    mine = {os.getpid(), *descendants(os.getpid())}
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) in mine:
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        words = [os.path.basename(a.decode(errors="replace")) for a in argv if a]
        if words and (words[0] == "java" or any("pytest" in w for w in words[:3])):
            found.append(f"{name}:{' '.join(words[:3])[:80]}")
    return found


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of pids exists; returns those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.05)
    return alive
