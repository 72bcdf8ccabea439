"""Machine record and peak-RSS sampling. The record is kept beside the
results for reference; nothing in it gates a run."""

from __future__ import annotations

import os
import threading
import time


def loadavg() -> list[float]:
    return list(os.getloadavg())


def cpu_probe() -> float:
    """Seconds for a fixed single-thread integer loop (lower = faster CPU
    or a quieter host)."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return float("nan")


def record(seed: int, cpus: int, heap: str) -> dict:
    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": round(mem_total_mb()),
        "session_cpus": cpus,
        "driver_heap": heap,
        "seed": seed,
        "loadavg_before": loadavg(),
        "cpu_probe_s": cpu_probe(),
    }


def _tree_rss_kb(root: int) -> int:
    """RSS of ``root`` and all its descendants (the JVM and Python UDF
    workers are children of the benchmark process)."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/statm") as f:
                rss[int(d)] = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    return sum(rss.get(p, 0) for p in tree) * page_kb


class RssSampler:
    """Background thread recording the peak RSS of this process tree."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
        return self.peak_kb / 1024
