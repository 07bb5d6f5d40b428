"""Process-level readings the benchmark takes around the program.

- `RssSampler`: peak resident memory of the whole process tree (driver,
  JVM, Python workers), sampled from /proc while enabled;
- `residual_storage`: storage the SparkContext still holds after an op,
  beyond a baseline taken after set-up (the leaked-checkpoint class);
- `host_stamp`: load average and a short bare-CPU probe, recorded beside
  a run as context for its timings, never as a metric.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parents() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process ended between listdir and open
            continue
        # the command name is parenthesised and may hold spaces
        out[int(d)] = int(stat[stat.rindex(b")") + 2 :].split()[1])
    return out


def process_tree(root: int) -> list[int]:
    """`root` and every process descended from it."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, []))
    return tree


def tree_rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Background sampler of the process tree's RSS.

    Samples only while `enabled`, so set-up and correctness checks do not
    count. The tree is re-walked every `rewalk_s`; in between only the
    known pids' statm files are read, which keeps the sampler's own cost
    (it shares the interpreter lock with the driver) small."""

    def __init__(self, interval_s: float = 0.1, rewalk_s: float = 5.0):
        self.interval_s = interval_s
        self.rewalk_s = rewalk_s
        self.peak_bytes = 0
        self.enabled = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        root, pids, walked = os.getpid(), [], 0.0
        while not self._stop.is_set():
            if self.enabled.wait(timeout=self.interval_s):
                now = time.monotonic()
                if now - walked >= self.rewalk_s:
                    pids, walked = process_tree(root), now
                self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(pids))
                self._stop.wait(self.interval_s)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def residual_storage(spark, baseline_ids: set[int]) -> tuple[float, int]:
    """(MB cached, RDD count) persisted now and not in `baseline_ids`."""
    from nlp_cube_spark.session import persistent_rdd_ids

    ids = persistent_rdd_ids(spark) - baseline_ids
    size = 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        if info.id() in ids:
            size += info.memSize() + info.diskSize()
    return size / 2**20, len(ids)


def _bare_cpu_mops(n: int = 300_000) -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i % 7
    return n / (time.perf_counter() - t0) / 1e6


def host_stamp(cpus: int) -> dict:
    """Host contention context: load average against the cores in use,
    and a single-process pure-Python loop rate (median of 5 short runs)."""
    with open("/proc/loadavg") as f:
        load1, load5, load15 = (float(x) for x in f.read().split()[:3])
    return {
        "cpus": cpus,
        "nproc": os.cpu_count(),
        "load1": load1,
        "load5": load5,
        "load15": load15,
        "load1_per_cpu": round(load1 / cpus, 3),
        "bare_cpu_mops": round(statistics.median(_bare_cpu_mops() for _ in range(5)), 3),
        "time": time.time(),
    }
