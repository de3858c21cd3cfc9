"""Host context: process-tree memory sampling from /proc, the host's
core count, and the fixed-work CPU probes of the repository's
``bench.py``."""

from __future__ import annotations

import os
import platform
import sys
import threading
import time

PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def _tree_rss_mb(root: int) -> float:
    """Summed resident memory of ``root`` and all its descendants: the
    Python driver, the JVM it launched and the JVM's Python workers."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed it
            continue
        # fields after the parenthesised command name: state, ppid, ...
        fields = stat[stat.rindex(b")") + 2:].split()
        pid = int(d)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21])  # resident pages
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total * PAGE_KB / 1024


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat: the
    share of time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


class RssSampler:
    """Background thread sampling the process tree's RSS; ``peak_mb``
    is the largest sum seen. Use as a context manager."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, _tree_rss_mb(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def context(spark) -> dict:
    """Host and Spark facts recorded next to every run."""
    conf = dict(spark.sparkContext.getConf().getAll())
    return {
        "nproc": nproc(),
        "python": sys.version.split()[0],
        "spark": spark.version,
        "platform": platform.platform(),
        "spark_conf": {k: v for k, v in sorted(conf.items()) if k.startswith("spark.")},
    }


def probes(spark=None) -> dict[str, float]:
    """``bench.py``'s fixed-work probes, imported unchanged: the
    numpy probe when ``spark`` is None (run it before the JVM starts),
    the Spark codegen probe otherwise. Missing probes read 0."""
    try:
        import bench
    except ImportError:
        return {}
    if spark is None:
        fn = getattr(bench, "py_probe", None)
        return {"host.py_probe_s": fn()} if fn else {}
    fn = getattr(bench, "hw_probe", None)
    if not fn:
        return {}
    t0 = time.perf_counter()
    fn(spark)
    return {"host.hw_probe_s": time.perf_counter() - t0}
