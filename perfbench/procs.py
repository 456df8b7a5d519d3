"""Process-tree helpers read from /proc: peak resident memory of the
benchmark's process tree, a short host CPU probe, and a shutdown that
waits until the JVM and its Python workers have exited."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

SAMPLE_S = 0.25  # a sample costs a few ms of this process's time
RELIST_S = 1.0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size of one process: pages shared between processes
    (the forked Python workers share their daemon's) are split among them
    instead of counted once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PeakRss:
    """Samples the resident memory (as proportional set size) of this
    process and all its descendants (the Spark JVM and its Python workers)
    every ``SAMPLE_S`` seconds, re-listing the descendants every
    ``RELIST_S`` seconds."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self, pids: list[int]) -> None:
        self.peak = max(self.peak, sum(_pss_bytes(p) for p in pids))

    def _run(self) -> None:
        root = os.getpid()
        listed = 0.0
        while True:
            if time.monotonic() - listed >= RELIST_S:
                pids = [root] + descendants(root)
                listed = time.monotonic()
            self._sample(pids)
            if self._stop.wait(SAMPLE_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample([os.getpid()] + descendants(os.getpid()))


def host_probe(spark) -> dict:
    """~0.3 s single-thread probe: a pure-Python loop and a one-partition
    JVM scan. Recorded before and after the timed section so a throttled
    host window is visible next to the numbers it produced."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    py_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.range(0, 5_000_000, 1, 1).select(F.sum(F.xxhash64("id") % 1000)).collect()
    jvm_s = time.perf_counter() - t0
    return {"py_s": round(py_s, 4), "jvm_s": round(jvm_s, 4)}


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids: list[int], timeout: float) -> list[int]:
    deadline = time.time() + timeout
    alive = [p for p in pids if _running(p)]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _running(p)]
    return alive


def stop_spark(spark) -> None:
    """Stop the session and the py4j gateway JVM, then wait until every
    process this one started (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    for pid in _wait_gone(tree, 30):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait_gone(tree, 10)
