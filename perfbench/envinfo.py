"""Environment record, leftover-JVM refusal and the /proc memory sampler."""

from __future__ import annotations

import hashlib
import os
import subprocess
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
SPARK_JVM_MARK = b"org.apache.spark.deploy.SparkSubmit"


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return uptime - int(fields[19]) / _TICK


def spark_jvms() -> list[int]:
    """Pids of running Spark JVMs."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if SPARK_JVM_MARK in fh.read():
                    pids.append(int(pid))
        except OSError:
            continue
    return pids


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and its JVM, and wait until the JVM has
    exited (closing its stdin pipe is PySpark's own shutdown signal)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout_s)
    deadline = time.monotonic() + timeout_s
    while spark_jvms() and time.monotonic() < deadline:
        time.sleep(0.1)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def tree_pss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (the Spark JVM
    and the Python workers it forks), each shared page split between the
    processes that map it (PSS). Plain RSS would count the daemon's pages
    once more for every worker it forks, so the sum would jump with the
    number of idle workers Spark happens to keep."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


class MemorySampler:
    """Background thread recording the peak tree PSS of one process while
    ``active`` is set."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.wait(self.interval_s):
            if self.active.is_set():
                self.peak = max(self.peak, tree_pss_bytes(self.root_pid))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def machine_calibration() -> dict:
    """The same three probes as ``bench.machine_calibration``: a Python
    loop, a memory stream and md5 throughput."""
    import numpy as np

    t0 = time.monotonic()
    s = 0
    for i in range(10**7):
        s += i * i
    single = time.monotonic() - t0
    a = np.zeros(256_000_000, dtype=np.uint8)
    t0 = time.monotonic()
    for _ in range(4):
        a[:] = 7
        _ = int(a[::4096].sum())
    stream = 1.0 / (time.monotonic() - t0)
    del a
    buf = b"x" * (64 << 20)
    t0 = time.monotonic()
    hashlib.md5(buf).hexdigest()
    md5_gbps = (64 / 1024) / (time.monotonic() - t0)
    return {
        "cpu_loop_s": round(single, 3),
        "mem_stream_gbps": round(stream, 2),
        "md5_gbps": round(md5_gbps, 2),
    }
