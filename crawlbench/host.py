"""Process-tree memory sampling, the CPU probe, and process shutdown."""

from __future__ import annotations

import os
import subprocess
import threading
import time
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            # field 4 of /proc/<pid>/stat, after the parenthesised name
            ppid = int((p / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p.name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            total += int(Path(f"/proc/{p}/statm").read_text().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass  # exited between listing and reading
    return total


class RssMonitor:
    """Samples the RSS summed over this process and all its descendants
    (the JVM, Python workers) and keeps the peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssMonitor:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def cpu_probe(seconds: float = 0.5) -> float:
    """Single-thread loop rate (loops/s) — host context, never used to
    normalize a metric."""
    t_end = time.perf_counter() + seconds
    n = x = 0
    while time.perf_counter() < t_end:
        for i in range(50_000):
            x += i * i
        n += 1
    return n / seconds


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and every process under it
    and wait for them to exit."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while procs and time.monotonic() < deadline:
        procs = [p for p in procs if Path(f"/proc/{p}").exists() and not _zombie(p)]
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _zombie(pid: int) -> bool:
    try:
        return Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0] == "Z"
    except (OSError, IndexError):
        return True
