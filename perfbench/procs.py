"""Process-tree memory sampling and shutdown, read from /proc."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Peak summed RSS of every descendant of this process (the JVM and
    the Python workers it forks), sampled every ``period`` seconds.
    ``take_peak`` returns the peak since the previous call."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def take_peak(self) -> int:
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = rss_bytes(descendants(me))
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def stop_spark_gateway(timeout: float = 30.0) -> None:
    """Shut the py4j JVM down and wait until it and every process it
    started have exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    # Python workers are the JVM's children and are re-parented when it
    # exits, so remember every pid now and wait for each by pid
    started = descendants(os.getpid())
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    if not _wait_gone(started, timeout):
        for p in started:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        _wait_gone(started, timeout)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _wait_gone(pids: list[int], timeout: float) -> bool:
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)
    return True
