"""CPU time and resident memory of this process and its descendants.

Reads ``/proc`` directly. CPU of a child that has exited and been
reaped is already folded into its parent's ``cutime``/``cstime``, so
summing utime+stime+cutime+cstime over the live tree counts the
Python workers that Spark forks and retires as well as the JVM.

Resident memory of the tree is summed as PSS (``smaps_rollup``): the
Python workers are forked from one daemon and share its pages, which a
plain RSS sum would count once per worker.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # field 2 (comm) may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int | None = None) -> list[int]:
    """``root`` and every live process below it."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    total = 0
    for pid in descendants(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE // 1024
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss_mb(root: int | None = None) -> float:
    """Resident memory of the tree in MiB (sum of PSS)."""
    return sum(_pss_kb(pid) for pid in descendants(root)) / 1024


def process_age_s() -> float:
    """Seconds since this process was started (``/proc`` clock)."""
    start_ticks = int(_stat(os.getpid())[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK


class RssSampler:
    """Background thread tracking the peak tree RSS since ``reset()``."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        now = tree_rss_mb()
        with self._lock:
            self.peak_mb = now

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            now = tree_rss_mb()
            with self._lock:
                self.peak_mb = max(self.peak_mb, now)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def kill_descendants(timeout_s: float = 20.0) -> None:
    """SIGTERM every descendant, SIGKILL stragglers, and wait (reaping
    our own children) until none is left or ``timeout_s`` passes."""
    me = os.getpid()
    kids = [p for p in descendants(me) if p != me]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in kids:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        end = time.monotonic() + timeout_s / 2
        while time.monotonic() < end:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            kids = [p for p in descendants(me) if p != me]
            if not kids:
                return
            time.sleep(0.05)
