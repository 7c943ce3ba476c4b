"""Process-tree helpers read from /proc: peak resident memory of the
benchmark's process tree (driver Python, Spark JVM, Python workers)
and a clean wait for every process the run started."""

from __future__ import annotations

import os
import signal
import threading
import time

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # Field 4 (ppid) follows the parenthesised command name.
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in kids.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pid: int) -> int:
    """Anonymous resident memory (RssAnon) of ``pid``: the heap, stacks
    and buffers the process allocated. File-backed pages (mapped jars
    and libraries) are left out because the kernel drops and re-reads
    them with the host's page-cache pressure, not the program's needs."""
    try:
        with open(f"/proc/{pid}/status", "rb") as f:
            for line in f:
                if line.startswith(b"RssAnon:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    every ``interval`` seconds on a daemon thread. ``peak`` is the
    largest sum seen; ``window_peak()`` the largest since the last
    ``start_window()``."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.peak_parts: dict[str, int] = {}  # driver / jvm / workers at the peak
        self.samples = 0
        self._window = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        parts = {"driver": rss_bytes(me), "jvm": 0, "workers": 0}
        for p in descendants(me):
            parts["jvm" if _is_java(p) else "workers"] += rss_bytes(p)
        total = sum(parts.values())
        with self._lock:
            if total > self.peak:
                self.peak, self.peak_parts = total, parts
            self._window = max(self._window, total)
            self.samples += 1

    def start_window(self) -> None:
        with self._lock:
            self._window = 0
        self.sample()

    def window_peak(self) -> int:
        self.sample()
        with self._lock:
            return self._window

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def wait_gone(pids: list[int], timeout: float = 20.0) -> list[int]:
    """Wait until none of ``pids`` exists; SIGKILL what is left after
    ``timeout`` and return those pids."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _exists(p)]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    return alive


def _exists(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            state = f.read().rsplit(b")", 1)[1].split()[0]
    except OSError:
        return False
    return state != b"Z"
