"""Process-tree accounting from /proc: CPU time and peak memory of this
process and all its descendants (driver Python, the JVM and the Python
workers it forks)."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def process_tree(pid: int | None = None) -> list[int]:
    out, todo = [], [os.getpid() if pid is None else pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def wait_ended(pids: list[int], timeout: float) -> None:
    """Wait until none of ``pids`` is running (gone or a zombie)."""
    deadline = time.monotonic() + timeout
    for p in pids:
        while time.monotonic() < deadline:
            try:
                with open(f"/proc/{p}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)


def tree_cpu_s() -> float:
    """User plus system CPU seconds of the live tree, each process's
    reaped children included."""
    total = 0
    for p in process_tree():
        try:
            with open(f"/proc/{p}/stat") as f:
                # utime, stime, cutime, cstime: fields 14-17 of stat
                total += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return total / _TICK


class PeakMem:
    """Samples, every ``interval`` seconds, the summed proportional set
    size (PSS) of this process and all its descendants: driver Python,
    JVM and Python workers.  PSS splits each shared page among the
    processes sharing it, so pages that forked workers share with their
    daemon, or a child the JVM spawns shares with the JVM, count once."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.parts: list = []  # (process name, MiB) at the peak
        self.cpu_s = 0.0  # the sampler's own CPU, not the program's
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> tuple[int, list]:
        total, parts = 0, []
        for p in process_tree():
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    pss = next(int(line.split()[1]) << 10 for line in f
                               if line.startswith("Pss:"))
                with open(f"/proc/{p}/comm") as f:
                    parts.append((f.read().strip(), pss >> 20))
                total += pss
            except (OSError, StopIteration, ValueError):
                pass
        return total, parts

    def _take(self) -> None:
        total, parts = self.sample()
        if total > self.peak:
            self.peak, self.parts = total, parts

    def _run(self) -> None:
        while not self._stop.is_set():
            t = time.thread_time()
            self._take()
            self.cpu_s += time.thread_time() - t
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._take()
        return False
