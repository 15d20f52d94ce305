"""Host stamps and process observation, read from /proc outside the program.

The stamps (nproc, steal %, an all-core canary) are informational: they sit
beside every run so a slow sample explains itself, and are never gated.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def read_steal() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from the aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0, sum(vals))


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / dt if dt > 0 else 0.0


_BUSY = """
import sys, time
end = time.perf_counter() + float(sys.argv[1])
n = 0
while time.perf_counter() < end:
    for _ in range(1000):
        n += 1
print(n)
"""


def canary_mops(n: int, seconds: float = 0.3) -> float:
    """Aggregate busy-loop rate (M increments/s) of ``n`` processes, one per
    core: a host-health reading taken before the run it tags."""
    procs = [
        subprocess.Popen([sys.executable, "-c", _BUSY, str(seconds)], stdout=subprocess.PIPE)
        for _ in range(n)
    ]
    ops = sum(int(p.communicate(timeout=60)[0]) for p in procs)
    return ops / seconds / 1e6


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses: split after it
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class WorkerRssSampler:
    """Polls the Python workers forked by Spark's ``pyspark.daemon`` (the
    daemon's children, not the daemon itself) and keeps the largest peak
    resident set (VmHWM) of any single worker."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        procs = {p: _cmdline(p) for p in descendants()}
        for pid, cmd in procs.items():
            if "pyspark.daemon" not in cmd:
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            if "pyspark.daemon" in procs.get(ppid, ""):
                self.peak_kb = max(self.peak_kb, _hwm_kb(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "WorkerRssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
