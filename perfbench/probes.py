"""Host and process-tree probes read from /proc.

- ``tree_cpu_s``: CPU seconds (utime + stime + cutime + cstime) summed over a
  root process and every live descendant: the benchmark's Python driver,
  the JVM it launches, the PySpark worker daemon and its forked workers.
  A worker that exits is reaped by its parent inside the tree, so its time
  moves into the parent's ``cutime``/``cstime`` and is neither lost nor
  counted twice.
- ``PssSampler``: a background thread that samples the tree's summed PSS
  from ``/proc/<pid>/smaps_rollup`` and keeps the peak, and reports its own
  CPU time so that it can be taken out of the tree's.  PSS splits shared
  pages between the processes mapping them, so forked workers are not
  double-counted the way RSS would.
- ``cpu_jiffies`` / ``steal_share``: the host's /proc/stat counters, for the
  share of CPU time the hypervisor gave to other tenants during a run.
"""

from __future__ import annotations

import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # field 2 (comm) may hold spaces; the fields after its ')' are fixed
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0
    fields = stat[stat.rindex(")") + 2:].split()
    # utime stime cutime cstime are stat fields 14-17 (index 11-14 here)
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s() -> float:
    """CPU seconds of this process and its descendants."""
    return sum(_cpu_ticks(p) for p in tree_pids(os.getpid())) / _CLK_TCK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PssSampler:
    """Peak summed PSS of this process and its descendants, sampled every
    ``interval_s`` while active.  Use as a context manager around the work
    being measured.

    The descendant list is rebuilt every ``PID_REFRESH`` samples, not on
    every one.  The sampler's reads run in its own thread, so the CPU time
    they cost this process (kernel time of the /proc reads included) is
    that thread's time; it is kept in ``cpu_s`` once the block exits, for
    the caller to take out of ``tree_cpu_s``."""

    PID_REFRESH = 4

    def __init__(self, interval_s: float):
        self.root = os.getpid()
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        pids: list[int] = []
        n = 0
        while True:
            if n % self.PID_REFRESH == 0:
                pids = tree_pids(self.root)
            n += 1
            self.peak_mb = max(self.peak_mb,
                               sum(_pss_kb(p) for p in pids) / 1024.0)
            if self._stop.wait(self.interval_s):
                self.cpu_s = time.thread_time()
                return

    def __enter__(self) -> "PssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_jiffies() -> tuple[int, ...]:
    """The 8 aggregate /proc/stat cpu fields: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return tuple(int(x) for x in f.readline().split()[1:9])


def steal_share(before: tuple[int, ...], after: tuple[int, ...]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / (sum(d) or 1)
