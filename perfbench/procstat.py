"""CPU time and resident memory of the Spark JVM and its Python worker
descendants, and the CPU time the hypervisor stole from the machine, read
from /proc (no psutil)."""

from __future__ import annotations

import os
import threading
import time

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, int]:
    """(parent pid, CPU ticks of the process plus its reaped children)."""
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[1] = ppid; fields[11:15] = utime, stime, cutime, cstime
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def _rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) * 1024
    return 0


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                ppid, _ = _stat(int(name))
            except (OSError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _machine_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all CPUs since boot. Busy is user,
    nice, system, irq and softirq time; stolen is the time a runnable
    virtual CPU waited for the hypervisor."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7] if len(f) > 7 else 0


class StealClock:
    """Wall time with the hypervisor's steal taken out: elapsed wall time
    times the share of the CPUs' runnable time that was not stolen. On a
    shared virtual machine steal comes and goes with the neighbours' load;
    taking it out keeps it from reading as a change in the program."""

    def __enter__(self) -> "StealClock":
        self._t0, self._ticks0 = time.perf_counter(), _machine_ticks()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        busy, stolen = (b - a for a, b in zip(self._ticks0, _machine_ticks()))
        self.steal_frac = stolen / (busy + stolen) if busy + stolen > 0 else 0.0
        self.run_s = self.wall * (1 - self.steal_frac)


class Sampler:
    """Polls the JVM's process tree in a daemon thread for peak RSS;
    ``cpu_s()`` reads the tree's cumulative CPU seconds on demand."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.05):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def cpu_s(self) -> float:
        ticks = 0
        for pid in process_tree(self.jvm_pid):
            try:
                ticks += _stat(pid)[1]
            except (OSError, ValueError):
                pass  # exited between listing and reading
        return ticks / _TICKS

    def _sample_rss(self, pids: list[int]) -> None:
        total = 0
        for pid in pids:
            try:
                total += _rss_bytes(pid)
            except OSError:
                pass
        self.peak_rss = max(self.peak_rss, total)

    def _run(self) -> None:
        pids = process_tree(self.jvm_pid)
        n = 0
        while not self._stop.wait(self.interval_s):
            n += 1
            if n % 20 == 0:  # new workers are rare; re-walk /proc once a second
                pids = process_tree(self.jvm_pid)
            self._sample_rss(pids)

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample_rss(process_tree(self.jvm_pid))
