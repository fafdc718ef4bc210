"""Process-tree and host counters read from /proc.

The measuring process is the root of its tree: the Spark JVM is its child
and the Python workers are the JVM's children, so summing over the tree
charges one pass with everything the engine ran, in every process.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

TICK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class TreeCpu:
    """CPU seconds (user + system, reaped children included) of one tree."""

    driver: float  # this Python process, from the high-resolution clock
    jvm: float
    workers: float  # Python processes below the JVM

    @property
    def python(self) -> float:
        return self.driver + self.workers

    @property
    def total(self) -> float:
        return self.driver + self.jvm + self.workers

    def __sub__(self, other: TreeCpu) -> TreeCpu:
        return TreeCpu(self.driver - other.driver, self.jvm - other.jvm,
                       self.workers - other.workers)


def _stat(pid: int) -> tuple[str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:  # the process ended between listdir and open
        return None
    close = s.rfind(")")
    return s[s.find("(") + 1 : close], s[close + 2 :].split()


def _tree() -> dict[int, tuple[str, list[str]]]:
    """pid -> (comm, stat fields) for this process and all descendants."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(int(name))) is not None:
            procs[int(name)] = st
    root = os.getpid()
    keep = {root}
    grew = True
    while grew:
        grew = False
        for pid, (_, fields) in procs.items():
            if pid not in keep and int(fields[1]) in keep:
                keep.add(pid)
                grew = True
    return {pid: procs[pid] for pid in keep}


def tree_cpu() -> TreeCpu:
    jvm = workers = 0.0
    me = os.getpid()
    for pid, (comm, f) in _tree().items():
        if pid == me:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5), 1-based.
        secs = sum(int(x) for x in f[11:15]) / TICK
        if comm == "java":
            jvm += secs
        else:
            workers += secs
    return TreeCpu(time.process_time(), jvm, workers)


def tree_peak_rss_mb() -> float:
    """Sum of the tree's per-process resident high-water marks (VmHWM)."""
    kb = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def steal_s() -> float:
    """Host-wide CPU time the hypervisor took back, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / TICK


def process_age_s() -> float:
    """Seconds since the kernel started this process."""
    f = _stat(os.getpid())[1]
    return time.clock_gettime(time.CLOCK_BOOTTIME) - int(f[19]) / TICK


def host_record() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/sys/kernel/random/boot_id") as f:
        boot_id = f.read().strip()
    return {"boot_id": boot_id, "loadavg": load, "steal_s_total": steal_s()}
