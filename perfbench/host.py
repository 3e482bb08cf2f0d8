"""Host readings taken from /proc: whole-VM CPU, steal, load and memory.

``cpu_s`` comes from whole-VM busy jiffies rather than from Spark's
``executorCpuTime``: the status store leaves out pandas-UDF worker
processes, and summing a process tree goes wrong when a worker exits
between two readings.
"""

from __future__ import annotations

import os

_HZ = os.sysconf("SC_CLK_TCK")


def cpu_times() -> tuple[float, float]:
    """(busy, steal) CPU-seconds since boot, summed over every CPU.

    Busy is user + nice + system + irq + softirq: iowait and idle are not
    work, and steal is time the hypervisor gave to someone else.
    """
    with open("/proc/stat") as f:
        fields = f.readline().split()
    user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, fields[1:9])
    return (user + nice + system + irq + softirq) / _HZ, steal / _HZ


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a running process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM line for process {pid}")
