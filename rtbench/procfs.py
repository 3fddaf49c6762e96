"""Process facts read from ``/proc`` (psutil is not installed): time since
this process started and peak resident memory of the engine's processes."""

from __future__ import annotations

import os
import time


def since_start() -> float:
    """Seconds since this process started. Both clocks count from boot, so
    the figure is exact to one clock tick (``/proc/self/stat`` field 22)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - ticks / os.sysconf("SC_CLK_TCK")


def _status(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as f:
                kids = [int(x) for x in f.read().split()]
        except OSError:
            kids = []
        out += kids
        todo += kids
    return out


def reset_peak_rss() -> None:
    """Restart this process's ``VmHWM`` from its current resident size, so
    memory the benchmark used to generate inputs is not counted as the
    engine's."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory (``VmHWM``) of the driver JVM, this Python
    process (the PySpark driver) and the Python workers the JVM started, in
    MiB."""
    pids = {os.getpid(), jvm_pid, *_descendants(jvm_pid)}
    return sum(_status(p, "VmHWM") for p in pids) / 1024.0
