"""/proc readings for the benchmark's own process tree: the driver Python,
the Spark JVM it launched, and the Python workers under that JVM."""

from __future__ import annotations

import os
import time
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # comm may hold spaces; fields after it are space-separated
    return raw[raw.rindex(")") + 2:].split()


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if entry.name.isdigit():
            st = _stat(int(entry.name))
            if st:
                children.setdefault(int(st[1]), []).append(int(entry.name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def python_workers(jvm_pid: int) -> list[int]:
    out = []
    for pid in descendants(jvm_pid):
        try:
            comm = Path(f"/proc/{pid}/comm").read_text().strip()
        except OSError:
            continue
        if comm.startswith("python"):
            out.append(pid)
    return out


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's Python workers, live ones plus those already
    reaped (their time sits in the parent daemon's cutime/cstime)."""
    total = 0
    for pid in python_workers(jvm_pid):
        st = _stat(pid)
        if st:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def vm_hwm_mb(pid: int) -> float:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _running(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of `pids` runs any more; returns those still running."""
    deadline = time.monotonic() + timeout_s
    alive = [p for p in pids if _running(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _running(p)]
    return alive
