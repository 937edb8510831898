"""Host and process counters read from ``/proc`` (Linux)."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except FileNotFoundError:
            pass  # the thread ended while we listed it
    return out


def descendants(pid: int) -> list[int]:
    """Live processes below ``pid``, parents before children."""
    out, stack = [], [pid]
    while stack:
        try:
            kids = _children(stack.pop())
        except FileNotFoundError:
            continue  # exited while we walked the tree
        out.extend(kids)
        stack.extend(kids)
    return out


def tree_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of ``pid`` and every live descendant,
    including what their already-reaped children used. For the driver
    JVM this covers the local executors and the Python UDF workers."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            # utime stime cutime cstime (fields 14-17, 1-based)
            total += sum(int(x) for x in _stat_fields(p)[11:15])
        except FileNotFoundError:
            pass  # exited between listing and reading
    return total / _TICK


def _running(pid: int) -> bool:
    try:
        return _stat_fields(pid)[0] != "Z"  # a zombie has ended
    except FileNotFoundError:
        return False


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until every process in ``pids`` has ended."""
    deadline = time.monotonic() + timeout
    for p in pids:
        while _running(p):
            if time.monotonic() > deadline:
                raise TimeoutError(f"process {p} still running")
            time.sleep(0.05)


def self_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor since boot."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _TICK


def hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")
