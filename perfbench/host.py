"""Host sizing, the contention sentinel, peak memory and process teardown.

All reads go through /proc (Linux)."""

from __future__ import annotations

import os
import signal
import time


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb() -> int:
    """Driver heap: a fifth of physical memory, between 1 and 4 GiB. No
    pre-touch: the heap commits lazily, so the benchmark fits beside
    other tenants of the host."""
    return max(1024, min(4096, mem_total_mb() // 5))


def process_age_s() -> float:
    """Seconds since this process started (clock-tick resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def _read(pid: int, name: str) -> str | None:
    try:
        with open(f"/proc/{pid}/{name}") as fh:
            return fh.read()
    except OSError:
        return None


def java_pids() -> list[int]:
    return [p for p in _pids() if (_read(p, "comm") or "").strip() == "java"]


def descendants(root: int) -> list[int]:
    parent = {}
    for p in _pids():
        stat = _read(p, "stat")
        if stat:
            parent[p] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [root]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        out += kids
        frontier = kids
    return out


def hwm_mb(pids: list[int]) -> float:
    """Sum of peak resident memory (VmHWM) over ``pids``, in MB (10^6 bytes)."""
    total_kb = 0
    for p in pids:
        for line in (_read(p, "status") or "").splitlines():
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
    return total_kb * 1024 / 1e6


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_since(ticks0: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests since ``ticks0``."""
    steal, total = cpu_ticks()
    return (steal - ticks0[0]) / max(1, total - ticks0[1])


def sentinel() -> dict:
    """State of the host before the benchmark starts its own JVM."""
    others = java_pids()
    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": mem_total_mb(),
        "load1": os.getloadavg()[0],
        "other_jvms": len(others),
        "contended": bool(others),
    }


def stop_tree(pids: list[int], timeout_s: float = 20.0) -> None:
    """Terminate ``pids`` and wait until each has exited (kill after
    ``timeout_s``)."""
    for p in pids:
        try:
            os.kill(p, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive:
        alive = [p for p in alive if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    stat = _read(pid, "stat")
    if stat is None:
        return False
    if stat.rsplit(")", 1)[1].split()[0] == "Z":
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True
