"""Process-tree CPU, peak memory and CPU steal, read from ``/proc``.

This Python process launches the Spark JVM, which forks the Python
worker daemon and its workers, so the process tree rooted at this process
holds every process that does the benchmark's work.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; the fields after it start past the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _tree(root: int) -> list[tuple[int, list[str]]]:
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                stats[int(name)] = fields
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by ``root`` and all its live descendants."""
    total = 0
    for _, f in _tree(root or os.getpid()):
        # utime stime cutime cstime are fields 14-17 (1-based) of stat;
        # f starts at field 3 (state)
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def descendants(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    return [pid for pid, _ in _tree(root) if pid != root]


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of ``pids`` is alive; kill what is left at the
    deadline and wait for it too."""
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in pids if (_stat_fields(p) or ["Z"])[0] != "Z"]
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


def jvm_pid(root: int | None = None) -> int | None:
    for pid, _ in _tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of ``pid`` in MiB, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_fraction(before: list[int], after: list[int]) -> float:
    """Share of all CPU ticks between two ``cpu_times()`` readings that the
    hypervisor gave to other guests (field 8, ``steal``)."""
    delta = [b - a for a, b in zip(before, after)]
    # guest and guest_nice (fields 9-10) are already counted in user/nice
    total = sum(delta[:8])
    return delta[7] / total if total > 0 else 0.0
