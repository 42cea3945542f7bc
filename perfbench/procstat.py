"""CPU and memory of the benchmark's process tree, read from ``/proc``.

The tree is this Python driver, the Spark JVM it launched, the
``pyspark.daemon`` the JVM starts and the Python workers the daemon
forks. Per process the counters are ``utime + stime`` plus
``cutime + cstime``: a child that exited and was reaped has its CPU
folded into its parent's ``c*`` fields, so summing both over the live
tree counts every CPU-second exactly once, including short-lived
workers.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """The fields of ``/proc/<pid>/stat`` after the command name (state,
    ppid, ...), or None for a process that is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces: split after the closing parenthesis
    return raw[raw.rindex(")") + 2:].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


@dataclass
class TreeSample:
    """CPU-seconds by role at one instant, plus the Python worker pids
    alive then and the summed peak RSS of the live tree."""

    driver_py: float = 0.0
    jvm: float = 0.0
    pyworker: float = 0.0
    worker_pids: frozenset = field(default_factory=frozenset)
    hwm_mb: float = 0.0

    @property
    def total(self) -> float:
        return self.driver_py + self.jvm + self.pyworker

    def minus(self, before: "TreeSample") -> "TreeSample":
        return TreeSample(
            self.driver_py - before.driver_py,
            self.jvm - before.jvm,
            self.pyworker - before.pyworker,
            self.worker_pids - before.worker_pids,
            self.hwm_mb,
        )


def sample(root: int | None = None) -> TreeSample:
    """Walk ``/proc`` once and attribute the tree under ``root``."""
    root = os.getpid() if root is None else root
    parent: dict[int, int] = {}
    fields: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        parent[int(name)] = int(st[1])
        fields[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)

    out = TreeSample()
    workers: set[int] = set()
    hwm_kb = 0
    # (pid, role) depth-first; the role of a subtree is decided at the
    # process that starts it: java below the driver, pyspark.daemon
    # (and everything it forks) below the JVM
    stack = [(root, "driver_py")]
    while stack:
        pid, role = stack.pop()
        f = fields.get(pid)
        if f is None:
            continue
        own = (int(f[11]) + int(f[12])) / TICK
        reaped = (int(f[13]) + int(f[14])) / TICK
        hwm_kb += _hwm_kb(pid)
        if role == "driver_py":
            # the driver's reaped children are the JVM launcher's
            # short-lived helpers, billed to the JVM
            out.driver_py += own
            out.jvm += reaped
        elif role == "jvm":
            out.jvm += own
            # the JVM reaps pyspark daemons and workers only
            out.pyworker += reaped
        else:
            out.pyworker += own + reaped
            if role == "pyworker":
                workers.add(pid)
        for child in children.get(pid, []):
            if role == "driver_py":
                child_role = "jvm" if "java" in _cmdline(child) else "driver_py"
            elif role == "jvm":
                child_role = "pydaemon" if "pyspark" in _cmdline(child) else "jvm"
            else:
                child_role = "pyworker"
            stack.append((child, child_role))
    out.worker_pids = frozenset(workers)
    out.hwm_mb = hwm_kb / 1024.0
    return out


def host_record() -> dict:
    """nproc, MemTotal, the 1-minute load average and the host's
    cumulative CPU ticks (total and stolen by the hypervisor) right
    now; two records give the steal share between them."""
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": mem_kb // 1024,
        "load1": os.getloadavg()[0],
        "cpu_ticks": sum(ticks[:8]),
        "steal_ticks": ticks[7] if len(ticks) > 7 else 0,
    }


def steal_share(start: dict, end: dict) -> float:
    """Share of all CPU time between two host records that the
    hypervisor gave to other guests."""
    total = end["cpu_ticks"] - start["cpu_ticks"]
    return (end["steal_ticks"] - start["steal_ticks"]) / total if total else 0.0
