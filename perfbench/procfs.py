"""Process-tree and host counters read from ``/proc``.

The benchmark's process tree is its own Python process, the Spark JVM it
launches, and the JVM's Python daemon and workers. CPU is read as
``utime + stime + cutime + cstime`` per live process, so a worker that exits
and is reaped still counts through its parent.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class TreeSample:
    cpu_s: float  # all processes of the tree
    python_worker_cpu_s: float  # Python processes below the JVM
    hwm_mb: float  # sum of per-process peak RSS (VmHWM)
    hwm_by_process: dict  # "pid comm" -> VmHWM in MiB


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:  # the process exited between listing and reading
        return None


def _fields(pid: int) -> tuple[str, list[str]] | None:
    """(comm, the fields after it) of /proc/<pid>/stat."""
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 2 :].split()


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds including reaped children) of one process."""
    st = _fields(pid)
    if st is None:
        return None
    comm, fields = st
    return int(fields[1]), comm, sum(int(x) for x in fields[11:15]) / _TICK


def _hwm_mb(pid: int) -> float:
    raw = _read(f"/proc/{pid}/status") or ""
    for line in raw.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    return 0.0


def sample_tree() -> TreeSample:
    """CPU and peak memory of this process and its descendants."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    cpu = py_cpu = 0.0
    hwm: dict[str, float] = {}
    stack = [(os.getpid(), False)]
    while stack:
        pid, below_jvm = stack.pop()
        if pid not in procs:
            continue
        _, comm, pid_cpu = procs[pid]
        cpu += pid_cpu
        hwm[f"{pid} {comm}"] = _hwm_mb(pid)
        if below_jvm and comm.startswith("python"):
            py_cpu += pid_cpu
        is_jvm = comm == "java"
        stack.extend((c, below_jvm or is_jvm) for c in children.get(pid, ()))
    return TreeSample(cpu, py_cpu, sum(hwm.values()), hwm)


@dataclass(frozen=True)
class HostSample:
    total: int  # all jiffies of all CPUs
    busy: int  # jiffies neither idle nor iowait nor steal
    steal: int


def sample_host() -> HostSample:
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest time is in user)
    idle, iowait, steal = vals[3], vals[4], vals[7]
    total = sum(vals[:8])
    return HostSample(total, total - idle - iowait - steal, steal)


def host_delta(a: HostSample, b: HostSample, tree_cpu_s: float) -> dict:
    """Steal share, and the share of CPU busy outside our process tree."""
    total = max(b.total - a.total, 1)
    other = (b.busy - a.busy) - tree_cpu_s * _TICK
    return {
        "steal_share": (b.steal - a.steal) / total,
        "other_busy_share": max(other, 0) / total,
    }


def load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def process_age_s() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _TICK


def become_subreaper() -> None:
    """Adopt this process's orphaned descendants (Linux PR_SET_CHILD_SUBREAPER).

    A Python worker whose JVM has exited is then re-parented to this
    process, not to init, so ``stop_descendants`` can still see it and wait
    for it.
    """
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def live_descendants() -> list[int]:
    """Pids below this process that have not ended (zombies have ended)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _fields(int(name))
            if st is not None and st[1][0] not in "ZX":
                parent[int(name)] = int(st[1][1])
    me, out = os.getpid(), []
    for pid in parent:
        p = parent.get(pid)
        while p is not None and p != me:
            p = parent.get(p)
        if p == me:
            out.append(pid)
    return out


def _reap() -> None:
    """Collect every ended child of this process."""
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                return
        except ChildProcessError:
            return


def stop_descendants(grace_s: float) -> None:
    """End every process below this one and wait until each has ended.

    Each gets SIGTERM, and after ``grace_s`` seconds SIGKILL; ended
    children are reaped throughout.
    """
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    sent: set[int] = set()
    while True:
        _reap()
        pids = live_descendants()
        if not pids:
            return
        if sig == signal.SIGTERM and time.monotonic() > deadline:
            sig, sent = signal.SIGKILL, set()
        for pid in pids:
            if pid not in sent:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                sent.add(pid)
        time.sleep(0.05)
