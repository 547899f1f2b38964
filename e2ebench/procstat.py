"""CPU and memory of this process and every descendant, read from /proc.

The benchmark's process tree is the driver Python, the Spark JVM it
launches, and the ``pyspark.daemon`` Python workers the JVM forks. Spark's
own executor-CPU counters see only JVM task threads, so Arrow-kernel time
spent in the Python workers is invisible there; this module reads the
kernel's per-process accounting instead.

CPU of a tree over an interval is the difference of two snapshots of
``utime+stime+cutime+cstime`` summed over the live processes: a child that
exits in between is reaped by its parent (the daemon reaps its workers,
the JVM reaps the daemon), whose ``cutime``/``cstime`` then carry the
child's whole lifetime, so nothing is lost or counted twice.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    kind: str  # "driver" | "jvm" | "pyworker" | "other"
    own_cpu_s: float  # utime + stime
    child_cpu_s: float  # cutime + cstime (reaped children)
    rss_bytes: int


def _read_proc(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read().decode()
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read().split(b"\0")
        with open(f"/proc/{pid}/statm", "rb") as f:
            rss_pages = int(f.read().split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError, IndexError):
        return None
    # the command name (field 2) may hold spaces and parentheses
    fields = stat[stat.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    exe = os.path.basename(cmd[0].decode(errors="replace")) if cmd and cmd[0] else ""
    args = b" ".join(cmd)
    if pid == os.getpid():
        kind = "driver"
    elif exe == "java":
        kind = "jvm"
    elif b"pyspark.daemon" in args or b"pyspark.worker" in args:
        kind = "pyworker"
    else:
        kind = "other"
    return Proc(pid, ppid, kind, (utime + stime) / _TICK, (cutime + cstime) / _TICK, rss_pages * _PAGE)


def tree(root: int | None = None) -> list[Proc]:
    """``root`` (default: this process) and all its live descendants."""
    root = root or os.getpid()
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = _read_proc(int(name))
            if p is not None:
                procs[p.pid] = p
    children: dict[int, list[int]] = {}
    for p in procs.values():
        children.setdefault(p.ppid, []).append(p.pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            out.append(procs[pid])
            stack.extend(children.get(pid, ()))
    return out


def cpu_by_kind(procs: list[Proc]) -> dict[str, float]:
    """Cumulative CPU seconds of a tree snapshot, split driver / jvm /
    pyworker. The JVM's reaped children are Python daemons, so its
    ``cutime`` counts as Python-worker CPU."""
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0, "other": 0.0}
    for p in procs:
        out[p.kind] += p.own_cpu_s
        out["pyworker" if p.kind == "jvm" else p.kind] += p.child_cpu_s
    return out


def machine_cpu_s() -> tuple[float, float]:
    """``(busy, steal)`` seconds summed over this machine's CPUs, from
    ``/proc/stat``: busy is user + nice + system + irq + softirq; steal is
    the time the hypervisor kept a runnable vCPU waiting (0 on bare
    metal)."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return (user + nice + system + irq + softirq) / _TICK, steal / _TICK


def run_time(wall_s: float, busy_s: float, steal_s: float) -> float:
    """``wall * busy / (busy + steal)``: the wall time less the share of
    it the host took away, i.e. the time the work takes when the host
    serves every vCPU it asks for. The wall time itself when nothing was
    stolen."""
    demand = busy_s + steal_s
    return wall_s * busy_s / demand if demand > 0 else wall_s


class Clock:
    """Wall time and the machine's busy and stolen CPU time over a
    ``with`` block; ``run_s`` is ``run_time`` of the three.

    On a shared VM host the neighbours' load steals 5-50% of the vCPUs'
    time, in bursts of seconds to minutes, and a CPU-bound op's wall time
    grows with it: on a 4-vCPU VM one dwh_daily day took 16.7 s with 3 s
    stolen and 26.4 s with 24 s stolen. The kernel keeps stolen time out
    of every process's CPU time, so the benchmark's process tree is most
    of ``busy``."""

    def __enter__(self) -> "Clock":
        self._t0 = time.perf_counter()
        self._busy0, self._steal0 = machine_cpu_s()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        busy, steal = machine_cpu_s()
        self.busy_s, self.steal_s = busy - self._busy0, steal - self._steal0

    @property
    def run_s(self) -> float:
        return run_time(self.wall_s, self.busy_s, self.steal_s)


class TreeSampler:
    """Samples the tree's summed RSS every ``period`` seconds on a daemon
    thread between ``start()`` and ``stop()``; ``stop()`` returns the CPU
    used per kind over the interval and the peak summed RSS."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._peak = 0
        self._lock = threading.Lock()
        self._cpu0: dict[str, float] = {}

    def _sample(self) -> list[Proc]:
        procs = tree()
        rss = sum(p.rss_bytes for p in procs)
        with self._lock:
            self._peak = max(self._peak, rss)
        return procs

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def start(self) -> None:
        self._peak = 0
        self._stop.clear()
        self._cpu0 = cpu_by_kind(self._sample())
        self._thread = threading.Thread(target=self._loop, name="tree-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> dict[str, float]:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        cpu1 = cpu_by_kind(self._sample())
        delta = {k: cpu1[k] - self._cpu0.get(k, 0.0) for k in cpu1}
        return {
            "cpu_s": sum(delta.values()),
            "jvm_cpu_s": delta["jvm"],
            "pyworker_cpu_s": delta["pyworker"],
            "peak_rss_mb": self._peak / 2**20,
        }
