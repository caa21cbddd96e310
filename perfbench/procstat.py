"""Readings of ``/proc``: CPU time of the run's process tree, host steal
and the CPU used outside the tree, and peak resident memory.

The parsers take file contents, so that they can be tested without a
live process; the readers around them open the files.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

TICK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class ProcStat:
    """The fields of ``/proc/<pid>/stat`` this benchmark uses."""

    pid: int
    comm: str
    ppid: int
    own_ticks: int
    """utime + stime, over all its threads."""
    reaped_ticks: int
    """cutime + cstime: the CPU of children it has reaped, which have
    left the tree."""
    start_ticks: int

    @property
    def cpu_ticks(self) -> int:
        return self.own_ticks + self.reaped_ticks


def parse_pid_stat(text: str) -> ProcStat:
    """Parse one ``/proc/<pid>/stat`` line. The command name is in
    parentheses and may itself hold spaces and parentheses, so fields
    are counted from the last ``)``."""
    head, _, rest = text.rpartition(")")
    pid, _, comm = head.partition(" (")
    f = rest.split()
    # f[0] is field 3 (state); utime..cstime are fields 14-17,
    # starttime is field 22
    return ProcStat(
        pid=int(pid),
        comm=comm,
        ppid=int(f[1]),
        own_ticks=int(f[11]) + int(f[12]),
        reaped_ticks=int(f[13]) + int(f[14]),
        start_ticks=int(f[19]),
    )


@dataclass(frozen=True)
class HostCpu:
    """Machine-wide CPU ticks from the ``cpu`` line of ``/proc/stat``."""

    busy_ticks: int
    """user + nice + system + irq + softirq (guest time is inside user)."""
    steal_ticks: int


def parse_proc_stat(text: str) -> HostCpu:
    for line in text.splitlines():
        f = line.split()
        if f and f[0] == "cpu":
            user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f[1:9])
            return HostCpu(user + nice + system + irq + softirq, steal)
    raise ValueError("no aggregate cpu line in /proc/stat")


def parse_vm_hwm_mb(status_text: str) -> float:
    """Peak resident set (``VmHWM``) from ``/proc/<pid>/status``, in MB."""
    for line in status_text.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise ValueError("no VmHWM line")


def _read(path: str) -> str:
    with open(path) as f:
        return f.read()


def read_all(directory: str = "/proc") -> dict[int, ProcStat]:
    """Every process (or, given ``/proc/<pid>/task``, every thread)
    visible now; ones that exit while being read are skipped."""
    out = {}
    for name in os.listdir(directory):
        if name.isdigit():
            try:
                out[int(name)] = parse_pid_stat(_read(f"{directory}/{name}/stat"))
            except (FileNotFoundError, ProcessLookupError):
                pass
    return out


def descendants(procs: dict[int, ProcStat], root: int) -> set[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for p in procs.values():
        children.setdefault(p.ppid, []).append(p.pid)
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in procs and pid not in out:
            out.add(pid)
            todo.extend(children.get(pid, ()))
    return out


# Name prefixes of the JVM's JIT compiler threads (a thread's name is
# cut to 15 characters).
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


@dataclass(frozen=True)
class TreeCpu:
    """CPU-seconds of the run's process tree at one moment, split into
    the driver Python process, the driver JVM and the pyspark daemon
    with its Python workers (everything below the JVM)."""

    driver_s: float
    jvm_s: float
    """All threads of the JVM, the JIT compilers among them."""
    jit_s: float
    """The JVM's JIT compiler threads alone."""
    workers_s: float
    workers: int
    """Live processes below the JVM, the daemon included."""
    host_busy_s: float
    host_steal_s: float

    @property
    def total_s(self) -> float:
        return self.driver_s + self.jvm_s + self.workers_s

    def minus(self, before: TreeCpu) -> dict[str, float]:
        """Use between two readings; ``workers`` is the later count."""
        total = self.total_s - before.total_s
        return {
            "cpu_s": total,
            "driver_cpu_s": self.driver_s - before.driver_s,
            "jvm_cpu_s": self.jvm_s - before.jvm_s,
            "jit_cpu_s": self.jit_s - before.jit_s,
            "workers_cpu_s": self.workers_s - before.workers_s,
            "workers": self.workers,
            "steal_s": self.host_steal_s - before.host_steal_s,
            "other_cpu_s": self.host_busy_s - before.host_busy_s - total,
        }


def split_tree(
    procs: dict[int, ProcStat],
    jvm_threads: list[ProcStat],
    driver: int,
    jvm: int,
    host: HostCpu,
) -> TreeCpu:
    """Split the CPU of ``driver``'s tree; ``jvm_threads`` are the
    JVM's threads (``/proc/<jvm>/task``). The driver's own count leaves
    out its reaped children, which are not part of the run being
    measured."""
    below = descendants(procs, jvm) - {jvm}
    jit = sum(t.own_ticks for t in jvm_threads if t.comm.startswith(JIT_THREADS))
    return TreeCpu(
        driver_s=procs[driver].own_ticks / TICK,
        jvm_s=procs[jvm].cpu_ticks / TICK,
        jit_s=jit / TICK,
        workers_s=sum(procs[p].cpu_ticks for p in below) / TICK,
        workers=len(below),
        host_busy_s=host.busy_ticks / TICK,
        host_steal_s=host.steal_ticks / TICK,
    )


def read_host() -> HostCpu:
    return parse_proc_stat(_read("/proc/stat"))


def read_tree(driver: int, jvm: int) -> TreeCpu:
    threads = list(read_all(f"/proc/{jvm}/task").values())
    return split_tree(read_all(), threads, driver, jvm, read_host())


def vm_hwm_mb(pid: int | str) -> float:
    return parse_vm_hwm_mb(_read(f"/proc/{pid}/status"))


def since_process_start() -> float:
    """Seconds since this process was started, interpreter start-up
    included (to the resolution of a clock tick)."""
    start = parse_pid_stat(_read("/proc/self/stat")).start_ticks / TICK
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start
