"""Host context recorded with every result, and peak memory."""

from __future__ import annotations

import os
import resource


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def load1() -> float:
    return round(os.getloadavg()[0], 2)


def cpu_steal_s() -> float:
    """Cumulative hypervisor steal time of the host, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a live process, in MB (0 if unreadable)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


#: JVM threads whose CPU is not the program's work: the JIT compilers,
#: whose load depends on how warm the JVM is rather than on the program.
#: The garbage collector's threads are counted: the program's allocations
#: are what they collect
SERVICE_THREADS = ("C1 Compiler", "C2 Compiler")


class AppCpuClock:
    """CPU seconds spent on the program's work so far: the driver process's
    whole user + system time, plus that of every JVM thread except the
    :data:`SERVICE_THREADS`. Each JVM thread is remembered at its last
    reading, so a worker thread that exits (idle pool threads do) keeps its
    time on the clock.

    Unlike wall time this is not inflated by hypervisor steal, but it does
    not see time the program spends waiting either; ``cycle_s`` covers that."""

    def __init__(self, driver_pid: int, jvm_pid: int):
        self.driver_pid = driver_pid
        self.jvm_pid = jvm_pid
        #: (tid, start time) -> last user + system ticks of a JVM app thread
        self.jvm_ticks: dict[tuple[str, int], int] = {}

    def __call__(self) -> float:
        driver = _stat(f"/proc/{self.driver_pid}/stat")[0]
        try:
            tids = os.listdir(f"/proc/{self.jvm_pid}/task")
        except OSError:
            tids = []
        for tid in tids:
            try:
                ticks, name, started = _stat(f"/proc/{self.jvm_pid}/task/{tid}/stat")
            except OSError:
                continue
            if not name.startswith(SERVICE_THREADS):
                self.jvm_ticks[(tid, started)] = ticks
        return (driver + sum(self.jvm_ticks.values())) / os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[int, str, int]:
    """(utime + stime, command name, start time) from a /proc stat file."""
    with open(path) as fh:
        head, tail = fh.read().rsplit(")", 1)
    fields = tail.split()
    return int(fields[11]) + int(fields[12]), head.split("(", 1)[1], int(fields[19])


def driver_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


class HostWatch:
    """load1 and CPU steal at the start and end of a run."""

    def __init__(self) -> None:
        self.nproc = nproc()
        self.load1_start = load1()
        self.steal_start = cpu_steal_s()

    def report(self) -> dict:
        return {
            "nproc": self.nproc,
            "load1_start": self.load1_start,
            "load1_end": load1(),
            "steal_s": round(cpu_steal_s() - self.steal_start, 3),
        }
