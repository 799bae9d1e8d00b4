"""Host record for every benchmark artifact: core count, pyspark version,
and a fixed calibration kernel timed before each run, so a number can be
read against the speed of the machine that produced it."""

from __future__ import annotations

import hashlib
import os
import platform
import time


def calibration_s(rounds: int = 3) -> float:
    """Best of ``rounds`` timings of a fixed single-core kernel: 40 MiB of
    SHA-256 plus a pure-Python integer loop (interpreter speed)."""
    block = bytes(range(256)) * 4096  # 1 MiB
    best = float("inf")
    for _ in range(rounds):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(40):
            h.update(block)
        acc = 0
        for i in range(2_000_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        best = min(best, time.perf_counter() - t0)
    return best


def host_record() -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "machine": platform.machine(),
        "calibration_s": calibration_s(),
    }


def cpu_times() -> list[int]:
    """Host-wide CPU time counters from /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other tenants between two
    ``cpu_times`` readings: how contended the host was during a run."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # The command name may hold spaces; the fields after it are fixed.
    return raw[raw.rindex(")") + 2 :].split()


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's JIT compiler threads (none in other processes).
    The benchmark starts the JVM with -XX:-UseDynamicNumberOfCompilerThreads,
    so these threads live as long as the JVM and their time never moves
    into the process totals unseen."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    if len(tids) < 2:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if raw[raw.index("(") + 1 :].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            f = raw[raw.rindex(")") + 2 :].split()
            total += int(f[11]) + int(f[12])
    return total


def tree_cpu_s(root: int, exclude: tuple[int, ...] = ()) -> float:
    """User + system CPU seconds of ``root`` and every descendant (children
    they already reaped included), leaving out ``exclude`` and their
    subtrees, and the JVM's JIT compiler threads.

    Time a vCPU spent descheduled by the hypervisor or waiting for a core
    is not CPU time, so this follows the program's own work rather than
    what else the host runs. JIT compilation is left out because it
    follows the JVM's age, not the work: a third of the watch pipeline's
    CPU per micro-batch a minute into the run, and it varied from run to
    run."""
    parent: dict[int, int] = {}
    fields: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(name)
            if f is not None:
                parent[int(name)] = int(f[1])
                fields[int(name)] = f
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in exclude or pid not in fields:
            continue
        # utime, stime, cutime, cstime (fields 14-17 of /proc/<pid>/stat)
        total += sum(int(x) for x in fields[pid][11:15]) - _jit_ticks(pid)
        todo += children.get(pid, [])
    return total * _TICK_S


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Resident-set high-water mark of a process, in MiB (0 if gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(spark) -> float:
    """Driver Python process plus the JVM it talks to."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
