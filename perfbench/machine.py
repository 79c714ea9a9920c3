"""Machine sizing and machine-state evidence for every benchmark result.

Sizing: the engine's session factory reads ``SPARK_GRAFT_CPUS`` and
``SPARK_DRIVER_MEMORY`` (default 16g, more than a small box has), so the
benchmark sets both from the machine before the session starts.

Evidence: ``nproc``, load averages, hypervisor steal % over the run, a
single-thread CPU canary and the count of other JVMs go into every record,
so a noisy window shows in the result itself. No run is ever discarded.
"""

from __future__ import annotations

import os
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def memory_bytes() -> int:
    """Usable RAM: the cgroup limit when one is set, else MemTotal."""
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
        if raw.isdigit():
            return int(raw)
    except OSError:
        pass
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def size_session_env() -> dict:
    """Set the engine's sizing variables for this box and return them.

    The driver heap gets a quarter of RAM, between 1 and 16 GiB: one local
    JVM holds driver and every task slot, and the rest of the box stays
    free for Python workers and the page cache."""
    mem_mb = max(1024, min(16384, memory_bytes() // 4 // 1048576))
    sizing = {"SPARK_GRAFT_CPUS": str(nproc()), "SPARK_DRIVER_MEMORY": f"{mem_mb}m"}
    os.environ.update(sizing)
    return sizing


def cpu_canary_ms() -> float:
    """Fixed single-thread integer loop, wall ms: slower readings across
    records of the same code mean a slower or busier machine."""
    t0 = time.perf_counter()
    h = 0
    for i in range(1_000_000):
        h = (h * 1315423911 + i) & 0xFFFFFFFFFFFFFFFF
    return (time.perf_counter() - t0) * 1000


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat's aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        kids.setdefault(int(stat.rsplit(")", 1)[1].split()[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User plus system CPU time of ``pids``. Time the hypervisor steals
    is not charged to a process, so this reads the same on a busy host."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited between listing and reading
        ticks += int(fields[11]) + int(fields[12])  # utime, stime
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident sizes (VmHWM) of ``pids``: this Python
    process plus its JVM child and the JVM's Python workers."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue  # exited between listing and reading
    return total_kb / 1024


def jvm_count() -> int:
    n = 0
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/comm") as f:
                    n += f.read().strip() == "java"
            except OSError:
                continue
    return n


class MachineState:
    """Snapshot at run start; ``record()`` closes it at run end."""

    def __init__(self) -> None:
        self.load_before = os.getloadavg()
        self.jvms_before = jvm_count()
        self.canary_before = cpu_canary_ms()
        self.steal0, self.jiffies0 = cpu_jiffies()

    def record(self) -> dict:
        steal1, jiffies1 = cpu_jiffies()
        return {
            "nproc": nproc(),
            "loadavg_before": [round(x, 2) for x in self.load_before],
            "loadavg_after": [round(x, 2) for x in os.getloadavg()],
            "steal_pct": round(100.0 * (steal1 - self.steal0) / max(jiffies1 - self.jiffies0, 1), 3),
            "cpu_canary_ms": [round(self.canary_before, 2), round(cpu_canary_ms(), 2)],
            "other_jvms_before": self.jvms_before,
        }
