"""Host-load diagnostics read from /proc: co-tenant CPU and load1, and the
memory this process tree retains.

Co-tenant CPU is what the whole box burned minus what this process tree
(the Python driver, the py4j JVM and any pyspark workers) burned over the
same window, in cores. It is recorded beside every sample as a diagnostic
only: no sample is dropped, retaken or filtered on it.
"""

from __future__ import annotations

import os
import time

_HZ = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
GC_ROUNDS = 4  # full collections, GC_PAUSE_S apart; the heap reads their minimum
GC_PAUSE_S = 0.5


def load1() -> float | None:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return None


def box_busy_jiffies() -> int | None:
    """Non-idle jiffies across all CPUs (everything but idle and iowait, so
    time the hypervisor stole from this machine counts as busy)."""
    try:
        with open("/proc/stat") as f:
            v = list(map(int, f.readline().split()[1:]))
        return sum(v) - v[3] - v[4]
    except (OSError, ValueError, IndexError):
        return None


def _proc_table() -> dict[int, tuple[int, int]]:
    """{pid: (ppid, utime+stime jiffies)} for every readable process."""
    entries: dict[int, tuple[int, int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat", "rb") as f:
                s = f.read().decode("ascii", "replace")
        except OSError:
            continue  # raced a process exit
        after = s[s.rfind(")") + 2:].split()  # comm may hold spaces
        entries[int(p)] = (int(after[1]), int(after[11]) + int(after[12]))
    return entries


def tree_pids(entries: dict[int, tuple[int, int]] | None = None) -> list[int]:
    """This process and every live descendant."""
    entries = _proc_table() if entries is None else entries
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in entries.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def tree_busy_jiffies() -> int | None:
    """utime+stime summed over this process tree. A worker that exits
    mid-window drops out of the sum, which can only overstate foreign CPU."""
    try:
        entries = _proc_table()
    except OSError:
        return None
    return sum(entries[p][1] for p in tree_pids(entries) if p in entries)


def tree_rss_mb(exclude: set[int]) -> float:
    """Resident memory (VmRSS) of the live process tree, leaving out the
    pids in `exclude`."""
    total_kb = 0
    for pid in tree_pids():
        if pid in exclude:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, ValueError):
            continue  # raced a process exit
    return total_kb / 1024.0


def retained_mb(spark) -> dict[str, float]:
    """Memory the driver's process tree holds on to, in MB: JVM heap still
    in use after a full GC (`heap`), JVM non-heap committed (`non_heap`:
    metaspace, code cache) and the resident memory of every other process
    in the tree (`other`: the Python driver, pyspark workers), with their
    sum as `total`. Unlike peak RSS, this does not move with when the
    collector chose to grow the heap, so it is steady from run to run while
    still growing with data or plans that a cache keeps alive."""
    jvm = spark.sparkContext._jvm
    # let the listener bus drain first (queued events hold their plans),
    # then collect in rounds and keep the lowest reading: objects the first
    # collection finds dead release more (broadcast blocks, shuffle state)
    # only once Spark's cleaner thread has processed them, and a single
    # reading can also catch an allocation made right after the collection
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap = []
    for _ in range(GC_ROUNDS):
        jvm.java.lang.System.gc()
        heap.append(mx.getHeapMemoryUsage().getUsed())
        time.sleep(GC_PAUSE_S)
    parts = {
        "heap": min(heap) / 2**20,
        "non_heap": mx.getNonHeapMemoryUsage().getCommitted() / 2**20,
        "other": tree_rss_mb({jvm.java.lang.ProcessHandle.current().pid()}),
    }
    parts["total"] = sum(parts.values())
    return parts


class CpuWindow:
    """Co-tenant cores over one sample: open before, close after."""

    def __init__(self) -> None:
        self.box0 = box_busy_jiffies()
        self.tree0 = tree_busy_jiffies()
        self.load1 = load1()
        self.t0 = time.monotonic()

    def foreign_cores(self) -> float | None:
        box1, tree1 = box_busy_jiffies(), tree_busy_jiffies()
        elapsed = time.monotonic() - self.t0
        if None in (self.box0, self.tree0, box1, tree1) or elapsed <= 0:
            return None
        return round(max(0, (box1 - self.box0) - (tree1 - self.tree0)) / _HZ / elapsed, 2)
