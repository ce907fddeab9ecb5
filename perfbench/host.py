"""Host-side measurement read from /proc: CPU attribution, memory, probes.

Everything here observes the benchmark's process tree from outside the
program under test: this Python process, the Spark JVM it launched and
the pooled Python workers under that JVM.
"""

from __future__ import annotations

import os
import signal
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    """Spark's local task slots: half the CPUs. The Python workers, the
    JVM's own threads (Arrow, parquet, GC, JIT) and this process then fit
    in the CPUs with room to spare, so a run times the program rather than
    the scheduler or a neighbour on a shared host."""
    return max(1, cpu_count() // 2)


def _machine_jiffies() -> tuple[int, int]:
    """Machine-wide (busy, steal) jiffies from the first line of
    /proc/stat. Busy is user+nice+system+irq+softirq+steal; steal is the
    hypervisor channel through which other tenants' CPU shows up."""
    with open("/proc/stat") as f:
        p = f.readline().split()[1:]
    return sum(int(x) for x in p[:3] + p[5:8]), int(p[7])


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, cpu jiffies incl. reaped children)."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after comm: state=0 ppid=1 ... utime=11 stime=12
        # cutime=13 cstime=14
        cpu = int(parts[11]) + int(parts[12]) + int(parts[13]) + int(parts[14])
        table[int(d)] = (int(parts[1]), cpu)
    return table


def descendants(root: int | None = None, table=None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    table = table if table is not None else _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _cpu) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root or os.getpid()]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def _tree_cpu(table) -> int:
    """CPU jiffies summed over this process tree."""
    return sum(table[p][1] for p in descendants(table=table) if p in table)


def tree_pss() -> int:
    """Proportional set size of this process tree, in bytes. Unlike RSS it
    does not count the pages forked Python workers share once per worker."""
    total = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class WindowMeter:
    """Measures each timed window's wall time, own-tree CPU time and
    hypervisor steal, and samples the tree's peak PSS while it is open;
    totals over all windows are in ``report()``."""

    def __init__(self, period_s: float = 0.5):
        self.wall_s = 0.0
        self.steal_s = 0.0
        self.busy_s = 0.0
        self.own_s = 0.0
        self.peak_pss = 0
        self._period = period_s
        self._open = threading.Event()
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        while not self._stop.is_set():
            if self._open.wait(self._period) and not self._stop.is_set():
                pss = tree_pss()
                with self._lock:
                    self.peak_pss = max(self.peak_pss, pss)
                self._stop.wait(self._period)

    def window(self, thunk):
        """Run ``thunk`` as one timed window; returns (result, window) with
        the window's ``wall_s``, ``cpu_s`` (this process tree's CPU time,
        which leaves out time the hypervisor gave to other tenants) and
        ``peak_mb`` (peak PSS)."""
        (b0, s0), o0 = _machine_jiffies(), _tree_cpu(_proc_table())
        with self._lock:
            self.peak_pss = 0
        self._open.set()
        t0 = time.perf_counter()
        try:
            out = thunk()
        finally:
            wall = time.perf_counter() - t0
            self._open.clear()
            (b1, s1), o1 = _machine_jiffies(), _tree_cpu(_proc_table())
            self.wall_s += wall
            self.busy_s += (b1 - b0) / CLK_TCK
            self.steal_s += (s1 - s0) / CLK_TCK
            self.own_s += (o1 - o0) / CLK_TCK
            with self._lock:
                peak = max(self.peak_pss, tree_pss())
        return out, {"wall_s": wall, "cpu_s": (o1 - o0) / CLK_TCK, "peak_mb": peak / 2**20}

    def close(self) -> None:
        self._stop.set()
        self._open.set()
        self._thread.join(timeout=5)

    def report(self) -> dict:
        wall = max(self.wall_s, 1e-9)
        return {
            "window_s": self.wall_s,
            "steal_cores": self.steal_s / wall,
            "busy_cores": self.busy_s / wall,
            "own_cores": self.own_s / wall,
        }


def py_probe() -> float:
    """Fixed pure-Python loop; its time tracks host speed, not the code."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def jvm_probe(spark) -> float:
    """Fixed JVM aggregate over generated rows (no Python crossing)."""
    t0 = time.perf_counter()
    spark.range(0, 20_000_000, numPartitions=spark_cores()).selectExpr(
        "sum(id % 7)"
    ).collect()
    return time.perf_counter() - t0


def reap_tree(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait until every pid in ``pids`` (other than this process) has
    exited; SIGTERM then SIGKILL whatever outlives the timeout."""
    me = os.getpid()
    pending = [p for p in pids if p != me]
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in pending:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + (timeout_s if sig is None else 5.0)
        while pending and time.monotonic() < deadline:
            pending = [p for p in pending if _alive(p)]
            if pending:
                time.sleep(0.1)
        if not pending:
            return


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":
        try:  # our own zombie child: collect it
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True
