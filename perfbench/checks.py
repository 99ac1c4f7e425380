"""Output checks and process measurements that need no Spark session."""

from __future__ import annotations

import collections
import hashlib
import os
import statistics
import threading
import time


def multiset_digest(rows) -> str:
    """Order-insensitive digest of a collection of tuples: the sum, modulo
    2^64, of a 64-bit hash per row.  Equal multisets give equal digests
    whatever order the rows arrive in; a changed, dropped or repeated row
    changes it."""
    acc = 0
    for row in rows:
        h = hashlib.blake2b(repr(tuple(row)).encode(), digest_size=8)
        acc = (acc + int.from_bytes(h.digest(), "little")) % (1 << 64)
    return "%016x" % acc


def same_rows(got, want) -> bool:
    """Multiset equality of two row collections (oracles may repeat rows)."""
    return (collections.Counter(tuple(r) for r in got)
            == collections.Counter(tuple(r) for r in want))


def close_ranks(got: dict, want: dict, tol: float) -> bool:
    """Same node set, and every rank within ``tol`` (ranks are rounded to
    six decimals on both engines; summation order may flip the last one)."""
    return got.keys() == want.keys() and all(
        abs(got[k] - want[k]) <= tol for k in want)


def duckdb_rows(docs_dir: str, sql: str) -> list[tuple]:
    """Run an oracle over ``documents`` (a Spark-written parquet dir)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s')"
            % os.path.join(docs_dir, "documents.parquet", "*.parquet"))
        return con.execute(sql).fetchall()
    finally:
        con.close()


def _stat_fields(pid: int) -> list[str] | None:
    """/proc/<pid>/stat after the command name: state, ppid, ..."""
    try:
        with open("/proc/%d/stat" % pid) as fh:
            stat = fh.read()
    except OSError:
        return None
    # the command name sits in parentheses and may contain spaces
    return stat.rsplit(")", 1)[1].split()


def _ppid(pid: int) -> int | None:
    fields = _stat_fields(pid)
    return int(fields[1]) if fields else None


def alive(pid: int) -> bool:
    """True while the process exists and has not exited (zombies have)."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def descendants(root: int) -> list[int]:
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            pp = _ppid(int(name))
            if pp is not None:
                parent[int(name)] = pp
    out, frontier = [], {root}
    while frontier:
        nxt = {p for p, pp in parent.items() if pp in frontier}
        out.extend(sorted(nxt))
        frontier = nxt
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(pid: int) -> float:
    """CPU seconds of a process: its own user and system time plus that of
    the children it has reaped.  Time the hypervisor steals from the guest
    is counted as steal, not charged to the process, so this grows far
    less than wall time when other tenants slow the host."""
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    # utime, stime, cutime, cstime: fields 14-17 of /proc/<pid>/stat
    return sum(int(v) for v in fields[11:15]) / _TICK


def jit_cpu_s(pid: int) -> float:
    """CPU seconds of a JVM's JIT compiler threads (named "C1/C2
    CompilerThread<n>"; the kernel truncates names to 15 characters)."""
    total = 0.0
    try:
        tids = os.listdir("/proc/%d/task" % pid)
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open("/proc/%d/task/%s/stat" % (pid, tid)) as fh:
                stat = fh.read()
        except OSError:
            continue
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            # a thread's own utime and stime (its cutime/cstime fields are
            # the whole process's)
            fields = stat.rsplit(")", 1)[1].split()
            total += (int(fields[11]) + int(fields[12])) / _TICK
    return total


def tree_cpu_s() -> dict:
    """CPU seconds of this process ("driver"), of the JVMs it started,
    split into their JIT compiler threads ("jit") and the rest ("jvm"), and
    of every other live process it started ("workers": the PySpark daemon
    and its Python workers).  A child that exited and was reaped is in its
    parent's figure."""
    me = os.getpid()
    out = {"driver": cpu_s(me), "jvm": 0.0, "jit": 0.0, "workers": 0.0}
    for pid in descendants(me):
        try:
            with open("/proc/%d/comm" % pid) as fh:
                java = fh.read().strip() == "java"
        except OSError:  # exited since it was listed
            continue
        if java:
            jit = jit_cpu_s(pid)
            out["jit"] += jit
            out["jvm"] += cpu_s(pid) - jit
        else:
            out["workers"] += cpu_s(pid)
    return out


def loop_work(n: int) -> int:
    """A fixed piece of pure-Python work: n rounds of integer arithmetic."""
    x = 0
    for i in range(n):
        x ^= i * 7
    return x


class HostSpeed(threading.Thread):
    """Times ``loop_work(n)`` every ``period_s``, in CPU seconds of its own
    thread, while the benchmark runs.  Other tenants of a shared host slow
    every instruction (shared cores, caches and clock), which raises the CPU
    time of the program's work and of this loop alike; the benchmark
    divides the one by the other."""

    def __init__(self, n: int, period_s: float):
        super().__init__(daemon=True)
        self.n = n
        self.period_s = period_s
        self.samples: list = []  # (perf_counter when done, CPU seconds)
        self.halt = threading.Event()

    def run(self):
        while not self.halt.wait(self.period_s):
            t0 = time.thread_time()
            loop_work(self.n)
            self.samples.append((time.perf_counter(), time.thread_time() - t0))

    def own_cpu_s(self) -> float:
        """CPU seconds this thread has used (it runs in the driver process,
        so they are in that process's figure)."""
        return time.clock_gettime(time.pthread_getcpuclockid(self.ident))

    def loop_s(self, intervals) -> float:
        """Median loop CPU time over the samples that ended inside any of
        the (start, end) perf_counter intervals."""
        inside = [c for t, c in list(self.samples)
                  if any(a <= t <= b for a, b in intervals)]
        return statistics.median(inside or [c for _, c in self.samples])

    def stop(self):
        self.halt.set()
        self.join()


def vm_hwm_kb(pid: int) -> int:
    try:
        with open("/proc/%d/status" % pid) as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of kernel high-water marks (VmHWM) over every process this one
    started: the driver JVM, the PySpark daemon and its workers."""
    return sum(vm_hwm_kb(p) for p in descendants(os.getpid())) / 1024.0
