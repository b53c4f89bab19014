"""Run environment: paths, cores, heap, the Spark session's life cycle,
host canaries and peak memory.

Everything the benchmark writes goes under the checkout (``.perfbench_work``
for inputs and outputs, ``.perfbench_out`` for span files), including the
JVM's and Python's temp files and Spark's local dirs.
"""

from __future__ import annotations

import os
import subprocess
import time
from contextlib import contextmanager

__all__ = ["Env", "host_state", "peak_rss_mb", "isolated_conf"]


def _cores() -> int:
    # what `env -u OMP_NUM_THREADS nproc` reports: the CPUs this process
    # may run on (nproc would print $OMP_NUM_THREADS when it is set)
    return len(os.sched_getaffinity(0))


# Driver heap, fixed so that every run of every workload gets the same
# JVM: local mode runs driver and executors in this one process, the
# inputs are tens of MB, and a 15 GB host is shared with other tenants.
# Deriving it from MemAvailable would change it (and GC behaviour and
# peak RSS) with co-tenant load.
HEAP = "3g"


class Env:
    """Process-wide settings, made once before the JVM starts."""

    def __init__(self, root: str, tag: str):
        self.root = root
        self.cores = _cores()
        self.heap = HEAP
        self.work = os.path.join(root, ".perfbench_work", tag)
        self.out = os.path.join(root, ".perfbench_out")
        tmp = os.path.join(self.work, "tmp")
        for d in (tmp, os.path.join(self.work, "local"), self.out):
            os.makedirs(d, exist_ok=True)
        # Python workers inherit this environment from the JVM: they must
        # import cdx_writer_spark from the checkout whatever the cwd is
        pp = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        # cli.main() opens its session with get_spark(cores=None), which
        # reads this; keep it equal to the benchmark's own session
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ.pop("OMP_NUM_THREADS", None)
        import tempfile
        tempfile.tempdir = tmp
        self.extra = {
            "spark.driver.memory": self.heap,
            # fixed heap and young generation, not pre-touched.  Peak RSS
            # then counts the 512 MiB young generation the allocations
            # cycle through, plus the old-generation pages the program's
            # retained data touches.  Left to size itself, G1 grew the
            # heap by a timing-dependent amount (crawl peak RSS 1.9-2.8 GB
            # between runs); pre-touched, the heap hides what the program
            # uses.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{self.heap} -Xmn512m",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }

    def start(self):
        """Set-up: launch the JVM through ``session.get_spark``, then run a
        first job through whole-stage codegen and a shuffle.  Returns
        (spark, session seconds, job seconds).

        Python workers start with the first repetition instead (about 3 s
        on 4 cores); the median over repetitions discards that one, as it
        discards its plan codegen."""
        from cdx_writer_spark.session import get_spark
        from pyspark.sql import functions as F
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", cores=self.cores,
                          extra=self.extra)
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        n = (spark.range(0, 4096, numPartitions=self.cores)
             .select(F.sha1(F.col("id").cast("string").cast("binary"))
                     .alias("h"))
             .groupBy(F.substring("h", 1, 2)).count().count())
        if n < 1:
            raise RuntimeError("warm-up job returned no rows")
        return spark, t1 - t0, time.perf_counter() - t1

    @staticmethod
    def stop(spark) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            if spark is not None:
                spark.stop()
        finally:
            if gw is not None:
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()   # the JVM exits when stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)


@contextmanager
def isolated_conf(spark):
    """Restore the session's runtime SQL conf on exit (``cli.main`` sets
    ``arrow.maxRecordsPerBatch`` on the shared session)."""
    before = dict(spark.conf.getAll)
    try:
        yield
    finally:
        after = dict(spark.conf.getAll)
        for k in before.keys() | after.keys():
            if after.get(k) == before.get(k) or not spark.conf.isModifiable(k):
                continue
            if k in before:
                spark.conf.set(k, before[k])
            else:
                spark.conf.unset(k)


# ------------------------------------------------------- host canaries ----
# Same probes as bench.py's host_state (kept in this file because bench.py
# is frozen): hypervisor steal from /proc/stat, and a single-thread copy
# bandwidth probe for DRAM contention that steal does not show.

def _steal_jiffies() -> int | None:
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def _copy_gbps(duration: float) -> float | None:
    try:
        import numpy as np
    except ImportError:
        return None
    a = np.ones(64 * 1024 * 1024 // 8, dtype=np.int64)     # 64 MB
    b = np.empty_like(a)
    np.copyto(b, a)      # fault both in, untimed
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < duration:
        np.copyto(b, a)
        n += 1
    return n * a.nbytes / 1e9 / (time.perf_counter() - t0)


def host_state(duration: float = 0.25) -> dict:
    s0, t0 = _steal_jiffies(), time.perf_counter()
    gbps = _copy_gbps(duration)
    dt = time.perf_counter() - t0
    s1 = _steal_jiffies()
    out = {}
    if gbps is not None:
        out["mem_gbps_1t"] = gbps
    if s0 is not None and s1 is not None and dt > 0:
        out["steal_cores"] = (s1 - s0) / (100.0 * dt)
    return out


# ---------------------------------------------------------- peak memory ----

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for ln in fh:
                if ln.startswith("VmHWM:"):
                    return int(ln.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of VmHWM over the JVM and every process under it (the Python
    daemon and its workers).  psutil is not a dependency; /proc is read
    directly."""
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    kids = _children()
    total, todo = 0, [proc.pid]
    while todo:
        p = todo.pop()
        total += _hwm_kb(p)
        todo.extend(kids.get(p, ()))
    return total / 1024.0


