"""Spark launcher and host probes for the benchmark.

Host hygiene: ``local[<usable cores>]``, a JVM heap sized to the
machine's memory (an eighth, 1g to 6g), ParallelGC, and ``PYTHONPATH`` exported to
the Python workers so they can import ``raptor_spark``. Every scratch
path Spark, the JVM and Python use lives under the run's work directory
inside the checkout.
"""

from __future__ import annotations

import glob
import os
import sys
import threading
from typing import Dict, List, Optional

PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_S = 0.05  # RSS sampling interval


def usable_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb() -> int:
    """An eighth of RAM, between 1g and 6g: the default corpus needs well
    under 1g, and the machine may be shared."""
    return max(1024, min(6144, _mem_total_bytes() // 8 >> 20))


def prepare_environment(root: str, work: str) -> None:
    """Process environment the JVM and the Python workers inherit; call
    before the first session starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session(root: str, work: str, event_log_dir: Optional[str] = None):
    from pyspark.sql import SparkSession

    cores = usable_cores()
    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master("local[%d]" % cores)
        .appName("raptor-spark-perfbench")
        .config("spark.driver.memory", "%dm" % heap_mb())
        # the heap is allocated and touched whole at start: ParallelGC
        # otherwise grows it by up to its full size in some runs and not
        # in others. PeakMem leaves the reserved heap out of the RSS and
        # counts the heap's in-use generations instead
        .config("spark.driver.extraJavaOptions",
                "-XX:+UseParallelGC -Xms{0}m -XX:+AlwaysPreTouch -Djava.io.tmpdir={1}"
                .format(heap_mb(), tmp))
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # 2 x cores: every partitioned-write task opens one file per
        # bucket it holds, and at bench.py's 32 partitions the 16-bucket
        # build spends ~5 s instead of ~2.8 s, most of it creating files
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.eventLog.enabled", "true" if event_log_dir else "false")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        # rolling: the log is a directory of events_<n>_* files, the
        # layout layers.EventLog reads
        b = (b.config("spark.eventLog.dir", event_log_dir)
             .config("spark.eventLog.rolling.enabled", "true")
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> List[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        for f in glob.glob("/proc/%d/task/*/children" % p):
            try:
                with open(f) as fh:
                    todo.extend(int(c) for c in fh.read().split())
            except OSError:  # the task ended
                pass
    return out


def tree_rss_bytes(pid: int) -> int:
    """Resident bytes of ``pid`` (the JVM) and its Python descendants
    (the pyspark daemon and workers). Other descendants are the JVM's
    short-lived fork/exec helpers, whose RSS before the exec is the
    JVM's own pages counted a second time."""
    total = 0
    for p in _descendants(pid):
        try:
            if p != pid:
                with open("/proc/%d/comm" % p) as fh:
                    if not fh.read().startswith("python"):
                        continue
            with open("/proc/%d/statm" % p) as fh:
                total += int(fh.read().split()[1]) * PAGE
        except OSError:  # the process ended
            pass
    return total


class PeakMem:
    """Peak memory the program holds while active, in bytes: the largest
    RSS sum of the JVM and its Python workers seen (sampled every
    SAMPLE_S seconds) with the JVM's pre-touched heap left out, plus the
    peak bytes in use in the heap's survivor and old generations (after a
    full GC on entry). Eden is left out: its fill level is the allocation
    buffer cycling between collections, not data the job holds."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self.pid = int(jvm.ProcessHandle.current().pid())
        self._system = jvm.System
        self._heap_committed = mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
        self._pools = [p for p in mf.getMemoryPoolMXBeans()
                       if str(p.getType()) == "Heap memory" and "Eden" not in p.getName()]
        self.peak = 0
        self._rss = 0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _sample(self) -> None:
        self._rss = max(self._rss, tree_rss_bytes(self.pid) - self._heap_committed)

    def __enter__(self):
        self._system.gc()
        for p in self._pools:
            p.resetPeakUsage()
        self._rss = 0
        self._sample()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def _loop(self):
        while not self._stop.wait(SAMPLE_S):
            self._sample()

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        self.peak = self._rss + sum(p.getPeakUsage().getUsed() for p in self._pools)
        return False


class HostDiag:
    """loadavg, and the kernel-time and steal shares of all CPU time
    between ``start()`` and ``stop()`` (from /proc/stat) — noise
    diagnostics."""

    @staticmethod
    def _cpu():
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        # user nice system idle iowait irq softirq steal
        return f[2] + f[5] + f[6], f[7], sum(f[:8])

    def start(self):
        self._t0 = self._cpu()
        self.load_start = os.getloadavg()[0]
        return self

    def stop(self) -> dict:
        k1, s1, t1 = self._cpu()
        k0, s0, t0 = self._t0
        return {
            "loadavg_1m_start": self.load_start,
            "loadavg_1m_end": os.getloadavg()[0],
            "kernel_time_share": (k1 - k0) / max(1, t1 - t0),
            "steal_share": (s1 - s0) / max(1, t1 - t0),
            "cores": usable_cores(),
            "heap_mb": heap_mb(),
        }


def dir_files(path: str) -> Dict[str, int]:
    """relative path -> size of every regular file under ``path``."""
    out = {}
    for d, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out
