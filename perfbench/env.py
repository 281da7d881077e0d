"""Environment fingerprint printed with every result.

Host drift (a slower or busier machine) moves every timing at once; the
fingerprint makes it visible in-band: effective Spark parallelism, the
host's CPU count and load, and a fixed single-core calibration probe
whose time tracks the speed of one core.
"""

from __future__ import annotations

import os
import time
from statistics import median


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> float:
    return os.getloadavg()[0]


def calibration_s(reps: int = 5) -> float:
    """Median time of a fixed pure-Python loop (one core, no I/O)."""
    def probe() -> float:
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) % 1_000_003
        return time.perf_counter() - t
    return median(probe() for _ in range(reps))


def spark_fingerprint(spark, n_cores: int) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "nproc": nproc(),
        "oversubscribed": n_cores > nproc(),
    }


def jvm_rss_peak_mb(spark) -> float:
    """Peak resident set of the driver JVM (``VmHWM``), in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
