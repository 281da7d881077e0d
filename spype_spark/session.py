"""SparkSession factory + defensive per-session configuration.

Two entry paths exist (SURVEY.md §3.2):

1. We own the session (tests, bench, tools/check): :func:`get_spark`.
2. The driver owns the session and passes it into ``queries()[k](spark,
   sf_dir)``: we cannot rely on builder-time config, so every table load
   routes through :func:`ensure_session_confs`, which applies the
   *runtime-settable* confs the engine depends on (verified settable on
   a live session with PySpark 4.1.2).

Scale notes (100 TB): the confs below are correctness + local-latency
settings. On a real cluster the same code runs unchanged; the knobs that
change are shuffle partitions (set ≈ 2-3× total cores, or leave to AQE
coalescing), ``spark.sql.files.maxPartitionBytes`` (128-256 MiB so scan
tasks fit executor memory), and broadcast threshold (dimension tables in
this schema — region/nation/supplier/part — stay broadcast-able far past
sf 1000).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs that are safe (and verified) to set on an existing session.
_RUNTIME_CONFS = {
    # events.parquet stores TIMESTAMP(NANOS); Spark 4.x hard-fails without
    # this (SURVEY.md §7.4 G1). Value arrives as bigint nanoseconds.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic tz for window()/date_trunc parity with DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime coalescing + skew-join splitting (default on in 4.x,
    # asserted explicitly because correctness of perf claims depends on it).
    "spark.sql.adaptive.enabled": "true",
    # Arrow for pandas_udf / applyInPandas paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Manifest-protocol reads open EXPLICIT file lists (the manifest
    # already knows every path and size) — Spark's default threshold
    # (32) launches a distributed listing JOB past 32 paths, whose
    # fixed scheduling latency dwarfs a driver-side stat of a bounded
    # path list on any filesystem (measured r15: 48-file open 734 ms →
    # 319 ms). A genuinely huge file list still distributes past the
    # raised threshold; override with SPYPE_LIST_PARALLEL_THRESHOLD.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": os.environ.get(
        "SPYPE_LIST_PARALLEL_THRESHOLD", "1024"
    ),
}


def scratch_root() -> str:
    """Scratch dir for checkpoints, spills and round-trip writes:
    ``$SPYPE_SCRATCH`` when set, else ``.scratch/`` at the root of the
    checkout this package was imported from (gitignored). Created on
    demand."""
    root = os.environ.get("SPYPE_SCRATCH") or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
    )
    os.makedirs(root, exist_ok=True)
    return root


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-owned session."""
    import warnings

    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            # Conf may be static on some builds; surface it (reads will
            # additionally fail loudly later if it truly did not take).
            warnings.warn(
                f"could not set {k}={v} on live session: {e}", RuntimeWarning
            )
    return spark


def get_spark(
    app_name: str = "spype_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``); ``shuffle_partitions`` defaults to the core count —
    at test scale AQE coalesces tiny shuffles back down, at cluster
    scale this would be ≈2× total executor cores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPYPE_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return ensure_session_confs(spark)
