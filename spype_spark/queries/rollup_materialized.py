"""Materialized time-rollup (continuous-aggregate pattern).

THE 100 TB trick for time-series dashboards: maintain a small hourly
pre-aggregate table and answer coarser (daily/weekly) queries from it
instead of the raw events — turning a 10¹¹-row scan into a 10⁵-row
one. The contract materializes the hourly rollup to Parquet (the same
artifact an incremental streaming job would maintain via foreachBatch)
and answers a daily query from it; tests assert the rollup-derived
answer equals the direct computation exactly (sums of exact scaled
longs re-aggregate losslessly — which is precisely why the rollup
stores scaled longs, not doubles).
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spype_spark.queries._util import D_FMT_SPARK
from spype_spark.registry import query
from spype_spark.session import scratch_root
from spype_spark.tables import load_table


def hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hourly pre-aggregate: additive partials only (counts + scaled
    sums) so any coarser grain re-aggregates exactly."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5))).alias(
            "value_scaled"
        ),
    )


@query(
    "q_rollup_materialized",
    oracle="""
    SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)),
                    '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(floor(value * 1e6 + 0.5) AS BIGINT))
                AS DOUBLE) / 1e6 AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_rollup_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily totals answered from the materialized hourly rollup.

    Write hourly partials → read back → re-aggregate to days. The
    daily answer is bit-equal to computing directly from raw events
    (tests/test_rollup.py) because the partials are additive integers —
    which is exactly why the oracle can aggregate the RAW events
    straight to days and expect a hash match with the
    rollup-roundtripped answer.
    """
    tmp = tempfile.mkdtemp(prefix="spype_rollup_", dir=scratch_root())
    try:
        path = f"{tmp}/events_hourly"
        hourly_rollup(spark, sf_dir).write.mode("overwrite").parquet(path)
        hourly = spark.read.parquet(path)
        daily = (
            hourly.groupBy(
                F.date_format(F.date_trunc("day", "hour_ts"), D_FMT_SPARK).alias(
                    "day"
                ),
                "event_type",
            )
            .agg(
                F.sum("n").alias("n"),
                (F.sum("value_scaled") / F.lit(1e6)).alias("sum_value"),
            )
        )
        return daily.localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
