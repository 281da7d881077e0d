"""Bucketed-table library ops — the pay-once/join-forever pattern.

At 100 TB, repeated fact-fact joins on one key should not shuffle both
fact tables every query. Bucketing materializes each side pre-hashed
into N buckets on the join key (`bucketize`, the ONE-time write cost);
every later equi-join or same-key aggregate over the bucketed scans
then plans with ZERO Exchange (`bucketed_join` — bucket i joins bucket
i, and the groupBy reuses the join's distribution). The two costs
belong to separate calls so the economics are real: a pipeline
bucketizes once at ingest and amortizes it over every downstream join
(the contract q_join_bucketed demonstrates the pair end-to-end and
tests/test_plans.py asserts the zero-Exchange plan).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from spype_spark.session import scratch_root

#: Default catalog namespace for bucketized tables. The explicit
#: LOCATION matters: the default warehouse dir derives from the
#: session's cwd, which may not be writable where a driver runs; the
#: default location is ``spype_bkt.db`` under :func:`scratch_root`.
DEFAULT_DATABASE = "spype_bkt"


def bucketize(
    df: DataFrame,
    key: str,
    table: str,
    n_buckets: int = 8,
    database: str = DEFAULT_DATABASE,
    location: str | None = None,
) -> str:
    """Materialize ``df`` as a bucketed+sorted catalog table on ``key``.

    This is the one-time cost: one full shuffle-write clustered into
    ``n_buckets`` files per partition writer, sorted within buckets so
    sort-merge joins skip their sort. Returns the qualified table name
    for :func:`bucketed_join` / ``spark.table``.

    Managed-table locations outlive the in-memory catalog: a previous
    process's table dir would fail this session's CREATE, so both the
    (possibly unregistered) catalog entry and the location are dropped
    first — re-bucketizing is an overwrite, not an error.
    """
    spark = df.sparkSession
    location = location or os.path.join(scratch_root(), "spype_bkt.db")
    os.makedirs(os.path.dirname(location), exist_ok=True)
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS {database} LOCATION '{location}'"
    )
    qualified = f"{database}.{table}"
    spark.sql(f"DROP TABLE IF EXISTS {qualified}")
    shutil.rmtree(f"{location}/{table}", ignore_errors=True)
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(qualified)
    )
    return qualified


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    left_key: str,
    right_key: str,
    how: str = "inner",
) -> DataFrame:
    """Equi-join two :func:`bucketize`-d tables with zero Exchange.

    Both scans already satisfy the join's hash-distribution
    requirement (same bucket count, keys bucketed), so Catalyst plans
    bucket-local sort-merge. The ``merge`` hint pins the fact-fact
    shape: at toy scale Spark would otherwise broadcast the smaller
    side, which ADDS a BroadcastExchange and hides the property this
    op exists to provide.
    """
    left = spark.table(left_table).hint("merge")
    right = spark.table(right_table).hint("merge")
    return left.join(right, left[left_key] == right[right_key], how)
