"""Scans, sources and sinks (SURVEY.md §2.B "Scans / sources / sinks").

Scale notes: all four queries compose projections/filters directly on
the Parquet scan so Catalyst pushes them into the reader — `.explain`
shows `PushedFilters` and a pruned `ReadSchema`. At 100 TB the same
plans add partition pruning for free once tables are date-partitioned.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spype_spark.queries._util import dstr, dsum, dsum_sql, ts_lit
from spype_spark.registry import query
from spype_spark.session import scratch_root
from spype_spark.tables import load_table


@query(
    "q_scan_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    """,
)
def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned scan: only 4 of lineitem's 11 columns are read.

    The projection reaches the Parquet reader (ReadSchema lists exactly
    these columns), so the scan I/O is ~4/11 of the table at any scale.
    """
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@query(
    "q_scan_filter_pushdown",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           strftime(l_shipdate, '%Y-%m-%d') AS ship_d
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    """,
)
def q_scan_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range scan whose predicate is pushed to Parquet (row-group skip).

    `.explain("formatted")` shows PushedFilters: [GreaterThanOrEqual(
    l_shipdate,...), LessThan(...)] — at 100 TB with shipdate-sorted or
    date-partitioned files this prunes most of the input before read.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= ts_lit("1996-01-01"))
        & (F.col("l_shipdate") < ts_lit("1997-01-01"))
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        dstr("l_shipdate").alias("ship_d"),
    )


@query(
    "q_sink_parquet_roundtrip",
    oracle=f"""
    SELECT COUNT(*) AS n,
           {dsum_sql('l_quantity', 2)} AS sum_qty,
           {dsum_sql('l_extendedprice', 2)} AS sum_price
    FROM lineitem
    WHERE l_quantity >= 25
    """,
)
def q_sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink + re-source round trip.

    Writes a filtered projection of lineitem to a scratch Parquet
    directory (snappy, default parallelism → one file per partition, the
    same layout a cluster job would produce), reads it back, and
    aggregates. The oracle computes the identical summary from the
    SOURCE table, so the driver hash-checks that the write path
    preserves schema and values.
    """
    li = load_table(spark, sf_dir, "lineitem")
    out = (
        li.filter(F.col("l_quantity") >= 25)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )
    tmp = tempfile.mkdtemp(prefix="spype_roundtrip_", dir=scratch_root())
    path = f"{tmp}/lineitem_filtered"
    try:
        out.write.mode("overwrite").parquet(path)
        back = spark.read.parquet(path)
        return back.agg(
            F.count("*").alias("n"),
            dsum("l_quantity", 2).alias("sum_qty"),
            dsum("l_extendedprice", 2).alias("sum_price"),
        ).select("n", "sum_qty", "sum_price").localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_source_json_props",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS DOUBLE)
               / COUNT(json_extract(props, '$.k')) AS k_avg
    FROM events
    GROUP BY event_type
    """,
)
def q_source_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the JSON-in-string `events.props` column into typed values.

    Uses `get_json_object` (JVM-side JSON path, no Python) and
    aggregates by event type. At scale the parse is a per-row projection
    inside whole-stage codegen; for repeated access one would persist
    the parsed column, but a single pass needs no materialization.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("k_sum"),
            (F.sum("k").cast("double") / F.count("k")).alias("k_avg"),
        )
    )
