"""Aggregations (SURVEY.md §2.B "Aggregations").

Every groupBy here is a hash aggregate with automatic partial (map-side)
combine — at 100 TB the shuffle carries only one row per (partition ×
group), not the raw data. Grouping keys in this corpus (returnflag ×
linestatus = 6 groups, custkey ≈ |customers|) are either tiny (no skew
possible) or uniform (TPC-H keys are uniform by construction); skewed
real-world keys would be handled by AQE skew-split which the session
enables.

Float discipline (see `_util`): money sums use scaled-long exact
accumulation (`dsum`/`davg`) so results are independent of partitioning
and identical across engines; integer-valued doubles (l_quantity) sum
exactly in binary at any order and need nothing; only stddev/var/corr
round, coarsely relative to their numeric noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spype_spark.queries._util import davg, davg_sql, dsum, dsum_sql, ts_lit
from spype_spark.registry import query
from spype_spark.tables import load_table


@query(
    "q_agg_global",
    oracle=f"""
    SELECT COUNT(*) AS n,
           SUM(l_quantity) AS sum_qty,
           {davg_sql('l_extendedprice')} AS avg_price,
           MIN(l_discount) AS min_disc,
           MAX(l_tax) AS max_tax,
           COUNT(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    """,
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped global aggregate: count/sum/avg/min/max/count-distinct."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n"),
        F.sum("l_quantity").alias("sum_qty"),
        davg("l_extendedprice").alias("avg_price"),
        F.min("l_discount").alias("min_disc"),
        F.max("l_tax").alias("max_tax"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


_DISC_PRICE = "l_extendedprice * (1 - l_discount)"
_CHARGE = "l_extendedprice * (1 - l_discount) * (1 + l_tax)"


@query(
    "q_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           {dsum_sql('l_extendedprice', 2)} AS sum_base_price,
           {dsum_sql(_DISC_PRICE, 4)} AS sum_disc_price,
           {dsum_sql(_CHARGE, 6)} AS sum_charge,
           SUM(l_quantity) / COUNT(l_quantity) AS avg_qty,
           {davg_sql('l_extendedprice', 2)} AS avg_price,
           {davg_sql('l_discount', 2)} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary — the flagship query (`entry()`).

    6 output groups regardless of scale: the shuffle after partial
    aggregation moves ~6 rows per input partition, so this is scan-bound
    at 100 TB. The shipdate filter is pushed to Parquet. All money sums
    are scaled-long exact (deterministic under any partitioning) and
    stay inside whole-stage codegen.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= ts_lit("2000-12-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice", 2).alias("sum_base_price"),
            dsum(disc_price, 4).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            (F.sum("l_quantity") / F.count("l_quantity")).alias("avg_qty"),
            davg("l_extendedprice", 2).alias("avg_price"),
            davg("l_discount", 2).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q_agg_distinct",
    oracle="""
    SELECT l_orderkey,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped count-distinct (Spark plans an Expand + two-phase agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.count("*").alias("n_lines"),
    )


@query(
    "q_agg_having",
    oracle=f"""
    SELECT o_custkey, COUNT(*) AS n,
           {dsum_sql('o_totalprice')} AS total
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 15
    """,
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n"),
            dsum("o_totalprice").alias("total"),
        )
        .filter(F.col("n") >= 15)
    )


@query(
    "q_agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, SUM(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (NULL marks subtotal rows)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum("l_quantity").alias("sum_qty"),
    )


@query(
    "q_agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, SUM(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping combinations via CUBE."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum("l_quantity").alias("sum_qty"),
    )


@query(
    "q_agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           {dsum_sql('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (via Spark SQL — one Expand node)."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("spype_gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               SUM(floor(l_extendedprice * 1e2 + 0.5)) / 1e2 AS sum_price
        FROM spype_gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "q_agg_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(stddev_samp(l_extendedprice), 2) AS sd_price,
           ROUND(var_samp(l_quantity), 4) AS var_qty,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           ROUND(covar_pop(l_extendedprice, l_discount), 4) AS cov_price_disc
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/correlation/covariance.

    These have no exact accumulation path; rounding scales are coarse
    relative to the ~1e-10 relative noise of the merge order.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_pop("l_extendedprice", "l_discount"), 4).alias(
            "cov_price_disc"
        ),
    )


@query(
    "q_agg_minmax_by",
    oracle="""
    SELECT o_custkey,
           arg_max(o_orderkey, o_totalprice) AS biggest_order,
           arg_min(o_orderkey, o_totalprice) AS smallest_order,
           MAX(o_totalprice) AS max_price
    FROM orders
    GROUP BY o_custkey
    """,
)
def q_agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by (arg-max aggregates): which order, not just how much.

    Ties on o_totalprice would be engine-arbitrary, but prices are
    continuous doubles — no duplicate (custkey, price) pairs exist in
    the corpus (asserted by the oracle match itself).
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("biggest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("smallest_order"),
        F.max("o_totalprice").alias("max_price"),
    )


@query(
    "q_agg_collect",
    oracle="""
    SELECT o_custkey,
           array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
           CAST(len(list(o_orderkey)) AS INT) AS n_orders
    FROM orders
    GROUP BY o_custkey
    """,
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list with explicit array_sort (collection order is
    partition-dependent in any engine — sorting is what makes a
    collected array comparable/deterministic)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        # collected+sorted array joined to CSV: driver pandas canon can't
        # hash ndarray cells (VERDICT r1 §wrong-3)
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("o_orderkey")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("order_keys"),
        F.size(F.collect_list("o_orderkey")).alias("n_orders"),
    )


@query(
    "q_agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
           round(median(l_quantity), 4) AS med_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p50/p95) and median per group.

    Both engines use the same sorted-interpolation definition; the
    interpolation arithmetic can differ in the last ulp → round(4). At
    100 TB one switches to approx_percentile (t-digest-style sketch,
    no full sort) — the exact form here is the small-data oracle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4).alias("p95"),
        F.round(F.median("l_quantity"), 4).alias("med_qty"),
    )


@query(
    "q_agg_listagg",
    oracle="""
    SELECT c_mktsegment,
           string_agg(DISTINCT c_name, ',' ORDER BY c_name) AS names,
           COUNT(*) AS n
    FROM customer
    WHERE c_custkey < 100
    GROUP BY c_mktsegment
    """,
)
def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String aggregation (listagg/string_agg) with explicit ordering.

    Spark's listagg has no ORDER BY form, so the deterministic
    equivalent sorts a collected set and joins it — same result, and
    the only portable way to make concatenation order stable.
    """
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    return c.groupBy("c_mktsegment").agg(
        F.array_join(F.array_sort(F.collect_set("c_name")), ",").alias("names"),
        F.count("*").alias("n"),
    )


@query(
    "q_agg_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
           TRUE AS approx_ok
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentile next to the exact value, with a
    driver-checkable error bound.

    Spark's KLL-style approx_percentile and DuckDB's approx_quantile
    use different sketches, so the raw approx value can't be oracled;
    the INVARIANT can: |approx − exact| / exact ≤ 0.5 % (accuracy =
    10000 ⇒ rank error ≤ 1e-4·n, far tighter than that bound). At
    100 TB this replaces q_agg_percentile's full sort — fixed-size
    sketch per partition, merged at the driver.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_percentile(
                "l_extendedprice", F.lit(0.5), F.lit(10000)
            ).alias("__p50_approx"),
            F.percentile("l_extendedprice", F.lit(0.5)).alias("__p50_exact"),
        )
        .select(
            "l_returnflag",
            F.round("__p50_exact", 4).alias("p50_exact"),
            (
                F.abs(F.col("__p50_approx") - F.col("__p50_exact"))
                / F.col("__p50_exact")
                <= 0.005
            ).alias("approx_ok"),
        )
    )


@query(
    "q_agg_approx_distinct",
    oracle="""
    SELECT COUNT(DISTINCT l_suppkey) AS exact_supp, TRUE AS supp_ok,
           COUNT(DISTINCT l_partkey) AS exact_part, TRUE AS part_ok
    FROM lineitem
    """,
)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct count (HyperLogLog++) next to the exact
    count, with a driver-checkable error bound.

    HLL sketches are engine-specific, so the oracle checks the
    INVARIANT instead: relative error ≤ 5 % (rsd = 0.015 — measured
    error ≤ 2.2 % across the three corpus SFs, and HLL error is a
    DETERMINISTIC function of the dataset, so the margin is stable,
    not probabilistic per run; rsd 0.01 doubled the register count for
    no invariant benefit and dominated the contract's cold-start cost
    — 8.9 s → ~4 s measured). At 100 TB this is *the* way to count
    distincts — fixed-size sketch per partition, no expand/shuffle of
    the key space.
    """
    li = load_table(spark, sf_dir, "lineitem")

    def rel_ok(approx, exact):
        # an empty table has nothing to estimate: a zero sketch is exact
        err = F.abs(approx.cast("double") - exact.cast("double")) / exact.cast(
            "double"
        )
        return F.when(exact == 0, approx == 0).otherwise(err <= 0.05)

    # ONE scan (r16, VERDICT-r15 item 4): stack both key columns as
    # (tag, k) rows via explode — NOT the planner's mixed-distinct
    # Expand (4× the rows with no partial dedup, measured 4.4 s warm
    # vs 1.3 s for the old 3-scan shape at sf0.1). The explode's 2×
    # row stream collapses map-side: the partial HashAggregate on
    # (tag, k) dedups before the exchange, so shuffle bytes are the
    # distinct key sets, and the per-tag pass computes the exact count
    # AND the HLL sketch together — approx_count_distinct over the
    # deduped keys is IDENTICAL to over raw rows (HLL registers are
    # duplicate-insensitive: max over hashed values). Measured at
    # sf0.1: 3 scans/10 Exchanges → 1 scan/3 Exchanges, noop 0.76 s →
    # 0.59 s, rows byte-identical. At 100 TB the old shape read the
    # table three times; this reads it once.
    stacked = li.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("tag"), F.col("l_suppkey").alias("k")
                ),
                F.struct(
                    F.lit(1).alias("tag"), F.col("l_partkey").alias("k")
                ),
            )
        ).alias("x")
    ).select("x.tag", "x.k")
    per_tag = (
        stacked.groupBy("tag", "k")
        .agg(F.lit(1))
        .groupBy("tag")
        .agg(
            F.count(F.lit(1)).alias("exact"),
            F.approx_count_distinct("k", rsd=0.015).alias("a"),
        )
    )
    # coalesce: an empty table leaves per_tag empty, and its counts
    # are 0, not NULL
    def per(tag: int, col: str):
        return F.coalesce(
            F.max(F.when(F.col("tag") == tag, F.col(col))), F.lit(0)
        )

    return (
        per_tag.agg(
            per(0, "exact").alias("exact_supp"),
            per(0, "a").alias("a_supp"),
            per(1, "exact").alias("exact_part"),
            per(1, "a").alias("a_part"),
        )
        .select(
            "exact_supp",
            rel_ok(F.col("a_supp"), F.col("exact_supp")).alias("supp_ok"),
            "exact_part",
            rel_ok(F.col("a_part"), F.col("exact_part")).alias("part_ok"),
        )
    )


@query(
    "q_agg_grouping_id",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
           COUNT(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() indicator columns over a CUBE: distinguishes a real
    NULL key value from a subtotal row's placeholder NULL — the only
    reliable way to consume grouping-lattice output downstream."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        F.count("*").alias("n"),
    )


@query(
    "q_profile_stats",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT o_orderstatus) AS d_status,
           COUNT(DISTINCT o_orderpriority) AS d_prio,
           COUNT(DISTINCT o_custkey) AS d_cust,
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS null_status,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           strftime(MIN(o_orderdate), '%Y-%m-%d') AS min_date,
           strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_date
    FROM orders
    """,
)
def q_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling summary (the data-quality first look): row
    count, per-column distinct counts, null counts, min/max ranges —
    one pass, partial-aggregated, the profile a pipeline computes
    before trusting a new 100 TB drop (at that scale distincts become
    approx_count_distinct; exact here to stay oracle-comparable)."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_orderstatus").alias("d_status"),
        F.countDistinct("o_orderpriority").alias("d_prio"),
        F.countDistinct("o_custkey").alias("d_cust"),
        F.sum(F.when(F.col("o_orderstatus").isNull(), 1).otherwise(0)).alias(
            "null_status"
        ),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("min_date"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_date"),
    )


@query(
    "q_agg_histogram",
    oracle="""
    SELECT CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 600000 THEN 13
                ELSE CAST(floor(o_totalprice / 50000) AS INT) + 1
           END AS bucket,
           COUNT(*) AS n,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM orders GROUP BY 1
    """,
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket (standard-SQL bucketing:
    12 buckets over [0, 600000), underflow 0 / overflow 13) — the
    distribution-profiling op; one hash aggregate, partial-combined.
    (DuckDB 1.0 has no width_bucket — its oracle spells out the same
    floor((x-min)/width)+1 arithmetic.)"""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.width_bucket(
            F.col("o_totalprice"), F.lit(0), F.lit(600000), F.lit(12)
        ).cast("int").alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


@query(
    "q_sketch_hll",
    oracle="""
    SELECT source, COUNT(DISTINCT text) AS n_exact, true AS est_ok
    FROM documents GROUP BY source
    """,
)
def q_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasketches HLL distinct-count per source: exact count plus a
    boolean asserting the sketch estimate lands within its error bound.

    The invariant-oracle pattern for approximate ops: the oracle can't
    reproduce the estimator, so the contract ships the exact value and
    the bound check (HLL lgK=12 → ~1.6% relative error; 5% is a safe
    gate at any cardinality). At 100 TB the point of the sketch form
    (vs count_distinct's exact shuffle) is mergeability: per-partition
    sketches combine associatively map-side, moving ~4 KB per partition
    instead of re-shuffling every distinct value — see q_sketch_hll_union
    for the merge identity itself.
    """
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.countDistinct("text").alias("n_exact"),
        F.hll_sketch_estimate(F.hll_sketch_agg("text", F.lit(12))).alias("est"),
    )
    return per.select(
        "source",
        "n_exact",
        (
            F.abs(F.col("est") - F.col("n_exact"))
            <= F.lit(0.05) * F.col("n_exact") + F.lit(1.0)
        ).alias("est_ok"),
    )


@query(
    "q_sketch_hll_union",
    oracle="""
    SELECT COUNT(DISTINCT text) AS n_exact, true AS merge_consistent,
           true AS est_ok
    FROM documents
    """,
)
def q_sketch_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL merge identity: union of per-source partial sketches equals
    the sketch of the whole corpus — estimate-for-estimate.

    This is the property that makes sketches the 100 TB distinct-count
    plan: partials built per partition/day/shard merge associatively,
    so a year-long rollup never rescans raw data. The contract computes
    the whole-corpus estimate directly AND via hll_union_agg over
    per-source sketches and asserts they agree within 2% (bit-equality
    does NOT hold — the union path materializes a different sketch
    representation mode than the direct build, measured on this
    corpus), plus the usual error-bound gate against the exact count.
    """
    d = load_table(spark, sf_dir, "documents")
    direct = d.agg(
        F.countDistinct("text").alias("n_exact"),
        F.hll_sketch_estimate(F.hll_sketch_agg("text", F.lit(12))).alias(
            "est_direct"
        ),
    )
    merged = (
        d.groupBy("source")
        .agg(F.hll_sketch_agg("text", F.lit(12)).alias("sk"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk", F.lit(False))).alias(
                "est_merged"
            )
        )
    )
    return direct.crossJoin(merged).select(
        "n_exact",
        (
            F.abs(F.col("est_direct") - F.col("est_merged"))
            <= F.lit(0.02) * F.col("n_exact") + F.lit(1.0)
        ).alias("merge_consistent"),
        (
            F.abs(F.col("est_direct") - F.col("n_exact"))
            <= F.lit(0.05) * F.col("n_exact") + F.lit(1.0)
        ).alias("est_ok"),
    )


@query(
    "q_sketch_cms",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_exact, true AS ge_ok, true AS avg_ok
    FROM orders GROUP BY o_custkey
    """,
)
def q_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation over every order key:
    exact per-key count plus the sketch's two DETERMINISTIC
    invariants — per key, the estimate is never below the true count
    (each hash row counted every occurrence; the property
    heavy-hitter screens rely on); corpus-wide, the AVERAGE overshoot
    stays under 2·N/width + 1 (each row's expected collision mass is
    < N/width by Markov; the min over rows and the average over ~10³
    keys leave 2× as a deterministic margin — the classic PER-KEY
    e·N/w bound is only probabilistic at e⁻ᵈ per key, so it cannot
    gate every key of a fixed corpus). Same invariant-oracle pattern
    as q_sketch_hll. At 100 TB the sketch's point is bounded state:
    256 KB answers "how often does key x occur" for ANY x over 10⁹
    distinct keys, built with one map-side-combinable aggregation —
    where an exact answer would shuffle every distinct key."""
    from spype_spark.functions import cms_build, cms_estimate

    orders = load_table(spark, sf_dir, "orders")
    W, D = 8192, 4
    sketch = cms_build(orders, "o_custkey", width=W, depth=D)
    n_total = sum(sketch[0])
    bound = 2.0 * n_total / W + 1.0
    exact = orders.groupBy("o_custkey").agg(F.count("*").alias("n_exact"))
    est = cms_estimate(sketch, "o_custkey", width=W)
    per_key = exact.select(
        "o_custkey",
        "n_exact",
        (est >= F.col("n_exact")).alias("ge_ok"),
        (est - F.col("n_exact")).alias("__over"),
    )
    gate = per_key.agg(
        (F.avg("__over") <= F.lit(bound)).alias("avg_ok")
    )
    return per_key.join(F.broadcast(gate)).select(  # 1x1 audit metric
        "o_custkey", "n_exact", "ge_ok", "avg_ok"
    )


@query(
    "q_sketch_hll_intersect",
    oracle="""
    SELECT
      (SELECT COUNT(DISTINCT o_custkey) FROM orders
        WHERE o_totalprice > 50000.0) AS n_a,
      (SELECT COUNT(DISTINCT o_custkey) FROM orders
        WHERE o_orderstatus = 'O') AS n_b,
      (SELECT COUNT(DISTINCT o_custkey) FROM orders o1
        WHERE o_totalprice > 50000.0
          AND EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = o1.o_custkey
                        AND o2.o_orderstatus = 'O')) AS n_intersect,
      true AS int_ok
    """,
)
def q_sketch_hll_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-composed INTERSECTION estimate — audience overlap, the
    classic ask HLL unions alone can't answer: |A∩B| estimated by
    inclusion-exclusion over three sketches (est_A + est_B − est_A∪B,
    the union via `hll_union_agg` of the two partials — no rescan of
    either side). The contract ships the exact cohort sizes and the
    exact overlap plus a boolean pinning the estimate within an
    ADDITIVE bound scaled by the set sizes (5% of n_a+n_b): unlike the
    union, intersection error is additive across the three estimates,
    so its RELATIVE error blows up for small overlaps — the honest
    contract for this composition, and why engines (and this one)
    gate it by absolute mass, not ratio. A = customers with an order
    over 50 000, B = customers with an open order (large overlap by
    construction, the regime where inclusion-exclusion is sound)."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_totalprice") > 50000.0)
    b = orders.filter(F.col("o_orderstatus") == "O")
    sk_a = a.agg(
        F.hll_sketch_agg("o_custkey", F.lit(12)).alias("sk"),
        F.countDistinct("o_custkey").alias("n_a"),
    )
    sk_b = b.agg(
        F.hll_sketch_agg("o_custkey", F.lit(12)).alias("sk"),
        F.countDistinct("o_custkey").alias("n_b"),
    )
    exact_int = (
        a.select("o_custkey")
        .distinct()
        .join(b.select("o_custkey").distinct(), "o_custkey", "left_semi")
        .agg(F.count("*").alias("n_intersect"))
    )
    ests = (
        sk_a.select(F.col("sk"), F.col("n_a"))
        .unionByName(
            sk_b.select(F.col("sk"), F.col("n_b").alias("n_a")),
            allowMissingColumns=False,
        )
        .agg(
            F.hll_sketch_estimate(
                F.hll_union_agg("sk", F.lit(False))
            ).alias("est_union")
        )
    )
    one = (
        sk_a.select(
            "n_a",
            F.hll_sketch_estimate("sk").alias("est_a"),
        )
        .crossJoin(
            sk_b.select(
                "n_b", F.hll_sketch_estimate("sk").alias("est_b")
            )
        )
        .crossJoin(ests)  # 1x1 sketch-estimate packs
        .crossJoin(exact_int)
    )
    return one.select(
        "n_a",
        "n_b",
        "n_intersect",
        (
            F.abs(
                F.col("est_a") + F.col("est_b") - F.col("est_union")
                - F.col("n_intersect")
            )
            <= F.lit(0.05) * (F.col("n_a") + F.col("n_b")) + F.lit(2.0)
        ).alias("int_ok"),
    )
