"""Market-basket contract: frequent brand pairs with lift (the
Apriori L2 / co-occurrence-mining step).

The missing member of the analytics families: association mining.
Baskets are orders; items are the part brands on an order's lines.
The contract computes, for every unordered brand pair, its support
(baskets containing both) and lift (support·n_baskets /
(support_a·support_b)) — the quantity a recommender or assortment
planner thresholds on — keeping the top pairs by support.

Scale (100 TB): the naive all-pairs join of lineitem against itself
is quadratic in *lines*; the correct shape — used here — first
reduces to DISTINCT (basket, item), bounding the self-join to
Σ_b |items(b)|² with |items(b)| ≤ min(lines-per-order, |brands|).
That per-basket bound (≤ 7 lines in this corpus, ≤ |brands| = 25
always) is what makes pair mining tractable at any corpus size: the
equi-join on the basket key is a hash join whose per-key fan-out is a
small constant, never a cartesian. Supports are exact integer counts;
lift's single division is the only float op (identical IEEE on both
engines). One shuffle to distinct, one for the pair count, and a
broadcast of the 25-row per-item support table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spype_spark.planning import lazy_checkpoint
from spype_spark.registry import query
from spype_spark.tables import load_table


@query(
    "q_basket_pairs",
    oracle="""
    WITH bi AS (
      SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    nb AS (SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS n_baskets FROM bi),
    supp AS (
      SELECT item, CAST(COUNT(*) AS BIGINT) AS c FROM bi GROUP BY 1
    ),
    pairs AS (
      SELECT a.item AS item_a, b.item AS item_b,
             CAST(COUNT(*) AS BIGINT) AS support
      FROM bi a JOIN bi b
        ON a.basket = b.basket AND a.item < b.item
      GROUP BY 1, 2
    )
    SELECT item_a, item_b, support,
           CAST(support * n_baskets AS DOUBLE) / CAST(sa.c * sb.c AS DOUBLE)
             AS lift
    FROM pairs
    JOIN supp sa ON sa.item = item_a
    JOIN supp sb ON sb.item = item_b
    CROSS JOIN nb
    ORDER BY support DESC, item_a, item_b
    LIMIT 50
    """,
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 co-occurring brand pairs across order baskets, with
    exact support and lift.

    Shape: DISTINCT (order, brand) first — the step that bounds the
    self-join fan-out per basket — then a basket-key hash self-join
    with the ``item_a < item_b`` residual, an integer pair count, and
    two broadcast joins against the 25-row support table plus the
    1-row basket count. lift = support·n / (c_a·c_b): integer products
    inside, one IEEE division out, so the oracle hash-matches
    bit-exactly and the (support, item_a, item_b) total order pins the
    LIMIT boundary.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # ONE shuffle builds the whole transaction list (r15 opt): group
    # the basket's items directly — collect_set dedups, so the old
    # separate DISTINCT exchange disappears — and expand the ≤C(25,2)
    # per-basket pairs IN-ROW with array HOFs instead of a basket-key
    # self-join. The old shape re-ran scan+join+distinct in FOUR plan
    # branches (n_baskets, supports, both self-join sides — 22
    # Exchanges); now every consumer reads the checkpointed per-basket
    # item arrays (n_orders rows, ≤25 items each). Pair multiset is
    # identical: sorted distinct items, x<y pairs once per basket.
    baskets = lazy_checkpoint(
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("l_orderkey").alias("basket"))
        .agg(F.sort_array(F.collect_set(F.col("p_brand"))).alias("items"))
    )
    nb = baskets.agg(F.count(F.lit(1)).cast("bigint").alias("n_baskets"))
    supp = (
        baskets.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("items"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("items"), i + F.lit(2), F.size(F.col("items"))
                ),
                lambda y: F.struct(x.alias("item_a"), y.alias("item_b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("pr"))
        .groupBy(
            F.col("pr.item_a").alias("item_a"),
            F.col("pr.item_b").alias("item_b"),
        )
        .agg(F.count("*").cast("bigint").alias("support"))
    )
    sa = supp.select(F.col("item").alias("item_a"), F.col("c").alias("ca"))
    sb = supp.select(F.col("item").alias("item_b"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .join(F.broadcast(nb))
        .select(
            "item_a",
            "item_b",
            "support",
            (
                (F.col("support") * F.col("n_baskets")).cast("double")
                / (F.col("ca") * F.col("cb")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.desc("support"), "item_a", "item_b")
        .limit(50)
    )
