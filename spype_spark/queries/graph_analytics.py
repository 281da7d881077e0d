"""Graph analytics over the nation trade graph (supplier-nation →
customer-nation edges derived from lineitem↔orders).

Two classic iterative/combinatorial graph ops in pure DataFrame
algebra, joining `connected_components` (functions.py) to round out
the Pregel-on-DataFrames family:

- PageRank with **fixed-point integer ranks**: per-edge contributions
  are floored to scaled longs each round, so every per-node sum is an
  integer sum (order-independent) and the whole 5-round iteration is
  bit-deterministic across engines and partitionings — float PageRank
  would diverge in the last ulp through sum-order alone. The oracle
  unrolls the rounds as chained CTEs (SQL can't aggregate inside a
  recursive term).
- Triangle counting on the undirected graph via the canonical
  a<b<c three-way self-join.

Scale notes (100 TB): the edge list aggregates out of the fact table
once (groupBy distinct on a dimension-pair key — tiny output). The
PageRank loop is the standard join-agg round over (edges ⋈ ranks); at
real graph scale ranks partition by vertex id, edges by src, and each
round is one shuffle: localCheckpoint would truncate lineage past
~20 rounds (see functions.connected_components); 5 rounds keeps plans
flat without it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spype_spark.planning import lazy_checkpoint
from spype_spark.registry import query
from spype_spark.tables import load_table

#: Fixed-point scale for PageRank ranks (1.0 == 10^12).
_PR_SCALE = 1_000_000_000_000
_PR_DAMP = 0.85
_PR_ROUNDS = 5

_EDGES_SQL = """
      SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
"""


def _pagerank_oracle() -> str:
    base = (
        f"CAST(floor({_PR_SCALE}.0 * 0.15 / (SELECT COUNT(*) FROM nodes)) "
        "AS BIGINT)"
    )
    sql = f"""
    WITH nodes AS (SELECT n_nationkey AS v FROM nation),
    edges AS ({_EDGES_SQL}),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1),
    pr0 AS (
      SELECT v, CAST(floor({_PR_SCALE}.0 / (SELECT COUNT(*) FROM nodes))
                     AS BIGINT) AS r
      FROM nodes)
    """
    for i in range(1, _PR_ROUNDS + 1):
        sql += f""",
    pr{i} AS (
      SELECT n.v, {base} + COALESCE(inc.s, 0) AS r
      FROM nodes n
      LEFT JOIN (
        SELECT e.dst, SUM(CAST(floor({_PR_DAMP} * p.r / g.d) AS BIGINT)) AS s
        FROM edges e
        JOIN pr{i - 1} p ON p.v = e.src
        JOIN deg g ON g.src = e.src
        GROUP BY e.dst) inc ON inc.dst = n.v)
    """
    # DuckDB's SUM(BIGINT) widens to HUGEINT, which pandas renders as
    # float64 — same values as Spark's int64 but a different repr, so the
    # driver's hash would mismatch. Cast the final rank back to BIGINT.
    sql += f"""
    SELECT v AS n_nationkey, CAST(r AS BIGINT) AS rank_scaled
    FROM pr{_PR_ROUNDS}
    """
    return sql


@query("q_graph_pagerank", oracle=_pagerank_oracle())
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 5 rounds, simplified: dangling mass
    leaks) over the nation trade graph, in fixed-point arithmetic.

    Rank lives as a scaled long (1.0 = 10^12); each round floors the
    per-edge contribution 0.85·r/deg to an integer BEFORE the per-node
    sum. One deterministic double op per edge, then integer sums —
    bit-identical under any partitioning or engine, which is what lets
    an iterative float algorithm carry a value-hash oracle at all.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")

    edges = (
        li.join(s, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .select(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    nodes = n.select(F.col("n_nationkey").alias("v"))
    n_nodes = nodes.count()  # dimension-sized scalar (25), not fact data

    base = int(_PR_SCALE * 0.15 / n_nodes)
    ranks = nodes.withColumn("r", F.lit(int(_PR_SCALE / n_nodes)))
    # Materialize the (src, dst, d) edge list once: it is static across
    # rounds, and without this every iteration re-runs the fact-table
    # joins that derived it (measured 5× the whole query cost at sf0.1).
    ed = edges.join(deg, "src").localCheckpoint(eager=True)
    for _ in range(_PR_ROUNDS):
        contrib = (
            ed.join(ranks, ed.src == ranks.v)
            .select(
                "dst",
                F.floor(F.lit(_PR_DAMP) * F.col("r") / F.col("d"))
                .cast("long")
                .alias("w"),
            )
            .groupBy("dst")
            .agg(F.sum("w").alias("incoming"))
        )
        ranks = nodes.join(
            contrib, nodes.v == contrib.dst, "left"
        ).select(
            "v",
            (F.lit(base) + F.coalesce(F.col("incoming"), F.lit(0))).alias("r"),
        )
    return ranks.select(
        F.col("v").alias("n_nationkey"), F.col("r").alias("rank_scaled")
    )


@query(
    "q_graph_triangles",
    oracle=f"""
    WITH dedges AS MATERIALIZED ({_EDGES_SQL}),
    und AS MATERIALIZED (
      -- MATERIALIZED: DuckDB inlines CTEs by default, so the three
      -- self-join references would each re-run the 4-way fact join
      -- (measured 30 s vs 0.1 s at sf0.1)
      SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM dedges WHERE src <> dst
      GROUP BY 1, 2
    )
    SELECT COUNT(*) AS n_triangles
    FROM und e1
    JOIN und e2 ON e2.a = e1.b
    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the undirected nation trade graph via the
    canonical a<b<c ordered three-way self-join (each triangle counted
    exactly once).

    The ordering constraint is the scale trick: joining ordered edges
    (a<b) on shared endpoints enumerates each candidate wedge once,
    and the closing-edge equi-join is a hash join — no cartesian
    blowup. At real graph scale the same plan shuffles on the wedge
    pivot; skewed hubs call for the salting helpers (skew.py).
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    # materialize once (lazily, at the action): three self-join aliases
    # would otherwise each re-run the fact-table joins that derived the
    # edge list
    edges = lazy_checkpoint(
        li.join(s, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .select(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    wedges = e1.join(e2, F.col("e2.a") == F.col("e1.b"))
    tris = wedges.join(
        e3,
        (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
    )
    return tris.agg(F.count("*").alias("n_triangles"))
