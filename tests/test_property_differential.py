"""Property-based differential testing (SURVEY.md §5.2 item 5).

Hypothesis generates random filter/aggregate shapes over orders; each
is executed by Spark (Column algebra) and DuckDB (equivalent SQL) on
the same Parquet file and must agree exactly. This fuzzes the
*translation layer* between the two engines' semantics — comparison
operators, boolean algebra, BETWEEN boundaries, IN lists — beyond the
fixed oracle corpus.
"""

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"

STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECI", "5-LOW"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.sql(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{SF}/orders.parquet')")
    return con


@pytest.fixture(scope="module")
def duck_events():
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF}/events.parquet')"
    )
    return con


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


predicate = st.one_of(
    st.tuples(st.just("status_in"), st.sets(st.sampled_from(STATUSES), min_size=1)),
    st.tuples(
        st.just("price_between"),
        st.tuples(
            st.floats(0, 500000, allow_nan=False), st.floats(0, 500000, allow_nan=False)
        ),
    ),
    st.tuples(st.just("prio_prefix"), st.sampled_from("12345")),
    st.tuples(st.just("key_mod"), st.integers(2, 13)),
)


def build(p):
    """(Spark Column, SQL string) for one generated predicate."""
    kind, arg = p
    if kind == "status_in":
        vals = sorted(arg)
        quoted = ", ".join(f"'{v}'" for v in vals)
        return F.col("o_orderstatus").isin(vals), f"o_orderstatus IN ({quoted})"
    if kind == "price_between":
        lo, hi = sorted(arg)
        return (
            F.col("o_totalprice").between(lo, hi),
            f"o_totalprice BETWEEN {lo!r} AND {hi!r}",
        )
    if kind == "prio_prefix":
        return (
            F.col("o_orderpriority").startswith(arg),
            f"o_orderpriority LIKE '{arg}%'",
        )
    if kind == "key_mod":
        return (F.col("o_orderkey") % arg == 0), f"o_orderkey % {arg} = 0"
    raise AssertionError(kind)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ps=st.lists(predicate, min_size=1, max_size=3), conj=st.booleans())
def test_random_filters_agree(orders, duck, ps, conj):
    cols, sqls = zip(*(build(p) for p in ps))
    cond = cols[0]
    for c in cols[1:]:
        cond = (cond & c) if conj else (cond | c)
    joiner = " AND " if conj else " OR "
    sql = joiner.join(f"({s})" for s in sqls)
    n_spark = orders.filter(cond).count()
    n_duck = duck.sql(f"SELECT COUNT(*) FROM orders WHERE {sql}").fetchone()[0]
    assert n_spark == n_duck, f"predicate {sql!r}: spark={n_spark} duck={n_duck}"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    preceding=st.integers(0, 20),
    part_key=st.sampled_from(["o_orderstatus", "o_orderpriority"]),
)
def test_random_window_frames_agree(orders, duck, preceding, part_key):
    """Random ROWS-frame sums (scaled-long exact) must match DuckDB for
    any frame size and partitioning key."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(part_key)
        .orderBy("o_orderkey")
        .rowsBetween(-preceding, Window.currentRow)
    )
    got = {
        (r.o_orderkey, r.s)
        for r in orders.select(
            "o_orderkey",
            (F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5)).over(w) / 100)
            .alias("s"),
        ).collect()
    }
    want = set(
        duck.sql(
            f"""
            SELECT o_orderkey,
                   CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        OVER (PARTITION BY {part_key} ORDER BY o_orderkey
                              ROWS BETWEEN {preceding} PRECEDING AND CURRENT ROW)
                        AS DOUBLE) / 100
            FROM orders
            """
        ).fetchall()
    )
    assert got == want


@pytest.fixture(scope="module")
def customer(spark):
    return spark.read.parquet(f"{SF}/customer.parquet")


@pytest.fixture(scope="module")
def duck_cust(duck):
    duck.sql(
        f"CREATE VIEW IF NOT EXISTS customer AS "
        f"SELECT * FROM read_parquet('{SF}/customer.parquet')"
    )
    return duck


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    p=predicate,
    how=st.sampled_from(["inner", "left", "left_semi", "left_anti"]),
)
def test_random_join_shapes_agree(orders, customer, duck_cust, p, how):
    """Random order-side predicates × join types: grouped customer
    counts must match DuckDB's equivalent join formulation."""
    cond, sql = build(p)
    o = orders.filter(cond)
    sub = f"(SELECT * FROM orders WHERE {sql})"
    if how in ("inner", "left"):
        j = customer.join(o, customer.c_custkey == o.o_custkey, how)
        dj = {"inner": "JOIN", "left": "LEFT JOIN"}[how]
        q = (
            f"SELECT c_mktsegment, COUNT(*) FROM customer "
            f"{dj} {sub} o ON c_custkey = o.o_custkey GROUP BY 1"
        )
    elif how == "left_semi":
        j = customer.join(o, customer.c_custkey == o.o_custkey, "left_semi")
        q = (
            f"SELECT c_mktsegment, COUNT(*) FROM customer WHERE EXISTS "
            f"(SELECT 1 FROM {sub} o WHERE o.o_custkey = c_custkey) GROUP BY 1"
        )
    else:
        j = customer.join(o, customer.c_custkey == o.o_custkey, "left_anti")
        q = (
            f"SELECT c_mktsegment, COUNT(*) FROM customer WHERE NOT EXISTS "
            f"(SELECT 1 FROM {sub} o WHERE o.o_custkey = c_custkey) GROUP BY 1"
        )
    got = {(r[0], r[1]) for r in j.groupBy("c_mktsegment").count().collect()}
    want = set(duck_cust.sql(q).fetchall())
    assert got == want


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    key=st.sampled_from(["o_orderstatus", "o_orderpriority", "o_custkey"]),
    p=predicate,
)
def test_random_grouped_counts_agree(orders, duck, key, p):
    cond, sql = build(p)
    got = {
        tuple(r)
        for r in orders.filter(cond).groupBy(key).count().collect()
    }
    want = set(
        duck.sql(
            f"SELECT {key}, COUNT(*) FROM orders WHERE {sql} GROUP BY {key}"
        ).fetchall()
    )
    assert got == want

@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(mode=st.sampled_from(["rollup", "cube"]), p=predicate)
def test_random_rollup_cube_agree(orders, duck, mode, p):
    """Random predicates × ROLLUP/CUBE over two keys: the full grouping-
    lattice counts (including NULL subtotal rows) must match DuckDB."""
    cond, sql = build(p)
    base = orders.filter(cond)
    keys = ("o_orderstatus", "o_orderpriority")
    g = base.rollup(*keys) if mode == "rollup" else base.cube(*keys)
    got = {tuple(r) for r in g.count().collect()}
    kw = "ROLLUP" if mode == "rollup" else "CUBE"
    want = set(
        duck.sql(
            f"SELECT o_orderstatus, o_orderpriority, COUNT(*) FROM orders "
            f"WHERE {sql} GROUP BY {kw} (o_orderstatus, o_orderpriority)"
        ).fetchall()
    )
    if not got:
        # Found by this fuzz (2026-08-13): on an EMPTY input relation,
        # standard SQL (DuckDB) still emits the ()-grouping-set grand-
        # total row (NULL, NULL, 0) while Spark's rollup/cube emits no
        # rows at all. Real divergence, pinned here; the oracle corpus
        # avoids empty inputs.
        assert want <= {(None, None, 0)}
        return
    assert got == want


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(p1=predicate, p2=predicate, op=st.sampled_from(["union", "intersect", "except"]))
def test_random_setops_agree(orders, duck, p1, p2, op):
    """Random predicate pairs × set operations on the key column: the
    distinct result set must match DuckDB's bag-to-set semantics."""
    c1, s1 = build(p1)
    c2, s2 = build(p2)
    a = orders.filter(c1).select("o_orderkey")
    b = orders.filter(c2).select("o_orderkey")
    if op == "union":
        j = a.union(b).distinct()
    elif op == "intersect":
        j = a.intersect(b)
    else:
        j = a.exceptAll(b).distinct()
    got = {r[0] for r in j.collect()}
    kw = {"union": "UNION", "intersect": "INTERSECT", "except": "EXCEPT"}[op]
    want = {
        r[0]
        for r in duck.sql(
            f"SELECT o_orderkey FROM orders WHERE {s1} {kw} "
            f"SELECT o_orderkey FROM orders WHERE {s2}"
        ).fetchall()
    }
    assert got == want, f"{kw}: {s1!r} vs {s2!r}"


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    fn=st.sampled_from(["min", "max", "count", "sum_scaled", "countd"]),
    key=st.sampled_from(["o_orderstatus", "o_orderpriority"]),
    p=predicate,
)
def test_random_agg_functions_agree(orders, duck, fn, key, p):
    """Random (aggregate × group key × predicate) triples vs DuckDB —
    min/max/count/exact-scaled-sum/count-distinct per group."""
    cond, sql = build(p)
    base = orders.filter(cond)
    if fn == "min":
        got_df = base.groupBy(key).agg(F.min("o_totalprice").alias("v"))
        expr = "MIN(o_totalprice)"
    elif fn == "max":
        got_df = base.groupBy(key).agg(F.max("o_totalprice").alias("v"))
        expr = "MAX(o_totalprice)"
    elif fn == "count":
        got_df = base.groupBy(key).agg(F.count("*").alias("v"))
        expr = "COUNT(*)"
    elif fn == "countd":
        got_df = base.groupBy(key).agg(F.countDistinct("o_custkey").alias("v"))
        expr = "COUNT(DISTINCT o_custkey)"
    else:  # exact order-independent double sum (scaled-long discipline)
        got_df = base.groupBy(key).agg(
            (F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5)) / 100).alias("v")
        )
        expr = (
            "CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) "
            "AS DOUBLE) / 100"
        )
    got = {tuple(r) for r in got_df.collect()}
    want = set(
        duck.sql(
            f"SELECT {key}, {expr} FROM orders WHERE {sql} GROUP BY {key}"
        ).fetchall()
    )
    assert got == want, f"{fn} by {key} where {sql!r}"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    m=st.integers(2, 9),
    thr=st.floats(50_000, 400_000, allow_nan=False),
)
def test_random_asof_joins_agree(spark, orders, duck, m, thr):
    """Random key-modulus groupings × right-side thresholds: the
    facade's union-tag asof_join must match DuckDB's native ASOF LEFT
    JOIN (greatest right ts ≤ left ts within the key, inclusive ties,
    NULL where no right row precedes). Right side is deduped to one
    row per (key, ts) so both engines' tie policy is moot — the
    round-3 struct-packed rewrite keeps all right columns from the
    single matched row, which this differential exercises across group
    shapes the fixed oracle corpus doesn't."""
    from spype_spark.functions import asof_join

    left = orders.select(
        "o_orderkey",
        (F.col("o_custkey") % m).alias("k"),
        F.col("o_orderdate").alias("ts"),
    )
    right = (
        orders.filter(F.col("o_totalprice") <= thr)
        .groupBy(
            (F.col("o_custkey") % m).alias("k"),
            F.col("o_orderdate").alias("rts"),
        )
        .agg(F.max("o_totalprice").alias("rv"))
    )
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="rts", right_cols=["rv"]
    )
    got = {(r.o_orderkey, r.rv) for r in out.collect()}
    q = f"""
    WITH l AS (SELECT o_orderkey, o_custkey % {m} AS k, o_orderdate AS ts
               FROM orders),
         r0 AS (SELECT o_custkey % {m} AS k, o_orderdate AS ts,
                       max(o_totalprice) AS rv
                FROM orders WHERE o_totalprice <= {thr!r} GROUP BY 1, 2)
    SELECT l.o_orderkey, r0.rv
    FROM l ASOF LEFT JOIN r0 ON l.k = r0.k AND l.ts >= r0.ts
    """
    want = set(duck.sql(q).fetchall())
    assert got == want


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    minutes=st.sampled_from([5, 15, 30, 60, 120, 480, 1440]),
    etype=st.sampled_from(["view", "click", "purchase", None]),
)
def test_random_time_buckets_agree(spark, duck_events, minutes, etype):
    """Random tumbling-bucket widths × event-type predicates over the
    events table: Spark's window() bucketing must agree with DuckDB's
    time_bucket() on the loaded (encoding-normalized) ts column — the
    dimension of the translation layer the round-4 corpus regeneration
    broke (silently NULLed timestamps would yield empty buckets here,
    loudly)."""
    from spype_spark.tables import load_table

    ev = load_table(spark, SF, "events")
    if etype is not None:
        ev = ev.filter(F.col("event_type") == etype)
    got = {
        (r.b.isoformat(sep=" "), r.n)
        for r in ev.groupBy(
            F.window("ts", f"{minutes} minutes").start.alias("b")
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    where = f"WHERE event_type = '{etype}'" if etype is not None else ""
    want = {
        (str(b), n)
        for b, n in duck_events.sql(
            f"""
            SELECT time_bucket(INTERVAL {minutes} MINUTE, ts) AS b,
                   COUNT(*) AS n
            FROM events {where} GROUP BY 1
            """
        ).fetchall()
    }
    assert got == want, f"{minutes}min buckets, type={etype}"


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    gap_min=st.sampled_from([1, 5, 10, 30, 90, 360, 1440]),
    etype=st.sampled_from(["view", "click", None]),
)
def test_random_session_gaps_agree(spark, duck_events, gap_min, etype):
    """Random inactivity-gap widths × event-type predicates: the
    lag → flag → running-sum sessionization idiom (the engine behind
    q_stream_session, q_rolling_dau's spine, and q_path_ngrams) must
    produce identical per-user session counts to DuckDB's
    gaps-and-islands for ANY gap parameter — the boundary arithmetic
    (strict `>` on integer microseconds) is the part a fixed oracle
    can't sweep."""
    from pyspark.sql import Window

    from spype_spark.tables import load_table

    gap_us = gap_min * 60_000_000
    ev = load_table(spark, SF, "events")
    if etype is not None:
        ev = ev.filter(F.col("event_type") == etype)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    e = ev.select("user_id", "event_id", us.alias("us"))
    flagged = e.withColumn(
        "is_new",
        F.when(F.col("us") - F.lag("us").over(w) > gap_us, 1)
        .when(F.lag("us").over(w).isNull(), 1)
        .otherwise(0),
    )
    got = {
        (r.user_id, r.n)
        for r in flagged.groupBy("user_id")
        .agg(F.sum("is_new").alias("n"))
        .collect()
    }
    where = f"WHERE event_type = '{etype}'" if etype is not None else ""
    want = {
        (u, n)
        for u, n in duck_events.sql(
            f"""
            WITH e AS (
              SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
              FROM events {where}
            ),
            flagged AS (
              SELECT user_id,
                     CASE WHEN us - lag(us) OVER w IS NULL THEN 1
                          WHEN us - lag(us) OVER w > {gap_us} THEN 1
                          ELSE 0 END AS is_new
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
            )
            SELECT user_id, SUM(is_new) AS n FROM flagged GROUP BY 1
            """
        ).fetchall()
    }
    assert got == want, f"gap={gap_min}min type={etype}"


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    mod=st.integers(2, 7),
    etypes=st.sets(
        st.sampled_from(["view", "click", "purchase", "signup", "error"]),
        min_size=2,
    ),
)
def test_random_run_collapse_agrees(spark, duck_events, mod, etypes):
    """Random event-type subsets × user-id modulus filters over the
    gaps-and-islands run collapse (the SCD2 idiom): the
    difference-of-row_numbers run id must yield identical per-user run
    counts in both engines for ANY input subset — re-filtering shifts
    every row_number, so this sweeps the idiom's alignment far beyond
    the fixed q_scd2_history oracle."""
    from pyspark.sql import Window

    from spype_spark.tables import load_table

    vals = sorted(etypes)
    ev = load_table(spark, SF, "events").filter(
        F.col("event_type").isin(vals) & (F.col("user_id") % mod == 0)
    )
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    runs = (
        ev.select(
            "user_id",
            "event_type",
            (F.row_number().over(w_all) - F.row_number().over(w_type)).alias(
                "run"
            ),
        )
        .groupBy("user_id")
        .agg(F.countDistinct("event_type", "run").alias("n_runs"))
    )
    got = {(r.user_id, r.n_runs) for r in runs.collect()}
    quoted = ", ".join(f"'{v}'" for v in vals)
    want = {
        (u, n)
        for u, n in duck_events.sql(
            f"""
            WITH e AS (
              SELECT user_id, event_type, ts, event_id,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS ra,
                     row_number() OVER (PARTITION BY user_id, event_type
                                        ORDER BY ts, event_id) AS rt
              FROM events
              WHERE event_type IN ({quoted}) AND user_id % {mod} = 0
            )
            SELECT user_id, COUNT(DISTINCT (event_type, ra - rt)) AS n_runs
            FROM e GROUP BY 1
            """
        ).fetchall()
    }
    assert got == want, f"mod={mod} types={vals}"


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    k=st.integers(1, 40),
    key=st.sampled_from(["o_orderstatus", "o_orderpriority"]),
    p=predicate,
)
def test_random_topk_boundaries_agree(orders, duck, k, key, p):
    """Random LIMIT sizes × predicates over a grouped count with a
    total-order tiebreak: the TakeOrderedAndProject boundary must cut
    at the identical row in both engines for any k — the discipline
    every top-k contract relies on (ties broken by the full key, never
    left to partition order)."""
    cond, sql = build(p)
    got = [
        tuple(r)
        for r in orders.filter(cond)
        .groupBy(key, "o_custkey")
        .count()
        .orderBy(F.desc("count"), key, "o_custkey")
        .limit(k)
        .collect()
    ]
    want = duck.sql(
        f"""
        SELECT {key}, o_custkey, COUNT(*) AS count
        FROM orders WHERE {sql}
        GROUP BY 1, 2
        ORDER BY count DESC, {key}, o_custkey
        LIMIT {k}
        """
    ).fetchall()
    assert got == [tuple(r) for r in want], f"k={k} key={key} pred={sql!r}"


# ---------------------------------------------------------------------------
# Subquery / LATERAL / recursive-CTE family (VERDICT r6 task 8): fuzz the
# decorrelation paths — Spark rewrites correlated predicates into joins,
# and the rewrite (not the predicate) is what these cases stress.
# ---------------------------------------------------------------------------

#: deterministic avg(o_totalprice): exact scaled-long sum / count — the
#: same discipline as spype_spark/queries/subqueries.py, so the only
#: doubles are one division and one multiply, identical IEEE ops in
#: both engines.
_AVG_EXACT = "(SUM(floor({col} * 1e2 + 0.5)) / 1e2) / COUNT(*)"


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    factor=st.sampled_from([1.25, 1.5, 1.75, 2.0]),  # exact binary fractions
    cmp=st.sampled_from([">", "<"]),
    p=predicate,
)
def test_random_correlated_threshold_agree(spark, orders, duck, factor, cmp, p):
    """Correlated scalar-aggregate subquery under a random outer
    predicate: Spark must decorrelate `price <cmp> f * (SELECT avg ...
    WHERE i.cust = o.cust)` into a keyed-aggregate join that selects
    the IDENTICAL row set DuckDB's correlated evaluation does — for
    either comparison direction and any interleaved outer filter."""
    cond, psql = build(p)
    avg = _AVG_EXACT.format(col="i.o_totalprice")
    orders.createOrReplaceTempView("fuzz_corr_orders")
    got = {
        r.o_orderkey
        for r in spark.sql(
            f"""
            SELECT o.o_orderkey FROM fuzz_corr_orders o
            WHERE o.o_totalprice {cmp} {factor} * (
              SELECT {avg} FROM fuzz_corr_orders i
              WHERE i.o_custkey = o.o_custkey)
              AND {psql}
            """
        ).collect()
    }
    want = {
        r[0]
        for r in duck.sql(
            f"""
            SELECT o.o_orderkey FROM orders o
            WHERE o.o_totalprice {cmp} {factor} * (
              SELECT {avg} FROM orders i
              WHERE i.o_custkey = o.o_custkey)
              AND {psql}
            """
        ).fetchall()
    }
    assert got == want, f"factor={factor} cmp={cmp} pred={psql!r}"


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    neg=st.booleans(),
    mod=st.integers(2, 11),
    p=predicate,
)
def test_random_in_subquery_agree(spark, orders, duck, neg, mod, p):
    """[NOT] IN (correlated-free subquery) → left-semi/anti join
    rewrite: the membership set is derived from a random key-mod
    filter, the outer side from a random predicate; both engines must
    agree for IN and NOT IN alike (no nulls in custkey, so NOT IN's
    three-valued trap stays out of scope by construction)."""
    cond, psql = build(p)
    word = "NOT IN" if neg else "IN"
    orders.createOrReplaceTempView("fuzz_in_orders")
    q = f"""
        SELECT o_orderkey FROM {{t}} o
        WHERE o_custkey {word} (
          SELECT o_custkey FROM {{t}} WHERE o_orderkey % {mod} = 0)
          AND {psql}
        """
    got = {r.o_orderkey for r in spark.sql(q.format(t="fuzz_in_orders")).collect()}
    want = {r[0] for r in duck.sql(q.format(t="orders")).fetchall()}
    assert got == want, f"neg={neg} mod={mod} pred={psql!r}"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(k=st.integers(1, 4), p=predicate)
def test_random_lateral_topk_agree(spark, orders, duck, k, p):
    """LATERAL top-k per customer vs the window-rank formulation: the
    Spark side deliberately uses row_number() over (price DESC,
    orderkey) — a DIFFERENT plan shape than DuckDB's LATERAL ...
    LIMIT k — so agreement checks the semantics, not a shared
    rewrite. (o_totalprice, o_orderkey) is a total order, so the k
    boundary is deterministic."""
    from pyspark.sql import Window

    cond, psql = build(p)
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    got = {
        (r.o_custkey, r.o_orderkey)
        for r in orders.filter(cond)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("o_custkey", "o_orderkey")
        .collect()
    }
    want = {
        tuple(r)
        for r in duck.sql(
            f"""
            SELECT c.o_custkey, t.o_orderkey
            FROM (SELECT DISTINCT o_custkey FROM orders WHERE {psql}) c,
            LATERAL (
              SELECT o_orderkey FROM orders
              WHERE o_custkey = c.o_custkey AND {psql}
              ORDER BY o_totalprice DESC, o_orderkey LIMIT {k}) t
            """
        ).fetchall()
    }
    assert got == want, f"k={k} pred={psql!r}"


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    step=st.integers(1, 13),
    # span/step ≤ 90 recursion levels: Spark caps recursive CTEs at
    # 100 levels by default (RECURSION_LEVEL_LIMIT_EXCEEDED) — the
    # fuzz probes the boundary arithmetic, not the level limit.
    span=st.integers(10, 90),
    mod=st.integers(2, 7),
)
def test_random_recursive_spine_agree(spark, duck, step, span, mod):
    """Recursive-CTE integer spine with a random step and bound, plus a
    correlated per-spine-point count: Spark 4's WITH RECURSIVE must
    produce the identical spine and the identical decorrelated counts
    DuckDB does, for any (step, bound) — including the final partial
    step (the boundary the WHERE guard cuts)."""
    q = """
        WITH RECURSIVE spine(n) AS (
          SELECT 0
          UNION ALL
          SELECT n + {step} FROM spine WHERE n + {step} <= {span}
        )
        SELECT n,
               (SELECT COUNT(*) FROM {t} o
                WHERE o.o_orderkey % {mod} = n % {mod}) AS n_orders
        FROM spine
        """
    spark.read.parquet(f"{SF}/orders.parquet").createOrReplaceTempView(
        "fuzz_rc_orders"
    )
    got = {
        (r.n, r.n_orders)
        for r in spark.sql(
            q.format(step=step, span=span, mod=mod, t="fuzz_rc_orders")
        ).collect()
    }
    want = {
        tuple(r)
        for r in duck.sql(
            q.format(step=step, span=span, mod=mod, t="orders")
        ).fetchall()
    }
    assert got == want, f"step={step} span={span} mod={mod}"


# ---------------------------------------------------------------------------
# Pivot / grouping-sets / null-safe-join family: fuzz the reshaping
# operators whose null semantics are the classic cross-engine traps
# (pivot cells with no input, grouping-set placeholder nulls, <=>).
# ---------------------------------------------------------------------------


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.sets(st.sampled_from(STATUSES), min_size=1, max_size=3),
    p=predicate,
)
def test_random_pivot_agree(orders, duck, vals, p):
    """Pivot with a random explicit value list × a random input filter:
    cells whose (group, value) combination has NO surviving input rows
    must be NULL in both engines (Spark pivot vs SQL conditional
    aggregation), and values absent from the list must be dropped, not
    folded in. Counts — exact integers — keep floats out."""
    cond, psql = build(p)
    cols = sorted(vals)
    got = {
        tuple(r)
        for r in orders.filter(cond)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", cols)
        .count()
        .collect()
    }
    cells = ", ".join(
        f"COUNT(CASE WHEN o_orderstatus = '{v}' THEN 1 END) AS c_{v}"
        for v in cols
    )
    # COUNT returns 0 for empty cells; Spark's pivot-count yields NULL.
    # Normalize via NULLIF — the is-empty boundary is exactly what the
    # case fuzzes.
    nulled = ", ".join(f"NULLIF(c_{v}, 0) AS c_{v}" for v in cols)
    want = {
        tuple(r)
        for r in duck.sql(
            f"""
            SELECT o_orderpriority, {nulled} FROM (
              SELECT o_orderpriority, {cells}
              FROM orders WHERE {psql} GROUP BY 1)
            """
        ).fetchall()
    }
    assert got == want, f"vals={cols} pred={psql!r}"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    sets_pick=st.sets(
        st.sampled_from(["status", "prio", "both", "none"]),
        min_size=1,
        max_size=3,
    ),
    p=predicate,
)
def test_random_grouping_sets_agree(spark, orders, duck, sets_pick, p):
    """Random GROUPING SETS combinations (incl. the grand-total () set):
    placeholder NULLs plus GROUPING flags must agree — the
    placeholder-vs-data-null distinction is exactly what GROUPING
    exists to disambiguate, so compare it, not just the nulled key
    columns. Found-and-scoped divergence: over an EMPTY input, DuckDB
    (per the standard, like Postgres) still emits the () grand-total
    row, Spark emits no rows at all — so the fuzz pins agreement on
    non-empty inputs and pins Spark's empty-input behavior explicitly
    in test_grouping_sets_empty_input_divergence below."""
    from hypothesis import assume

    cond, psql = build(p)
    assume(duck.sql(f"SELECT COUNT(*) FROM orders WHERE {psql}").fetchone()[0] > 0)
    mapping = {
        "status": "(o_orderstatus)",
        "prio": "(o_orderpriority)",
        "both": "(o_orderstatus, o_orderpriority)",
        "none": "()",
    }
    gsets = ", ".join(mapping[s] for s in sorted(sets_pick))
    orders.createOrReplaceTempView("fuzz_gs_orders")
    # Spark rejects GROUPING(col) / bare col for columns absent from
    # every grouping set — project only the columns actually grouped.
    sel = []
    if sets_pick & {"status", "both"}:
        sel += ["o_orderstatus", "GROUPING(o_orderstatus) AS g_s"]
    if sets_pick & {"prio", "both"}:
        sel += ["o_orderpriority", "GROUPING(o_orderpriority) AS g_p"]
    sel_sql = ", ".join(sel + ["COUNT(*) AS n"])
    q = f"""
        SELECT {sel_sql}
        FROM {{t}} WHERE {psql}
        GROUP BY GROUPING SETS ({gsets})
        """
    got = {tuple(r) for r in spark.sql(q.format(t="fuzz_gs_orders")).collect()}
    want = {tuple(r) for r in duck.sql(q.format(t="orders")).fetchall()}
    assert got == want, f"sets={gsets} pred={psql!r}"


def test_grouping_sets_empty_input_divergence(spark, orders, duck):
    """Pin the cross-engine divergence the fuzz above scopes out: for
    GROUP BY GROUPING SETS ((), (k)) over an EMPTY input, DuckDB emits
    the grand-total () row (COUNT = 0, the SQL-standard / Postgres
    behavior), Spark emits NOTHING. Any oracle over a grouping-sets
    query with a possibly-empty input must therefore exclude the ()
    set or guard non-emptiness — this test exists so the divergence is
    a documented fact, not a future debugging session."""
    orders.createOrReplaceTempView("fuzz_gs_orders")
    q = """
        SELECT o_orderstatus, COUNT(*) AS n
        FROM {t} WHERE o_orderkey < 0
        GROUP BY GROUPING SETS ((), (o_orderstatus))
        """
    assert spark.sql(q.format(t="fuzz_gs_orders")).collect() == []
    assert duck.sql(q.format(t="orders")).fetchall() == [(None, 0)]


def test_approx_distinct_on_empty_lineitem_is_zero(spark, tmp_path):
    """q_agg_approx_distinct over an EMPTY lineitem: both distinct
    counts are 0 and both error-bound flags hold (a zero sketch of an
    empty table is exact), never NULL — the single-scan shape's final
    max(when(...)) aggregates see no rows at all."""
    from spype_spark.queries import REGISTRY

    spark.read.parquet(f"{SF}/lineitem.parquet").limit(0).write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    got = REGISTRY["q_agg_approx_distinct"].fn(spark, str(tmp_path)).collect()
    assert [tuple(r) for r in got] == [(0, True, 0, True)]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    null_mod=st.integers(2, 7),
    p=predicate,
)
def test_random_null_safe_join_agree(spark, orders, duck, null_mod, p):
    """Null-safe self-join on a key column randomly nulled out by a
    modulo rule: <=> must match NULL with NULL (the cross product of
    the null stratum) while a plain = must drop them — both checked,
    so a regression to either semantic is caught. Counts only: the
    null-cross-product blowup stays bounded by the modulo."""
    cond, psql = build(p)
    orders.createOrReplaceTempView("fuzz_ns_orders")
    base = f"""
        SELECT CASE WHEN o_orderkey % {null_mod} = 0 THEN NULL
                    ELSE o_custkey % 50 END AS k
        FROM {{t}} WHERE {psql}
        """
    for op, name in [("<=>", "nullsafe"), ("=", "plain")]:
        dop = "IS NOT DISTINCT FROM" if op == "<=>" else "="
        got = spark.sql(
            f"SELECT COUNT(*) FROM ({base.format(t='fuzz_ns_orders')}) a "
            f"JOIN ({base.format(t='fuzz_ns_orders')}) b ON a.k {op} b.k"
        ).first()[0]
        want = duck.sql(
            f"SELECT COUNT(*) FROM ({base.format(t='orders')}) a "
            f"JOIN ({base.format(t='orders')}) b ON a.k {dop} b.k"
        ).fetchone()[0]
        assert got == want, f"{name} mod={null_mod} pred={psql!r}"
