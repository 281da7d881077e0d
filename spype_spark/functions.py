"""Composable public API — the engine as a *library*, not a contract
harness (ROADMAP item 5 / round-1 verdict task 9).

Every function here is DataFrame-in → DataFrame-out (or a Column
builder), parameterized by column names, with no dependency on the test
corpus: the query contracts in :mod:`spype_spark.queries` are now thin
bindings of these calls to the driver's tables, and a user can compose
novel pipelines from this surface alone (see the module example below
and tests/test_functions.py).

Example — near-dedup a corpus, then top-k semantic neighbors of the
survivors::

    from spype_spark import functions as S

    docs   = spark.read.parquet(".../documents")      # (doc_id, text, ...)
    embs   = spark.read.parquet(".../embeddings")     # (vec_id, embedding)

    survivors = S.near_dedup(docs, min_jaccard=0.5)   # drop near-dup texts
    nbrs = S.cosine_topk(
        embs.join(survivors.select("doc_id"),
                  embs.vec_id == survivors.doc_id, "left_semi"),
        k=5,
    )

Scale notes live with each kernel: the dedup family is bucket-bounded
(never all-pairs), the embedding kernels are tiled block-GEMMs with no
driver-side collect, and the as-of/band joins are single-shuffle
rewrites of what Spark would otherwise plan as per-row lookups or
nested loops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# embedding kernels (tiled block-GEMM / distributed IVF) — re-exported
# under library names
from spype_spark.ann import cosine_threshold_tiled as cosine_near_pairs
from spype_spark.ann import cosine_topk_tiled as cosine_topk
from spype_spark.ann import ivf_ann as ivf_topk
from spype_spark.ann import ivf_pq_ann as ivf_pq_topk
from spype_spark.ann import nn_descent_refine
from spype_spark.ann import pq_codes, pq_encode

# bucketed-table ops (pay-once clustered write / zero-Exchange joins)
from spype_spark.bucketing import bucketed_join, bucketize

# plan-only helpers (no Spark job while composing)
from spype_spark.planning import lazy_checkpoint, plan_partitions

# skew-handling patterns
from spype_spark.skew import salted_agg, salted_join

__all__ = [
    "word_shingles",
    "filter_oversized_buckets",
    "exact_dedup",
    "minhash_candidates",
    "ngram_jaccard_pairs",
    "near_dedup",
    "connected_components",
    "text_fingerprint",
    "dataset_split",
    "cosine_topk",
    "cosine_near_pairs",
    "ivf_topk",
    "ivf_pq_topk",
    "nn_descent_refine",
    "pq_codes",
    "pq_encode",
    "bucketize",
    "bucketed_join",
    "asof_join",
    "band_join",
    "salted_agg",
    "salted_join",
    "bloom_build",
    "bloom_might_contain",
    "cms_build",
    "cms_estimate",
]


# ---------------------------------------------------------------------------
# Text shingling / dedup
# ---------------------------------------------------------------------------


def word_shingles(text_col: str = "text", k: int = 3) -> Column:
    """``array<string>`` of k-word shingles of ``text_col``.

    Pure expression (sequence + transform + element_at) — evaluated
    JVM-side, usable inside any select. Documents shorter than k words
    yield an empty array.
    """
    words = F.split(F.col(text_col), " ")
    # guard short docs explicitly: Spark's sequence(1, n) DESCENDS when
    # n < 1 instead of yielding an empty array
    idx = F.when(
        F.size(words) >= k, F.sequence(F.lit(1), F.size(words) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(words, i + j) for j in range(k)]
        ),
    )


def spread_small_scan(df: DataFrame, target: int | None = None) -> DataFrame:
    """Raise a narrow input's parallelism before a CPU-heavy
    explode / interpreted-lambda stage (shingling, per-word stats).

    A small input (one parquet file) plans as ONE split, so everything
    between the scan and the first exchange — the whole shingle
    explode + partial aggregation — runs on a single core (measured
    3-4.5× the sf0.1 dedup/decontaminate kernels). ``target`` defaults
    to the session's ``defaultParallelism``, so the split is
    scale-adaptive, not a local-core-count constant; when the scan
    already has at least that many partitions (any real-scale table)
    this is a NO-OP — no exchange is added, the 100 TB corpus is never
    re-shuffled. Callers pass the narrow projection (id + text), never
    the exploded rows, so the shuffle moves the small input once.

    The partition count comes from the physical plan
    (:func:`~spype_spark.planning.plan_partitions`), never from
    ``df.rdd``: under AQE ``.rdd`` runs every upstream query stage, so
    deciding the spread would execute the input while the caller is
    still composing.
    """
    want = target or df.sparkSession.sparkContext.defaultParallelism
    if plan_partitions(df) >= want:
        return df
    return df.repartition(want)


#: Oversized-bucket guard cap — see :func:`filter_oversized_buckets`.
LSH_BUCKET_CAP = 256


def filter_oversized_buckets(
    df: DataFrame, keys: list[str], cap: int = LSH_BUCKET_CAP
) -> DataFrame:
    """Drop all rows of band buckets with more than ``cap`` members.

    A single degenerate bucket of m members contributes m² candidate
    pairs, turning a linear LSH pair stage quadratic under boilerplate/
    spam clusters. The heavy-hitter list (buckets over cap) is tiny by
    construction — aggregate it (map-side combine, narrow shuffle of
    bucket keys only) and broadcast anti-join, rather than window-
    counting over the full table (a wide shuffle).
    """
    hot = (
        df.groupBy(*keys)
        .agg(F.count("*").alias("__bucket_n"))
        .filter(F.col("__bucket_n") > cap)
        .select(*keys)
    )
    return df.join(F.broadcast(hot), keys, "left_anti")


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep exactly one deterministic survivor (min id) per text value.

    groupBy rather than dropDuplicates — the latter keeps an
    *arbitrary* row. Returns the surviving rows of ``df`` with all
    their columns. At 100 TB group on a hash of the text to shrink
    shuffle width (the semantics are identical for non-colliding
    hashes).
    """
    keep = df.groupBy(text_col).agg(F.min(id_col).alias(id_col))
    # semi-join puts join keys first; restore the caller's column order
    return df.join(keep, [text_col, id_col], "left_semi").select(*df.columns)


def minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_k: int = 3,
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """MinHash+LSH near-duplicate candidate pairs (doc_a < doc_b).

    shingle → ``n_hashes`` seeded minhashes per doc (one pass:
    min(xxhash64(seed, shingle))) → n_hashes/2 LSH bands of r=2 →
    band-bucket self-join, bucket-capped. Cost at scale is
    O(n·shingles) for signatures plus Σ|bucket|² for pairing, with the
    guard bounding the worst bucket. Deterministic: fixed integer seeds,
    no rand().

    No shingle distinct: min() is duplicate-insensitive, so signatures
    over the shingle MULTISET equal signatures over the set — and with
    the partial (map-side) min aggregation, the raw shingle strings
    never shuffle at all; the only exchange is n rows × 16 longs.
    """
    narrow = spread_small_scan(df.select(id_col, text_col))
    sh = narrow.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(text_col, shingle_k)).alias("shingle"),
    )
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    )
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}"))
                    for b in range(n_hashes // 2)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )
    # Materialize the band table once: three consumers (the hot-bucket
    # aggregate and both sides of the self-join) would otherwise each
    # re-run the shingle explode + 16-way min aggregation (measured 2-3×
    # the whole query at sf0.1). The band table is n_docs × n_bands rows
    # of three longs — per-doc-signature-sized, far smaller than the
    # shingle stage it replaces, so it is the natural cut point at scale
    # too. The cut is lazy: composing this kernel runs no job.
    bands = lazy_checkpoint(bands)
    bands = filter_oversized_buckets(
        bands, ["band_idx", "band_hash"], cap=bucket_cap
    )
    a = bands.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_hash")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_hash")
    # no orderBy: the candidate set is order-insensitive (and the final
    # sort of a pair list is pure cost at scale — consumers that need
    # order sort their own, usually much smaller, result)
    return (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    min_jaccard: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard for doc pairs sharing ≥1 shingle.

    The shingle equi-join *is* the blocking step: cost is
    Σ|posting-list|² (the inverted-index bound) instead of n².
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    sh = (
        spread_small_scan(df.select(id_col, text_col))
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(word_shingles(text_col, shingle_k)).alias("shingle"),
        )
        .distinct()
    )
    # three consumers (per-doc sizes + both join sides) would each
    # re-run the explode+distinct without a cut point (r15 opt); the
    # distinct shingle table IS the inverted index — the natural
    # materialization at any scale
    sh = lazy_checkpoint(sh)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


def near_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard: float = 0.5,
) -> DataFrame:
    """End-to-end near-duplicate removal: MinHash candidates → exact
    Jaccard verify (≥ ``min_jaccard``) → drop the higher id of each
    verified pair. Returns the surviving rows of ``df``.

    The production composition: LSH bounds the pair set, the exact
    verify kills false positives, the survivor rule is deterministic.

    The verify stage scores ONLY the candidate pairs (candidate →
    shingle join → per-pair intersection count), never the full
    posting-list self-join: at 100 TB the Σ|posting|² self-join is the
    quantity LSH exists to avoid, so running it just to semi-join
    candidates afterwards would throw the bound away (an earlier
    version did exactly that — 11 s vs ~5 s at sf0.1, and the gap is
    the quadratic-vs-linear term, so it widens with scale).
    """
    cand = lazy_checkpoint(minhash_candidates(df, id_col, text_col))
    # restrict the verify universe to docs that appear in ANY candidate
    # pair — a broadcastable doc list, so the shingle table prunes with
    # a map-side semi join before anything shuffles
    cdocs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_c = lazy_checkpoint(  # three consumers: sizes + 2 sides
        spread_small_scan(
            # prune to candidate docs BEFORE the shingle explode (the
            # semi join is on doc_id, so filtering first shingles only
            # the candidate universe, not the corpus)
            df.select(F.col(id_col).alias("doc_id"), text_col).join(
                F.broadcast(cdocs), "doc_id", "left_semi"
            )
        )
        .select(
            "doc_id",
            F.explode(word_shingles(text_col, 3)).alias("shingle"),
        )
        .distinct()
    )
    sizes = sh_c.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh_c.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh_c.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .join(cand, ["doc_a", "doc_b"], "left_semi")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    confirmed = (
        inter.join(sa, "doc_a").join(sb, "doc_b").filter(jac >= min_jaccard)
    )
    dropped = confirmed.select(F.col("doc_b").alias(id_col)).distinct()
    return df.join(dropped, id_col, "left_anti")


#: Rolling-hash parameters (INT32-safe intermediates; shared with the
#: oracle-matched fingerprint contract).
FP_MOD = 1000003
FP_WORD_BASE = 31
FP_DOC_BASE = 131


def text_fingerprint(text_col: str = "text") -> Column:
    """Rolling polynomial fingerprint of a text column (engine-portable:
    pure integer folding, identical on any SQL engine — unlike native
    hash functions). The content-addressed key for shard-stable doc
    ids, chunk ids, and deterministic splits."""
    return F.expr(
        f"""
        CAST(aggregate(
          transform(split({text_col}, ' '), w ->
            aggregate(
              transform(sequence(1, length(w)), i -> ascii(substring(w, i, 1))),
              0L, (a, c) -> (a * {FP_WORD_BASE} + c) % {FP_MOD})),
          0L, (a, x) -> (a * {FP_DOC_BASE} + x) % {FP_MOD}) AS BIGINT)
        """
    )


def dataset_split(
    df: DataFrame,
    text_col: str = "text",
    weights: tuple[int, int, int] = (8, 1, 1),
) -> DataFrame:
    """Append a deterministic content-addressed train/valid/test
    ``split`` column (weights out of their sum, default 80/10/10).

    Keyed on :func:`text_fingerprint`, so assignment is stable under
    re-sharding/re-runs and byte-identical duplicates land in the same
    split — no train/test leakage through dups (a rand(seed) split
    guarantees neither).
    """
    total = sum(weights)
    bucket = text_fingerprint(text_col) % total
    return df.withColumn(
        "split",
        F.when(bucket < weights[0], "train")
        .when(bucket < weights[0] + weights[1], "valid")
        .otherwise("test"),
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014) — the iterative-algorithm pattern as a
    driver-coordinated loop of distributed joins.

    Each cycle rewrites the EDGE SET, not a label table:

    * large-star: every node connects its strictly-larger neighbors to
      ``m = min(N(u) ∪ {u})`` — one groupBy + one join;
    * small-star: every node connects its smaller neighbors (and
      itself) to the minimum of its smaller neighborhood — same shape
      on the (larger → smaller) orientation.

    Both steps preserve connectivity exactly, and the alternation
    converges to a union of STARS rooted at each component's minimum
    id in O(log² n) cycles (practice: ~log n). That bound is the 100 TB
    property: plain min-label propagation needs O(diameter) full-edge
    shuffles, so a transitive near-dup CHAIN of length L — template
    drift, shingled crawl snapshots — costs L rounds; star contraction
    converges on a shuffled 512-node path in 8 cycles
    (tests/test_functions.py asserts the log bound). Round cost is the
    same order as a propagation round (the edge set never grows beyond
    2|E| directed rows and SHRINKS as stars form).

    The loop body is pure DataFrame algebra; lineage is truncated per
    cycle with localCheckpoint so plans stay flat, and the convergence
    test is a distributed 1-row aggregate (edge count + an order-
    independent hash sum — no data ever lands on the driver). Returns
    (node, component = min node id reachable). Pass ``stats`` (a dict)
    to receive ``{"rounds": k}`` for scale accounting.

    The canonical dedup use: edges = verified near-dup pairs; components
    = duplicate clusters; keep min(node) per component.
    """
    # Materialize the initial edge list ONCE: `edges` often arrives
    # with an expensive lineage (minhash candidate generation + jaccard
    # verification in the dedup pipeline) that would otherwise re-run
    # per cycle — measured 10× the whole computation at sf0.1.
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = (
        raw.filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Node set from the UNFILTERED edges: a node appearing only in
    # self-loop edges still gets its singleton component row (the
    # self-loop filter above is a contraction optimization, not a
    # membership decision).
    nodes = (
        raw.select(F.col("a").alias("node"))
        .union(raw.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _signature(df: DataFrame) -> tuple:
        """Order-independent edge-set fingerprint: (count, hash sum).
        Exact count + a 64-bit sum — collision odds are negligible and
        a false "converged" would still be caught by the oracle gate."""
        row = df.agg(
            F.count("*").alias("n"),
            # decimal sum: int64 hash sums overflow under ANSI mode
            F.sum(F.xxhash64(F.col("a"), F.col("b")).cast("decimal(20,0)"))
            .alias("h"),
        ).first()
        return (row["n"], row["h"])

    def _large_star(cur: DataFrame) -> DataFrame:
        nbrs = cur.select("a", "b").union(
            cur.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        m = nbrs.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        return (
            nbrs.join(m, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def _small_star(cur: DataFrame) -> DataFrame:
        d = cur.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        m = d.groupBy("a").agg(F.min("b").alias("m"))
        to_min = (
            d.join(m, "a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        self_edge = m.select("a", F.col("m").alias("b"))
        return (
            to_min.union(self_edge)
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    rounds = 0
    sig = _signature(e)
    for _ in range(max_iters):
        rounds += 1
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        new_sig = _signature(e)
        if new_sig == sig:
            break
        sig = new_sig
    if stats is not None:
        stats["rounds"] = rounds

    # At convergence the edge set is a union of stars (child, root)
    # with root = component min; orient and read labels off directly.
    # Nodes absent from the final edge set (every non-root collapsed
    # onto its star) cannot occur — small-star always re-emits
    # (node, min) for every node with a smaller neighbor — but roots
    # themselves never appear as the larger endpoint, hence the left
    # join + coalesce for them.
    stars = e.select(
        F.greatest("a", "b").alias("node"), F.least("a", "b").alias("root")
    ).groupBy("node").agg(F.min("root").alias("root"))
    return nodes.join(stars, "node", "left").select(
        "node", F.coalesce(F.col("root"), F.col("node")).alias("comp")
    )


# ---------------------------------------------------------------------------
# Temporal / range joins
# ---------------------------------------------------------------------------


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
) -> DataFrame:
    """As-of (backward) join: for each left row, the most recent right
    row with ``right_ts <= left_ts`` within the same key group.

    Spark has no native ASOF JOIN; this is the union-tag + windowed
    last(ignorenulls) rewrite: ONE shuffle on the key + a
    partition-local sort — the same asymptotics kdb/Flink use for
    temporal joins, vs. a per-row subquery. Right rows sort before left
    rows on timestamp ties (inclusive <= semantics).

    Key columns must carry the same names on both sides (alias before
    calling); ``right_cols`` are appended to the left schema (null when
    no right row precedes).
    """
    keys = [on] if isinstance(on, str) else list(on)
    l_tagged = left.withColumn("__ts", F.col(left_ts)).withColumn(
        "__tag", F.lit(1)
    )
    # Pack right_cols into ONE struct so last(ignorenulls) picks every
    # output column from the same matched right row. Per-column
    # back-fill would stitch values from different rows whenever the
    # most recent match holds a NULL in one column.
    r_tagged = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__tag"),
        F.struct(*[F.col(c) for c in right_cols]).alias("__r_struct"),
    )
    merged = l_tagged.unionByName(r_tagged, allowMissingColumns=True)
    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = merged.withColumn(
        "__r_match", F.last("__r_struct", ignorenulls=True).over(w)
    )
    for c in right_cols:
        merged = merged.withColumn(c, F.col("__r_match")[c])
    return merged.filter(F.col("__tag") == 1).drop(
        "__ts", "__tag", "__r_struct", "__r_match"
    )


def band_join(
    left: DataFrame,
    right: DataFrame,
    left_val: str,
    right_val: str,
    band: float,
) -> DataFrame:
    """Band (range) join: all (left, right) pairs with
    ``|left_val - right_val| <= band``, as an *equi* join on value
    buckets.

    Left probes buckets {⌊v/band⌋-1, ⌊v/band⌋, ⌊v/band⌋+1} (an explode
    of 3 rows), right is keyed by ⌊v/band⌋, and the exact predicate
    filters after the hash match — turning Spark's O(n²)
    BroadcastNestedLoopJoin plan into a shuffle hash join costing
    n × bucket density. Output: all left columns + all right columns.
    """
    scale = F.lit(float(band))
    lb = F.floor(F.col(left_val) / scale)
    rb = F.floor(F.col(right_val) / scale)
    a = left.withColumn(
        "__bucket", F.explode(F.array(lb - 1, lb, lb + 1))
    )
    b = right.withColumn("__bucket", rb)
    return (
        a.join(b, "__bucket")
        .filter(F.abs(F.col(left_val) - F.col(right_val)) <= band)
        .drop("__bucket")
    )


def bloom_build(
    df: DataFrame, col: str, m_bits: int = 1 << 20, k: int = 5
) -> list[int]:
    """Build a Bloom filter over ``df[col]`` in pure DataFrame algebra
    and return it as ``m_bits/64`` packed words — the explicit form of
    the runtime row-filter Spark's InjectRuntimeFilter builds
    internally (``bloom_filter_agg`` isn't a registered SQL routine),
    for staged pipelines where the dimension side is computed in an
    earlier job and the fact scan runs later.

    Distributed build: k bit positions per key (``xxhash64(col, seed)``
    mod m), positions packed into words with a ``bit_or`` aggregation —
    partial aggregation combines map-side, so what crosses the wire is
    at most m/64 words per partition, exactly the mergeability argument
    of every sketch. The finished filter is metadata-sized (m=2²⁰ →
    128 KB) and comes back to the driver to be shipped as a literal —
    the same dimension-bounded pattern as broadcast centroids.

    Sizing: fp ≈ (1 - e^(-k·n/m))^k; the 2²⁰ default holds fp < 1.1 %
    out to n = 10⁵ keys at k = 5. Scale m with the dim cardinality, not
    the fact size — the fact side only ever pays k probes per row.
    """
    n_words = m_bits // 64
    pos = df.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(m_bits))
                    for i in range(k)
                ]
            )
        ).alias("pos")
    )
    words = (
        pos.groupBy((F.col("pos") / 64).cast("long").alias("w"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(1L, cast(pos % 64 as int))")
            ).alias("bits")
        )
        # metadata-sized collect: ≤ m/64 words (the filter itself),
        # bounded by the chosen m, never by the data
        .collect()
    )
    out = [0] * n_words
    for r in words:
        out[r.w] = r.bits
    return out


def bloom_might_contain(
    words: list[int], col: str, m_bits: int = 1 << 20, k: int = 5
) -> Column:
    """Probe column for a :func:`bloom_build` filter: true iff ALL k
    hashed bit positions of ``col`` are set. No false negatives by
    construction (same hash family and m as the build); false positives
    at the sized rate. Pure JVM expression, no Python in the row path.

    Plan-size note: the filter ships as ONE binary literal (the packed
    bit array), not a words-long ``CreateArray`` — a 2²⁰-bit filter as
    a 16 384-element literal array used to cost ~13 s of plan/codegen
    constant per query (CHECKLOG_r08); a single 128 KB byte-blob
    literal is a reference object in the generated code, compiled in
    milliseconds. Each probe reads its BYTE out of the blob
    (``substr`` → ``hex`` → ``conv``, all whole-stage-codegen'd) and
    masks the addressed bit."""
    import struct as _struct

    # words are the build's 64-bit bit_or accumulators; little-endian
    # packing makes global bit p live at byte p//8, bit p%8
    blob = F.lit(b"".join(_struct.pack("<q", w) for w in words))
    probes = []
    for i in range(k):
        p_sql = f"pmod(xxhash64({col}, {i}), {m_bits})"
        byte = F.conv(
            F.hex(
                F.substr(
                    blob, F.expr(f"cast({p_sql} / 8 as int) + 1"), F.lit(1)
                )
            ),
            16,
            10,
        ).cast("int")
        mask = F.expr(f"shiftleft(1, cast({p_sql} % 8 as int))")
        probes.append(byte.bitwiseAND(mask) != F.lit(0))
    out = probes[0]
    for pr in probes[1:]:
        out = out & pr
    return out


def cms_build(
    df: DataFrame, col: str, width: int = 8192, depth: int = 4
) -> list[list[int]]:
    """Build a count-min sketch over ``df[col]`` in pure DataFrame
    algebra: ``depth`` hash rows × ``width`` counters, returned as
    Python lists (metadata-sized: the default is 32k counters ≈
    256 KB). Each row r counts items into bucket
    ``xxhash64(col, r) mod width``; the build is one explode + one
    ``groupBy(row, bucket).count()`` whose partial aggregation
    combines map-side — the same mergeability argument as every other
    sketch here (HLL, bloom): what crosses the wire is bounded by the
    sketch size per partition, never by the data.

    Estimation error: est(x) ∈ [true(x), true(x) + εN] with
    ε ≈ e/width per row and the MIN over ``depth`` independent rows
    driving the overshoot toward the floor — the classic Cormode-
    Muthukrishnan bound. Size width by the tolerable absolute error
    εN, not by the number of distinct items (that's the point: 10⁹
    distinct keys still fit in 256 KB)."""
    pos = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        F.pmod(
                            F.xxhash64(F.col(col), F.lit(r)), F.lit(width)
                        ).alias("b"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("p")
    )
    cells = (
        pos.groupBy(F.col("p.r").alias("r"), F.col("p.b").alias("b"))
        .agg(F.count("*").alias("n"))
        # metadata-sized collect: ≤ depth×width counters (the sketch
        # itself), bounded by the chosen dimensions, never by the data
        .collect()
    )
    out = [[0] * width for _ in range(depth)]
    for c in cells:
        out[c.r][c.b] = c.n
    return out


def cms_estimate(
    sketch: list[list[int]], col: str, width: int = 8192
) -> Column:
    """Point-frequency estimate column for a :func:`cms_build` sketch:
    the MIN over hash rows of the addressed counters. Never
    underestimates (every row counted every occurrence of the item —
    the hard guarantee heavy-hitter screens rely on); overestimates
    only by collision mass. Pure JVM expression, no Python in the row
    path.

    Plan-size note: each hash row ships as ONE binary literal of
    big-endian 8-byte counters, not a width-long ``CreateArray`` — the
    4×8192-int literal arrays used to cost ~17 s of plan/codegen
    constant per query (CHECKLOG_r08). The addressed counter is read
    back with ``substr`` → ``hex`` → ``conv`` (counter values are row
    counts < 2⁶³, so the unsigned decode casts to long losslessly),
    all inside whole-stage codegen."""
    import struct as _struct

    ests = []
    for r, row in enumerate(sketch):
        blob = F.lit(b"".join(_struct.pack(">q", c) for c in row))
        p = F.pmod(F.xxhash64(F.col(col), F.lit(r)), F.lit(width))
        off = (p.cast("int") * F.lit(8)) + F.lit(1)
        ests.append(
            F.conv(F.hex(F.substr(blob, off, F.lit(8))), 16, 10).cast(
                "long"
            )
        )
    return F.least(*ests)
