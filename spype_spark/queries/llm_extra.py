"""Extended training-data-pipeline operators (BASELINE.json north star:
"dedup, similarity search, multimodal columns, text analysis" beyond
the reference's own surface).

Additions over :mod:`spype_spark.queries.llm`: heuristic language ID,
quality scoring, token counting (whitespace + regex "BPE-ish"),
polynomial document fingerprinting (rolling hash, oracle-matched in
pure SQL on both engines), SimHash near-dup candidates, embedding-
cosine near-dup pairs, and IVF-style ANN — each registered as a
driver-visible contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spype_spark.queries.llm import COSINE_TOP5_ORACLE as _COSINE_TOP5_ORACLE
from spype_spark.planning import lazy_checkpoint
from spype_spark.registry import query
from spype_spark.tables import load_table

#: Marker vocabulary for the language-ID heuristic (the corpus is
#: synthetic query/data words — see FIXTURES.md; the heuristic's shape
#: is what matters: marker-hit ratio per document).
_EN_MARKERS = ("join", "filter", "select", "table", "query", "index")
_MARKERS_SQL = "['join', 'filter', 'select', 'table', 'query', 'index']"


@query(
    "q_text_langid",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
    )
    SELECT doc_id, lang,
           CAST(len(list_filter(ws, x -> list_contains({_MARKERS_SQL}, x)))
                AS DOUBLE) / len(ws) AS marker_ratio,
           CASE WHEN CAST(len(list_filter(ws,
                      x -> list_contains({_MARKERS_SQL}, x))) AS DOUBLE)
                     / len(ws) >= 0.10
                THEN 'en' ELSE 'other' END AS lang_pred
    FROM t
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-style language ID heuristic: marker-word hit ratio.

    The real-world version swaps the marker list for per-language
    stopword profiles and argmaxes the ratios; the pipeline shape
    (tokenize → vectorized membership count → threshold) is identical
    and stays entirely in JVM expressions.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    hits = F.size(F.filter(ws, lambda w: w.isin(*_EN_MARKERS)))
    ratio = hits.cast("double") / F.size(ws)
    return d.select(
        "doc_id",
        "lang",
        ratio.alias("marker_ratio"),
        F.when(ratio >= 0.10, "en").otherwise("other").alias("lang_pred"),
    )


@query(
    "q_text_quality",
    oracle="""
    WITH t AS (
      SELECT doc_id, n_chars,
             len(string_split(text, ' ')) AS n_words
      FROM documents
    )
    SELECT doc_id, CAST(n_words AS INT) AS n_words,
           CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words AS avg_word_len,
           round(LEAST(n_words / 50.0, 1.0) * 0.5
                 + LEAST((CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words)
                         / 8.0, 1.0) * 0.5, 6) AS quality_score
    FROM t
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality score from length/word-shape statistics.

    Classic pre-training filter features (word count, mean word
    length) combined into a bounded [0,1] score; all arithmetic is
    identical double ops on both engines. Punctuation/stopword ratios
    are degenerate in this all-lowercase corpus and omitted.
    """
    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.col("text"), " "))
    awl = (F.col("n_chars") - (n_words - 1)).cast("double") / n_words
    score = F.round(
        F.least(n_words / F.lit(50.0), F.lit(1.0)) * 0.5
        + F.least(awl / F.lit(8.0), F.lit(1.0)) * 0.5,
        6,
    )
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        awl.alias("avg_word_len"),
        score.alias("quality_score"),
    )


@query(
    "q_text_tokencount",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
                AS INT) AS re_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INT)
             AS uniq_tokens,
           CAST(length(text) AS INT) AS n_chars_calc
    FROM documents
    """,
)
def q_text_tokencount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace, BPE-ish regex classes, distinct.

    The regex tokenizer ([a-z]+ | digits | single other-char) is the
    cheap proxy for a BPE pre-tokenizer's word-split pass; counting is
    a JVM regexp scan, no Python.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(ws).alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]")).alias(
            "re_tokens"
        ),
        F.size(F.array_distinct(ws)).alias("uniq_tokens"),
        F.length("text").alias("n_chars_calc"),
    )


#: Polynomial rolling-hash parameters (small enough that every
#: intermediate fits INT32 on the DuckDB side: acc < M, acc*131+h < 2^31).
#: Single-sourced from the library surface so the oracles can never
#: drift from the facade's text_fingerprint.
from spype_spark.functions import (  # noqa: E402
    FP_DOC_BASE as _FP_DOC_BASE,
    FP_MOD as _FP_MOD,
    FP_WORD_BASE as _FP_WORD_BASE,
)


@query(
    "q_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    h AS (
      SELECT doc_id,
             list_transform(ws, w ->
               list_reduce(
                 list_prepend(0, list_transform(range(1, length(w) + 1),
                                                i -> ascii(w[i]))),
                 (a, c) -> (a * {_FP_WORD_BASE} + c) % {_FP_MOD}
               )) AS whs
      FROM t
    )
    SELECT doc_id,
           CAST(list_reduce(list_prepend(0, whs),
                (a, x) -> (a * {_FP_DOC_BASE} + x) % {_FP_MOD}) AS BIGINT)
             AS fingerprint
    FROM h
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial document fingerprint, oracle-matched exactly.

    hash(word) = fold(chars, (a,c) → (a·31 + c) mod 1000003), then
    fingerprint(doc) = fold(word hashes, (a,h) → (a·131 + h) mod M) —
    pure integer arithmetic with identical fold order on both engines,
    so the oracle matches bit-for-bit (unlike engine-native hash
    functions, which never agree across engines). The real pipeline
    use is content-defined chunk IDs / shard-stable doc keys.
    """
    # Built as a SQL lambda expression: the nested fold (chars within
    # words within the document) reads far clearer than chained
    # F.transform/F.aggregate python lambdas.
    d = load_table(spark, sf_dir, "documents")
    d2 = d.select(
        "doc_id",
        F.expr(
            f"""
            CAST(aggregate(
              transform(split(text, ' '), w ->
                aggregate(
                  transform(sequence(1, length(w)), i -> ascii(substring(w, i, 1))),
                  0L, (a, c) -> (a * {_FP_WORD_BASE} + c) % {_FP_MOD})),
              0L, (a, x) -> (a * {_FP_DOC_BASE} + x) % {_FP_MOD}) AS BIGINT)
            """
        ).alias("fingerprint"),
    )
    return d2


#: SimHash audit oracle: the signature family is engine-specific
#: (xxhash64 token hashes), but two properties are not — identical
#: texts get identical signatures (every exact-duplicate pair MUST
#: collide in every band), and 16-bit banding must stay selective
#: (candidates bounded well below the n² pair space). The oracle
#: recomputes the exact-duplicate inventory and asserts both bits.
SIMHASH_AUDIT_ORACLE = """
    WITH dup AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM documents a JOIN documents b
        ON a.text = b.text AND a.doc_id < b.doc_id
    )
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           COUNT(*) AS n_dup_pairs,
           COALESCE(CAST(SUM(doc_a * 100003 + doc_b) AS BIGINT), 0)
             AS dup_checksum,
           true AS all_dups_collide,
           true AS selectivity_ok
    FROM dup
    """


@query("q_dedup_simhash", oracle=SIMHASH_AUDIT_ORACLE)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates, contract-shaped as the collision
    audit.

    Kernel: per document, for each bit j, sum +1/−1 over token hashes'
    j-th bit; the sign vector is the signature. Candidates are pairs
    whose signature matches exactly on either 16-bit band (hamming-LSH
    banding; 16-bit bands keep expected collisions ≈ n²·2⁻¹⁶ per band
    — selective enough to bound the pair stage at scale). One explode
    + one groupBy + one self-join — every stage shuffle-bounded, no n²
    scan.

    Contract row: exact-duplicate pair inventory (oracle-recomputed
    count + integer checksum) plus ``all_dups_collide`` (identical
    text ⇒ identical signature ⇒ candidate — verified by anti-join)
    and ``selectivity_ok`` (candidate pairs ≤ 100·n_docs; a signature
    collapse that herds everything into few buckets flips it).
    """
    # candidate pairs and exact-dup pairs each feed two audit branches
    # (anti-join + count): checkpoint both so the kernel join and the
    # text self-join run once, not twice (r15 opt; both frames are
    # pair-list-sized, bounded by the selectivity gate)
    cand = lazy_checkpoint(_simhash_candidates(spark, sf_dir))
    doc = load_table(spark, sf_dir, "documents")
    a = doc.select(F.col("doc_id").alias("doc_a"), "text")
    b = doc.select(F.col("doc_id").alias("doc_b"), "text")
    dup = lazy_checkpoint(
        a.join(b, "text")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    missing = dup.join(cand, ["doc_a", "doc_b"], "left_anti")
    dup_stats = dup.agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.coalesce(
            F.sum(F.col("doc_a") * F.lit(100003) + F.col("doc_b")), F.lit(0)
        ).alias("dup_checksum"),
    )
    n_docs = doc.agg(F.count(F.lit(1)).alias("n_docs"))
    n_miss = missing.agg(F.count(F.lit(1)).alias("n_missing"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    return (
        n_docs.crossJoin(dup_stats)
        .crossJoin(n_miss)
        .crossJoin(n_cand)
        .select(
            "n_docs",
            "n_dup_pairs",
            "dup_checksum",
            (F.col("n_missing") == 0).alias("all_dups_collide"),
            (F.col("n_cand") <= F.col("n_docs") * F.lit(100)).alias(
                "selectivity_ok"
            ),
        )
    )


def _simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash candidate-pair kernel behind the audit contract
    (also what the quality tests and any caller wanting the pairs
    consume)."""
    from spype_spark.functions import spread_small_scan

    # scale-adaptive split (was a hard-coded repartition(32)): no-op
    # once the scan has >= defaultParallelism splits
    d = spread_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    ).withColumn("h", F.xxhash64("w"))
    n_bits = 32
    bits = [
        F.when(
            F.sum(
                F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            )
            > 0,
            1,
        )
        .otherwise(0)
        .alias(f"b{j}")
        for j in range(n_bits)
    ]
    sig = tok.groupBy("doc_id").agg(*bits)
    lo = sum((F.col(f"b{j}") * (1 << j) for j in range(16)), start=F.lit(0))
    hi = sum(
        (F.col(f"b{j}") * (1 << (j - 16)) for j in range(16, n_bits)),
        start=F.lit(0),
    )
    # Materialize the signature table once (r15 opt): it is consumed
    # by the hot-bucket aggregate and BOTH self-join sides of each of
    # the two bands — six plan copies of the token explode + 32-bit
    # aggregation (42 parquet scans in the audit plan) without a cut
    # point. n_docs × 3 small cols — the same signature-sized cut as
    # minhash_candidates.
    sig = lazy_checkpoint(
        sig.select("doc_id", lo.alias("band_lo"), hi.alias("band_hi"))
    )
    from spype_spark.queries.llm import filter_oversized_buckets

    pairs = None
    for band in ("band_lo", "band_hi"):
        bb = filter_oversized_buckets(
            sig.select("doc_id", F.col(band).alias("b")), ["b"]
        )
        a = bb.select(F.col("doc_id").alias("doc_a"), "b")
        b = bb.select(F.col("doc_id").alias("doc_b"), "b")
        p = a.join(b, "b").filter(F.col("doc_a") < F.col("doc_b")).select(
            "doc_a", "doc_b"
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    return pairs.distinct().orderBy("doc_a", "doc_b")


@query(
    "q_dedup_embed_cosine",
    oracle="""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
               FROM embeddings)
    SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
           round(list_sum(list_transform(range(1, 65),
                 i -> a.emb[i] * b.emb[i])), 6) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(range(1, 65), i -> a.emb[i] * b.emb[i]))
          >= 0.35
    """,
)
def q_dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.35).

    Same tiled block-GEMM grid as q_sim_cosine_topk
    (:func:`spype_spark.ann.cosine_threshold_tiled`) with a threshold
    emit instead of top-k — the semantic-dedup primitive
    (near-identical passages with different surface text). Threshold
    sits at the ~99.9th percentile of this corpus's pair distribution
    so the candidate set stays sparse, as it must at scale. No
    driver-side collect: memory per task is two tiles.
    """
    from spype_spark.ann import cosine_threshold_tiled

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return cosine_threshold_tiled(e, threshold=0.35, n_blocks=8)


@query(
    "q_dedup_pipeline",
    oracle="""
    WITH sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             s1.word || ' ' || s2.word || ' ' || s3.word AS shingle
      FROM (
        SELECT doc_id, string_split(text, ' ') AS w,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents
      ) t,
      LATERAL (SELECT w[i] AS word) s1,
      LATERAL (SELECT w[i+1] AS word) s2,
      LATERAL (SELECT w[i+2] AS word) s3
      WHERE i + 2 <= len(w)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    dropped AS (
      SELECT DISTINCT doc_b AS doc_id
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
    """,
)
def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup removal: MinHash candidates → exact Jaccard
    verify (≥ 0.5) → drop the higher doc_id of each verified pair.

    The production composition: the LSH stage bounds the pair set, the
    exact verify kills false positives, the survivor rule is
    deterministic. The oracle recomputes the same keep-list from exact
    Jaccard alone — valid because the banding (b=8, r=2) recovers every
    Jaccard ≥ 0.5 pair on this corpus (asserted independently in
    tests/test_llm_quality.py); if banding ever under-recalled, this
    contract's hash check would catch it.
    """
    from spype_spark.functions import near_dedup

    d = load_table(spark, sf_dir, "documents")
    return near_dedup(d, min_jaccard=0.5).select("doc_id", "lang", "source")


@query(
    "q_udf_cogroup",
    oracle="""
    WITH oc AS (
      SELECT o_orderkey AS k, COUNT(*) AS n_orders FROM orders
      GROUP BY 1
    ),
    lc AS (
      SELECT l_orderkey AS k, COUNT(*) AS n_lines FROM lineitem
      GROUP BY 1
    )
    SELECT COALESCE(oc.k, lc.k) AS orderkey,
           COALESCE(oc.n_orders, 0) AS n_orders,
           COALESCE(lc.n_lines, 0) AS n_lines
    FROM oc FULL JOIN lc ON oc.k = lc.k
    """,
)
def q_udf_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas: orders & lineitem rows for the same key
    range processed together (per-key reconciliation), Arrow-batched.

    Cogroup grouping is by a COARSE bucket (hash(key) % 32), not by the
    reconciliation key: one pandas call per bucket receives thousands
    of rows from both sides, and the per-orderkey reconcile runs
    vectorized inside (value_counts + index-aligned frame). Grouping
    by the raw key — one single-row pandas frame per order — spends
    ~all its time on per-group Python/Arrow overhead; bucketed cogroup
    is the shape that survives 100 TB (buckets track partition counts,
    per-call work stays vectorized). The reconciliation itself is
    join-expressible, which is what the full-outer-join oracle
    exploits.
    """
    import pandas as pd

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.pmod(F.xxhash64("o_orderkey"), F.lit(32)).alias("bucket")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.pmod(F.xxhash64("l_orderkey"), F.lit(32)).alias("bucket")
    )

    def reconcile(odf: pd.DataFrame, ldf: pd.DataFrame) -> pd.DataFrame:
        # index-aligned union of both sides' per-key counts — the
        # whole bucket reconciles in two vectorized passes
        counts = pd.DataFrame(
            {
                "n_orders": odf["o_orderkey"].value_counts(),
                "n_lines": ldf["l_orderkey"].value_counts(),
            }
        ).fillna(0).astype("int64")
        counts.index.name = "orderkey"
        return counts.reset_index()

    return (
        o.groupBy("bucket")
        .cogroup(li.groupBy("bucket"))
        .applyInPandas(reconcile, "orderkey long, n_orders long, n_lines long")
    )


@query(
    "q_text_mode",
    oracle="""
    WITH counts AS (
      SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY lang, source
    ),
    ranked AS (
      SELECT lang, source, n,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n DESC, source) AS rn
      FROM counts
    )
    SELECT lang, source AS top_source, n FROM ranked WHERE rn = 1
    """,
)
def q_text_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode (most frequent source per language).

    Built-in mode() picks arbitrarily among ties in every engine, so
    the engine's canonical form is count + windowed top-1 with an
    explicit tiebreak — same cost (one agg + one tiny window), defined
    answer.
    """
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang", "source").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("source"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", F.col("source").alias("top_source"), "n")
    )


@query(
    "q_regexp_extract_all",
    oracle="""
    SELECT doc_id,
           array_to_string(regexp_extract_all(text, '[a-z]*join[a-z]*'), '|') AS join_words,
           CAST(len(regexp_extract_all(text, '[a-z]*join[a-z]*')) AS INT) AS n_hits
    FROM documents
    WHERE contains(text, 'join')
    """,
)
def q_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All regexp matches per row as an array (pattern-mining primitive)."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").contains("join")
    )
    # idx=0 → full matches (Spark defaults to capture group 1)
    hits = F.regexp_extract_all(F.col("text"), F.lit("[a-z]*join[a-z]*"), 0)
    return d.select(
        "doc_id",
        F.array_join(hits, "|").alias("join_words"),
        F.size(hits).alias("n_hits"),
    )


@query(
    "q_fuzzy_match",
    oracle="""
    WITH p AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM p a JOIN p b
      ON left(a.p_name, 1) = left(b.p_name, 1)
     AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: distinct part names within edit distance 4.

    The blocking key (shared first character) bounds the pair stage —
    the standard entity-resolution shape: cheap equi-join block, then
    the expensive distance only inside blocks. Both engines implement
    classic Levenshtein → identical integer distances.
    """
    p = load_table(spark, sf_dir, "part").select("p_name").distinct()
    a = p.select(F.col("p_name").alias("name_a"),
                 F.substring("p_name", 1, 1).alias("blk"))
    b = p.select(F.col("p_name").alias("name_b"),
                 F.substring("p_name", 1, 1).alias("blk"))
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 4)
        .select("name_a", "name_b", "dist")
    )


@query("q_sim_cosine_tiled", oracle=_COSINE_TOP5_ORACLE)
def q_sim_cosine_tiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-free exact cosine top-5: tiled block matrix product.

    Same shared kernel as q_sim_cosine_topk
    (:func:`spype_spark.ann.cosine_topk_tiled`) run at a DIFFERENT
    block count (B=5 vs 8): the equality test between the two contracts
    asserts the tiling is schedule-only — block count never changes the
    answer — which is the invariance that lets B track executor memory
    at scale.
    """
    from spype_spark.ann import cosine_topk_tiled

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return cosine_topk_tiled(e, k=5, n_blocks=5)


#: Shared CTE block replaying the FULL IVF pipeline in SQL — the
#: seed-set centroids (16 lowest vec_ids) make every stage closed-form:
#: assignment = argmax centroid dot (crank = 1), probing = top-4 cells,
#: in-cell exact scoring with per-cell top-3, global merge. Dots are
#: index-ordered list_sum folds (bit-parity with the JVM fold and the
#: numpy GEMM at dim 64 — empirically exact across SFs, same as the
#: cosine contract). Used by both the IVF and NN-descent full oracles.
_IVF_SQL_CTES = """e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings),
    cents AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell_id,
             emb AS cent
      FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16)
    ),
    cs AS (
      SELECT e.vec_id, c.cell_id,
             list_sum(list_transform(range(1, 65),
                                     i -> e.emb[i] * c.cent[i])) AS cscore
      FROM e, cents c
    ),
    cr AS (SELECT vec_id, cell_id,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cscore DESC, cell_id) AS crank
           FROM cs),
    assigned AS (SELECT vec_id, cell_id FROM cr WHERE crank = 1),
    probes AS (SELECT vec_id, cell_id FROM cr WHERE crank <= 4),
    prs AS (
      SELECT q.vec_id AS src_id, t.vec_id AS nbr_id, q.cell_id AS cell_id
      FROM probes q JOIN assigned t USING (cell_id)
      WHERE t.vec_id <> q.vec_id
    ),
    pscored AS (
      SELECT p.src_id, p.nbr_id, p.cell_id,
             list_sum(list_transform(range(1, 65),
                                     i -> ea.emb[i] * eb.emb[i])) AS dot
      FROM prs p
      JOIN e ea ON ea.vec_id = p.src_id
      JOIN e eb ON eb.vec_id = p.nbr_id
    ),
    cell_top AS (
      SELECT *, row_number() OVER (PARTITION BY src_id, cell_id
                                   ORDER BY dot DESC, nbr_id) AS cr2
      FROM pscored
    )"""

_IVF_FULL_ORACLE = (
    "\n    WITH "
    + _IVF_SQL_CTES
    + """,
    merged AS (
      SELECT src_id, nbr_id, dot,
             row_number() OVER (PARTITION BY src_id
                                ORDER BY dot DESC, nbr_id) AS rn
      FROM cell_top WHERE cr2 <= 3
    )
    SELECT src_id, nbr_id, round(dot, 6) AS cosine, CAST(rn AS INT) AS rank
    FROM merged WHERE rn <= 3
    """
)

#: One NN-descent round over the IVF seed, replayed in SQL: symmetrize
#: the seed graph, hop-2 expansion, exact re-score, global top-3.
_NNDESCENT_FULL_ORACLE = (
    "\n    WITH "
    + _IVF_SQL_CTES
    + """,
    seed AS (
      SELECT src_id, nbr_id
      FROM (SELECT src_id, nbr_id, dot,
                   row_number() OVER (PARTITION BY src_id
                                      ORDER BY dot DESC, nbr_id) AS rn
            FROM cell_top WHERE cr2 <= 3)
      WHERE rn <= 3
    ),
    undirected AS (
      SELECT DISTINCT * FROM (
        SELECT src_id, nbr_id FROM seed
        UNION ALL SELECT nbr_id AS src_id, src_id AS nbr_id FROM seed)
    ),
    hop2 AS (SELECT a.src_id, b.nbr_id
             FROM undirected a JOIN undirected b ON a.nbr_id = b.src_id),
    cand AS (
      SELECT DISTINCT src_id, nbr_id FROM (
        SELECT * FROM undirected UNION ALL SELECT * FROM hop2)
      WHERE src_id <> nbr_id
    ),
    scored AS (
      SELECT c.src_id, c.nbr_id,
             list_sum(list_transform(range(1, 65),
                                     i -> ea.emb[i] * eb.emb[i])) AS dot
      FROM cand c
      JOIN e ea ON ea.vec_id = c.src_id
      JOIN e eb ON eb.vec_id = c.nbr_id
    ),
    ranked AS (
      SELECT src_id, nbr_id, dot,
             row_number() OVER (PARTITION BY src_id
                                ORDER BY dot DESC, nbr_id) AS rn
      FROM scored
    )
    SELECT src_id, nbr_id, round(dot, 6) AS cosine, CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= 3
    """
)


@query("q_sim_ivf_ann", oracle=_IVF_FULL_ORACLE)
def q_sim_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantize to 16 cells, probe the 4 nearest.

    Carries a FULL row-level oracle: seed-set centroids are
    non-iterative, so DuckDB replays assignment, probing, in-cell
    scoring, and the global merge exactly — the neighbor list itself
    hash-matches across engines (set-equal verified at all SFs before
    adoption). Recall floors stay pinned in tests/test_llm_quality.py.

    Deterministic centroids (the 16 lowest vec_ids — a fixed seed-set;
    production would k-means them, identical plumbing). Every stage is
    distributed (:func:`spype_spark.ann.ivf_ann`): assignment is a
    broadcast join of vectors × the 16-row centroid table with a window
    argmax — round 1 computed it on the driver after collecting the
    whole table — inverted lists are per-cell packed tiles, and each
    (query, probed cell) pair runs one exact GEMM re-rank. Probing 4 of
    16 cells ranks exactly within ~n/4 candidates — the inverted-file
    structure that makes brute force unnecessary at 10⁹ vectors.
    nprobe=4: recall@3 ≈ 0.52 on this near-uniform corpus (0.34 at
    nprobe=2) for 4× less work than brute force; real IVF tunes nprobe
    per recall target exactly this way.
    """
    from spype_spark.ann import ivf_ann

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return ivf_ann(e, n_cells=16, nprobe=4, k=3)


#: FULL row-level IVF-PQ oracle: seed-set centroids AND seed-set PQ
#: codebooks make the entire ADC pipeline closed-form — the oracle
#: replays assignment/probing (shared IVF CTEs), PQ code assignment
#: (the q_pq_encode argmin construction), the per-query ADC lookup
#: table, the sub_id-ordered ADC sums (FP order matches the kernel's
#: s-loop), the top-24 per (query, cell) shortlist, and the exact
#: re-rank. Set-equal verified at all SFs before adoption.
_IVFPQ_FULL_ORACLE = (
    "\n    WITH "
    + _IVF_SQL_CTES
    + ""","""
    + """subs AS (SELECT unnest(range(0, 8)) AS sub_id),
    cb AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code_id,
             emb
      FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16)
    ),
    cbs AS (SELECT code_id, sub_id,
                   list_slice(emb, sub_id * 8 + 1, sub_id * 8 + 8) AS sub_cent
            FROM cb, subs),
    ev AS (SELECT vec_id, sub_id,
                  list_slice(emb, sub_id * 8 + 1, sub_id * 8 + 8) AS sub_emb
           FROM e, subs),
    code_scored AS (
      SELECT vec_id, ev.sub_id AS sub_id, code_id,
             list_sum(list_transform(range(1, 9),
               i -> (sub_emb[i] - sub_cent[i]) * (sub_emb[i] - sub_cent[i])))
               AS dist2
      FROM ev JOIN cbs USING (sub_id)
    ),
    chosen AS (
      SELECT vec_id, sub_id, code_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, sub_id
                                     ORDER BY dist2, code_id) AS rn
        FROM code_scored) WHERE rn = 1
    ),
    lut AS (
      SELECT ev.vec_id AS src_id, cbs.sub_id AS sub_id,
             cbs.code_id AS code_id,
             list_sum(list_transform(range(1, 9),
                                     i -> ev.sub_emb[i] * cbs.sub_cent[i]))
               AS v
      FROM ev JOIN cbs USING (sub_id)
    ),
    ppairs AS (
      SELECT q.vec_id AS src_id, t.vec_id AS nbr_id, q.cell_id AS cell_id
      FROM probes q JOIN assigned t USING (cell_id)
      WHERE t.vec_id <> q.vec_id
    ),
    adc AS (
      SELECT p.src_id, p.nbr_id, p.cell_id,
             list_sum(list(l.v ORDER BY l.sub_id)) AS score
      FROM ppairs p
      JOIN chosen ch ON ch.vec_id = p.nbr_id
      JOIN lut l ON l.src_id = p.src_id AND l.sub_id = ch.sub_id
                AND l.code_id = ch.code_id
      GROUP BY p.src_id, p.nbr_id, p.cell_id
    ),
    shortlist AS (
      SELECT src_id, nbr_id FROM (
        SELECT *, row_number() OVER (PARTITION BY src_id, cell_id
                                     ORDER BY score DESC, nbr_id) AS rn
        FROM adc) WHERE rn <= 24
    ),
    exact AS (
      SELECT DISTINCT s.src_id, s.nbr_id,
             list_sum(list_transform(range(1, 65),
                                     i -> ea.emb[i] * eb.emb[i])) AS dot
      FROM shortlist s
      JOIN e ea ON ea.vec_id = s.src_id
      JOIN e eb ON eb.vec_id = s.nbr_id
    ),
    ranked AS (
      SELECT src_id, nbr_id, dot,
             row_number() OVER (PARTITION BY src_id
                                ORDER BY dot DESC, nbr_id) AS rn
      FROM exact
    )
    SELECT src_id, nbr_id, round(dot, 6) AS cosine, CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= 3
    """
)


@query("q_sim_ivfpq_ann", oracle=_IVFPQ_FULL_ORACLE)
def q_sim_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN: probe scans 8×4-bit PQ codes (64× smaller than the
    raw vectors) via an ADC lookup table, then exact-re-ranks only the
    ADC top-24 per (query, probed cell) against the raw table.
    FULL row-level oracle (see _IVFPQ_FULL_ORACLE above).

    The full 100 TB ANN stack (:func:`spype_spark.ann.ivf_pq_ann`):
    same distributed IVF skeleton as q_sim_ivf_ann, but the in-cell
    scan touches the compressed codes table — the memory-bound stage
    shrinks 64× and the exact dots run only on the tiny refine set.
    Recall floor vs exact top-3 pinned in
    tests/test_llm_quality.py::test_ivfpq_recall_floor.
    """
    from spype_spark.ann import ivf_pq_ann

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return ivf_pq_ann(e, n_cells=16, nprobe=4, k=3)


@query("q_sim_nndescent", oracle=_NNDESCENT_FULL_ORACLE)
def q_sim_nndescent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-refined ANN: one NN-descent round over the IVF seed graph.
    FULL row-level oracle: the seed replays via the shared IVF CTEs and
    the round (symmetrize → hop-2 → re-score → top-3) is plain SQL;
    set-equal verified at all SFs before adoption.

    The batch-model answer to HNSW (:func:`spype_spark.ann.
    nn_descent_refine`): symmetrize the seed k-NN graph, expand
    neighbors-of-neighbors via one equi-join, exact-score the
    candidates, keep top-k. Lifts the IVF(nprobe=4) seed from 0.518 to
    0.723 recall@3 for one linear-in-n candidate pass — the cheapest
    recall upgrade in the ANN family (floor pinned in
    tests/test_llm_quality.py::test_nndescent_refines_ivf_seed).
    """
    from spype_spark.ann import ivf_ann, nn_descent_refine

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seed = ivf_ann(e, n_cells=16, nprobe=4, k=3)
    return nn_descent_refine(e, seed, k=3, n_rounds=1)


#: Full-fidelity PQ oracle: seed-set codebooks make the encoding
#: non-iterative, so DuckDB can reproduce it verbatim — 16 lowest-id
#: vectors as codebooks (code_id = vec_id rank), 8 sub-slices of 8
#: dims, argmin-L2 per (vector, subspace) with (dist2, code_id)
#: tie-break, codes CSV in sub_id order, err2 = sub_id-ordered double
#: fold rounded 1e-6 (matching the kernel's sorted-fold exactly).
_PQ_ENCODE_ORACLE = """
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
               FROM embeddings),
    subs AS (SELECT unnest(range(0, 8)) AS sub_id),
    cb AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code_id,
             emb
      FROM e ORDER BY vec_id LIMIT 16
    ),
    cbs AS (
      SELECT code_id, sub_id,
             list_slice(emb, sub_id * 8 + 1, sub_id * 8 + 8) AS sub_cent
      FROM cb, subs
    ),
    ev AS (
      SELECT vec_id, sub_id,
             list_slice(emb, sub_id * 8 + 1, sub_id * 8 + 8) AS sub_emb
      FROM e, subs
    ),
    scored AS (
      SELECT vec_id, ev.sub_id AS sub_id, code_id,
             list_sum(list_transform(range(1, 9),
               i -> (sub_emb[i] - sub_cent[i]) * (sub_emb[i] - sub_cent[i])))
               AS dist2
      FROM ev JOIN cbs USING (sub_id)
    ),
    chosen AS (
      SELECT vec_id, sub_id, code_id, dist2,
             row_number() OVER (PARTITION BY vec_id, sub_id
                                ORDER BY dist2, code_id) AS rn
      FROM scored
    )
    SELECT vec_id,
           string_agg(CAST(code_id AS VARCHAR), ',' ORDER BY sub_id) AS codes,
           round(list_sum(list(dist2 ORDER BY sub_id)), 6) AS err2
    FROM chosen WHERE rn = 1
    GROUP BY vec_id
    """


@query("q_pq_encode", oracle=_PQ_ENCODE_ORACLE)
def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: 64-dim float vectors → 8×4-bit codes (64×
    compression) + reconstruction error, pure DataFrame algebra
    (:func:`spype_spark.ann.pq_encode`).

    Deterministic seed-set codebooks (16 lowest vec_ids per subspace,
    same convention as IVF); encoding is explode → broadcast-join the
    128-row codebook → window argmin. The codes table is what a 100 TB
    IVF-PQ index scans instead of raw vectors. Quality (err2 strictly
    below the single-code baseline, determinism under repartitioning)
    is pinned in tests/test_llm_quality.py. Seed-set codebooks are
    non-iterative, so this key carries a FULL row-level DuckDB oracle
    (the one ANN kernel where the oracle reproduces the exact output,
    not just its quality invariants).
    """
    from spype_spark.ann import pq_encode

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return pq_encode(e, n_subspaces=8, n_codes=16)


@query(
    "q_dedup_components",
    oracle="""
    WITH RECURSIVE sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             s1.word || ' ' || s2.word || ' ' || s3.word AS shingle
      FROM (
        SELECT doc_id, string_split(text, ' ') AS w,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents
      ) t,
      LATERAL (SELECT w[i] AS word) s1,
      LATERAL (SELECT w[i+1] AS word) s2,
      LATERAL (SELECT w[i+2] AS word) s3
      WHERE i + 2 <= len(w)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT node AS doc_id, MIN(root) AS component FROM reach GROUP BY node
    """,
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster identification: connected components over the
    verified near-dup pair graph (jaccard ≥ 0.5), every document
    labeled with min doc_id of its cluster (singletons label
    themselves).

    Spark side is alternating large-star/small-star contraction
    (:func:`spype_spark.functions.connected_components` — distributed
    joins per cycle, O(log² n) cycles regardless of graph diameter);
    the oracle recomputes the same fixpoint with a recursive CTE. This is the step between
    pair-finding and survivor-selection in a real dedup pipeline:
    transitive near-dups (A~B, B~C) collapse into ONE cluster even
    though (A, C) was never scored.
    """
    from spype_spark.functions import connected_components, ngram_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, min_jaccard=0.5).select("doc_a", "doc_b")
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    return d.select("doc_id").join(
        comp, d.doc_id == comp.node, "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("comp"), F.col("doc_id")).alias("component"),
    )


@query(
    "q_dataset_split",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    h AS (
      SELECT doc_id,
             list_transform(ws, w ->
               list_reduce(
                 list_prepend(0, list_transform(range(1, length(w) + 1),
                                                i -> ascii(w[i]))),
                 (a, c) -> (a * {_FP_WORD_BASE} + c) % {_FP_MOD}
               )) AS whs
      FROM t
    ),
    fp AS (
      SELECT doc_id,
             CAST(list_reduce(list_prepend(0, whs),
                  (a, x) -> (a * {_FP_DOC_BASE} + x) % {_FP_MOD}) AS BIGINT)
               AS fingerprint
      FROM h
    )
    SELECT doc_id,
           CASE WHEN fingerprint % 10 < 8 THEN 'train'
                WHEN fingerprint % 10 = 8 THEN 'valid'
                ELSE 'test' END AS split
    FROM fp
    """,
)
def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-addressed train/valid/test split (80/10/10
    target): the split key is the document's rolling-hash fingerprint,
    so assignment is stable under re-sharding, re-ordering, and re-runs
    — and identical for byte-identical content (exact dups land in the
    same split, preventing train/test leakage through duplicates).
    Engine-portable by construction: the fingerprint is pure integer
    folding, oracle-matched bit-for-bit (unlike rand(seed) splits,
    which no two engines reproduce)."""
    from spype_spark.functions import dataset_split

    d = load_table(spark, sf_dir, "documents")
    return dataset_split(d, weights=(8, 1, 1)).select("doc_id", "split")


@query(
    "q_dedup_cluster_keep",
    oracle="""
    WITH RECURSIVE sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             s1.word || ' ' || s2.word || ' ' || s3.word AS shingle
      FROM (
        SELECT doc_id, string_split(text, ' ') AS w,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents
      ) t,
      LATERAL (SELECT w[i] AS word) s1,
      LATERAL (SELECT w[i+1] AS word) s2,
      LATERAL (SELECT w[i+2] AS word) s3
      WHERE i + 2 <= len(w)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node AS doc_id, MIN(root) AS component
             FROM reach GROUP BY node)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN comp c ON d.doc_id = c.doc_id
    WHERE c.component = d.doc_id
    """,
)
def q_dedup_cluster_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster survivorship: transitively-closed near-dup removal.

    Pairwise dropping (q_dedup_pipeline: drop doc_b of each verified
    pair) can KEEP two docs that are both near-dups of a third but not
    of each other; cluster survivorship cannot — connected components
    over the verified pair graph, keep exactly min(doc_id) per cluster.
    This is the correct end-state of a production dedup pass; the
    oracle recomputes the same fixpoint with a recursive CTE.
    """
    from spype_spark.functions import connected_components, ngram_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, min_jaccard=0.5).select("doc_a", "doc_b")
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    # survivors: min-id per component labels itself; docs not in any
    # pair are their own cluster and always survive
    dropped = comp.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )
    return d.join(dropped, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )
