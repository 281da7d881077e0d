"""``llm_curation``: one spype ``Pype`` of LLM-data operators over a
shard of a seeded corpus: quality/language filter → ``exact_dedup`` →
``near_dedup`` (MinHash candidates, exact-Jaccard verify) →
decontamination semi-join against an eval split → exact cosine top-k
(``functions.cosine_topk``) over the survivors' embeddings.

Execution-bound work (explode, shuffle, mapInPandas GEMM) where planning
is a small share; the lakehouse is bypassed. The expected output of each
shard is computed in set-up: the chain in DuckDB SQL, the top-k in NumPy.

In the traced phase each stage's output is materialized inside its span
so the span covers the stage's execution, not just its composition.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from spype_spark import functions as S
from spype_spark.pipeline import Pype, task

from perfbench.oracle import Expected, cosine_topk_rows, read_embeddings

SHARD_DOCS = 2_500
EVAL_MOD = 50       # doc_id % EVAL_MOD == 0 is the eval split
DECONTAM_K = 8      # word n-gram length of the decontamination match
MIN_CHARS = 60
TOP_K = 5
MIN_JACCARD = 0.5

_SHINGLES = """
    SELECT DISTINCT doc_id, array_to_string(w[i:i + {k} - 1], ' ') AS g
    FROM (SELECT doc_id, w, unnest(range(1, len(w) - {k} + 2)) AS i
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM {src}))
"""


class LlmCuration:
    name = "llm_curation"
    tables = ("documents", "embeddings")
    max_ops = 10**9
    cycle = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.pype = self._pype()

    def _stage(self, name: str, fn, *dfs):
        """Run one kernel; traced, materialize it inside its span."""
        tr = self.ctx.tracer
        with tr.span(name):
            out = fn(*dfs)
            if tr.enabled:
                out = out.localCheckpoint()
        return out

    def _pype(self) -> Pype:
        wl = self

        @task
        def quality(df):
            return df.filter((F.col("n_chars") >= MIN_CHARS) & (F.col("lang") != "zh"))

        @task
        def dedup_exact(df):
            return wl._stage("functions.exact_dedup", S.exact_dedup, df)

        @task
        def dedup_near(df):
            out = wl._stage("functions.near_dedup",
                            lambda d: S.near_dedup(d, min_jaccard=MIN_JACCARD), df)
            tr = wl.ctx.tracer
            if tr.enabled:
                cand = S.minhash_candidates(df).count()
                # the corpus' duplicates come in pairs, so each doc near_dedup
                # drops stands for one verified pair
                verified = df.count() - out.count()
                tr.count("functions.minhash_candidates", cand)
                tr.count("functions.verified_pairs", verified)
            return out

        @task
        def train(df):
            return df.filter(F.col("doc_id") % EVAL_MOD != 0)

        @task
        def eval_split(df):
            return df.filter(F.col("doc_id") % EVAL_MOD == 0)

        @task(n_inputs=2)
        def decontaminate(tr_df, ev_df):
            def grams(d):
                return d.select("doc_id", F.explode(
                    S.word_shingles("text", DECONTAM_K)).alias("g"))
            hit = grams(tr_df).join(grams(ev_df).select("g"), "g", "left_semi")
            return tr_df.join(hit.select("doc_id"), "doc_id", "left_anti")

        @task
        def embeddings(df):
            return df

        @task(n_inputs=2)
        def topk(docs, emb):
            keep = emb.join(docs.select(F.col("doc_id").alias("vec_id")),
                            "vec_id", "left_semi")
            return wl._stage("ann.topk", lambda e: S.cosine_topk(e, k=TOP_K), keep)

        docs = quality | dedup_exact | dedup_near | (train, eval_split) | decontaminate
        return (docs & embeddings) | topk

    # -- set-up ---------------------------------------------------------
    def build_expected(self, con) -> None:
        n_docs = self.ctx.inputs["rows"]["documents"]
        self.shards = [(lo, min(lo + SHARD_DOCS, n_docs) - 1)
                       for lo in range(0, n_docs, SHARD_DOCS)]
        ids, vecs = read_embeddings(
            os.path.join(self.ctx.inputs["dir"], "embeddings.parquet"))
        self.expected = [self._expected_shard(con, lo, hi, ids, vecs)
                         for lo, hi in self.shards]

    def _expected_shard(self, con, lo, hi, ids, vecs) -> Expected:
        con.execute(f"""
            CREATE OR REPLACE TEMP TABLE q AS
            SELECT * FROM documents WHERE doc_id BETWEEN {lo} AND {hi}
              AND n_chars >= {MIN_CHARS} AND lang <> 'zh';
            CREATE OR REPLACE TEMP TABLE ex AS
            SELECT * FROM q
            WHERE doc_id IN (SELECT min(doc_id) FROM q GROUP BY text);
            CREATE OR REPLACE TEMP TABLE sh AS {_SHINGLES.format(k=3, src='ex')};
            CREATE OR REPLACE TEMP TABLE nd AS
            WITH sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
              FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT * FROM ex WHERE doc_id NOT IN (
              SELECT db FROM inter
              JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
              WHERE c / (sa.n + sb.n - c) >= {MIN_JACCARD});
            CREATE OR REPLACE TEMP TABLE tr AS SELECT * FROM nd WHERE doc_id % {EVAL_MOD} <> 0;
            CREATE OR REPLACE TEMP TABLE ev AS SELECT * FROM nd WHERE doc_id % {EVAL_MOD} = 0;
        """)
        keep = [r[0] for r in con.execute(f"""
            WITH tg AS ({_SHINGLES.format(k=DECONTAM_K, src='tr')}),
                 eg AS ({_SHINGLES.format(k=DECONTAM_K, src='ev')})
            SELECT doc_id FROM tr
            WHERE doc_id NOT IN (SELECT doc_id FROM tg WHERE g IN (SELECT g FROM eg))
            ORDER BY doc_id""").fetchall()]
        sel = np.isin(ids, keep)
        return Expected(cosine_topk_rows(ids[sel], vecs[sel], TOP_K))

    def build_fixtures(self) -> None:
        d = self.ctx.inputs["dir"]
        self.docs_path = os.path.join(d, "documents.parquet")
        self.emb_path = os.path.join(d, "embeddings.parquet")

    def warm_up(self) -> None:
        self.check(0, self.op(0)[1])

    # -- the timed loop -------------------------------------------------
    def start_phase(self) -> None:
        pass

    def op_name(self, i: int) -> str:
        return f"shard{i % len(self.shards)}"

    def op(self, i: int):
        ctx = self.ctx
        lo, hi = self.shards[i % len(self.shards)]
        docs = ctx.spark.read.parquet(self.docs_path).filter(
            F.col("doc_id").between(lo, hi))
        emb = ctx.spark.read.parquet(self.emb_path)
        ctx.jobs.enter(i, "compose")
        out = self.pype.apply(docs, emb)
        ctx.jobs.enter(i, "action")
        with ctx.tracer.span("pipeline.action"):
            rows = out.collect()
        ctx.jobs.clear()
        return "read", rows

    def check(self, i: int, res) -> bool:
        return self.expected[i % len(self.shards)].matches(res)

    def end_phase(self) -> dict:
        tr = self.ctx.tracer
        cand = tr.total_count("functions.minhash_candidates")
        return {
            "functions.exact_dedup_s": (tr.median_s("functions.exact_dedup"), "s"),
            "functions.near_dedup_s": (tr.median_s("functions.near_dedup"), "s"),
            "functions.minhash_candidates": (
                tr.mean_count("functions.minhash_candidates"), "count"),
            "functions.verified_pairs": (tr.mean_count("functions.verified_pairs"), "count"),
            "functions.candidate_precision": (
                tr.total_count("functions.verified_pairs") / cand if cand else 0.0, "ratio"),
            "ann.topk_s": (tr.median_s("ann.topk"), "s"),
        }
