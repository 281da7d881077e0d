"""Composing a query builds a plan; it launches no Spark job.

Every job a query or kernel runs before its action is fixed latency a
waiting pipeline author pays on each call, and at scale it re-reads
the input. Each registry query that does not write, and each LLM-data
kernel, is composed under its own job group, and ``statusTracker``
must report no job in that group.

The corpus tables are loaded once first: ``tables.load_table`` infers
a file's schema on its first load in a session and serves the memo
afterwards, so only that first load runs a job.
"""

from __future__ import annotations

import contextlib

import pytest

from spype_spark import functions as S
from spype_spark.queries import REGISTRY
from spype_spark.tables import load_table, load_tables

#: Modules whose queries write files while composing (lakehouse verbs,
#: sink round trips): their jobs are the operation itself.
WRITING_MODULES = {
    "spype_spark.queries.lakehouse_ops",
    "spype_spark.queries.sources_sinks",
    "spype_spark.queries.rollup_materialized",
}

#: Writing queries that live in otherwise read-only modules.
WRITING = {
    "q_sink_parquet_roundtrip",  # writes Parquet, reads it back
    "q_join_bucketed",  # bucketize() writes both bucketed tables
    "q_stream_lake_upsert",  # streams into a lakehouse table
    "q_stream_txn_sink",  # streams into a catalog transaction
}

#: Queries whose compose-time jobs are inherent, each with why. Only
#: kernels that really iterate or stream, plus operators whose contract
#: ships a data-derived literal into the plan, belong here.
ALLOWED = {
    "q_graph_pagerank": "iterates rank rounds over an eagerly materialized edge list; a node count() sets the scale",
    "q_dedup_components": "connected components iterate until a convergence count says stop",
    "q_dedup_cluster_keep": "runs the same connected-components convergence loop",
    "q_sim_nndescent": "NN-descent rounds, each materialized before the next join",
    "q_cluster_kmeans": "count() autoscalers size k and the tile grid (memoized per session)",
    "q_dedup_semdedup": "k-means blocking: the same memoized count() autoscalers",
    "q_recursive_cte": "fetches the spine bounds once as literals; in the recursive term they rescan orders per step",
    "q_sim_lsh_ann": "count() autoscaler: the band width grows with the corpus size",
    "q_join_bloom": "the Bloom filter is built on the driver and shipped to tasks as a literal",
    "q_sketch_cms": "the count-min sketch is built on the driver and embedded as a literal",
    "q_stream_enrich_static": "runs a streaming query to completion",
    "q_stream_session_true": "runs a streaming query to completion",
    "q_stream_stream_join": "runs a streaming query to completion",
    "q_stream_stream_left_join": "runs a streaming query to completion",
    "q_stream_true_tumbling": "runs a streaming query to completion",
}

COMPOSE = sorted(
    name
    for name, q in REGISTRY.items()
    if q.fn.__module__ not in WRITING_MODULES
    and name not in WRITING
    and name not in ALLOWED
)

KERNELS = {
    "exact_dedup": S.exact_dedup,
    "minhash_candidates": S.minhash_candidates,
    "ngram_jaccard_pairs": S.ngram_jaccard_pairs,
    "near_dedup": S.near_dedup,
}


@contextlib.contextmanager
def job_group(sc, gid: str):
    """Tag this thread's jobs with ``gid``; restore the caller's group
    (id, description, interrupt flag) on exit."""
    props = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = {p: sc.getLocalProperty(p) for p in props}
    sc.setJobGroup(gid, gid)
    try:
        yield
    finally:
        for p, v in saved.items():
            sc.setLocalProperty(p, v)


def jobs_composing(spark, gid: str, compose) -> list[int]:
    sc = spark.sparkContext
    with job_group(sc, gid):
        compose()
    return list(sc.statusTracker().getJobIdsForGroup(gid))


@pytest.fixture(scope="module")
def warm(spark, sf_dir):
    load_tables(spark, sf_dir)
    return sf_dir


def test_allowlist_names_registered_read_only_queries():
    assert set(ALLOWED) <= set(REGISTRY)
    assert WRITING <= set(REGISTRY)
    assert not set(ALLOWED) & WRITING


@pytest.mark.parametrize("name", COMPOSE)
def test_query_composes_without_jobs(spark, warm, name):
    jobs = jobs_composing(
        spark, f"compose-{name}", lambda: REGISTRY[name].fn(spark, warm)
    )
    assert jobs == [], f"{name} launched {len(jobs)} job(s) while composing"


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_kernel_composes_without_jobs(spark, warm, name):
    docs = load_table(spark, warm, "documents")
    jobs = jobs_composing(spark, f"compose-{name}", lambda: KERNELS[name](docs))
    assert jobs == [], f"{name} launched {len(jobs)} job(s) while composing"


def test_job_group_restores_the_callers_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("outer", "outer description")
    try:
        with job_group(sc, "inner"):
            assert sc.getLocalProperty("spark.jobGroup.id") == "inner"
        assert sc.getLocalProperty("spark.jobGroup.id") == "outer"
        assert sc.getLocalProperty("spark.job.description") == "outer description"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
