"""Lakehouse read paths that read each input once and only what changed:
a MERGE evaluates its source once, ``table_diff``/``changes`` read only
the manifest entries a version step touched, and ``changes`` skips
layout-only steps without opening a file (spype_spark/lakehouse.py)."""

import os

import pytest
from pyspark.sql import functions as F

from spype_spark import lakehouse as lake
from spype_spark import sqltext
from spype_spark.catalog import Catalog
from test_compose_jobs import job_group

SCHEMA = "k long, v long"


def _write_4_files(spark, path):
    """40 rows, range-clustered on ``k`` into 4 files of 10 keys each,
    so a merge of keys from one decile rewrites one file."""
    df = spark.createDataFrame([(k, k * 10) for k in range(40)], SCHEMA)
    lake.write_table(df.repartitionByRange(4, "k"), path)
    assert len(lake.data_files(path, 0)) == 4


def _counted_source(spark, rows):
    """A merge source whose key column comes out of a Python UDF that
    counts, in an accumulator, every row it produces."""
    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(k):
        acc.add(1)
        return k

    src = spark.createDataFrame(rows, "k0 long, v long").select(
        counted("k0").alias("k"), "v"
    )
    return src, acc


def _merge_upsert(spark, path, src):
    lake.merge_upsert(spark, path, src, ["k"])


def _merge_upsert_cond(spark, path, src):
    lake.merge_upsert(
        spark, path, src, ["k"], match_condition=lambda u, t: u["v"] >= t["v"]
    )


def _merge_by_source(spark, path, src):
    lake.merge(
        spark, path, src, ["k"],
        when_not_matched_by_source="delete",
        by_source_condition=lambda t: t["k"] >= 38,
    )


def _sqltext_merge(spark, path, src):
    src.createOrReplaceTempView("read_once_src")
    sqltext.sql(
        spark,
        f"MERGE INTO '{path}' AS t USING read_once_src AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    )


SRC_ROWS = [(1, 100), (3, 300), (50, 500)]
UPSERTED = {k: k * 10 for k in range(40)} | {1: 100, 3: 300, 50: 500}


@pytest.mark.parametrize(
    "merge, want",
    [
        (_merge_upsert, UPSERTED),
        (_merge_upsert_cond, UPSERTED),
        (
            _merge_by_source,
            {k: v for k, v in UPSERTED.items() if not 38 <= k < 40},
        ),
        (_sqltext_merge, UPSERTED),
    ],
    ids=["merge_upsert", "match_condition", "by_source", "sqltext"],
)
def test_merge_evaluates_source_once(spark, tmp_path, merge, want):
    path = str(tmp_path / "t")
    _write_4_files(spark, path)
    src, acc = _counted_source(spark, SRC_ROWS)
    merge(spark, path, src)
    got = {r.k: r.v for r in lake.read_table(spark, path).collect()}
    assert got == want
    assert acc.value == len(SRC_ROWS)


def test_txn_merge_evaluates_source_once(spark, tmp_path):
    cat = Catalog(str(tmp_path / "cat"))
    with cat.transaction(spark) as txn:
        txn.write(
            spark.createDataFrame([(k, k * 10) for k in range(40)], SCHEMA), "a"
        )
    src, acc = _counted_source(spark, SRC_ROWS)
    with cat.transaction(spark) as txn:
        txn.merge_upsert("a", src, keys=["k"])
    got = {r.k: r.v for r in cat.read(spark, "a").collect()}
    assert got == UPSERTED
    assert acc.value == len(SRC_ROWS)


def _full_diff(spark, path, a, b, keys=("k",)):
    """``table_diff`` as it was defined before it learned to prune: a
    full outer join of the two ``read_table`` snapshots."""
    keys = list(keys)
    sa = lake.read_table(spark, path, version=a)
    sb = lake.read_table(spark, path, version=b)
    cols = sa.columns
    both = sa.select(*keys, F.struct(*cols).alias("__a")).join(
        sb.select(*keys, F.struct(*cols).alias("__b")), keys, "full_outer"
    )
    op = (
        F.when(F.col("__a").isNull(), "insert")
        .when(F.col("__b").isNull(), "delete")
        .when(F.col("__a") != F.col("__b"), "update")
    )
    return sorted(
        tuple(r)
        for r in both.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(*keys, "op")
        .collect()
    )


def _diff(spark, path, a, b):
    return sorted(tuple(r) for r in lake.table_diff(spark, path, a, b, ["k"]).collect())


def _uri(path, rel):
    return "file://" + os.path.abspath(os.path.join(path, rel))


def test_pruned_diff_equals_full_snapshot_diff(spark, tmp_path):
    path = str(tmp_path / "t")
    _write_4_files(spark, path)
    lake.merge_upsert(  # v1: keys 1 and 3 live in one file
        spark, path, spark.createDataFrame([(1, 11), (3, 33)], SCHEMA), ["k"]
    )
    removed = set(lake.data_files(path, 0)) - set(lake.data_files(path, 1))
    added = set(lake.data_files(path, 1)) - set(lake.data_files(path, 0))
    assert len(removed) == 1
    d01 = lake.table_diff(spark, path, 0, 1, ["k"])
    assert set(d01.inputFiles()) == {_uri(path, f) for f in removed | added}
    assert sorted(tuple(r) for r in d01.collect()) == [
        (1, "update"), (3, "update")
    ]
    lake.delete_where_dv(spark, path, F.col("k") == 15)  # v2: kept files gain a DV
    lake.delete_keys(  # v3: an equality-delete record
        spark, path, spark.createDataFrame([(25,)], "k long")
    )
    lake.restore_table(spark, path, 1)  # v4: kept files lose both records
    lake.merge_upsert(  # v5
        spark, path, spark.createDataFrame([(22, 0), (60, 6)], SCHEMA), ["k"]
    )
    lake.compact(spark, path)  # v6: layout only
    assert lake.versions(path) == list(range(7))
    assert _diff(spark, path, 3, 4) == [(15, "insert"), (25, "insert")]
    for a, b in [(v, v + 1) for v in range(6)] + [(1, 5), (6, 0)]:
        assert _diff(spark, path, a, b) == _full_diff(spark, path, a, b), (a, b)
    clone = str(tmp_path / "clone")
    lake.clone_table(path, clone)
    lake.merge_upsert(
        spark, clone, spark.createDataFrame([(5, 55), (70, 7)], SCHEMA), ["k"]
    )
    assert _diff(spark, clone, 0, 1) == _full_diff(spark, clone, 0, 1)
    assert _diff(spark, clone, 0, 1) == [(5, "update"), (70, "insert")]


def test_diff_across_a_name_swap_reads_every_file(spark, tmp_path):
    """A kept file whose columns swap names between the two versions
    reads differently on each side, so it cannot drop out."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, k, -k) for k in range(12)], "k long, a long, b long"
    )
    lake.write_table(df.repartitionByRange(3, "k"), path)
    lake.rename_columns(spark, path, {"a": "c"})
    lake.rename_columns(spark, path, {"b": "a"})
    lake.rename_columns(spark, path, {"c": "b"})
    got = sorted(
        tuple(r) for r in lake.table_diff(spark, path, 0, 3, ["k"]).collect()
    )
    assert got == _full_diff(spark, path, 0, 3)
    assert got == [(k, "update") for k in range(1, 12)]


def test_changes_skips_layout_steps_without_a_job(spark, tmp_path):
    path = str(tmp_path / "t")
    _write_4_files(spark, path)
    lake.compact(spark, path)  # v1
    lake.merge_upsert(  # v2
        spark, path, spark.createDataFrame([(1, 11)], SCHEMA), ["k"]
    )
    sc = spark.sparkContext
    with job_group(sc, "changes-over-compact"):
        feed = lake.changes(spark, path, ["k"], 0, 1)
        rows = feed.collect()
    assert rows == []
    assert list(sc.statusTracker().getJobIdsForGroup("changes-over-compact")) == []
    data_step = lake.changes(spark, path, ["k"], 1, 2)
    assert feed.schema == data_step.schema
    assert [tuple(r) for r in data_step.collect()] == [(1, "update", 2)]
    assert [tuple(r) for r in lake.changes(spark, path, ["k"]).collect()] == [
        (1, "update", 2)
    ]
