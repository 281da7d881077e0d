"""One row-liveness kernel for every table format
(spype_spark/row_deletes.py): the manifest read keeps one data scan as
merge-on-read commits accumulate, a read no delete reaches plans the
plain scan, the file key agrees between the scan, the seq map and
``export_delta`` wherever the table lives (also for files outside any
``data/`` tree), a branch DV reaches the fork-carried files it names,
and each format keeps its own NULL rule for equality deletes."""

import re

from pyspark.sql import functions as F

from spype_spark import delta_interop as dl
from spype_spark import iceberg_interop as ice
from spype_spark import lakehouse as lake
from spype_spark import row_deletes
from spype_spark.lake_sink import register_lake_sink


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _data_scans(plan: str) -> int:
    """Relations that read the table's data files (the only ones with
    the ``v`` column: DV sidecars hold ``fname, pos``)."""
    return len(re.findall(r"Relation \[[^\]]*\bv#", plan))


def _relations(plan: str) -> int:
    return plan.count("Relation")


def _base(spark, n=400):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("g"),
        (F.col("id") * 0.5).alias("v"),
    )


def _cycle(spark, path, i):
    upd = spark.range(i * 10, i * 10 + 3).select(
        F.col("id").alias("k"), F.lit(99).cast("long").alias("g"),
        F.lit(1.0).alias("v"),
    )
    lake.merge_upsert(spark, path, upd, ["k"])
    lake.delete_where_dv(spark, path, F.col("k") % 37 == i)


def test_read_plan_keeps_one_data_scan_as_commits_accumulate(spark, tmp_path):
    p = str(tmp_path / "t")
    lake.write_table(_base(spark).repartition(4, "k"), p, bloom_keys=["k"])
    shapes = {}
    for i in range(1, 9):
        _cycle(spark, p, i)
        if i in (2, 8):
            plan = _optimized(lake.read_table(spark, p))
            shapes[i] = (_relations(plan), _data_scans(plan))
    assert shapes[2] == shapes[8]
    assert shapes[8][1] == 1
    expect = {
        k for k in range(400) if not any(k % 37 == i for i in range(1, 9))
    } | {k for i in range(1, 9) for k in range(i * 10, i * 10 + 3)
         if not any(k % 37 == j for j in range(i, 9))}
    got = {r.k for r in lake.read_table(spark, p).select("k").collect()}
    assert got == expect


def test_unreached_entries_plan_the_plain_scan(spark, tmp_path):
    p = str(tmp_path / "t")
    lake.write_table(_base(spark, 50), p)
    lake.delete_where_dv(spark, p, F.col("k") < 5)
    v = lake.append_table(
        spark, p, _base(spark, 3).withColumn("k", F.col("k") + 1000)
    )
    # the append's files are newer than the DV: the diff's added side
    # reads them with no metadata column and no join
    plan = _optimized(lake.table_diff(spark, p, v - 1, v, ["k"]))
    assert "_metadata" not in plan and "Join" not in plan
    assert lake.table_diff(spark, p, v - 1, v, ["k"]).count() == 3
    # a table with no pending delete reads as one plain scan
    q = str(tmp_path / "plain")
    lake.write_table(_base(spark, 50), q)
    plan = _optimized(lake.read_table(spark, q))
    assert "_metadata" not in plan and "Join" not in plan


def test_export_delta_keeps_dv_deletes_under_a_data_root(spark, tmp_path):
    # the table root itself contains a ``/data/`` segment: the file key
    # is everything after the FIRST one, in the scan and the export alike
    for sub in ("data", "plain"):
        p = str(tmp_path / sub / "t")
        lake.write_table(_base(spark, 100), p)
        lake.delete_where_dv(spark, p, F.col("k") < 10)
        assert lake.read_table(spark, p).count() == 90
        dl.export_delta(spark, p)
        assert dl.read_delta(spark, p).count() == 90, sub


def test_file_key_matches_the_scan_for_quoted_partition_dirs(spark, tmp_path):
    # partition values whose directory names Spark's file_path spells
    # URI-quoted (a space, an escaped %): the seq map's keys must still
    # meet the scan's, or the equality delete of keys 1 and 3 misses
    p = str(tmp_path / "data" / "t")
    df = spark.createDataFrame(
        [(k, "a b%c" if k % 2 else "x+y", float(k)) for k in range(40)],
        "k long, part string, v double",
    )
    lake.write_table(df, p, partition_by="part")
    lake.delete_keys(
        spark, p, spark.createDataFrame([(1,), (2,), (3,)], "k long")
    )
    lake.merge_upsert(
        spark, p, spark.createDataFrame([(3, "a b%c", 9.0)], df.schema),
        ["k"],
    )
    lake.delete_where_dv(spark, p, F.col("k") >= 36)
    got = sorted(
        (r.k, r.v) for r in lake.read_table(spark, p).select("k", "v").collect()
    )
    want = [(k, float(k)) for k in range(36) if k not in (1, 2, 3)] + [
        (3, 9.0)
    ]
    assert got == sorted(want)


def test_imported_files_keep_one_key_each(spark, tmp_path):
    # a by-reference import of an unpartitioned Delta table lists files
    # outside any data/ tree: each keys by its whole path, so a pending
    # key file repeats no row and a DV removes rows of its own file only
    src = str(tmp_path / "dsrc")
    dl.write_delta(spark, _base(spark, 100).repartition(3), src)
    imp = str(tmp_path / "imp")
    dl.import_delta(spark, src, imp)
    m = lake._m_load(imp, lake.latest_version(imp))
    assert len(lake._m_entries(imp, m)) == 3
    lake.delete_keys(spark, imp, spark.range(3).select(F.col("id").alias("k")))
    df = lake.read_table(spark, imp)
    assert df.count() == df.distinct().count() == 97
    lake.delete_where_dv(spark, imp, F.col("k") >= 90)
    got = sorted(r.k for r in lake.read_table(spark, imp).collect())
    assert got == list(range(3, 90))


def test_branch_dv_reaches_fork_carried_files(spark, tmp_path):
    # fork-carried entries keep the parent's seqs, which lie above the
    # branch-local seq of a DV that names them: the DV still removes its
    # rows, in the read and in the change feed
    p = str(tmp_path / "t")
    lake.write_table(_base(spark, 100).repartition(4), p)
    lake.merge_upsert(
        spark, p, _base(spark, 5).withColumn("g", F.lit(9).cast("long")),
        ["k"],
    )
    lake.compact(spark, p, target_files=2)
    b = lake.create_branch(p, "dev")
    lake.delete_where_dv(spark, b, F.col("k") < 10)
    lake.merge_upsert(
        spark, b, _base(spark, 100).filter("k >= 95")
        .withColumn("v", F.lit(-1.0)), ["k"],
    )
    lake.delete_where_dv(spark, b, F.col("k") >= 98)
    got = sorted(r.k for r in lake.read_table(spark, b).select("k").collect())
    assert got == list(range(10, 98))
    register_lake_sink(spark)
    feed = (
        spark.read.format("spype_lake")
        .option("path", b)
        .option("readChangeFeed", "true")
        .option("keys", "k")
        .option("startingVersion", "1")
        .option("endingVersion", "1")
        .load()
    )
    assert sorted(
        (r.k, r._change_type) for r in feed.select("k", "_change_type").collect()
    ) == [(k, "delete") for k in range(10)]


def test_equality_delete_null_semantics_per_format(spark, tmp_path):
    rows = [(1, "a"), (None, "n"), (2, "b")]
    schema = "k long, s string"
    # manifest: NULL-keyed rows are never matched
    p = str(tmp_path / "lake")
    lake.write_table(spark.createDataFrame(rows, schema), p)
    lake.delete_keys(
        spark, p, spark.createDataFrame([(None,), (2,)], "k long")
    )
    assert sorted(
        r.s for r in lake.read_table(spark, p).collect()
    ) == ["a", "n"]
    # Iceberg: equality is null-safe, so a NULL delete key removes it
    q = str(tmp_path / "ice")
    ice.write_iceberg(spark, spark.createDataFrame(rows, schema), q)
    ice.write_iceberg_eq_deletes(
        spark, spark.createDataFrame([(None,), (2,)], "k long"), q, ["k"]
    )
    assert sorted(r.s for r in ice.read_iceberg(spark, q).collect()) == ["a"]


def test_kernel_live_and_deleted_rows_partition_the_scan(spark):
    scan = spark.createDataFrame(
        [("f1", 0, 1), ("f1", 1, 2), ("f2", 0, 1), ("f2", 1, None)],
        "f string, p long, k long",
    )
    pos = spark.createDataFrame([("f1", 1)], "f string, p long")
    eq = [(["k"], spark.createDataFrame([(1,), (None,)], "k long"), 2)]
    seqs = [("f1", 1), ("f2", 3)]
    live = row_deletes.live_rows(scan, "f", "p", pos, eq, seqs)
    dead = row_deletes.deleted_rows(scan, "f", "p", pos, eq, seqs)
    assert live.columns == scan.columns and dead.columns == scan.columns
    # f1 is reached by the equality delete (seq 1 <= 2); f2 is not
    assert sorted(tuple(r) for r in live.collect()) == [
        ("f2", 0, 1), ("f2", 1, None)
    ]
    assert sorted(tuple(r) for r in dead.distinct().collect()) == [
        ("f1", 0, 1), ("f1", 1, 2)
    ]
