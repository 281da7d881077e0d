"""One plan per DML verb: the path-table verbs (``spype_spark.lakehouse``)
and the catalog transaction's verbs plan through the same planners, so
they must agree row for row and carry the same files; a commit that
loses its race leaves no delete file behind; a no-match UPDATE writes
nothing."""

import os

import pytest
from pyspark.sql import functions as F

from spype_spark import lakehouse as lake
from spype_spark.catalog import Catalog
from spype_spark.lakehouse import ConcurrentWriteError


def _base_df(spark):
    # range-clustered k inside four identity partitions: every file
    # holds a narrow k interval, so stats/Bloom pruning can carry files
    return spark.createDataFrame(
        [(k, k % 4, float(k)) for k in range(400)], "k long, p long, v double"
    ).repartitionByRange(4, "k")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _carried(path, base, new):
    old = {e["path"] for e in lake._m_entries(path, lake._m_load(path, base))}
    return sum(
        e["path"] in old
        for e in lake._m_entries(path, lake._m_load(path, new))
    )


def _verbs(spark):
    upd = spark.createDataFrame(
        [(k, k % 4, -1.0) for k in list(range(10, 20)) + [1000, 1001]],
        "k long, p long, v double",
    )
    keys = spark.createDataFrame([(5,), (77,), (391,)], "k long")
    return {
        "merge_upsert": ("merge_upsert", (upd, ["k"]), {}),
        "merge_clause": (
            "merge",
            (upd, ["k"]),
            {"when_matched": "delete", "when_not_matched": "insert"},
        ),
        "delete_where": ("delete_where", (F.col("k") < 50,), {}),
        "update_where": (
            "update_where",
            (F.col("k").between(100, 120), {"v": F.lit(0.0)}),
            {},
        ),
        "delete_range": ("delete_range", ("k", 200, 260), {}),
        "delete_predicate": (
            "delete_predicate",
            (("or", ("lt", "k", 30), ("between", "k", 300, 310)),),
            {},
        ),
        "delete_keys": ("delete_keys", (keys,), {}),
        "delete_where_dv": ("delete_where_dv", (F.col("k") % 7 == 0,), {}),
        "compact": ("compact", (), {"target_files": 2}),
    }


@pytest.mark.parametrize(
    "verb",
    [
        "merge_upsert",
        "merge_clause",
        "delete_where",
        "update_where",
        "delete_range",
        "delete_predicate",
        "delete_keys",
        "delete_where_dv",
        "compact",
    ],
)
def test_lake_and_transaction_verbs_agree(spark, tmp_path, verb):
    """The same verb on a path table and, through a catalog
    transaction, on its twin gives the same rows and carries the same
    number of base files."""
    fn, args, kwargs = _verbs(spark)[verb]
    lpath = str(tmp_path / "lake_t")
    lake.write_table(
        _base_df(spark), lpath, partition_by="p", bloom_keys=["k"]
    )
    l_base = lake.latest_version(lpath)
    l_new = getattr(lake, fn)(spark, lpath, *args, **kwargs)

    cat = Catalog(str(tmp_path / "cat"))
    with cat.transaction(spark) as txn:
        txn.write(_base_df(spark), "t", partition_by="p", bloom_keys=["k"])
    cpath = cat.table_path("t")
    c_base = cat.state()["t"]
    with cat.transaction(spark) as txn:
        getattr(txn, fn)("t", *args, **kwargs)
    c_new = cat.state()["t"]

    assert l_new > l_base and c_new > c_base
    assert _rows(lake.read_table(spark, lpath)) == _rows(cat.read(spark, "t"))
    assert _carried(lpath, l_base, l_new) == _carried(cpath, c_base, c_new)


def _data_dirs(path):
    return set(os.listdir(os.path.join(path, "data")))


def _lost_publish(*_a, **_k):
    raise ConcurrentWriteError("slot taken")


@pytest.mark.parametrize("verb", ["delete_keys", "delete_where_dv"])
def test_lost_commit_removes_delete_file(spark, tmp_path, monkeypatch, verb):
    """A merge-on-read delete whose publish loses the race leaves no
    delete-file directory under ``data/``."""
    path = str(tmp_path / "t")
    lake.write_table(_base_df(spark), path, partition_by="p")
    before = _data_dirs(path)
    arg = (
        spark.createDataFrame([(5,)], "k long")
        if verb == "delete_keys"
        else F.col("k") == 5
    )
    monkeypatch.setattr(lake, "_m_publish", _lost_publish)
    with pytest.raises(ConcurrentWriteError):
        getattr(lake, verb)(spark, path, arg)
    assert _data_dirs(path) == before


@pytest.mark.parametrize("verb", ["delete_keys", "delete_where_dv"])
def test_staged_delete_on_vacuumed_base_removes_delete_file(
    spark, tmp_path, monkeypatch, verb
):
    """The transaction's staged merge-on-read delete on a base
    vacuumed mid-stage leaves no delete-file directory either."""
    cat = Catalog(str(tmp_path / "cat"))
    with cat.transaction(spark) as txn:
        txn.write(_base_df(spark), "t", partition_by="p")
    path = cat.table_path("t")
    base = cat.state()["t"]
    before = _data_dirs(path)
    planner = {"delete_keys": "_m_keys_plan", "delete_where_dv": "_m_dv_plan"}
    real = getattr(lake, planner[verb])

    def plan_then_vacuum(*a):
        plan = real(*a)
        os.unlink(lake._m_path(path, base))
        return plan

    monkeypatch.setattr(lake, planner[verb], plan_then_vacuum)
    arg = (
        spark.createDataFrame([(5,)], "k long")
        if verb == "delete_keys"
        else F.col("k") == 5
    )
    txn = cat.transaction(spark)
    with pytest.raises(ConcurrentWriteError):
        getattr(txn, verb)("t", arg)
    txn.abort()
    assert _data_dirs(path) == before


def test_update_without_match_on_partitioned_table_writes_nothing(
    spark, tmp_path
):
    """An UPDATE no row matches commits the base's entries unchanged
    and runs no write: no new directory under ``data/``."""
    path = str(tmp_path / "t")
    lake.write_table(_base_df(spark), path, partition_by="p")
    base = lake.latest_version(path)
    before = _data_dirs(path)
    v = lake.update_where(spark, path, F.col("k") < 0, {"v": F.lit(0.0)})
    assert v == base + 1
    assert lake._m_entries(path, lake._m_load(path, v)) == lake._m_entries(
        path, lake._m_load(path, base)
    )
    assert _data_dirs(path) == before
