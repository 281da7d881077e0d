"""Per-file Bloom filters (spype_spark/bloom.py + the lakehouse
integration): the prune material for hash-shaped keys whose [min, max]
file stats span the keyspace and never refute anything.

Soundness is the whole game: a Bloom MISS must be a proof of absence
(no false negatives, ever), refutation must refuse cross-type probes
(Spark's implicit casts make ``'05' = 5`` true — a canonical-string
filter can't see that), and every planner consuming filters must stay
exactly as conservative as the reference three-valued evaluator.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from spype_spark import lakehouse as lake
from spype_spark.bloom import (
    BLOOM_MAX_BITS,
    bloom_all_miss,
    bloom_build,
    bloom_might_contain,
)


def _md5(i) -> str:
    return hashlib.md5(str(i).encode()).hexdigest()


# --- module unit tests ------------------------------------------------------


def test_bloom_no_false_negatives_and_determinism():
    vals = [_md5(i) for i in range(500)]
    bf = bloom_build(vals)
    assert all(bloom_might_contain(bf, v) for v in vals)
    assert bloom_build(list(reversed(vals))) == bf  # set-determined


def test_bloom_refutes_absent_values_mostly():
    bf = bloom_build([_md5(i) for i in range(500)])
    misses = sum(
        not bloom_might_contain(bf, _md5(i)) for i in range(1000, 2000)
    )
    # ~1% fpp at 10 bits/value: overwhelmingly refuted
    assert misses > 950


def test_bloom_integral_keys():
    bf = bloom_build(list(range(100)))
    assert bf["t"] == "i"
    assert all(bloom_might_contain(bf, i) for i in range(100))
    assert sum(
        not bloom_might_contain(bf, i) for i in range(10_000, 10_100)
    ) > 90


def test_bloom_cross_type_probe_gives_no_verdict():
    """'05' = 5 is TRUE under Spark's cast — an int probe against a
    string filter (or vice versa) must never refute."""
    sbf = bloom_build(["05", "06"])
    assert sbf["t"] == "s"
    assert bloom_might_contain(sbf, 5)  # no verdict, keep
    assert not bloom_all_miss(sbf, [5])
    ibf = bloom_build([5, 6])
    assert bloom_might_contain(ibf, "5")
    assert not bloom_all_miss(ibf, ["7"])


def test_bloom_nulls_and_empty():
    assert bloom_build([]) is None
    assert bloom_build([None, None]) is None
    bf = bloom_build(["a", None, "b"])
    assert bloom_might_contain(bf, None)  # NULL: no verdict
    # all_miss skips NULLs but needs at least one real probe
    assert bloom_all_miss(bf, ["zzz", None])
    assert not bloom_all_miss(bf, [None])
    assert not bloom_all_miss(bf, [])
    assert not bloom_all_miss(bf, ["a", "zzz"])


def test_bloom_mixed_type_build_is_loud():
    with pytest.raises(TypeError, match="all-string or all-integral"):
        bloom_build(["a", 1])
    with pytest.raises(TypeError, match="all-string or all-integral"):
        bloom_build([1.5])


def test_bloom_size_scaling_and_cap():
    # 50k values → 2^19 bits (10 bpv rounded to a power of two),
    # nowhere near the 2^24 cap — fpp stays ~1% for big files
    bf = bloom_build([_md5(i) for i in range(50_000)])
    assert bf["m"] == 1 << 19
    assert all(
        bloom_might_contain(bf, _md5(i)) for i in range(0, 50_000, 997)
    )
    misses = sum(
        not bloom_might_contain(bf, _md5(i))
        for i in range(100_000, 100_500)
    )
    assert misses > 470
    # the cap itself: monotone sizing can never exceed BLOOM_MAX_BITS
    from spype_spark.bloom import _size_bits

    assert _size_bits(10_000_000) == BLOOM_MAX_BITS


# --- lakehouse integration --------------------------------------------------


def _hash_table(spark, tmp_path, n=2000, files=8, **kw):
    p = str(tmp_path / "t")
    df = (
        spark.range(n)
        .select(
            F.md5(F.col("id").cast("string")).alias("k"),
            F.col("id").alias("v"),
        )
        .repartition(files)
    )
    lake.write_table(df, p, bloom_keys="k", **kw)
    return p


def test_write_table_stamps_blooms(spark, tmp_path):
    p = _hash_table(spark, tmp_path)
    m = lake._m_load(p, 0)
    assert m["bloom_keys"] == ["k"]
    ents = lake._m_entries(p, m)
    assert ents and all(
        e.get("bloom", {}).get("k", {}).get("t") == "s"
        for e in ents
        if e.get("rows")
    )


def test_bloom_keys_validation(spark, tmp_path):
    df = spark.range(5).select(F.col("id").cast("double").alias("d"))
    with pytest.raises(ValueError, match="Bloom key material"):
        lake.write_table(df, str(tmp_path / "a"), bloom_keys="d")
    with pytest.raises(ValueError, match="Bloom key material"):
        lake.write_table(df, str(tmp_path / "b"), bloom_keys="zz")


def test_merge_prunes_by_bloom_and_stays_correct(spark, tmp_path):
    """A 3-key merge against 8 hash-keyed files: range stats are
    structurally blind (every file spans the keyspace), Bloom carries
    the unhit files — and the merged contents are exactly the
    full-rewrite result."""
    p = _hash_table(spark, tmp_path)
    hit = [_md5(i) for i in range(3)]
    ups = spark.createDataFrame(
        [(k, -1) for k in hit] + [(_md5("new"), -2)],
        "k string, v long",
    )
    v = lake.merge_upsert(spark, p, ups, keys=["k"])
    m = lake._m_load(p, v)
    ents = lake._m_entries(p, m)
    carried = [e for e in ents if e["seq"] != v]
    # ≤3 files can hold the 3 hit keys → ≥5 of 8 carried (bloom fpp
    # could theoretically lose one more; 5 is the floor)
    assert len(carried) >= 5, f"only {len(carried)} carried"
    got = {r.k: r.v for r in lake._m_read(spark, p, v).collect()}
    assert len(got) == 2001
    assert all(got[k] == -1 for k in hit)
    assert got[_md5("new")] == -2
    # new files stamped too (rows>0)
    assert all(
        "bloom" in e
        for e in ents
        if e["seq"] == v and e.get("rows")
    )


def test_merge_bloom_prune_differential_vs_plain_table(spark, tmp_path):
    """The same random merge chain on a bloom table and a plain table
    lands on identical contents — pruning changes file layout only."""
    import random

    rng = random.Random(42)
    pb = str(tmp_path / "b")
    pp = str(tmp_path / "p")
    base = (
        spark.range(500)
        .select(
            F.md5(F.col("id").cast("string")).alias("k"),
            F.col("id").alias("v"),
        )
        .repartition(5)
    )
    lake.write_table(base, pb, bloom_keys="k")
    lake.write_table(base, pp)
    for step in range(4):
        ids = [rng.randrange(1000) for _ in range(6)]
        ups = spark.createDataFrame(
            [(_md5(i), -step) for i in ids], "k string, v long"
        )
        lake.merge_upsert(spark, pb, ups, keys=["k"])
        lake.merge_upsert(spark, pp, ups, keys=["k"])
    a = sorted(
        (r.k, r.v) for r in lake.read_table(spark, pb).collect()
    )
    b = sorted(
        (r.k, r.v) for r in lake.read_table(spark, pp).collect()
    )
    assert a == b


def test_delete_predicate_eq_miss_prunes_all_files(spark, tmp_path):
    """DELETE WHERE k = <absent hash>: every data file refutes via its
    filter — zero data files are read back (the only new entry is the
    schema-preserving empty write)."""
    p = _hash_table(spark, tmp_path)
    v = lake.delete_predicate(spark, p, ("eq", "k", "f" * 32))
    m = lake._m_load(p, v)
    new = [
        e
        for e in lake._m_entries(p, m)
        if e["seq"] == v and e.get("rows")
    ]
    assert new == [], f"miss-delete read back {len(new)} data files"
    assert lake._m_read(spark, p, v).count() == 2000


def test_delete_predicate_in_hits_only_covering_files(spark, tmp_path):
    p = _hash_table(spark, tmp_path)
    hit = [_md5(i) for i in range(2)]
    v = lake.delete_predicate(spark, p, ("in", "k", hit + ["f" * 32]))
    m = lake._m_load(p, v)
    carried = [e for e in lake._m_entries(p, m) if e["seq"] != v]
    assert len(carried) >= 6  # ≤2 of 8 files can hold the 2 real keys
    assert lake._m_read(spark, p, v).count() == 1998


def test_bloom_follows_rename_and_drop(spark, tmp_path):
    p = _hash_table(spark, tmp_path)
    v = lake.rename_columns(spark, p, {"k": "key"})
    m = lake._m_load(p, v)
    assert m["bloom_keys"] == ["key"]
    assert all(
        "key" in e.get("bloom", {})
        for e in lake._m_entries(p, m)
        if e.get("rows")
    )
    # renamed key still prunes (logical name, frozen physical)
    v2 = lake.delete_predicate(spark, p, ("eq", "key", "f" * 32))
    m2 = lake._m_load(p, v2)
    new = [
        e
        for e in lake._m_entries(p, m2)
        if e["seq"] == v2 and e.get("rows")
    ]
    assert new == []
    # dropping the bloom column clears the opt-in and the entry filters
    v4 = lake.drop_columns(spark, p, ["key"])
    m4 = lake._m_load(p, v4)
    assert not m4.get("bloom_keys")
    assert all(
        "key" not in e.get("bloom", {}) for e in lake._m_entries(p, m4)
    )


def test_txn_staged_merge_attaches_blooms(spark, tmp_path):
    from spype_spark.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    df = spark.range(300).select(
        F.md5(F.col("id").cast("string")).alias("k"),
        F.col("id").alias("v"),
    ).repartition(4)
    with cat.transaction(spark) as txn:
        txn.write(df, "t", bloom_keys="k")
    path = cat.table_path("t")
    m = lake._m_load(path, lake.latest_version(path))
    assert m["bloom_keys"] == ["k"]
    with cat.transaction(spark) as txn:
        txn.merge_upsert(
            "t",
            spark.createDataFrame(
                [(_md5(1), -1)], "k string, v long"
            ),
            keys=["k"],
        )
    m2 = lake._m_load(path, lake.latest_version(path))
    ents = lake._m_entries(path, m2)
    newest = max(e["seq"] for e in ents)
    carried = [e for e in ents if e["seq"] != newest]
    assert len(carried) >= 3  # bloom pruned inside the txn plan too
    assert all(
        "bloom" in e
        for e in ents
        if e["seq"] == newest and e.get("rows")
    )
    got = {r.k: r.v for r in cat.read(spark, "t").collect()}
    assert got[_md5(1)] == -1 and len(got) == 300


def test_pred_compile_matches_reference_with_blooms():
    """The compiled evaluator and the uncompiled reference agree on
    entries that carry Bloom filters (eq hit, eq miss, in mixed,
    cross-type, missing filter)."""
    bf = bloom_build(["a", "b", "c"])
    entries = [
        {"partition": {}, "stats": {"k": ["a", "z"]}, "bloom": {"k": bf}},
        {"partition": {}, "stats": {"k": ["a", "z"]}},
        {"partition": {}, "bloom": {"k": bf}},
    ]
    preds = [
        ("eq", "k", "a"),
        ("eq", "k", "zz"),
        ("eq", "k", 5),
        ("in", "k", ["a", "zz"]),
        ("in", "k", ["x1", "x2"]),
        ("in", "k", [None, "x1"]),
        ("and", ("eq", "k", "zz"), ("notnull", "k")),
        ("or", ("eq", "k", "zz"), ("eq", "k", "a")),
    ]
    for pred in preds:
        f = lake._pred_compile(pred, None)
        for e in entries:
            assert f(e) == lake._pred_maybe_uncompiled(e, pred, None), (
                pred,
                e.keys(),
            )
    # and the verdicts themselves: miss refutes, hit keeps
    f = lake._pred_compile(("eq", "k", "zz"), None)
    assert f(entries[0]) is False
    f = lake._pred_compile(("eq", "k", "a"), None)
    assert f(entries[0]) is True


def test_bloom_sidecar_form(spark, tmp_path):
    """Filters past BLOOM_INLINE_MAX_BITS leave the manifest JSON:
    the entry keeps {m,k,t,ref}, the bitset lives in a .bloom sidecar
    next to its data file, and pruning resolves it transparently —
    including through a shallow clone (repathed refs)."""
    import os

    p = str(tmp_path / "big")
    # 30k rows / 2 files → ~15k values/file → 2^18 bits > inline max
    df = (
        spark.range(30_000)
        .select(
            F.md5(F.col("id").cast("string")).alias("k"),
            F.col("id").alias("v"),
        )
        .repartition(2, F.col("k"))
    )
    lake.write_table(df, p, bloom_keys="k")
    ents = [
        e
        for e in lake._m_entries(p, lake._m_load(p, 0))
        if e.get("rows")
    ]
    for e in ents:
        bf = e["bloom"]["k"]
        assert "b" not in bf and "ref" in bf, bf.keys()
        assert os.path.exists(os.path.join(p, bf["ref"]))
    # absent-key delete still reads back zero data files
    v = lake.delete_predicate(spark, p, ("eq", "k", "f" * 32))
    new = [
        e
        for e in lake._m_entries(p, lake._m_load(p, v))
        if e["seq"] == v and e.get("rows")
    ]
    assert new == []
    # shallow clone: refs repathed, pruning still refutes
    c = str(tmp_path / "clone")
    lake.clone_table(p, c)
    v2 = lake.delete_predicate(spark, c, ("eq", "k", "e" * 32))
    new2 = [
        e
        for e in lake._m_entries(c, lake._m_load(c, v2))
        if e["seq"] == v2 and e.get("rows")
    ]
    assert new2 == []
    assert lake.read_table(spark, c).count() == 30_000


def test_bloom_optin_survives_every_verb(spark, tmp_path):
    """The opt-in is a table-lifetime property: compaction restamps
    the packed files, restore / branch / publish / clone keep the
    manifest-level list (the four direct m_manifest sites)."""
    import os

    p = str(tmp_path / "t")
    df = (
        spark.range(1000)
        .select(
            F.md5(F.col("id").cast("string")).alias("k"),
            F.col("id").alias("v"),
        )
        .repartition(4, F.col("k"))
    )
    lake.write_table(df, p, bloom_keys="k")
    v = lake.compact(spark, p)
    m = lake._m_load(p, v)
    assert m["bloom_keys"] == ["k"]
    assert all(
        "bloom" in e for e in lake._m_entries(p, m) if e.get("rows")
    )
    assert lake._m_load(p, lake.restore_table(spark, p, 0))[
        "bloom_keys"
    ] == ["k"]
    br = lake.create_branch(p, "dev")
    assert lake._m_load(br, lake.latest_version(br))["bloom_keys"] == [
        "k"
    ]
    c = str(tmp_path / "c")
    lake.clone_table(p, c)
    assert lake._m_load(c, 0)["bloom_keys"] == ["k"]
    # a mutation on the branch still stamps (inherit through commit)
    ups = spark.createDataFrame([("zz", 1)], "k string, v long")
    bv = lake.merge_upsert(spark, br, ups, keys=["k"])
    bm = lake._m_load(br, bv)
    assert bm["bloom_keys"] == ["k"]
    assert all(
        "bloom" in e
        for e in lake._m_entries(br, bm)
        if e["seq"] == bv and e.get("rows")
    )
    assert os  # keep the import honest under linters


def test_set_bloom_keys_backfill_and_drop(spark, tmp_path):
    """ALTER-style backfill: a table created WITHOUT the opt-in gains
    filters over its existing files in one dataChange=False commit
    (the change feed must skip it); DROP clears both the opt-in and
    the entry filters; validation rejects partition columns, missing
    columns, and non-key-material types."""
    p = str(tmp_path / "t")
    df = (
        spark.range(1500)
        .select(
            F.md5(F.col("id").cast("string")).alias("k"),
            (F.col("id") % 2).cast("string").alias("s"),
            F.col("id").alias("v"),
        )
        .repartition(4, F.col("k"))
    )
    lake.write_table(df, p, partition_by=["s"])
    assert lake.table_bloom_keys(p) == []
    v = lake.set_bloom_keys(spark, p, "k")
    assert lake.table_bloom_keys(p) == ["k"]
    m = lake._m_load(p, v)
    assert m["op"] == {"name": "SET_BLOOM_KEYS", "dataChange": False}
    assert all(
        "bloom" in e for e in lake._m_entries(p, m) if e.get("rows")
    )
    # future commits keep stamping
    ups = spark.createDataFrame(
        [(_md5(1), "1", -1)], "k string, s string, v long"
    )
    v2 = lake.merge_upsert(spark, p, ups, keys=["k"])
    m2 = lake._m_load(p, v2)
    assert all(
        "bloom" in e
        for e in lake._m_entries(p, m2)
        if e["seq"] == v2 and e.get("rows")
    )
    # validation gates
    with pytest.raises(ValueError, match="partition column"):
        lake.set_bloom_keys(spark, p, "s")
    with pytest.raises(ValueError, match="Bloom key material"):
        lake.set_bloom_keys(spark, p, "zz")
    # drop clears
    v3 = lake.set_bloom_keys(spark, p, [])
    assert lake.table_bloom_keys(p) == []
    m3 = lake._m_load(p, v3)
    assert all("bloom" not in e for e in lake._m_entries(p, m3))
    assert m3["op"]["name"] == "DROP_BLOOM_KEYS"
    # contents: the one merged update landed, nothing else moved
    got = {r.k: r.v for r in lake.read_table(spark, p).collect()}
    assert len(got) == 1500 and got[_md5(1)] == -1


def test_set_bloom_keys_after_rename(spark, tmp_path):
    """Backfill resolves the LOGICAL name through the frozen physical
    mapping — indexing a renamed column reads the right file bytes."""
    p = str(tmp_path / "t")
    df = spark.range(800).select(
        F.md5(F.col("id").cast("string")).alias("k"),
        F.col("id").alias("v"),
    ).repartition(3, F.col("k"))
    lake.write_table(df, p)
    lake.rename_columns(spark, p, {"k": "key"})
    v = lake.set_bloom_keys(spark, p, "key")
    m = lake._m_load(p, v)
    assert m["bloom_keys"] == ["key"]
    ents = [e for e in lake._m_entries(p, m) if e.get("rows")]
    assert all("key" in e["bloom"] for e in ents)
    # and it refutes: absent-key delete reads nothing
    v2 = lake.delete_predicate(spark, p, ("eq", "key", "f" * 32))
    ghosts = [
        e
        for e in lake._m_entries(p, lake._m_load(p, v2))
        if e["seq"] == v2 and e.get("rows")
    ]
    assert ghosts == []


def test_sql_alter_bloom_keys(spark, tmp_path):
    """ALTER TABLE '<p>' SET BLOOM KEYS (k) / DROP BLOOM KEYS through
    the statement facade."""
    from spype_spark.sqltext import sql as lake_sql

    p = str(tmp_path / "t")
    df = spark.range(500).select(
        F.md5(F.col("id").cast("string")).alias("k"),
        F.col("id").alias("v"),
    )
    lake.write_table(df, p)
    lake_sql(spark, f"ALTER TABLE '{p}' SET BLOOM KEYS (k)")
    assert lake.table_bloom_keys(p) == ["k"]
    lake_sql(spark, f"ALTER TABLE '{p}' DROP BLOOM KEYS")
    assert lake.table_bloom_keys(p) == []
    with pytest.raises(ValueError, match="unparseable BLOOM KEYS"):
        lake_sql(spark, f"ALTER TABLE '{p}' SET BLOOM KEYS (a b)")
