"""Versioned-Parquet lakehouse semantics: snapshot immutability, MERGE
correctness, commit visibility, compaction invariants."""

import pytest
from pyspark.sql import functions as F

from spype_spark import lakehouse as lake
from spype_spark import manifest_log as mlog


@pytest.fixture()
def tbl(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, s string, v double",
    )
    path = str(tmp_path / "tbl")
    lake.write_table(df, path)
    return path


def rows(df):
    return {tuple(r) for r in df.collect()}


def test_create_then_read(spark, tbl):
    assert lake.versions(tbl) == [0]
    assert rows(lake.read_table(spark, tbl)) == {
        (1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)
    }


def test_create_twice_fails(spark, tbl):
    with pytest.raises(FileExistsError):
        lake.write_table(lake.read_table(spark, tbl), tbl)


def test_merge_update_and_insert(spark, tbl):
    upd = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "k long, s string, v double"
    )
    v = lake.merge_upsert(spark, tbl, upd, keys=["k"])
    assert v == 1
    assert rows(lake.read_table(spark, tbl)) == {
        (1, "a", 10.0), (2, "B", 99.0), (3, "c", 30.0), (4, "d", 40.0)
    }


def test_time_travel_is_immutable(spark, tbl):
    upd = spark.createDataFrame([(1, "X", 0.0)], "k long, s string, v double")
    lake.merge_upsert(spark, tbl, upd, keys=["k"])
    lake.delete_where(spark, tbl, F.col("k") == 2)
    # v0 unchanged through both operations
    assert rows(lake.read_table(spark, tbl, version=0)) == {
        (1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)
    }
    assert rows(lake.read_table(spark, tbl)) == {(1, "X", 0.0), (3, "c", 30.0)}


def test_delete_keeps_null_predicate_rows(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], "k long, v double"
    )
    path = str(tmp_path / "t2")
    lake.write_table(df, path)
    lake.delete_where(spark, path, F.col("v") > 15)
    # row 2 (NULL predicate) must survive a DELETE WHERE v > 15
    assert rows(lake.read_table(spark, path)) == {(1, 10.0), (2, None)}


def test_compact_shrinks_files_preserves_content(spark, tmp_path):
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).repartition(12)
    path = str(tmp_path / "t3")
    lake.write_table(df, path)
    assert len(lake.data_files(path, 0)) == 12
    v = lake.compact(spark, path, target_files=1)
    assert len(lake.data_files(path, v)) == 1
    assert rows(lake.read_table(spark, path)) == rows(
        lake.read_table(spark, path, version=0)
    )


def test_uncommitted_snapshot_invisible(spark, tbl, tmp_path):
    # simulate a commit that died before its put-if-absent publish: a
    # fully written temp manifest that never became v=1.json
    import json
    import os

    m = lake._m_load(tbl, 0)
    with open(os.path.join(tbl, "_manifests", ".tmp-dead.json"), "w") as f:
        json.dump(dict(m, version=1), f)
    assert lake.versions(tbl) == [0]
    assert lake.latest_version(tbl) == 0
    with pytest.raises(FileNotFoundError):
        lake.read_table(spark, tbl, version=1)


def test_history_counts_files(spark, tbl):
    upd = spark.createDataFrame([(9, "z", 1.0)], "k long, s string, v double")
    lake.merge_upsert(spark, tbl, upd, keys=["k"])
    lake.compact(spark, tbl, target_files=1)
    h = {r.version: r.n_files for r in lake.history(spark, tbl).collect()}
    assert set(h) == {0, 1, 2}
    assert h[2] == 1


def test_history_skips_a_version_vacuumed_mid_listing(
    spark, tbl, monkeypatch
):
    """A vacuum that lands between history()'s version listing and its
    manifest loads drops that version from the result instead of
    failing the call."""
    upd = spark.createDataFrame([(9, "z", 1.0)], "k long, s string, v double")
    lake.merge_upsert(spark, tbl, upd, keys=["k"])
    lake.vacuum(tbl, keep_last=1, grace_seconds=0)
    monkeypatch.setattr(lake, "versions", lambda path: [0, 1])
    got = [tuple(r) for r in lake.history(spark, tbl).collect()]
    assert got == [(1, len(lake.data_files(tbl, 1)), "MERGE")]


def test_table_meta_follows_partition_spec_and_restore(spark, tmp_path):
    """table_meta reads the HEAD manifest: it follows a partition-spec
    change and a restore, and no _table.json sidecar is written."""
    import json
    import os

    path = str(tmp_path / "tm")
    df = spark.createDataFrame(
        [(1, 0, 5), (2, 1, 6)], "k long, p long, q long"
    )
    lake.write_table(df, path, partition_by="p")
    assert lake.table_meta(path)["partition_by"] == ["p"]
    lake.set_partition_spec(spark, path, "q")
    assert lake.table_meta(path)["partition_by"] == ["q"]
    lake.restore_table(spark, path, 0)
    assert lake.table_meta(path)["partition_by"] == ["p"]
    assert not os.path.exists(os.path.join(path, "_table.json"))
    # a table created before the manifest became the only source keeps
    # its stale sidecar; the head manifest still wins
    with open(os.path.join(path, "_table.json"), "w") as f:
        json.dump({"partition_by": ["q"], "protocol": "manifest"}, f)
    assert lake.table_meta(path)["partition_by"] == ["p"]
    assert lake.table_meta(str(tmp_path / "absent")) == {}


def test_merge_schema_evolution(spark, tbl):
    upd = spark.createDataFrame(
        [(2, "B", 99.0, "eu"), (4, "d", 40.0, "us")],
        "k long, s string, v double, region string",
    )
    # off by default: unknown columns must raise, not silently drop/add
    with pytest.raises(ValueError, match="evolve_schema"):
        lake.merge_upsert(spark, tbl, upd, keys=["k"])
    v = lake.merge_upsert(spark, tbl, upd, keys=["k"], evolve_schema=True)
    got = rows(lake.read_table(spark, tbl, version=v).select("k", "s", "v", "region"))
    assert got == {
        (1, "a", 10.0, None),   # carried-over rows get NULL in the new col
        (2, "B", 99.0, "eu"),
        (3, "c", 30.0, None),
        (4, "d", 40.0, "us"),
    }
    # v0 untouched: time travel still shows the pre-evolution schema
    assert "region" not in lake.read_table(spark, tbl, version=0).columns


def test_two_writer_merge_race_serializes_or_fails_clean(spark, tbl):
    """Two threads MERGE concurrently. Legal outcomes: both serialize
    (saw different bases) or the loser fails with ConcurrentWriteError;
    every committed version stays a complete readable snapshot either
    way — never a corrupt mix of the two writers' files."""
    import threading

    upd_a = spark.createDataFrame([(2, "A", 1.0)], "k long, s string, v double")
    upd_b = spark.createDataFrame([(3, "B", 2.0)], "k long, s string, v double")
    results = {}
    barrier = threading.Barrier(2)

    def run(name, upd):
        try:
            barrier.wait()
            results[name] = ("ok", lake.merge_upsert(spark, tbl, upd, keys=["k"]))
        except lake.ConcurrentWriteError:
            results[name] = ("conflict", None)

    ts = [
        threading.Thread(target=run, args=("a", upd_a)),
        threading.Thread(target=run, args=("b", upd_b)),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()

    ok = [r for r in results.values() if r[0] == "ok"]
    assert 1 <= len(ok) <= 2, results
    # committed versions are dense 0..latest and every one is readable
    vs = lake.versions(tbl)
    assert vs == list(range(len(ok) + 1)), (vs, results)
    for v in vs:
        snap = lake.read_table(spark, tbl, version=v)
        assert snap.count() == 3  # merges here only update, never insert
        assert {r.k for r in snap.collect()} == {1, 2, 3}
    # no temp debris regardless of outcome
    import os

    assert not [d for d in os.listdir(tbl) if d.startswith(".tmp-")]


def test_conditional_merge_newer_wins(spark, tmp_path):
    """MERGE WHEN MATCHED AND <cond>: stale updates lose, fresh ones
    win, inserts always land — and replaying batches in the opposite
    order converges to the same table (the CDC semilattice property
    q_stream_lake_upsert rests on)."""
    path = str(tmp_path / "cdc")
    t0 = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b")], "k long, ver long, v string"
    )
    b1 = spark.createDataFrame(
        [(1, 5, "stale"), (2, 30, "fresh"), (3, 1, "insert")],
        "k long, ver long, v string",
    )
    newer = lambda u, t: u["ver"] > t["ver"]  # noqa: E731
    lake.write_table(t0, path)
    lake.merge_upsert(spark, path, b1, keys=["k"], match_condition=newer)
    got = rows(lake.read_table(spark, path))
    assert got == {(1, 10, "a"), (2, 30, "fresh"), (3, 1, "insert")}

    # replay: applying t0's rows as a LATER batch must change nothing
    lake.merge_upsert(spark, path, t0, keys=["k"], match_condition=newer)
    assert rows(lake.read_table(spark, path)) == got


def test_stream_lake_upsert_equals_batch_latest(spark, sf_dir):
    """The CDC streaming drain (random batch order, conditional merge)
    must equal the batch latest-event-per-user answer exactly."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from spype_spark.streaming.jobs import run_stream_lake_upsert
    from spype_spark.tables import load_table

    got = {
        (r.user_id, r.event_id, r.last_ts)
        for r in run_stream_lake_upsert(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(F.desc("us"), F.desc("event_id"))
    want = {
        (r.user_id, r.event_id, r.last_ts)
        for r in ev.select("user_id", "event_id", us.alias("us"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            F.date_format(
                F.timestamp_micros(F.col("us")), "yyyy-MM-dd HH:mm:ss"
            ).alias("last_ts"),
        )
        .collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Model-based fuzz (round 7): random MERGE/conditional-MERGE/DELETE
# sequences vs a pure-Python reference model, with every intermediate
# version replayed through time travel. The lakehouse is a state
# machine; example-based tests cover each transition once — this
# covers random interleavings (the place upsert-vs-delete ordering
# bugs or stale-base commits would surface).
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_KEYS = st.integers(0, 9)
_op = st.one_of(
    st.tuples(
        st.just("upsert"),
        st.dictionaries(_KEYS, st.tuples(st.integers(0, 99), st.integers(0, 9)),
                        min_size=1, max_size=5),
    ),
    st.tuples(
        st.just("upsert_ts"),  # conditional: newer-or-equal ts wins
        st.dictionaries(_KEYS, st.tuples(st.integers(0, 99), st.integers(0, 9)),
                        min_size=1, max_size=5),
    ),
    st.tuples(st.just("delete_mod"), st.tuples(st.integers(2, 4), st.integers(0, 3))),
    # positional DV delete: every kept older file gains a DV record
    st.tuples(st.just("delete_dv"), st.tuples(st.integers(2, 4), st.integers(0, 3))),
    st.tuples(
        st.just("delete_keys"),
        st.sets(_KEYS, min_size=1, max_size=4),
    ),
    st.tuples(st.just("restore"), st.integers(0, 3)),
    st.tuples(
        st.just("merge_sync"),  # full-clause: update+insert+by-source-delete
        st.dictionaries(_KEYS, st.tuples(st.integers(0, 99), st.integers(0, 9)),
                        min_size=1, max_size=5),
    ),
)


@pytest.mark.slow
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_op, min_size=1, max_size=4))
def test_lakehouse_random_op_sequences_match_model(
    spark, tmp_path_factory, ops
):
    import shutil as _sh
    import tempfile as _tf

    path = _tf.mkdtemp(prefix="lake_fuzz_", dir="/tmp")
    _sh.rmtree(path)  # write_table wants to create v=0 itself
    try:
        model: dict[int, tuple[int, int]] = {0: (1, 5)}
        df0 = spark.createDataFrame([(0, 1, 5)], "k long, v long, ts long")
        lake.write_table(df0, path)
        snapshots = [dict(model)]
        for kind, arg in ops:
            if kind == "upsert":
                upd = spark.createDataFrame(
                    [(k, v, ts) for k, (v, ts) in sorted(arg.items())],
                    "k long, v long, ts long",
                )
                lake.merge_upsert(spark, path, upd, keys=["k"])
                model.update(arg)
            elif kind == "upsert_ts":
                upd = spark.createDataFrame(
                    [(k, v, ts) for k, (v, ts) in sorted(arg.items())],
                    "k long, v long, ts long",
                )
                lake.merge_upsert(
                    spark, path, upd, keys=["k"],
                    match_condition=lambda u, t: u["ts"] >= t["ts"],
                )
                for k, (v, ts) in arg.items():
                    if k not in model or ts >= model[k][1]:
                        model[k] = (v, ts)
            elif kind in ("delete_mod", "delete_dv"):
                m, r = arg
                delete = lake.delete_where if kind == "delete_mod" else lake.delete_where_dv
                delete(spark, path, F.col("v") % m == r)
                model = {k: vt for k, vt in model.items() if vt[0] % m != r}
            elif kind == "delete_keys":  # merge-on-read tombstones
                kd = spark.createDataFrame(
                    [(k,) for k in sorted(arg)], "k long"
                )
                lake.delete_keys(spark, path, kd)
                model = {k: vt for k, vt in model.items() if k not in arg}
            elif kind == "restore":
                ver = min(arg, len(snapshots) - 1)
                lake.restore_table(spark, path, ver)
                model = dict(snapshots[ver])
            else:  # merge_sync: full-clause sync-to-source merge
                src = spark.createDataFrame(
                    [(k, v, ts) for k, (v, ts) in sorted(arg.items())],
                    "k long, v long, ts long",
                )
                lake.merge(
                    spark, path, src, keys=["k"],
                    when_not_matched_by_source="delete",
                    by_source_condition=lambda t: t["v"] % 2 == 0,
                )
                model = {
                    k: vt for k, vt in model.items()
                    if k in arg or vt[0] % 2 != 0
                }
                model.update(arg)
            snapshots.append(dict(model))
        # final state AND every intermediate version via time travel
        for ver, snap in enumerate(snapshots):
            got = {
                r.k: (r.v, r.ts)
                for r in lake.read_table(spark, path, version=ver).collect()
            }
            assert got == snap, f"version {ver}: ops={ops}"
        # the change feed of every step equals the diff of the
        # consecutive model snapshots
        want = set()
        for ver in range(1, len(snapshots)):
            before, after = snapshots[ver - 1], snapshots[ver]
            for k in before.keys() | after.keys():
                if k not in before:
                    want.add((ver, k, "insert"))
                elif k not in after:
                    want.add((ver, k, "delete"))
                elif before[k] != after[k]:
                    want.add((ver, k, "update"))
        feed = {
            (r.version, r.k, r.op)
            for r in lake.changes(spark, path, ["k"]).collect()
        }
        assert feed == want, f"ops={ops}"
    finally:
        _sh.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# Partition-level copy-on-write (round 7)
# ---------------------------------------------------------------------------


def _mk_part_table(spark, tmp_path, name="pt"):
    path = str(tmp_path / name)
    df = spark.createDataFrame(
        [(k, k * 10, k % 3) for k in range(9)], "k long, v long, p long"
    )
    lake.write_table(df, path, partition_by="p")
    return path


def _leaf_files(path, version, **part):
    """Data files of ``version`` whose manifest entry records the
    partition values ``part`` (``{col: value}``; values compare as the
    recorded canonical strings)."""
    want = {c: str(v) for c, v in part.items()}
    m = lake._m_load(path, version)
    return {
        e["path"]
        for e in lake._m_entries(path, m)
        if all(e["partition"].get(c) == v for c, v in want.items())
    }


def test_partitioned_merge_rewrites_only_touched_partitions(spark, tmp_path):
    """A merge whose updates land in (and match keys only in) p=1 must
    carry p=0 and p=2 unchanged — the same manifest entries as the base
    version — while p=1 is fresh files. Content equals the full-rewrite
    answer."""
    path = _mk_part_table(spark, tmp_path)
    upd = spark.createDataFrame([(1, 111, 1), (10, 100, 1)], "k long, v long, p long")
    lake.merge_upsert(spark, path, upd, keys=["k"])
    got = {(r.k, r.v, r.p) for r in lake.read_table(spark, path).collect()}
    want = {(k, k * 10, k % 3) for k in range(9) if k != 1} | {
        (1, 111, 1),
        (10, 100, 1),
    }
    assert got == want
    for part in (0, 2):  # untouched: shared files by reference
        assert _leaf_files(path, 1, p=part) == _leaf_files(path, 0, p=part)
    # touched partition: rewritten, no file shared with the base
    assert _leaf_files(path, 1, p=1)
    assert not _leaf_files(path, 1, p=1) & _leaf_files(path, 0, p=1)


def test_partitioned_merge_cross_partition_key_move(spark, tmp_path):
    """An update that MOVES a key to another partition must rewrite
    BOTH the old and new partitions (no stale duplicate left behind)."""
    path = _mk_part_table(spark, tmp_path)
    upd = spark.createDataFrame([(0, 999, 2)], "k long, v long, p long")
    lake.merge_upsert(spark, path, upd, keys=["k"])
    got = {(r.k, r.v, r.p) for r in lake.read_table(spark, path).collect()}
    want = {(k, k * 10, k % 3) for k in range(1, 9)} | {(0, 999, 2)}
    assert got == want  # exactly one row for k=0, in its new partition
    # p=1 untouched; the old home p=0 loses the file that held k=0 and
    # the new home p=2 gains a fresh file
    assert _leaf_files(path, 1, p=1) == _leaf_files(path, 0, p=1)
    assert _leaf_files(path, 0, p=0) - _leaf_files(path, 1, p=0)
    assert _leaf_files(path, 1, p=2) - _leaf_files(path, 0, p=2)


def test_partitioned_delete_drops_partition_and_links_rest(spark, tmp_path):
    path = _mk_part_table(spark, tmp_path)
    lake.delete_where(spark, path, F.col("p") == 2)
    got = {(r.k, r.v, r.p) for r in lake.read_table(spark, path).collect()}
    assert got == {(k, k * 10, k % 3) for k in range(9) if k % 3 != 2}
    assert not _leaf_files(path, 1, p=2)
    for part in (0, 1):
        assert _leaf_files(path, 1, p=part) == _leaf_files(path, 0, p=part)
    # time travel still sees the deleted partition in v=0
    assert lake.read_table(spark, path, version=0).count() == 9


def test_partitioned_compact_and_history(spark, tmp_path):
    path = _mk_part_table(spark, tmp_path)
    lake.compact(spark, path, target_files=1)
    got = {(r.k, r.v, r.p) for r in lake.read_table(spark, path).collect()}
    assert got == {(k, k * 10, k % 3) for k in range(9)}
    # the rewrite keeps the layout: one file per partition, each entry
    # recording its partition value
    for part in (0, 1, 2):
        assert len(_leaf_files(path, 1, p=part)) == 1, part
    assert {r.op for r in lake.history(spark, path).collect()} == {
        "WRITE", "COMPACT"
    }


@pytest.mark.slow
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_op, min_size=1, max_size=4))
def test_partitioned_lakehouse_sequences_match_model(
    spark, tmp_path_factory, ops
):
    """The model-based fuzz re-run against a PARTITIONED table
    (p = k % 3, partition-level copy-on-write active): every operation
    sequence and every time-travel snapshot must match the same
    pure-Python model the unpartitioned table matches — COW by
    manifest reference is a storage optimization, never a semantics
    change."""
    import shutil as _sh
    import tempfile as _tf

    path = _tf.mkdtemp(prefix="lake_pfuzz_", dir="/tmp")
    _sh.rmtree(path)
    try:
        model: dict[int, tuple[int, int]] = {0: (1, 5)}
        df0 = spark.createDataFrame(
            [(0, 1, 5, 0)], "k long, v long, ts long, p long"
        )
        lake.write_table(df0, path, partition_by="p")
        snapshots = [dict(model)]
        for kind, arg in ops:
            if kind in ("upsert", "upsert_ts"):
                upd = spark.createDataFrame(
                    [(k, v, ts, k % 3) for k, (v, ts) in sorted(arg.items())],
                    "k long, v long, ts long, p long",
                )
                if kind == "upsert":
                    lake.merge_upsert(spark, path, upd, keys=["k"])
                    model.update(arg)
                else:
                    lake.merge_upsert(
                        spark, path, upd, keys=["k"],
                        match_condition=lambda u, t: u["ts"] >= t["ts"],
                    )
                    for k, (v, ts) in arg.items():
                        if k not in model or ts >= model[k][1]:
                            model[k] = (v, ts)
            elif kind in ("delete_mod", "delete_dv"):
                m, r = arg
                delete = lake.delete_where if kind == "delete_mod" else lake.delete_where_dv
                delete(spark, path, F.col("v") % m == r)
                model = {k: vt for k, vt in model.items() if vt[0] % m != r}
            elif kind == "delete_keys":  # MOR tombstones, partitioned
                kd = spark.createDataFrame(
                    [(k,) for k in sorted(arg)], "k long"
                )
                lake.delete_keys(spark, path, kd)
                model = {k: vt for k, vt in model.items() if k not in arg}
            elif kind == "restore":
                ver = min(arg, len(snapshots) - 1)
                lake.restore_table(spark, path, ver)
                model = dict(snapshots[ver])
            else:  # merge_sync: full-clause merge over a partitioned table
                src = spark.createDataFrame(
                    [(k, v, ts, k % 3) for k, (v, ts) in sorted(arg.items())],
                    "k long, v long, ts long, p long",
                )
                lake.merge(
                    spark, path, src, keys=["k"],
                    when_not_matched_by_source="delete",
                    by_source_condition=lambda t: t["v"] % 2 == 0,
                )
                model = {
                    k: vt for k, vt in model.items()
                    if k in arg or vt[0] % 2 != 0
                }
                model.update(arg)
            snapshots.append(dict(model))
        for ver, snap in enumerate(snapshots):
            got = {
                r.k: (r.v, r.ts)
                for r in lake.read_table(spark, path, version=ver).collect()
            }
            assert got == snap, f"version {ver}: ops={ops}"
    finally:
        _sh.rmtree(path, ignore_errors=True)


def test_multicolumn_partitioned_cow(spark, tmp_path):
    """Two-level (d, s) partitioning — the date+shard layout SCALE.md
    assumes at 100 TB: a merge touching only (d=1, s=0) must carry
    every OTHER leaf partition (including d=1's other shard) by
    reference and rewrite exactly the touched leaf."""
    path = str(tmp_path / "mt")
    df = spark.createDataFrame(
        [(k, k * 10, k % 2, k % 3) for k in range(12)],
        "k long, v long, d long, s long",
    )
    lake.write_table(df, path, partition_by=["d", "s"])
    # k=3 → (d=1, s=0); update stays in its own leaf
    upd = spark.createDataFrame([(3, 999, 1, 0)], "k long, v long, d long, s long")
    lake.merge_upsert(spark, path, upd, keys=["k"])
    got = {(r.k, r.v, r.d, r.s) for r in lake.read_table(spark, path).collect()}
    want = {(k, k * 10, k % 2, k % 3) for k in range(12) if k != 3} | {
        (3, 999, 1, 0)
    }
    assert got == want

    def leaf(ver, d, sh):
        return _leaf_files(path, ver, d=d, s=sh)

    for d, sh in [(0, 0), (0, 1), (0, 2), (1, 1), (1, 2)]:
        assert leaf(1, d, sh) == leaf(0, d, sh), (d, sh)
    # the touched leaf is rewritten at FILE granularity: at least one
    # fresh file (the rewrite output) exists; base files whose key
    # stats can't contain k=3 may legitimately carry over
    assert leaf(1, 1, 0) - leaf(0, 1, 0), "no rewritten file in touched leaf"
    # delete an entire date: both its shards go, the other date carries
    lake.delete_where(spark, path, F.col("d") == 0)
    assert not _leaf_files(path, 2, d=0)
    assert lake.read_table(spark, path).filter("d = 0").count() == 0
    for d, sh in [(1, 1), (1, 2)]:
        assert leaf(2, d, sh) == leaf(1, d, sh), (d, sh)


def test_file_level_manifest_pruning(spark, tmp_path):
    """File-granularity copy-on-write inside a touched partition: the
    base is written as 4 range-clustered files per partition (disjoint
    key intervals in the manifest stats); a merge keyed in one narrow
    range must carry every file whose interval can't contain the keys
    and rewrite only the possibly-matching one. Content equals the
    full-rewrite answer."""
    path = str(tmp_path / "flt")
    df = spark.createDataFrame(
        [(k, k * 10, 0) for k in range(400)], "k long, v long, p long"
    )
    lake.write_table(df.repartitionByRange(4, "k"), path, partition_by="p")
    base_files = _leaf_files(path, 0, p=0)
    assert len(base_files) == 4  # one file per key range

    upd = spark.createDataFrame(
        [(5, 999, 0), (7, 777, 0)], "k long, v long, p long"
    )
    lake.merge_upsert(spark, path, upd, keys=["k"])
    got = {(r.k, r.v) for r in lake.read_table(spark, path).collect()}
    want = {(k, k * 10) for k in range(400) if k not in (5, 7)} | {
        (5, 999),
        (7, 777),
    }
    assert got == want

    v1_files = _leaf_files(path, 1, p=0)
    carried = v1_files & base_files
    # keys 5 and 7 live in ONE of the four range files → exactly 3 of
    # the base files carry over by reference, plus fresh rewrite output
    assert len(carried) == 3, (carried, v1_files)
    assert v1_files - base_files


def test_vacuum_respects_hardlinked_carries(spark, tmp_path):
    """VACUUM drops old versions; data files a surviving version
    carries by reference must remain readable (the GC refcounts them by
    path), and time travel to a vacuumed version raises."""
    path = _mk_part_table(spark, tmp_path, name="vac")
    upd = spark.createDataFrame([(1, 111, 1)], "k long, v long, p long")
    lake.merge_upsert(spark, path, upd, keys=["k"])  # v1: p=0/p=2 linked
    before = {(r.k, r.v, r.p) for r in lake.read_table(spark, path).collect()}
    removed = lake.vacuum(path, keep_last=1)
    assert removed == [0]
    assert lake.versions(path) == [1]
    after = {(r.k, r.v, r.p) for r in lake.read_table(spark, path).collect()}
    assert after == before  # linked files survived their origin snapshot
    import pytest as _pt

    with _pt.raises(FileNotFoundError):
        lake.read_table(spark, path, version=0)


def test_vacuum_refuses_a_path_without_a_table(spark, tmp_path):
    """vacuum on a directory that holds no committed version (here one
    shaped like an Iceberg table: data/*.parquet, no _manifests/)
    raises and deletes nothing, even with no retention grace."""
    import os

    foreign = str(tmp_path / "foreign")
    spark.range(3).write.parquet(os.path.join(foreign, "data"))
    before = sorted(os.listdir(os.path.join(foreign, "data")))
    with pytest.raises(FileNotFoundError):
        lake.vacuum(foreign, keep_last=1, grace_seconds=0)
    assert sorted(os.listdir(os.path.join(foreign, "data"))) == before


def test_delete_range_prunes_files_and_matches_delete_where(spark, tmp_path):
    """delete_range must (a) equal delete_where(col BETWEEN lo AND hi)
    row-for-row, and (b) carry by reference every data file whose
    recorded interval misses the deleted range — on partitioned AND
    unpartitioned tables."""
    # partitioned: 4 range-clustered files inside p=0
    path = str(tmp_path / "dr")
    df = spark.createDataFrame(
        [(k, k * 10, 0) for k in range(400)], "k long, v long, p long"
    )
    lake.write_table(df.repartitionByRange(4, "k"), path, partition_by="p")
    twin = str(tmp_path / "dr_twin")
    lake.write_table(df.repartitionByRange(4, "k"), twin, partition_by="p")

    lake.delete_range(spark, path, "k", 10, 20)
    lake.delete_where(spark, twin, F.col("k").between(10, 20))
    got = {(r.k, r.v) for r in lake.read_table(spark, path).collect()}
    want = {(r.k, r.v) for r in lake.read_table(spark, twin).collect()}
    assert got == want == {(k, k * 10) for k in range(400) if not 10 <= k <= 20}

    shared = set(lake.data_files(path, 1)) & set(lake.data_files(path, 0))
    assert len(shared) == 3, "3 of 4 range files must carry by reference"

    # unpartitioned: same pruning across the whole table
    flat = str(tmp_path / "dr_flat")
    lake.write_table(df.select("k", "v").repartitionByRange(4, "k"), flat)
    lake.delete_range(spark, flat, "k", 390, 600)
    got_flat = {(r.k, r.v) for r in lake.read_table(spark, flat).collect()}
    assert got_flat == {(k, k * 10) for k in range(390)}
    assert len(set(lake.data_files(flat, 1)) & set(lake.data_files(flat, 0))) == 3


def test_string_partition_values_round_trip_typed(spark, tmp_path):
    """Regression (round-8 ADVICE, high): a STRING partition column with
    numeric-looking values ('001', '002') must round-trip typed — the
    manifest schema bypasses partition-discovery inference, so '001'
    stays the string '001' instead of becoming int 1, and the COW
    touched-partition matcher rewrites the real p=001 files instead of
    carrying them stale and inventing a p=1 twin."""
    path = str(tmp_path / "strp")
    df = spark.createDataFrame(
        [(1, "001"), (2, "001"), (3, "002")], "k long, p string"
    )
    lake.write_table(df, path, partition_by="p")
    rt = lake.read_table(spark, path)
    assert dict(rt.dtypes)["p"] == "string"
    assert rows(rt.select("k", "p")) == {(1, "001"), (2, "001"), (3, "002")}

    lake.delete_where(spark, path, F.col("k") == 1)
    got = rows(lake.read_table(spark, path).select("k", "p"))
    assert got == {(2, "001"), (3, "002")}, (
        "deleted row resurrected or survivor duplicated — the pre-fix "
        "repro returned [(1,'1'),(2,'1'),(2,'1'),(3,'2')]"
    )
    m1 = lake._m_load(path, 1)
    v1_parts = {e["partition"]["p"] for e in lake._m_entries(path, m1)}
    assert v1_parts == {"001", "002"}, f"phantom partition value: {v1_parts}"
    # the untouched p=002 file carried; p=001 rewritten
    assert _leaf_files(path, 1, p="002") == _leaf_files(path, 0, p="002")
    assert not _leaf_files(path, 1, p="001") & _leaf_files(path, 0, p="001")


def test_boolean_partition_values_round_trip_typed(spark, tmp_path):
    """Boolean partition columns read back boolean (not string) thanks
    to the persisted snapshot schema; mutations stay correct (the COW
    planner bails to full rewrite on the 'True' vs 'true' spelling gap — the
    normalization clash check — rather than mismatching)."""
    path = str(tmp_path / "boolp")
    df = spark.createDataFrame(
        [(1, True), (2, False), (3, True)], "k long, flag boolean"
    )
    lake.write_table(df, path, partition_by="flag")
    rt = lake.read_table(spark, path)
    assert dict(rt.dtypes)["flag"] == "boolean"
    lake.delete_where(spark, path, F.col("k") == 1)
    assert rows(lake.read_table(spark, path)) == {(2, False), (3, True)}


def test_delete_range_uncomparable_bounds_fall_back(spark, tmp_path):
    """Regression (round-8 ADVICE, low): delete_range with bounds whose
    Python type is not comparable to the numeric footer stats (string
    bounds on an int column) must fall back to delete_where semantics,
    not raise TypeError from the footer-interval compare."""
    path = str(tmp_path / "drs")
    df = spark.createDataFrame([(k, k * 10) for k in range(40)], "k long, v long")
    lake.write_table(df.repartitionByRange(4, "k"), path)
    lake.delete_range(spark, path, "k", "10", "20")  # string bounds
    got = {r.k for r in lake.read_table(spark, path).collect()}
    assert got == {k for k in range(40) if not 10 <= k <= 20}


# ---------------------------------------------------------------------------
# Manifest commits: object-store-portable structure
# ---------------------------------------------------------------------------


def test_manifest_cow_carries_by_reference(spark, tmp_path):
    """Partition-level copy-on-write on a manifest table: untouched
    partitions' entries appear in the new manifest under their EXACT
    existing paths (shared by reference — the object-store carry), the
    touched partition's files are fresh, and no directory rename or
    hardlink is involved anywhere."""
    path = _mk_part_table(spark, tmp_path)  # manifest is the default
    upd = spark.createDataFrame(
        [(1, 111, 1), (10, 100, 1)], "k long, v long, p long"
    )
    lake.merge_upsert(spark, path, upd, keys=["k"])
    f0, f1 = set(lake.data_files(path, 0)), set(lake.data_files(path, 1))
    got = {(r.k, r.v, r.p) for r in lake.read_table(spark, path).collect()}
    want = {(k, k * 10, k % 3) for k in range(9) if k != 1} | {
        (1, 111, 1),
        (10, 100, 1),
    }
    assert got == want
    carried = f0 & f1
    assert carried, "no entries carried by reference"
    # every carried entry is an untouched partition (p=0 / p=2) or a
    # stats-pruned file; every p=1 data file in v1 is new
    m1 = lake._m_load(path, 1)
    by_path = {e["path"]: e for e in m1["files"]}
    for pth in f1 - f0:
        assert pth not in f0  # fresh files only in the new commit dir
    # no per-version snapshot directories: a version is its manifest
    import os

    assert not os.path.isdir(os.path.join(path, "v=0"))
    assert not os.path.isdir(os.path.join(path, "v=1"))


def test_manifest_publish_put_if_absent_race(spark, tmp_path):
    """Two manifests prepared against the same base: exactly one
    publish wins the version, the loser raises ConcurrentWriteError,
    leaves no temp debris in _manifests/, and the winner's manifest is
    untouched."""
    import os

    path = str(tmp_path / "race")
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    lake.write_table(df, path)
    m = lake._m_load(path, 0)
    win = dict(m, version=1)
    lake._m_publish(path, 1, win)
    before = open(lake._m_path(path, 1)).read()
    with pytest.raises(lake.ConcurrentWriteError):
        lake._m_publish(path, 1, dict(m, version=1, files=[]))
    assert open(lake._m_path(path, 1)).read() == before
    assert [n for n in os.listdir(os.path.join(path, "_manifests"))
            if n.startswith(".tmp-")] == []
    assert lake.versions(path) == [0, 1]


def test_manifest_interrupted_commit_never_half_publishes(spark, tmp_path):
    """A commit that dies AFTER writing its data files but BEFORE the
    manifest publish leaves the table bit-for-bit unchanged: versions()
    and reads see only the old state (the orphan data dir is invisible
    — nothing references it), and the next vacuum collects the orphans.
    This is the property that replaces 'atomic directory rename': the
    data write needs NO atomicity at all."""
    import os

    path = str(tmp_path / "intr")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    lake.write_table(df, path)
    upd = spark.createDataFrame([(2, "B")], "k long, s string")

    real_publish = lake._m_publish
    calls = {"n": 0}

    def dying_publish(p, v, man):
        calls["n"] += 1
        raise RuntimeError("process died before the conditional PUT")

    lake._m_publish = dying_publish
    try:
        with pytest.raises(RuntimeError):
            lake.merge_upsert(spark, path, upd, keys=["k"])
    finally:
        lake._m_publish = real_publish
    assert calls["n"] == 1
    assert lake.versions(path) == [0]
    assert {tuple(r) for r in lake.read_table(spark, path).collect()} == {
        (1, "a"), (2, "b")
    }
    # the orphan commit dir exists but is unreferenced; vacuum GCs it
    orphans = [
        d for d in os.listdir(os.path.join(path, "data"))
    ]
    assert len(orphans) == 2  # v0's commit + the orphan
    lake.vacuum(path, keep_last=1, grace_seconds=0)
    assert len(os.listdir(os.path.join(path, "data"))) == 1
    # and the retry path works: the same merge now commits cleanly
    lake.merge_upsert(spark, path, upd, keys=["k"])
    assert {tuple(r) for r in lake.read_table(spark, path).collect()} == {
        (1, "a"), (2, "B")
    }


def test_manifest_vacuum_gc_by_path_reference(spark, tmp_path):
    """Manifest vacuum: dropped versions' manifests are unlinked and
    data files referenced by NO surviving manifest are deleted — but a
    file carried by reference into a surviving version stays, even
    though its commit directory belongs to a vacuumed version."""
    import os

    path = _mk_part_table(spark, tmp_path, name="mvac")
    upd = spark.createDataFrame([(1, 111, 1)], "k long, v long, p long")
    lake.merge_upsert(spark, path, upd, keys=["k"])  # v1 carries p=0,p=2
    f1 = set(lake.data_files(path, 1))
    before = {(r.k, r.v, r.p) for r in lake.read_table(spark, path).collect()}
    removed = lake.vacuum(path, keep_last=1, grace_seconds=0)
    assert removed == [0]
    assert lake.versions(path) == [1]
    # every surviving reference still resolves; orphaned v0-only files gone
    for rel in f1:
        assert os.path.exists(os.path.join(path, rel)), rel
    after = {(r.k, r.v, r.p) for r in lake.read_table(spark, path).collect()}
    assert after == before
    with pytest.raises(FileNotFoundError):
        lake.read_table(spark, path, version=0)
    # all remaining data files are referenced (no garbage survived)
    on_disk = set()
    for root, _dirs, files in os.walk(os.path.join(path, "data")):
        for f in files:
            if f.endswith(".parquet"):
                on_disk.add(
                    os.path.relpath(os.path.join(root, f), path)
                )
    assert on_disk == f1


def test_manifest_delete_range_prunes_from_manifest_stats(spark, tmp_path):
    """delete_range on a manifest table: the carry/rewrite split comes
    from the manifest's recorded [min,max] — files whose interval
    misses the range carry by reference; result equals delete_where."""
    path = str(tmp_path / "mdr")
    df = spark.createDataFrame(
        [(k, k * 10) for k in range(400)], "k long, v long"
    )
    lake.write_table(df.repartitionByRange(4, "k"), path)
    assert len(lake.data_files(path, 0)) == 4
    lake.delete_range(spark, path, "k", 10, 20)
    f0, f1 = set(lake.data_files(path, 0)), set(lake.data_files(path, 1))
    assert len(f0 & f1) == 3, "3 of 4 range files must carry by reference"
    got = {r.k for r in lake.read_table(spark, path).collect()}
    assert got == {k for k in range(400) if not 10 <= k <= 20}
    # uncomparable bounds fall back to delete_where semantics
    lake.delete_range(spark, path, "k", "30", "40")
    got2 = {r.k for r in lake.read_table(spark, path).collect()}
    assert got2 == {k for k in range(400)
                    if not 10 <= k <= 20 and not 30 <= k <= 40}


def test_manifest_stale_base_vacuumed_mid_commit(spark, tmp_path):
    """A writer whose base version is vacuumed between its read and its
    publish gets ConcurrentWriteError (stale base, retry) — never a
    published manifest with dangling file references."""
    path = _mk_part_table(spark, tmp_path, name="mstale")
    upd = spark.createDataFrame([(1, 111, 1)], "k long, v long, p long")
    real_write = lake._m_write_files

    def racing_write(df, p, pcols):
        # One-shot interception: while this writer is producing its new
        # data files, a concurrent writer commits v1 and retention
        # collects v0 — this writer's base.
        lake._m_write_files = real_write
        out = real_write(df, p, pcols)
        lake.merge_upsert(
            spark, path,
            spark.createDataFrame([(2, 222, 2)], "k long, v long, p long"),
            keys=["k"],
        )
        lake.vacuum(path, keep_last=1)
        return out

    lake._m_write_files = racing_write
    try:
        with pytest.raises(lake.ConcurrentWriteError):
            lake.merge_upsert(spark, path, upd, keys=["k"])
    finally:
        lake._m_write_files = real_write
    # the table is intact at the concurrent writer's committed state,
    # and the loser's orphan data dir was cleaned up by its failed
    # commit (only the surviving version's commit dirs remain)
    got = {(r.k, r.v, r.p) for r in lake.read_table(spark, path).collect()}
    assert (2, 222, 2) in got and (1, 111, 1) not in got


@pytest.mark.slow
def test_manifest_two_process_merge_race(tmp_path):
    """TWO real writer processes (separate SparkSessions, separate
    JVMs) MERGE into the same manifest table concurrently, synchronized
    by a file barrier so BOTH compute their commit against base v0:
    exactly one wins v1; the loser gets ConcurrentWriteError, retries
    the whole mutation, and lands v2. The final table holds both
    merges' rows — optimistic concurrency serializes, never corrupts."""
    import os
    import subprocess
    import sys
    import textwrap

    table = str(tmp_path / "race_tbl")
    barrier = str(tmp_path / "barrier")
    os.makedirs(barrier)

    setup = textwrap.dedent(f"""
        import sys; sys.path.insert(0, {repr(os.getcwd())})
        from pyspark.sql import SparkSession
        from spype_spark import lakehouse as lake
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.ui.enabled", "false").getOrCreate())
        df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
        lake.write_table(df, {repr(table)})
        print("SETUP_OK")
    """)
    r = subprocess.run(
        [sys.executable, "-c", setup], capture_output=True, text=True,
        timeout=300,
    )
    assert "SETUP_OK" in r.stdout, r.stderr[-2000:]

    writer = textwrap.dedent(f"""
        import os, sys, time
        sys.path.insert(0, {repr(os.getcwd())})
        wid = sys.argv[1]
        from pyspark.sql import SparkSession
        from spype_spark import lakehouse as lake
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.ui.enabled", "false").getOrCreate())
        upd = spark.createDataFrame(
            [(100 if wid == "A" else 200, wid)], "k long, s string")
        real = lake._m_publish
        def barrier_publish(p, v, man):
            # both writers must have PREPARED their v1 commit before
            # either publishes — the textbook optimistic-concurrency race
            open(os.path.join({repr(barrier)}, "ready_" + wid), "w").close()
            deadline = time.time() + 120
            while time.time() < deadline:
                if all(os.path.exists(os.path.join({repr(barrier)}, "ready_" + w))
                       for w in ("A", "B")):
                    break
                time.sleep(0.05)
            else:
                raise RuntimeError("barrier timeout")
            return real(p, v, man)
        lake._m_publish = barrier_publish
        try:
            v = lake.merge_upsert(spark, {repr(table)}, upd, keys=["k"])
            print("WON", v)
        except lake.ConcurrentWriteError:
            lake._m_publish = real
            v = lake.merge_upsert(spark, {repr(table)}, upd, keys=["k"])
            print("RETRIED", v)
    """)
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", writer, w],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for w in ("A", "B")
    ]
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=300)
        assert p.returncode == 0, err[-2000:]
        outs.append(out)
    verdicts = [
        line.split() for o in outs for line in o.splitlines()
        if line.startswith(("WON", "RETRIED"))
    ]
    assert sorted(v[0] for v in verdicts) == ["RETRIED", "WON"], outs
    assert {v[1] for v in verdicts} == {"1", "2"}, outs

    import duckdb

    files = [
        os.path.join(table, rel) for rel in lake.data_files(table, 2)
    ]
    got = {
        tuple(r)
        for r in duckdb.sql(
            f"SELECT k, s FROM read_parquet({files!r})"
        ).fetchall()
    }
    assert got == {(1, "a"), (2, "b"), (100, "A"), (200, "B")}


def test_manifest_scan_table_prunes_files_and_matches_filter(spark, tmp_path):
    """Reader-side manifest pruning: scan_table with partition and
    range filters must (a) read strictly fewer files — asserted via
    DataFrame.inputFiles() — with the cut decided from manifest
    metadata alone, and (b) return exactly read_table().filter(...)."""
    path = str(tmp_path / "scan")
    df = spark.createDataFrame(
        [(k, k * 10, k % 3) for k in range(300)], "k long, v long, p long"
    )
    lake.write_table(
        df.repartitionByRange(4, "k"), path, partition_by="p"
    )
    all_files = set(lake.read_table(spark, path).inputFiles())

    # partition pruning: only p=1 files survive
    part = lake.scan_table(spark, path, partitions={"p": 1})
    assert set(part.inputFiles()) < all_files
    want = {(r.k, r.v) for r in lake.read_table(spark, path)
            .filter("p = 1").select("k", "v").collect()}
    assert {(r.k, r.v) for r in part.select("k", "v").collect()} == want

    # range pruning: k in [50, 80] hits a subset of the range files
    rng = lake.scan_table(spark, path, ranges={"k": (50, 80)})
    assert set(rng.inputFiles()) < all_files
    got = {r.k for r in rng.collect()}
    assert got == set(range(50, 81))

    # combined, plus row-exactness against the naive filtered read
    both = lake.scan_table(
        spark, path, partitions={"p": [0, 2]}, ranges={"k": (100, 140)}
    )
    naive = lake.read_table(spark, path).filter(
        (F.col("p").isin(0, 2)) & F.col("k").between(100, 140)
    )
    assert {tuple(r) for r in both.collect()} == {
        tuple(r) for r in naive.collect()
    }
    assert len(set(both.inputFiles())) < len(all_files)


def test_string_key_file_pruning_both_protocols(spark, tmp_path):
    """String min/max manifest stats are sound prune material
    (possibly-truncated parquet string stats are still valid BOUNDS —
    min truncates down, max truncates up per the spec), so range
    deletes and reader scans on a STRING key must skip files whose
    recorded interval misses the bounds."""
    rows = [(f"doc{k:04d}", k) for k in range(400)]

    # delete_range carries non-matching files by reference, scan_table
    # cuts the file list from the manifest alone
    path = str(tmp_path / "strprune")
    df = spark.createDataFrame(rows, "id string, v long")
    lake.write_table(df.repartitionByRange(4, "id"), path)
    assert len(lake.data_files(path, 0)) == 4
    rng = lake.scan_table(spark, path, ranges={"id": ("doc0050", "doc0080")})
    assert len(set(rng.inputFiles())) < 4, "string range must prune files"
    assert {r.id for r in rng.collect()} == {
        f"doc{k:04d}" for k in range(50, 81)
    }
    lake.delete_range(spark, path, "id", "doc0010", "doc0020")
    f0, f1 = set(lake.data_files(path, 0)), set(lake.data_files(path, 1))
    assert len(f0 & f1) == 3, "3 of 4 string-range files must carry"
    got = {r.id for r in lake.read_table(spark, path).collect()}
    assert got == {f"doc{k:04d}" for k in range(400) if not 10 <= k <= 20}


def test_manifest_parts_content_addressed_carry(spark, tmp_path, monkeypatch):
    """Beyond the inline threshold, manifests point at content-addressed
    PART slabs grouped by (commit uuid, partition). A mutation touching
    one partition reuses the untouched groups' slabs BY NAME (identical
    content → identical sha → zero metadata rewritten for them) — the
    property that keeps commit metadata cost O(changed groups) at 10⁶
    files. Reads, time travel, pruning, and vacuum all resolve through
    the slabs."""
    import os

    monkeypatch.setattr(mlog, "_PART_INLINE_MAX", 4)
    path = str(tmp_path / "parts")
    df = spark.createDataFrame(
        [(k, k * 10, k % 4) for k in range(400)], "k long, v long, p long"
    )
    lake.write_table(df.repartition(3, "k"), path, partition_by="p")
    m0 = lake._m_load(path, 0)
    assert "files" not in m0 and len(m0["parts"]) == 4, "4 partition groups"
    # read resolves through slabs
    got0 = {(r.k, r.v) for r in lake.read_table(spark, path).collect()}
    assert got0 == {(k, k * 10) for k in range(400)}

    # touch ONE partition: p=1 keys only
    upd = spark.createDataFrame(
        [(1, 111, 1), (5, 555, 1)], "k long, v long, p long"
    )
    lake.merge_upsert(spark, path, upd, keys=["k"])
    m1 = lake._m_load(path, 1)
    shared = set(m0["parts"]) & set(m1["parts"])
    assert len(shared) == 3, "3 untouched groups carried by slab NAME"
    got1 = {(r.k, r.v) for r in lake.read_table(spark, path).collect()}
    want = {(k, 111 if k == 1 else 555 if k == 5 else k * 10)
            for k in range(400)}
    assert got1 == want
    # time travel still resolves v0's slabs
    assert {(r.k, r.v) for r in
            lake.read_table(spark, path, version=0).collect()} == got0

    # reader pruning works from slab-resolved entries
    pr = lake.scan_table(spark, path, partitions={"p": 2})
    assert {r.k for r in pr.collect()} == {k for k in range(400) if k % 4 == 2}
    assert len(set(pr.inputFiles())) < len(
        set(lake.read_table(spark, path).inputFiles())
    )

    # vacuum: v0-only slabs and files are collected, shared slabs kept
    mdir = os.path.join(path, "_manifests")
    lake.vacuum(path, keep_last=1, grace_seconds=0)
    left = {n for n in os.listdir(mdir) if n.startswith("part-")}
    assert left == set(m1["parts"]), "only the head's slabs survive"
    assert {(r.k, r.v) for r in
            lake.read_table(spark, path).collect()} == want


def test_manifest_parts_in_catalog_txn(spark, tmp_path, monkeypatch):
    """Catalog transactions assemble the same part-slab manifests; the
    idempotent replay and conflict paths are layout-independent."""
    from spype_spark.catalog import Catalog

    monkeypatch.setattr(mlog, "_PART_INLINE_MAX", 4)
    cat = Catalog(str(tmp_path / "pc"))
    df = spark.createDataFrame(
        [(k, k * 10, k % 3) for k in range(300)], "k long, v long, p long"
    )
    with cat.transaction(spark) as t:
        t.write(df.repartition(2, "k"), "t", partition_by="p")
    p = cat.table_path("t")
    m0 = lake._m_load(p, cat.state()["t"])
    assert "parts" in m0
    with cat.transaction(spark) as t:
        t.merge_upsert(
            "t",
            spark.createDataFrame([(0, 999, 0)], "k long, v long, p long"),
            keys=["k"],
        )
    m1 = lake._m_load(p, cat.state()["t"])
    assert set(m0["parts"]) & set(m1["parts"]), "untouched slabs shared"
    got = {(r.k, r.v) for r in cat.read(spark, "t").collect()}
    assert (0, 999) in got and len(got) == 300


def test_slab_summary_pruning_skips_decode(spark, tmp_path, monkeypatch):
    """Part-slab pointer summaries let scan planning refute WHOLE slabs
    without opening them: a partition-selective scan opens only the
    matching slab (O(surviving slabs), not O(total entries)), and the
    result is row-identical to the unpruned read + filter."""
    import builtins
    import os

    monkeypatch.setattr(mlog, "_PART_INLINE_MAX", 4)
    path = str(tmp_path / "slabsum")
    # p = k // 100: partition value and k-range per slab are correlated,
    # so BOTH the partition knob and the stats envelope can refute slabs
    df = spark.createDataFrame(
        [(k, k * 10, k // 100) for k in range(800)], "k long, v long, p long"
    )
    lake.write_table(df.repartition(3, "k"), path, partition_by="p")
    m = lake._m_load(path, 0)
    assert len(m["parts"]) == 8
    assert set(m["part_summaries"]) == set(m["parts"])
    for name in m["parts"]:
        s = m["part_summaries"][name]
        assert "p" in s["partition"], "partition value single-valued per slab"
        assert "k" in s["stats"] and s["stats"]["k"][0] <= s["stats"]["k"][1]
        assert s["rows"] == 100 and s["seq"] == [0, 0]

    opened = []
    real_open = builtins.open

    def counting_open(fp, *a, **kw):
        if isinstance(fp, str) and os.path.basename(fp).startswith("part-"):
            opened.append(os.path.basename(fp))
        return real_open(fp, *a, **kw)

    monkeypatch.setattr(lake, "open", counting_open, raising=False)
    got = lake.scan_table(spark, path, partitions={"p": 3})
    assert len(opened) == 1, f"expected 1 slab decoded, opened {opened}"
    monkeypatch.delattr(lake, "open", raising=False)
    assert {r.k for r in got.collect()} == set(range(300, 400))

    # range knob prunes via the stats envelope
    opened.clear()
    monkeypatch.setattr(lake, "open", counting_open, raising=False)
    got = lake.scan_table(spark, path, ranges={"k": (0, 7)})
    n_opened = len(opened)
    monkeypatch.delattr(lake, "open", raising=False)
    assert n_opened == 1, "stats envelope refuted the other 7 slabs"
    assert {r.k for r in got.collect()} == set(range(8))

    # where-spec eq leaf on the partition column prunes slab-wise
    opened.clear()
    monkeypatch.setattr(lake, "open", counting_open, raising=False)
    got = lake.scan_table(spark, path, where=("eq", "p", 5))
    assert len(opened) == 1
    monkeypatch.delattr(lake, "open", raising=False)
    assert {r.k for r in got.collect()} == set(range(500, 600))

    # since= prunes by the slab's seq envelope: append a second commit,
    # an incremental scan from v0 must not decode v0's carried slabs
    extra = spark.createDataFrame(
        [(k, 0, k // 100) for k in range(800, 820)], "k long, v long, p long"
    )
    lake.append_table(spark, path, extra)
    opened.clear()
    monkeypatch.setattr(lake, "open", counting_open, raising=False)
    got = lake.scan_table(spark, path, since=0)
    v1_slabs = set(lake._m_load(path, 0)["parts"])
    assert not (set(opened) & v1_slabs), "carried base slabs not decoded"
    monkeypatch.delattr(lake, "open", raising=False)
    assert {r.k for r in got.collect()} == set(range(800, 820))


def test_slab_pruning_hidden_partition_transforms(spark, tmp_path, monkeypatch):
    """Hidden-partition scans prune slab-wise too: a predicate on the
    transform SOURCE column refutes whole slabs through the recorded
    hidden values in the pointer summaries — only matching slabs are
    decoded."""
    import builtins
    import os

    monkeypatch.setattr(mlog, "_PART_INLINE_MAX", 4)
    path = str(tmp_path / "slabtf")
    df = spark.createDataFrame(
        [(k, k * 3) for k in range(600)], "k long, v long"
    )
    lake.write_table(
        df.repartition(2, "k"), path, partition_by=[("truncate", 100, "k")]
    )
    m = lake._m_load(path, 0)
    assert len(m["parts"]) == 6
    for s in m["part_summaries"].values():
        assert "_p_trunc100_k" in s["partition"]

    opened = []
    real_open = builtins.open

    def counting_open(fp, *a, **kw):
        if isinstance(fp, str) and os.path.basename(fp).startswith("part-"):
            opened.append(os.path.basename(fp))
        return real_open(fp, *a, **kw)

    monkeypatch.setattr(lake, "open", counting_open, raising=False)
    got = lake.scan_table(spark, path, ranges={"k": (120, 180)})
    assert len(opened) == 1, f"expected 1 slab decoded, opened {opened}"
    monkeypatch.delattr(lake, "open", raising=False)
    assert {r.k for r in got.collect()} == set(range(120, 181))
    # eq through the where spec prunes through bucket-unsafe OR-free path
    opened.clear()
    monkeypatch.setattr(lake, "open", counting_open, raising=False)
    got = lake.scan_table(spark, path, where=("eq", "k", 555))
    assert len(opened) == 1
    monkeypatch.delattr(lake, "open", raising=False)
    assert [r.v for r in got.collect()] == [1665]


def test_slab_pruning_differential_soundness(spark, tmp_path, monkeypatch):
    """Differential property: for randomized predicate specs, the
    slab-pruned scan equals read_table().filter(residual) row-for-row —
    slab refutation is sound (never drops a slab holding a match)."""
    import random

    monkeypatch.setattr(mlog, "_PART_INLINE_MAX", 4)
    path = str(tmp_path / "slabdiff")
    rng = random.Random(11)
    rows = [
        (
            k,
            rng.randrange(0, 50) if rng.random() > 0.1 else None,
            k % 5,
        )
        for k in range(500)
    ]
    df = spark.createDataFrame(rows, "k long, v long, p long")
    lake.write_table(df.repartition(2, "k"), path, partition_by="p")
    full = lake.read_table(spark, path)
    specs = [
        ("eq", "p", 2),
        ("between", "k", 100, 140),
        ("and", ("eq", "p", 1), ("ge", "k", 400)),
        ("or", ("eq", "p", 0), ("lt", "k", 10)),
        ("isnull", "v"),
        ("and", ("notnull", "v"), ("in", "p", [3, 4])),
        ("and", ("eq", "p", 4), ("between", "v", 0, 5)),
    ]
    for spec in specs:
        got = {
            tuple(r)
            for r in lake.scan_table(spark, path, where=spec).collect()
        }
        want = {
            tuple(r)
            for r in full.filter(lake._pred_column(spec)).collect()
        }
        assert got == want, f"slab-pruned scan diverged for {spec}"


def test_delete_keys_merge_on_read_sequence_semantics(spark, tmp_path):
    """Equality-delete files: DELETE rewrites NO data file; the reader
    applies tombstones by sequence, so a later MERGE re-inserting a
    deleted key is not swallowed; a later delete re-kills it; compact
    materializes and clears; vacuum GCs the spent key files."""
    path = str(tmp_path / "mor")
    df = spark.createDataFrame(
        [(k, k * 10) for k in range(400)], "k long, v long"
    )
    lake.write_table(df.repartitionByRange(4, "k"), path)
    f0 = lake.data_files(path, 0)

    kd = spark.createDataFrame([(k,) for k in range(10, 21)], "k long")
    lake.delete_keys(spark, path, kd)
    assert lake.data_files(path, 1) == f0, "MOR delete rewrites nothing"
    m1 = lake._m_load(path, 1)
    assert len(m1["deletes"]) == 1 and m1["deletes"][0]["keys"] == ["k"]
    got = {r.k for r in lake.read_table(spark, path).collect()}
    assert got == {k for k in range(400) if not 10 <= k <= 20}
    # time travel: v0 still has everything
    assert len({r.k for r in lake.read_table(spark, path, version=0)
                .collect()}) == 400

    # re-insert a deleted key: the new row's seq exceeds the delete's
    lake.merge_upsert(
        spark, path, spark.createDataFrame([(15, 999)], "k long, v long"),
        keys=["k"],
    )
    got2 = {(r.k, r.v) for r in lake.read_table(spark, path).collect()}
    assert (15, 999) in got2, "old tombstone must not swallow the re-insert"
    assert (10, 100) not in got2, "other deleted keys stay deleted"

    # a second delete layers on top and kills the re-inserted row
    lake.delete_keys(
        spark, path, spark.createDataFrame([(15,)], "k long")
    )
    got3 = {r.k for r in lake.read_table(spark, path).collect()}
    assert 15 not in got3

    # pruned reader scan applies pending deletes too
    rng = lake.scan_table(spark, path, ranges={"k": (0, 50)})
    assert {r.k for r in rng.collect()} == {
        k for k in range(51) if not 10 <= k <= 20
    }

    # compaction materializes: deletes cleared, content identical
    lake.compact(spark, path, target_files=2)
    mc = lake._m_load(path, lake.latest_version(path))
    assert "deletes" not in mc
    got4 = {r.k for r in lake.read_table(spark, path).collect()}
    assert got4 == got3
    # vacuum: the spent key files are no longer referenced
    import os as _os

    lake.vacuum(path, keep_last=1, grace_seconds=0)
    remaining = []
    for root, _d, files in _os.walk(_os.path.join(path, "data")):
        remaining += [f for f in files if f.endswith(".parquet")]
    assert len(remaining) == 2, "only the compacted data files survive"
    assert {r.k for r in lake.read_table(spark, path).collect()} == got4


def test_delete_keys_posix_fallback_and_multi_key(spark, tmp_path):
    """Multi-column key tuples match as tuples, not independently (the
    name predates the removal of the posix fallback this test also
    covered)."""
    man = str(tmp_path / "mor_multi")
    df = spark.createDataFrame(
        [(k, k % 3, k * 10) for k in range(100)], "a long, b long, v long"
    )
    lake.write_table(df, man)
    kd = spark.createDataFrame([(1, 1), (2, 2)], "a long, b long")
    lake.delete_keys(spark, man, kd)
    got = {(r.a, r.b) for r in lake.read_table(spark, man).collect()}
    assert got == {(k, k % 3) for k in range(100)} - {(1, 1), (2, 2)}
    assert (4, 1) in got and (5, 2) in got, "tuple match, not per-column"


def test_txn_delete_keys_through_catalog(spark, tmp_path):
    """MOR delete staged in a transaction; a later txn's merge
    re-insert survives (staged entries are seq-stamped)."""
    from spype_spark.catalog import Catalog

    cat = Catalog(str(tmp_path / "morcat"))
    df = spark.createDataFrame(
        [(k, k * 10) for k in range(50)], "k long, v long"
    )
    with cat.transaction(spark) as t:
        t.write(df, "t")
    with cat.transaction(spark) as t:
        t.delete_keys("t", spark.createDataFrame([(7,), (8,)], "k long"))
    got = {r.k for r in cat.read(spark, "t").collect()}
    assert got == set(range(50)) - {7, 8}
    with cat.transaction(spark) as t:
        t.merge_upsert(
            "t", spark.createDataFrame([(7, 700)], "k long, v long"),
            keys=["k"],
        )
    got2 = {(r.k, r.v) for r in cat.read(spark, "t").collect()}
    assert (7, 700) in got2 and all(k != 8 for k, _ in got2)
    # cross-table time travel still exact at the delete txn
    assert {r.k for r in cat.read(spark, "t", txn=1).collect()} == got


def test_update_where_both_protocols_and_txn(spark, tmp_path):
    """UPDATE … SET … WHERE: simultaneous assignment (RHS sees
    pre-update values — the classic swap test), NULL predicates don't
    match, partition-COW carries untouched partitions, partition-column
    updates move rows, and the catalog txn path matches."""
    from spype_spark.catalog import Catalog

    path = str(tmp_path / "upd_manifest")
    df = spark.createDataFrame(
        [(1, 10, 20, 0), (2, 30, 40, 1), (3, None, 60, 0)],
        "k long, a long, b long, p long",
    )
    lake.write_table(df, path, partition_by="p")
    # swap a and b where a > 5: RHS must read PRE-update values
    lake.update_where(
        spark, path, F.col("a") > 5,
        {"a": F.col("b"), "b": F.col("a")},
    )
    got = {(r.k, r.a, r.b) for r in lake.read_table(spark, path).collect()}
    assert got == {(1, 20, 10), (2, 40, 30), (3, None, 60)}
    # NULL predicate row (k=3, a NULL) untouched; time travel intact
    assert {(r.k, r.a) for r in
            lake.read_table(spark, path, version=0).collect()} == {
        (1, 10), (2, 30), (3, None)
    }

    # manifest: only the touched partition's entries rewrite
    path = str(tmp_path / "upd_cow")
    big = spark.createDataFrame(
        [(k, k, k % 3) for k in range(90)], "k long, v long, p long"
    )
    lake.write_table(big, path, partition_by="p")
    lake.update_where(
        spark, path, (F.col("p") == 1) & (F.col("k") < 10), {"v": F.lit(-1)}
    )
    f0 = {e["path"] for e in lake._m_entries(path, lake._m_load(path, 0))}
    f1 = {e["path"] for e in lake._m_entries(path, lake._m_load(path, 1))}
    assert f0 & f1, "untouched partitions carried by reference"
    got = {(r.k, r.v) for r in lake.read_table(spark, path).collect()}
    assert got == {(k, -1 if (k % 3 == 1 and k < 10) else k)
                   for k in range(90)}

    # partition-column update moves rows across partitions
    lake.update_where(spark, path, F.col("k") == 4, {"p": F.lit(2)})
    moved = [r for r in lake.read_table(spark, path).collect() if r.k == 4]
    assert len(moved) == 1 and moved[0].p == 2

    # catalog transaction path
    cat = Catalog(str(tmp_path / "updcat"))
    with cat.transaction(spark) as t:
        t.write(big, "t", partition_by="p")
    with cat.transaction(spark) as t:
        t.update_where("t", F.col("k") >= 85, {"v": F.col("v") * 100})
    got_c = {(r.k, r.v) for r in cat.read(spark, "t").collect()}
    assert got_c == {(k, k * 100 if k >= 85 else k) for k in range(90)}


def test_changes_cdf_over_version_chain(spark, tmp_path):
    """changes(): per-step diff rows with the introducing version;
    resuming from a later v_from yields exactly the tail."""
    path = str(tmp_path / "cdf")
    lake.write_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"), path
    )
    lake.merge_upsert(
        spark, path,
        spark.createDataFrame([(2, "B"), (3, "c")], "k long, s string"),
        keys=["k"],
    )
    lake.delete_where(spark, path, F.col("k") == 1)
    got = {(r.k, r.op, r.version)
           for r in lake.changes(spark, path, keys=["k"]).collect()}
    assert got == {(2, "update", 1), (3, "insert", 1), (1, "delete", 2)}
    tail = {(r.k, r.op, r.version)
            for r in lake.changes(spark, path, ["k"], v_from=1).collect()}
    assert tail == {(1, "delete", 2)}
    with pytest.raises(ValueError, match="two versions"):
        lake.changes(spark, path, ["k"], v_from=2)


# ---------------------------------------------------------------------------
# Branch refs + write-audit-publish


def _kv(spark, pairs):
    return spark.createDataFrame(pairs, "k long, v string, p long")


def test_branch_wap_isolation_and_publish(spark, tmp_path):
    """The full write-audit-publish loop: branch mutations are
    invisible to the parent until publish; publish is one metadata
    commit that fast-forwards the parent to the audited state."""
    path = str(tmp_path / "t")
    base = [(k, f"v{k}", k % 3) for k in range(30)]
    lake.write_table(_kv(spark, base), path, partition_by="p")
    b = lake.create_branch(path, "etl")
    assert lake.list_branches(path) == ["etl"]
    # metadata-only fork: no parquet written under the branch
    assert not any(
        fn.endswith(".parquet")
        for _r, _d, fns in __import__("os").walk(b)
        for fn in fns
    )
    # branch v0 == fork state
    assert lake.read_table(spark, b).count() == 30
    lake.merge_upsert(
        spark, b, _kv(spark, [(1, "NEW", 1), (99, "ins", 0)]), keys=["k"]
    )
    lake.delete_where(spark, b, F.col("k") == 5)
    # audit on the branch; parent untouched
    got_b = {(r.k, r.v) for r in lake.read_table(spark, b).collect()}
    assert (1, "NEW") in got_b and (99, "ins") in got_b
    assert not any(k == 5 for k, _v in got_b)
    assert {(r.k, r.v) for r in lake.read_table(spark, path).collect()} == {
        (k, f"v{k}") for k in range(30)
    }
    v = lake.publish_branch(path, "etl")
    assert v == 1 and lake.versions(path) == [0, 1]
    assert {
        (r.k, r.v) for r in lake.read_table(spark, path).collect()
    } == got_b
    # time travel across the publish still works
    assert lake.read_table(spark, path, version=0).count() == 30


def test_branch_non_fast_forward_rejected(spark, tmp_path):
    path = str(tmp_path / "t")
    lake.write_table(_kv(spark, [(1, "a", 0)]), path)
    lake.create_branch(path, "b1")
    lake.merge_upsert(
        spark, lake.branch_path(path, "b1"), _kv(spark, [(2, "b", 0)]),
        keys=["k"],
    )
    # parent advances after the fork; the table is UNPARTITIONED, so
    # the rebase path can't prove disjointness -> publish must refuse
    lake.merge_upsert(spark, path, _kv(spark, [(3, "c", 0)]), keys=["k"])
    with pytest.raises(lake.ConcurrentWriteError, match="changed partition"):
        lake.publish_branch(path, "b1")
    # two branches racing for the same slot: first publish wins whole
    lake.create_branch(path, "b2")
    lake.create_branch(path, "b3")
    for n in ("b2", "b3"):
        lake.merge_upsert(
            spark, lake.branch_path(path, n), _kv(spark, [(10, n, 0)]),
            keys=["k"],
        )
    assert lake.publish_branch(path, "b2") == 2
    with pytest.raises(lake.ConcurrentWriteError):
        lake.publish_branch(path, "b3")


def test_branch_gc_published_data_survives_drop(spark, tmp_path):
    """After publish, the branch's data files are referenced by the
    parent manifest; drop_branch and even a parent vacuum must keep
    them (absolute-path refcounting across the branch family)."""
    path = str(tmp_path / "t")
    lake.write_table(_kv(spark, [(k, "x", 0) for k in range(10)]), path)
    b = lake.create_branch(path, "wap")
    lake.merge_upsert(spark, b, _kv(spark, [(100, "new", 0)]), keys=["k"])
    lake.publish_branch(path, "wap")
    lake.drop_branch(path, "wap")
    assert lake.list_branches(path) == []
    got = {r.k for r in lake.read_table(spark, path).collect()}
    assert got == set(range(10)) | {100}
    lake.vacuum(path, keep_last=1)
    assert {r.k for r in lake.read_table(spark, path).collect()} == got


def test_branch_drop_unpublished_collects_data(spark, tmp_path):
    """Dropping an unpublished branch GCs its data files but never the
    parent's (which the fork references by absolute path)."""
    import os
    path = str(tmp_path / "t")
    lake.write_table(_kv(spark, [(1, "a", 0)]), path)
    b = lake.create_branch(path, "scrap")
    lake.merge_upsert(spark, b, _kv(spark, [(2, "b", 0)]), keys=["k"])
    assert any(
        fn.endswith(".parquet")
        for _r, _d, fns in os.walk(os.path.join(b, "data"))
        for fn in fns
    )
    lake.drop_branch(path, "scrap", grace_seconds=0)
    assert not os.path.isdir(b)
    assert {r.k for r in lake.read_table(spark, path).collect()} == {1}


def test_branch_vacuum_on_branch_keeps_parent_files(spark, tmp_path):
    """vacuum() run ON the branch root collects only branch-local
    garbage; the parent's files (and published data) stay."""
    path = str(tmp_path / "t")
    lake.write_table(_kv(spark, [(1, "a", 0)]), path)
    b = lake.create_branch(path, "w")
    lake.merge_upsert(spark, b, _kv(spark, [(2, "b", 0)]), keys=["k"])
    lake.merge_upsert(spark, b, _kv(spark, [(3, "c", 0)]), keys=["k"])
    lake.vacuum(b, keep_last=1)
    assert {r.k for r in lake.read_table(spark, b).collect()} == {1, 2, 3}
    assert {r.k for r in lake.read_table(spark, path).collect()} == {1}


def test_branch_creation_errors(spark, tmp_path):
    path = str(tmp_path / "t")
    lake.write_table(_kv(spark, [(1, "a", 0)]), path)
    lake.create_branch(path, "dup")
    with pytest.raises(ValueError, match="already exists"):
        lake.create_branch(path, "dup")
    with pytest.raises(ValueError, match="path-special"):
        lake.create_branch(path, "bad/name")
    with pytest.raises(ValueError, match="itself a branch"):
        lake.create_branch(lake.branch_path(path, "dup"), "nested")


def test_scan_table_null_pruning(spark, tmp_path):
    """nulls={col: bool} prunes at file level from recorded null
    counts and stays exact via the residual filter."""
    path = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, F.col("id")).alias("v"),
        (F.col("id") % 2).alias("p"),
    )
    lake.write_table(df, path, partition_by="p")
    full = lake.read_table(spark, path)
    n_full = len(set(full.inputFiles()))
    isnull = lake.scan_table(spark, path, nulls={"v": True})
    notnull = lake.scan_table(spark, path, nulls={"v": False})
    assert 0 < len(set(isnull.inputFiles())) < n_full
    assert 0 < len(set(notnull.inputFiles())) < n_full
    assert {r.k for r in isnull.collect()} == set(range(1, 100, 2))
    assert {r.k for r in notnull.collect()} == set(range(0, 100, 2))
    # a column with no nulls anywhere: IS NULL prunes to zero files
    empty = lake.scan_table(spark, path, nulls={"k": True})
    assert empty.count() == 0
    # composes with partition + range pruning
    mix = lake.scan_table(
        spark, path, partitions={"p": 0}, ranges={"k": (10, 40)},
        nulls={"v": False},
    )
    assert {r.k for r in mix.collect()} == set(range(10, 41, 2))


def test_pred_maybe_three_valued():
    """The manifest predicate evaluator: refute only when metadata
    proves emptiness; AND refutes on any conjunct, OR needs all."""
    from spype_spark.lakehouse import _pred_maybe

    e = {
        "partition": {"p": "7"},
        "rows": 100,
        "stats": {"k": [10, 20], "s": ["aa", "mm"]},
        "nulls": {"k": 0, "v": 100, "s": 5},
    }
    assert _pred_maybe(e, ("between", "k", 15, 30), ["p"])
    assert not _pred_maybe(e, ("between", "k", 21, 30), ["p"])
    assert not _pred_maybe(e, ("eq", "k", 9), ["p"])
    assert _pred_maybe(e, ("in", "k", [5, 12]), ["p"])
    assert not _pred_maybe(e, ("in", "k", [5, 40]), ["p"])
    assert not _pred_maybe(e, ("lt", "k", 10), ["p"])
    assert _pred_maybe(e, ("le", "k", 10), ["p"])
    assert not _pred_maybe(e, ("gt", "k", 20), ["p"])
    assert _pred_maybe(e, ("ge", "k", 20), ["p"])
    # partition equality decides without stats
    assert _pred_maybe(e, ("eq", "p", 7), ["p"])
    assert not _pred_maybe(e, ("eq", "p", 8), ["p"])
    # all-NULL column refutes any comparison; null leaves use counts
    assert not _pred_maybe(e, ("eq", "v", 1), ["p"])
    assert not _pred_maybe(e, ("isnull", "k"), ["p"])
    assert _pred_maybe(e, ("isnull", "s"), ["p"])
    assert _pred_maybe(e, ("notnull", "v"), ["p"]) is False
    # combinators
    assert not _pred_maybe(
        e, ("and", ("between", "k", 15, 30), ("eq", "p", 8)), ["p"]
    )
    assert _pred_maybe(
        e, ("or", ("eq", "p", 8), ("between", "k", 15, 30)), ["p"]
    )
    assert not _pred_maybe(
        e, ("or", ("eq", "p", 8), ("gt", "k", 25)), ["p"]
    )
    # missing stats keep the file; incomparable literal keeps the file
    assert _pred_maybe(e, ("eq", "zzz", 1), ["p"])
    assert _pred_maybe(e, ("gt", "k", "str"), ["p"])
    # string stats prune too
    assert not _pred_maybe(e, ("ge", "s", "zz"), ["p"])


def test_scan_table_where_predicate(spark, tmp_path):
    """where= prunes files through AND/OR nests and equals the plain
    filtered read exactly."""
    path = str(tmp_path / "t")
    df = spark.range(400).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("p"),
        F.when(F.col("id") % 2 == 0, F.col("id") * 10).alias("v"),
    )
    lake.write_table(
        df.repartitionByRange(8, "k"), path, partition_by="p"
    )
    pred = ("or",
            ("and", ("eq", "p", 1), ("between", "k", 0, 99)),
            ("and", ("eq", "p", 2), ("ge", "k", 300)))
    got = lake.scan_table(spark, path, where=pred)
    full = lake.read_table(spark, path)
    from spype_spark.lakehouse import _pred_column
    want = {r.k for r in full.filter(_pred_column(pred)).collect()}
    assert {r.k for r in got.collect()} == want and len(want) > 0
    assert 0 < len(set(got.inputFiles())) < len(set(full.inputFiles()))


def test_delete_predicate_carries_refuted_files(spark, tmp_path):
    """delete_predicate: files the predicate provably misses carry BY
    REFERENCE (identical manifest paths), the rest rewrite."""
    path = str(tmp_path / "t")
    df = spark.range(400).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("p"),
        F.when(F.col("id") % 2 == 0, F.col("id") * 10).alias("v"),
    )
    lake.write_table(
        df.repartitionByRange(8, "k"), path, partition_by="p"
    )
    # partial-file predicate: the touched files keep some rows, so the
    # rewrite must produce NEW files while refuted files carry
    pred = ("or",
            ("and", ("eq", "p", 1), ("lt", "k", 40)),
            ("and", ("eq", "p", 2), ("between", "k", 300, 320)))
    v = lake.delete_predicate(spark, path, pred)
    assert v == 1
    before = set(lake.data_files(path, 0))
    after = set(lake.data_files(path, 1))
    carried = before & after
    assert carried, "no files carried by reference"
    assert after - before, "nothing rewritten"
    kept = {r.k for r in lake.read_table(spark, path).collect()}
    gone = {k for k in range(400)
            if (k % 4 == 1 and k < 40) or (k % 4 == 2 and 300 <= k <= 320)}
    assert kept == set(range(400)) - gone


def test_append_table_zero_rewrite_and_incremental_scan(spark, tmp_path):
    """append_table carries every base entry by reference and writes
    only the new rows; scan_table(since=) reads exactly the files
    added after the checkpoint version."""
    path = str(tmp_path / "t")
    lake.write_table(_kv(spark, [(k, "base", k % 2) for k in range(20)]),
                     path, partition_by="p")
    v1 = lake.append_table(spark, path, _kv(spark, [(100, "a1", 0)]))
    v2 = lake.append_table(spark, path, _kv(spark, [(200, "a2", 1)]))
    assert (v1, v2) == (1, 2)
    f0, f2 = set(lake.data_files(path, 0)), set(lake.data_files(path, 2))
    assert f0 <= f2, "append rewrote base files"
    assert {r.k for r in lake.read_table(spark, path).collect()} == (
        set(range(20)) | {100, 200}
    )
    inc = lake.scan_table(spark, path, since=0)
    assert {r.k for r in inc.collect()} == {100, 200}
    assert not (set(inc.inputFiles())
                & {f"file:{tmp_path}/t/{p}" for p in f0})
    assert {r.k for r in lake.scan_table(spark, path, since=v1).collect()} \
        == {200}
    # since composes with predicate pruning
    assert {r.k for r in lake.scan_table(
        spark, path, since=0, where=("eq", "p", 0)).collect()} == {100}
    with pytest.raises(ValueError, match="append schema"):
        lake.append_table(
            spark, path, spark.createDataFrame([(1,)], "k long"))


@settings(max_examples=300, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.data())
def test_pred_compile_matches_reference(data):
    """The compiled predicate evaluator is bit-identical to the
    reference recursion over random entries and random predicate
    trees (including unusable partition values and missing stats)."""
    from spype_spark.lakehouse import (
        _pred_compile, _pred_maybe_uncompiled,
    )

    cols = ["p", "k", "s"]
    vals = st.one_of(
        st.integers(-5, 15),
        st.sampled_from(["1", "001", "a/b", "x", ""]),
        st.none(),
    )

    def leaf():
        return st.one_of(
            st.tuples(st.sampled_from(["eq", "lt", "le", "gt", "ge"]),
                      st.sampled_from(cols), vals),
            st.tuples(st.just("in"), st.sampled_from(cols),
                      st.lists(vals, min_size=1, max_size=3)),
            st.tuples(st.just("between"), st.sampled_from(cols),
                      vals, vals),
            st.tuples(st.sampled_from(["isnull", "notnull"]),
                      st.sampled_from(cols)),
        )

    pred = data.draw(st.recursive(
        leaf(),
        lambda c: st.tuples(st.sampled_from(["and", "or"]), c, c),
        max_leaves=6,
    ))
    entry = {
        "partition": data.draw(st.one_of(
            st.just({}),
            st.fixed_dictionaries({"p": st.sampled_from(
                ["1", "001", "7", "x"])}),
        )),
        "rows": data.draw(st.one_of(st.none(), st.integers(0, 100))),
        "stats": data.draw(st.one_of(
            st.just({}),
            st.fixed_dictionaries({"k": st.tuples(
                st.integers(-5, 10), st.integers(-5, 10)
            ).map(lambda t: [min(t), max(t)])}),
        )),
        "nulls": data.draw(st.one_of(
            st.just({}),
            st.fixed_dictionaries({"k": st.integers(0, 100),
                                   "s": st.integers(0, 100)}),
        )),
    }
    for pcols in (None, ["p"]):
        assert _pred_compile(pred, pcols)(entry) == \
            _pred_maybe_uncompiled(entry, pred, pcols)


@pytest.mark.slow
def test_branch_two_process_publish_race(tmp_path):
    """TWO real processes fork their own branches at v0, mutate, and
    PUBLISH simultaneously (file barrier inside the parent's publish):
    exactly one fast-forward wins v1; the loser gets
    ConcurrentWriteError from the put-if-absent, re-branches from the
    new head, replays, and lands v2 — the WAP conflict story
    end-to-end across JVMs."""
    import os
    import subprocess
    import sys
    import textwrap

    table = str(tmp_path / "wap_tbl")
    barrier = str(tmp_path / "barrier")
    os.makedirs(barrier)

    setup = textwrap.dedent(f"""
        import sys; sys.path.insert(0, {repr(os.getcwd())})
        from pyspark.sql import SparkSession
        from spype_spark import lakehouse as lake
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.ui.enabled", "false").getOrCreate())
        df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
        lake.write_table(df, {repr(table)})
        print("SETUP_OK")
    """)
    r = subprocess.run(
        [sys.executable, "-c", setup], capture_output=True, text=True,
        timeout=300,
    )
    assert "SETUP_OK" in r.stdout, r.stderr[-2000:]

    writer = textwrap.dedent(f"""
        import os, sys, time
        sys.path.insert(0, {repr(os.getcwd())})
        wid = sys.argv[1]
        from pyspark.sql import SparkSession
        from spype_spark import lakehouse as lake
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.ui.enabled", "false").getOrCreate())
        table = {repr(table)}
        def work(name):
            b = lake.create_branch(table, name)
            lake.merge_upsert(
                spark, b,
                spark.createDataFrame(
                    [(100 if wid == "A" else 200, wid)], "k long, s string"),
                keys=["k"])
            return b
        work("br_" + wid)
        real = lake._m_publish
        def barrier_publish(p, v, man):
            if os.path.abspath(p) == os.path.abspath(table):
                # parent publish: hold until BOTH writers are here
                open(os.path.join({repr(barrier)}, "ready_" + wid),
                     "w").close()
                deadline = time.time() + 120
                while time.time() < deadline:
                    if all(os.path.exists(
                            os.path.join({repr(barrier)}, "ready_" + w))
                           for w in ("A", "B")):
                        break
                    time.sleep(0.05)
                else:
                    raise RuntimeError("barrier timeout")
            return real(p, v, man)
        lake._m_publish = barrier_publish
        try:
            v = lake.publish_branch(table, "br_" + wid)
            print("WON", v)
        except lake.ConcurrentWriteError:
            lake._m_publish = real
            work("br_retry_" + wid)
            v = lake.publish_branch(table, "br_retry_" + wid)
            print("RETRIED", v)
    """)
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", writer, w],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for w in ("A", "B")
    ]
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=300)
        assert p.returncode == 0, err[-2000:]
        outs.append(out)
    verdicts = [
        line.split() for o in outs for line in o.splitlines()
        if line.startswith(("WON", "RETRIED"))
    ]
    assert sorted(v[0] for v in verdicts) == ["RETRIED", "WON"], outs
    assert {v[1] for v in verdicts} == {"1", "2"}, outs

    import duckdb

    files = [
        os.path.join(table, rel) if not os.path.isabs(rel) else rel
        for rel in lake.data_files(table, 2)
    ]
    got = {
        tuple(r)
        for r in duckdb.sql(
            f"SELECT k, s FROM read_parquet({files!r})"
        ).fetchall()
    }
    assert got == {(1, "a"), (2, "b"), (100, "A"), (200, "B")}


# ---------------------------------------------------------------------------
# GC retention grace window (the Delta/Iceberg model): unreferenced-but-
# YOUNG files are presumed to belong to an in-flight commit and survive
# the sweep; only grace_seconds=0 restores immediate reclamation.
# ---------------------------------------------------------------------------


def test_vacuum_grace_window_spares_young_unreferenced_files(
    spark, tmp_path
):
    """Default-grace vacuum must NOT collect a young unreferenced data
    file (it is indistinguishable from an in-flight commit's output);
    an explicit grace_seconds=0 sweep then collects it."""
    import os
    path = str(tmp_path / "t")
    lake.write_table(_kv(spark, [(1, "a", 0)]), path)
    lake.merge_upsert(spark, path, _kv(spark, [(2, "b", 0)]), keys=["k"])
    # plant an unreferenced file where an in-flight commit would write
    stray = os.path.join(path, "data", "inflight", "part-zz.parquet")
    os.makedirs(os.path.dirname(stray), exist_ok=True)
    with open(stray, "wb") as f:
        f.write(b"not yet published")
    lake.vacuum(path, keep_last=1)  # default grace
    assert os.path.exists(stray), "young unreferenced file must survive"
    lake.vacuum(path, keep_last=1, grace_seconds=0)
    assert not os.path.exists(stray), "grace=0 sweep reclaims it"
    assert {r.k for r in lake.read_table(spark, path).collect()} == {1, 2}


def test_commit_detects_graceless_vacuum_collecting_its_files(
    spark, tmp_path, monkeypatch
):
    """The RETAIN-0 residual: if a grace-less GC collects a commit's
    just-written files before its manifest publishes, the commit must
    withdraw the manifest and raise ConcurrentWriteError — never leave
    a head referencing deleted files."""
    import os
    path = str(tmp_path / "t")
    lake.write_table(_kv(spark, [(1, "a", 0)]), path)

    real_publish = lake._m_publish

    def publish_then_sweep(p, v, manifest):
        real_publish(p, v, manifest)
        # simulate the racing grace-less GC landing right after the
        # publish won but before the writer's existence check: delete
        # the NEW files this manifest introduced
        for e in manifest["files"]:
            if e.get("seq") == v:
                try:
                    os.unlink(os.path.join(p, e["path"]))
                except FileNotFoundError:
                    pass

    monkeypatch.setattr(lake, "_m_publish", publish_then_sweep)
    with pytest.raises(lake.ConcurrentWriteError, match="vacuum"):
        lake.merge_upsert(
            spark, path, _kv(spark, [(2, "b", 0)]), keys=["k"]
        )
    monkeypatch.setattr(lake, "_m_publish", real_publish)
    # the head was withdrawn: table is at v0, intact, and writable
    assert lake.versions(path) == [0]
    assert {r.k for r in lake.read_table(spark, path).collect()} == {1}
    lake.merge_upsert(spark, path, _kv(spark, [(2, "b", 0)]), keys=["k"])
    assert {r.k for r in lake.read_table(spark, path).collect()} == {1, 2}


def test_scan_table_partitions_ambiguous_string_value(spark, tmp_path):
    """partitions= pruning must honor the same _norm_part_val ambiguity
    fallback as the predicate algebra: a STRING partition recorded as
    '001' matches a request for integer 1 (the residual isin([1])
    matches it after Spark's implicit cast), so pruning it would break
    scan_table ≡ read_table().filter()."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "001"), (2, "001"), (3, "2")], "k long, p string"
    )
    lake.write_table(df, path, partition_by="p")
    got = lake.scan_table(spark, path, partitions={"p": 1})
    want = {
        r.k
        for r in lake.read_table(spark, path)
        .filter(F.col("p").isin([1]))
        .collect()
    }
    assert {r.k for r in got.collect()} == want
    assert want == {1, 2}, "residual cast matches '001'"
    # exact-string requests still prune: only the '2' file survives p='2'
    got2 = lake.scan_table(spark, path, partitions={"p": "2"})
    assert {r.k for r in got2.collect()} == {3}
    assert len(set(got2.inputFiles())) < len(
        set(lake.read_table(spark, path).inputFiles())
    )


# ---------------------------------------------------------------------------
# Rebase-publish (round 9): WAP under continuous ingest — a branch
# publish against an advanced parent re-applies the branch's net change
# onto the new head when the partition footprints are provably disjoint.
# ---------------------------------------------------------------------------


def test_branch_rebase_publish_under_parent_ingest(spark, tmp_path):
    """Parent ingests into partition p=1 between fork and publish; the
    branch rewrote p=0 only. Publish rebases: ONE new parent version
    carrying BOTH changes, zero data copied."""
    path = str(tmp_path / "t")
    lake.write_table(
        _kv(spark, [(1, "a", 0), (2, "b", 1)]), path, partition_by="p"
    )
    b = lake.create_branch(path, "wap")
    lake.merge_upsert(spark, b, _kv(spark, [(1, "AUDITED", 0)]), keys=["k"])
    # continuous ingest advances the parent in a DISJOINT partition
    lake.merge_upsert(spark, path, _kv(spark, [(3, "ingest", 1)]), keys=["k"])
    assert lake.latest_version(path) == 1
    v = lake.publish_branch(path, "wap")
    assert v == 2
    got = {(r.k, r.v, r.p) for r in lake.read_table(spark, path).collect()}
    assert got == {(1, "AUDITED", 0), (2, "b", 1), (3, "ingest", 1)}
    # the pre-publish ingest snapshot is still consistent
    mid = {(r.k, r.v, r.p) for r in lake.read_table(spark, path, 1).collect()}
    assert mid == {(1, "a", 0), (2, "b", 1), (3, "ingest", 1)}


def test_branch_rebase_publish_conflicting_partition_raises(spark, tmp_path):
    """Both sides changed partition p=0 since the fork: the rebase
    refuses (overlapping footprints) and the parent is untouched."""
    path = str(tmp_path / "t")
    lake.write_table(
        _kv(spark, [(1, "a", 0), (2, "b", 1)]), path, partition_by="p"
    )
    b = lake.create_branch(path, "wap")
    lake.merge_upsert(spark, b, _kv(spark, [(1, "branch", 0)]), keys=["k"])
    lake.merge_upsert(spark, path, _kv(spark, [(9, "parent", 0)]), keys=["k"])
    with pytest.raises(lake.ConcurrentWriteError, match="changed partition"):
        lake.publish_branch(path, "wap")
    got = {(r.k, r.v, r.p) for r in lake.read_table(spark, path).collect()}
    assert got == {(1, "a", 0), (2, "b", 1), (9, "parent", 0)}


def test_branch_rebase_publish_multi_step_parent_advance(spark, tmp_path):
    """Several parent commits (all disjoint from the branch) landed
    since the fork — the rebase applies onto the FINAL head."""
    path = str(tmp_path / "t")
    lake.write_table(
        _kv(spark, [(1, "a", 0), (2, "b", 1), (3, "c", 2)]),
        path,
        partition_by="p",
    )
    b = lake.create_branch(path, "wap")
    lake.merge_upsert(spark, b, _kv(spark, [(1, "B", 0)]), keys=["k"])
    lake.merge_upsert(spark, path, _kv(spark, [(4, "i1", 1)]), keys=["k"])
    lake.merge_upsert(spark, path, _kv(spark, [(5, "i2", 2)]), keys=["k"])
    v = lake.publish_branch(path, "wap")
    assert v == 3
    got = {(r.k, r.v, r.p) for r in lake.read_table(spark, path).collect()}
    assert got == {
        (1, "B", 0), (2, "b", 1), (3, "c", 2), (4, "i1", 1), (5, "i2", 2)
    }


# ---------------------------------------------------------------------------
# Streaming CDF source (round 9): ChangesStream drains the feed
# incrementally with a durable version offset.
# ---------------------------------------------------------------------------


def test_changes_stream_incremental_drain_and_resume(spark, tmp_path):
    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    lake.write_table(_kv(spark, [(1, "a", 0), (2, "b", 0)]), path)
    s = lake.read_changes_stream(
        spark, path, keys=["k"], checkpoint_dir=ckpt, from_version=0
    )
    assert s.drain() is None, "caught up at open"
    lake.merge_upsert(spark, path, _kv(spark, [(3, "c", 0)]), keys=["k"])
    b1 = {(r.k, r.op, r.version) for r in s.drain().collect()}
    assert b1 == {(3, "insert", 1)}
    # two commits between drains → ONE batch carrying both steps
    lake.merge_upsert(spark, path, _kv(spark, [(1, "A", 0)]), keys=["k"])
    lake.delete_where(spark, path, F.col("k") == 2)
    b2 = {(r.k, r.op, r.version) for r in s.drain().collect()}
    assert b2 == {(1, "update", 2), (2, "delete", 3)}
    assert s.drain() is None
    # a restarted consumer resumes from the durable offset
    s2 = lake.read_changes_stream(
        spark, path, keys=["k"], checkpoint_dir=ckpt
    )
    assert s2.consumed_version() == 3
    assert s2.drain() is None


def test_changes_stream_offset_commits_after_process(spark, tmp_path):
    """The at-least-once contract: a failing process callback leaves
    the offset uncommitted, so the SAME batch is redelivered."""
    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    lake.write_table(_kv(spark, [(1, "a", 0)]), path)
    s = lake.read_changes_stream(
        spark, path, keys=["k"], checkpoint_dir=ckpt, from_version=0
    )
    lake.merge_upsert(spark, path, _kv(spark, [(2, "b", 0)]), keys=["k"])
    with pytest.raises(RuntimeError, match="sink down"):
        s.drain(process=lambda df: (_ for _ in ()).throw(
            RuntimeError("sink down")))
    assert s.consumed_version() == 0, "offset must not commit"
    seen = []
    s.drain(process=lambda df: seen.append(
        {(r.k, r.op) for r in df.collect()}))
    assert seen == [{(2, "insert")}]
    assert s.consumed_version() == 1


def test_changes_stream_vacuumed_checkpoint_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    lake.write_table(_kv(spark, [(1, "a", 0)]), path)
    s = lake.read_changes_stream(
        spark, path, keys=["k"], checkpoint_dir=ckpt, from_version=0
    )
    lake.merge_upsert(spark, path, _kv(spark, [(2, "b", 0)]), keys=["k"])
    lake.merge_upsert(spark, path, _kv(spark, [(3, "c", 0)]), keys=["k"])
    lake.vacuum(path, keep_last=1, grace_seconds=0)  # drops v0, v1
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        s.drain()


def test_scan_table_in_subquery_dynamic_pruning(spark, tmp_path):
    """("in_subquery", col, dim_df): the dim query's distinct key set
    prunes the fact FILE LIST to a strict subset, and the result equals
    the plain filtered read — manifest-layer dynamic partition
    pruning."""
    path = str(tmp_path / "fact")
    fact = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    lake.write_table(fact.repartitionByRange(8, "k"), path)
    # dim side: a computed frame whose keys live in 2 of the 8 ranges
    dim = spark.range(40).select((F.col("id") + 30).alias("k"))
    got = lake.scan_table(spark, path, where=("in_subquery", "k", dim))
    dim_keys = {r.k for r in dim.collect()}
    want = {(r.k, r.v) for r in
            lake.read_table(spark, path)
            .filter(F.col("k").isin(list(dim_keys))).collect()}
    assert {(r.k, r.v) for r in got.collect()} == want and len(want) == 40
    full = lake.read_table(spark, path)
    assert 0 < len(set(got.inputFiles())) < len(set(full.inputFiles())), (
        "dim-derived key set must prune to a strict file subset"
    )
    # composes inside the algebra like any other leaf
    got2 = lake.scan_table(
        spark, path,
        where=("and", ("in_subquery", "k", dim), ("ge", "v", 3)),
    )
    want2 = {t for t in want if t[1] >= 3}
    assert {(r.k, r.v) for r in got2.collect()} == want2


def test_in_subquery_guards(spark, tmp_path):
    path = str(tmp_path / "t")
    lake.write_table(
        spark.createDataFrame([(1, 1)], "k long, v long"), path
    )
    with pytest.raises(ValueError, match="exactly one column"):
        lake.scan_table(
            spark, path,
            where=("in_subquery", "k",
                   spark.createDataFrame([(1, 2)], "a long, b long")),
        )
    import spype_spark.lakehouse as _lake
    old = _lake.IN_SUBQUERY_MAX_KEYS
    _lake.IN_SUBQUERY_MAX_KEYS = 5
    try:
        with pytest.raises(ValueError, match="semi-join"):
            lake.scan_table(
                spark, path,
                where=("in_subquery", "k",
                       spark.range(10).select(F.col("id").alias("k"))),
            )
    finally:
        _lake.IN_SUBQUERY_MAX_KEYS = old


# ---------------------------------------------------------------------------
# Type widening (round 9): ALTER ... TYPE as a metadata-only commit;
# carried narrow files read through the widened schema.
# ---------------------------------------------------------------------------


def test_widen_types_metadata_only_and_upcast_read(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10, 1.5), (2, 20, 2.5)], "k int, v int, x float"
    )
    lake.write_table(df.repartition(2), path)
    files_before = set(lake.data_files(path, 0))
    v = lake.widen_types(spark, path, {"v": "bigint", "x": "double"})
    assert v == 1
    assert set(lake.data_files(path, 1)) == files_before, (
        "widen must rewrite ZERO data files"
    )
    out = lake.read_table(spark, path)
    assert dict(out.dtypes) == {"k": "int", "v": "bigint", "x": "double"}
    assert {(r.k, r.v, float(r.x)) for r in out.collect()} == {
        (1, 10, 1.5), (2, 20, 2.5)
    }
    # pre-widen version still reads with ITS schema
    old = lake.read_table(spark, path, version=0)
    assert dict(old.dtypes)["v"] == "int"
    # the widened table accepts values only the wide type can hold
    lake.merge_upsert(
        spark, path,
        spark.createDataFrame(
            [(3, 2**40, 3.5)], "k int, v long, x double"
        ),
        keys=["k"],
    )
    got = {r.v for r in lake.read_table(spark, path).collect()}
    assert 2**40 in got and {10, 20} <= got


def test_widen_types_rejects_narrowing_and_unknown(spark, tmp_path):
    path = str(tmp_path / "t")
    lake.write_table(
        spark.createDataFrame([(1, 2**40)], "k int, v long"), path
    )
    with pytest.raises(ValueError, match="illegal type change"):
        lake.widen_types(spark, path, {"v": "int"})
    with pytest.raises(ValueError, match="illegal type change"):
        lake.widen_types(spark, path, {"v": "double"})  # lossy
    with pytest.raises(ValueError, match="unknown column"):
        lake.widen_types(spark, path, {"zz": "bigint"})
    # merge-path gate: updates that would coerce the schema lossily
    with pytest.raises(ValueError, match="illegal type change"):
        lake.merge_upsert(
            spark, path,
            spark.createDataFrame([(1, 1.0)], "k int, v double"),
            keys=["k"],
        )


def test_widen_types_partitioned_carry(spark, tmp_path):
    """Widen on a PARTITIONED table: every partition file carries by
    reference; a post-widen merge into one partition reads the other
    partitions' narrow files through the wide schema."""
    path = str(tmp_path / "t")
    lake.write_table(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b")], "k int, v int, p string"
        ),
        path,
        partition_by="p",
    )
    lake.widen_types(spark, path, {"v": "long"})
    lake.merge_upsert(
        spark, path,
        spark.createDataFrame([(3, 2**41, "a")], "k int, v long, p string"),
        keys=["k"],
    )
    got = {(r.k, r.v, r.p) for r in lake.read_table(spark, path).collect()}
    assert got == {(1, 10, "a"), (2, 20, "b"), (3, 2**41, "a")}


# ---------------------------------------------------------------------------
# Column mapping: rename/drop as metadata-only commits


def _physical_cols(fp: str) -> set[str]:
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fp).metadata
    return {md.schema.column(i).name for i in range(md.num_columns)}


def test_rename_metadata_only_and_mapped_read(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "k int, s string, x double"
    )
    lake.write_table(df.repartition(2), path)
    files = set(lake.data_files(path, 0))
    v = lake.rename_columns(spark, path, {"s": "label", "x": "score"})
    assert v == 1
    assert set(lake.data_files(path, 1)) == files, (
        "rename must rewrite ZERO data files"
    )
    out = lake.read_table(spark, path)
    assert out.columns == ["k", "label", "score"]
    assert {(r.k, r.label, r.score) for r in out.collect()} == {
        (1, "a", 1.5), (2, "b", 2.5)
    }
    # time travel serves the ORIGINAL names
    assert lake.read_table(spark, path, version=0).columns == ["k", "s", "x"]
    # files on disk keep the frozen physical names
    import os as _os

    fp = _os.path.join(path, lake.data_files(path, 1)[0])
    assert {"s", "x"} <= _physical_cols(fp)


def test_rename_then_write_uses_frozen_physical_names(spark, tmp_path):
    path = str(tmp_path / "t")
    lake.write_table(
        spark.createDataFrame([(1, 10.0)], "k int, x double"), path
    )
    lake.rename_columns(spark, path, {"x": "price"})
    lake.append_table(
        spark, path, spark.createDataFrame([(2, 20.0)], "k int, price double")
    )
    import os as _os

    new_files = set(lake.data_files(path, 2)) - set(lake.data_files(path, 1))
    assert new_files, "append must add a file"
    for f in new_files:
        cols = _physical_cols(_os.path.join(path, f))
        assert "x" in cols and "price" not in cols, (
            "post-rename writes must use the FROZEN physical name"
        )
    got = {(r.k, r.price) for r in lake.read_table(spark, path).collect()}
    assert got == {(1, 10.0), (2, 20.0)}


def test_rename_partition_column_prunes_by_new_name(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "A" if i % 2 else "B", float(i)) for i in range(20)],
        "k int, grp string, x double",
    )
    lake.write_table(df, path, partition_by=["grp"])
    lake.rename_columns(spark, path, {"grp": "bucket"})
    all_files = set(lake.data_files(path, 1))
    pruned = lake.scan_table(spark, path, partitions={"bucket": "A"})
    assert set(pruned.inputFiles()) < {
        "file://" + __import__("os").path.join(path, f) for f in all_files
    } or len(pruned.inputFiles()) < len(all_files)
    assert {r.k % 2 for r in pruned.collect()} == {1}
    # stats pruning under the renamed value column
    pr = lake.scan_table(spark, path, where=("le", "x", 0.0))
    assert {r.k for r in pr.collect()} == {0}
    # COW merge through the renamed partition column
    upd = spark.createDataFrame([(1, "A", 100.0)], "k int, bucket string, x double")
    lake.merge_upsert(spark, path, upd, keys=["k"])
    got = {r.k: r.x for r in lake.read_table(spark, path).collect()}
    assert got[1] == 100.0 and got[3] == 3.0


def test_drop_then_readd_never_resurrects(spark, tmp_path):
    path = str(tmp_path / "t")
    lake.write_table(
        spark.createDataFrame(
            [(1, "secret1", 1.0), (2, "secret2", 2.0)],
            "k int, s string, x double",
        ),
        path,
    )
    files = set(lake.data_files(path, 0))
    lake.drop_columns(spark, path, "s")
    assert set(lake.data_files(path, 1)) == files
    assert lake.read_table(spark, path).columns == ["k", "x"]
    # re-add the SAME logical name via schema evolution
    lake.merge_upsert(
        spark, path,
        spark.createDataFrame([(3, 3.0, "fresh")], "k int, x double, s string"),
        keys=["k"], evolve_schema=True,
    )
    got = {r.k: r.s for r in lake.read_table(spark, path).collect()}
    assert got == {1: None, 2: None, 3: "fresh"}, (
        "old column bytes must NOT resurrect through a re-added namesake"
    )
    # the re-added column got a FRESH physical name
    import json as _json
    import os as _os

    m = lake._m_load(path, lake.latest_version(path))
    phys = {f["name"]: lake._phys(f) for f in m["schema"]["fields"]}
    assert phys["s"] != "s" and phys["s"].startswith("s_")
    assert "s" in m.get("retired", [])
    # time travel to v0 still shows the original column and values
    old = {r.k: r.s for r in lake.read_table(spark, path, 0).collect()}
    assert old == {1: "secret1", 2: "secret2"}


def test_rename_drop_rejections(spark, tmp_path):
    path = str(tmp_path / "t")
    lake.write_table(
        spark.createDataFrame([(1, "a", 1.0)], "k int, s string, x double"),
        path,
        partition_by=["s"],
    )
    with pytest.raises(ValueError, match="unknown column"):
        lake.rename_columns(spark, path, {"nope": "y"})
    with pytest.raises(ValueError, match="collide"):
        lake.rename_columns(spark, path, {"x": "k"})
    with pytest.raises(ValueError, match="unknown column"):
        lake.drop_columns(spark, path, ["nope"])
    with pytest.raises(ValueError, match="partition column"):
        lake.drop_columns(spark, path, ["s"])
    # swap is simultaneous, not sequential
    lake.rename_columns(spark, path, {"k": "x", "x": "k"})
    out = lake.read_table(spark, path)
    assert set(out.columns) == {"k", "x", "s"}
    assert out.collect()[0].x == 1 and out.collect()[0].k == 1.0
    # pending equality deletes block rename/drop
    path2 = str(tmp_path / "t2")
    lake.write_table(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, x double"), path2
    )
    lake.delete_keys(spark, path2, spark.createDataFrame([(1,)], "k int"))
    with pytest.raises(ValueError, match="compact"):
        lake.rename_columns(spark, path2, {"x": "y"})
    with pytest.raises(ValueError, match="compact"):
        lake.drop_columns(spark, path2, ["x"])
    lake.compact(spark, path2)
    assert lake.rename_columns(spark, path2, {"x": "y"}) >= 3


def test_catalog_txn_inherits_column_mapping(spark, tmp_path):
    from spype_spark.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    with cat.transaction(spark) as txn:
        txn.write(
            spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, x double"),
            "t",
        )
    with cat.transaction(spark) as txn:
        txn.rename_columns("t", {"x": "price"})
    assert cat.read(spark, "t").columns == ["k", "price"]
    with cat.transaction(spark) as txn:
        txn.merge_upsert(
            "t",
            spark.createDataFrame(
                [(2, 99.0), (3, 30.0)], "k int, price double"
            ),
            keys=["k"],
        )
    out = cat.read(spark, "t")
    assert out.columns == ["k", "price"]
    assert {(r.k, r.price) for r in out.collect()} == {
        (1, 10.0), (2, 99.0), (3, 30.0)
    }
    # the txn's new files used the frozen physical name
    import os as _os

    tp = cat.table_path("t")
    vnew = lake.latest_version(tp)
    new_files = set(lake.data_files(tp, vnew)) - set(lake.data_files(tp, 0))
    assert new_files
    for f in new_files:
        assert "x" in _physical_cols(_os.path.join(tp, f))
    # staged drop + evolve re-add through the txn: no resurrection
    with cat.transaction(spark) as txn:
        txn.drop_columns("t", "price")
    with cat.transaction(spark) as txn:
        txn.merge_upsert(
            "t",
            spark.createDataFrame([(4, 44.0)], "k int, price double"),
            keys=["k"], evolve_schema=True,
        )
    got = {r.k: r.price for r in cat.read(spark, "t").collect()}
    assert got == {1: None, 2: None, 3: None, 4: 44.0}


# ---------------------------------------------------------------------------
# CHECK constraints


def test_add_constraint_enforced_on_all_write_paths(spark, tmp_path):
    from spype_spark.lakehouse import ConstraintViolation

    path = str(tmp_path / "t")
    lake.write_table(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, x double"),
        path,
    )
    files = set(lake.data_files(path, 0))
    v = lake.add_constraint(spark, path, "x_pos", ("gt", "x", 0.0))
    assert v == 1 and set(lake.data_files(path, 1)) == files
    assert set(lake.table_constraints(path)) == {"x_pos"}
    # good write passes
    lake.append_table(
        spark, path, spark.createDataFrame([(3, 30.0)], "k int, x double")
    )
    # violating append rejected, nothing written
    head = lake.latest_version(path)
    with pytest.raises(ConstraintViolation, match="x_pos"):
        lake.append_table(
            spark, path, spark.createDataFrame([(4, -1.0)], "k int, x double")
        )
    assert lake.latest_version(path) == head
    # violating merge rejected
    with pytest.raises(ConstraintViolation, match="x_pos"):
        lake.merge_upsert(
            spark, path,
            spark.createDataFrame([(1, -5.0)], "k int, x double"),
            keys=["k"],
        )
    # NULL passes (SQL CHECK: UNKNOWN satisfies)
    lake.merge_upsert(
        spark, path,
        spark.createDataFrame([(5, None)], "k int, x double"),
        keys=["k"],
    )
    got = {r.k: r.x for r in lake.read_table(spark, path).collect()}
    assert got == {1: 10.0, 2: 20.0, 3: 30.0, 5: None}
    # NOT NULL via notnull spec rejects exactly that
    lake.add_constraint(spark, path, "k_nn", ("notnull", "k"))
    with pytest.raises(ConstraintViolation, match="k_nn"):
        lake.append_table(
            spark, path,
            spark.createDataFrame([(None, 1.0)], "k int, x double"),
        )


def test_add_constraint_validates_existing_and_drops(spark, tmp_path):
    from spype_spark.lakehouse import ConstraintViolation

    path = str(tmp_path / "t")
    lake.write_table(
        spark.createDataFrame([(1, -1.0)], "k int, x double"), path
    )
    with pytest.raises(ConstraintViolation, match="not added"):
        lake.add_constraint(spark, path, "x_pos", ("gt", "x", 0.0))
    assert lake.table_constraints(path) == {}
    lake.add_constraint(spark, path, "x_neg", ("lt", "x", 0.0))
    lake.drop_constraint(spark, path, "x_neg")
    assert lake.table_constraints(path) == {}
    # after drop, formerly-violating writes pass again
    lake.append_table(
        spark, path, spark.createDataFrame([(2, 5.0)], "k int, x double")
    )
    with pytest.raises(ValueError, match="no constraint"):
        lake.drop_constraint(spark, path, "nope")
    with pytest.raises(ValueError, match="unknown column"):
        lake.add_constraint(spark, path, "c", ("gt", "zz", 0))


def test_constraint_survives_rename_and_blocks_drop(spark, tmp_path):
    from spype_spark.lakehouse import ConstraintViolation

    path = str(tmp_path / "t")
    lake.write_table(
        spark.createDataFrame([(1, 10.0)], "k int, x double"), path
    )
    lake.add_constraint(spark, path, "x_pos", ("gt", "x", 0.0))
    lake.rename_columns(spark, path, {"x": "price"})
    # the constraint spec was rekeyed to the new logical name
    assert lake.table_constraints(path)["x_pos"][1] == "price"
    with pytest.raises(ConstraintViolation, match="x_pos"):
        lake.append_table(
            spark, path,
            spark.createDataFrame([(2, -1.0)], "k int, price double"),
        )
    # dropping a constrained column is rejected until the constraint goes
    with pytest.raises(ValueError, match="x_pos"):
        lake.drop_columns(spark, path, "price")
    lake.drop_constraint(spark, path, "x_pos")
    lake.drop_columns(spark, path, "price")
    assert lake.read_table(spark, path).columns == ["k"]


def test_constraint_enforced_through_catalog_txn(spark, tmp_path):
    from spype_spark.catalog import Catalog
    from spype_spark.lakehouse import ConstraintViolation

    cat = Catalog(str(tmp_path / "cat"))
    with cat.transaction(spark) as txn:
        txn.write(
            spark.createDataFrame([(1, 10.0)], "k int, x double"), "t"
        )
    lake.add_constraint(
        spark, cat.table_path("t"), "x_pos", ("gt", "x", 0.0)
    )
    # note: out-of-band constraint add bumps the table dir, but the
    # catalog txn reads the slot its record pins — stage a no-op txn
    # write to re-sync? No: _stage loads the BASE manifest the txn
    # resolves, which predates the constraint. The supported route is
    # the direct verbs between txns; catalog state re-syncs on the
    # next committed txn. Here we assert the DIRECT path still guards
    # catalog-table writes once the constraint version is the base.
    txn = cat.transaction(spark)
    try:
        base = txn._resolve("t")
        mf = lake._m_load(cat.table_path("t"), base)
        if mf.get("constraints"):
            with pytest.raises(ConstraintViolation):
                txn.append(
                    spark.createDataFrame([(2, -1.0)], "k int, x double"),
                    "t",
                )
    finally:
        txn.abort()


# ---------------------------------------------------------------------------
# RESTORE (roll back to an earlier version as a new commit) and
# timestamp-based time travel
# ---------------------------------------------------------------------------


def test_restore_is_metadata_only_and_preserves_history(spark, tbl):
    upd = spark.createDataFrame([(1, "X", 0.0)], "k long, s string, v double")
    lake.merge_upsert(spark, tbl, upd, keys=["k"])          # v1
    lake.delete_where(spark, tbl, F.col("k") == 2)          # v2
    v = lake.restore_table(spark, tbl, 1)                   # v3
    assert v == 3
    # metadata-only: the restored head lists v1's files by reference
    assert lake.data_files(tbl, 3) == lake.data_files(tbl, 1)
    assert rows(lake.read_table(spark, tbl)) == rows(
        lake.read_table(spark, tbl, version=1)
    )
    # history preserved: the undone v2 still time-travels
    assert rows(lake.read_table(spark, tbl, version=2)) == {
        (1, "X", 0.0), (3, "c", 30.0)
    }


def test_restore_vacuumed_version_raises(spark, tbl):
    upd = spark.createDataFrame([(9, "z", 1.0)], "k long, s string, v double")
    lake.merge_upsert(spark, tbl, upd, keys=["k"])          # v1
    lake.vacuum(tbl, keep_last=1, grace_seconds=0)
    with pytest.raises(ValueError, match="vacuumed or never"):
        lake.restore_table(spark, tbl, 0)


def test_restore_rolls_back_schema_and_constraints(spark, tbl):
    lake.add_constraint(spark, tbl, "pos", ("ge", "v", 0))     # v1
    wide = spark.createDataFrame(
        [(7, "w", 70.0, "extra")], "k long, s string, v double, tag string"
    )
    lake.merge_upsert(spark, tbl, wide, keys=["k"], evolve_schema=True)  # v2
    v = lake.restore_table(spark, tbl, 0)                   # v3: pre-both
    assert "tag" not in lake.read_table(spark, tbl).columns
    assert lake.table_constraints(tbl) == {}
    # constraint no longer enforced after the rollback
    bad = spark.createDataFrame([(8, "n", -5.0)], "k long, s string, v double")
    lake.merge_upsert(spark, tbl, bad, keys=["k"])
    assert (8, "n", -5.0) in rows(lake.read_table(spark, tbl))
    assert v == 3


def test_restore_retired_physicals_stay_retired(spark, tmp_path):
    # drop a column AFTER the restore point, restore, then re-add a
    # namesake: the physical name retired by the (undone) drop must NOT
    # be reassigned — old bytes never resurrect through a restore
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, x double")
    path = str(tmp_path / "rtbl")
    lake.write_table(df, path)                              # v0
    lake.drop_columns(spark, path, ["x"])                   # v1: x retired
    lake.restore_table(spark, path, 0)                      # v2: x is back
    m2 = lake._m_load(path, 2)
    assert m2.get("retired"), "retired set must survive the restore"
    # drop again and evolve-re-add: unmatched rows must read NULL, not
    # the original x values
    lake.drop_columns(spark, path, ["x"])                   # v3
    upd = spark.createDataFrame([(1, 111.0)], "k long, x double")
    lake.merge_upsert(spark, path, upd, keys=["k"], evolve_schema=True)
    assert rows(lake.read_table(spark, path)) == {(1, 111.0), (2, None)}


def test_restore_then_vacuum_keeps_restored_files(spark, tbl):
    upd = spark.createDataFrame([(1, "X", 0.0)], "k long, s string, v double")
    lake.merge_upsert(spark, tbl, upd, keys=["k"])          # v1
    lake.restore_table(spark, tbl, 0)                       # v2 == v0 content
    lake.vacuum(tbl, keep_last=1, grace_seconds=0)
    assert rows(lake.read_table(spark, tbl)) == {
        (1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)
    }


def test_timestamp_travel_resolves_versions(spark, tbl):
    import os as _os

    upd = spark.createDataFrame([(1, "X", 0.0)], "k long, s string, v double")
    lake.merge_upsert(spark, tbl, upd, keys=["k"])          # v1
    # pin deterministic commit times on the manifest objects
    _os.utime(lake._m_path(tbl, 0), (1000.0, 1000.0))
    _os.utime(lake._m_path(tbl, 1), (2000.0, 2000.0))
    assert lake.version_at(tbl, 1500.0) == 0
    assert lake.version_at(tbl, 2000.0) == 1
    assert lake.version_at(tbl, 1e12) == 1
    with pytest.raises(ValueError, match="no version"):
        lake.version_at(tbl, 999.0)
    assert rows(lake.read_table(spark, tbl, timestamp=1500.0)) == rows(
        lake.read_table(spark, tbl, version=0)
    )
    with pytest.raises(ValueError, match="not both"):
        lake.read_table(spark, tbl, version=0, timestamp=1500.0)


def test_timestamp_travel_clamps_nonmonotonic_clock(spark, tbl):
    import os as _os

    upd = spark.createDataFrame([(1, "X", 0.0)], "k long, s string, v double")
    lake.merge_upsert(spark, tbl, upd, keys=["k"])          # v1
    # clock stepped BACKWARDS between commits: v1 older-stamped than v0
    _os.utime(lake._m_path(tbl, 0), (2000.0, 2000.0))
    _os.utime(lake._m_path(tbl, 1), (1000.0, 1000.0))
    ts = dict(lake.commit_timestamps(tbl))
    assert ts[1] >= ts[0]           # monotonic clamp
    assert lake.version_at(tbl, 2000.0) == 1


# ---------------------------------------------------------------------------
# Shallow clone
# ---------------------------------------------------------------------------


def _parquet_under(root):
    import os as _os
    out = []
    for r, _d, fs in _os.walk(root):
        out += [f for f in fs if f.endswith(".parquet")]
    return out


def test_clone_is_metadata_only_and_reads_source_state(spark, tbl, tmp_path):
    dst = str(tmp_path / "clone")
    assert lake.clone_table(tbl, dst) == 0
    assert _parquet_under(dst) == []          # zero data copied
    assert rows(lake.read_table(spark, dst)) == rows(
        lake.read_table(spark, tbl)
    )


def test_clone_diverges_independently(spark, tbl, tmp_path):
    dst = str(tmp_path / "clone")
    lake.clone_table(tbl, dst)
    upd = spark.createDataFrame([(1, "C", 9.0)], "k long, s string, v double")
    lake.merge_upsert(spark, dst, upd, keys=["k"])
    lake.delete_where(spark, tbl, F.col("k") == 3)
    assert rows(lake.read_table(spark, dst)) == {
        (1, "C", 9.0), (2, "b", 20.0), (3, "c", 30.0)
    }
    assert rows(lake.read_table(spark, tbl)) == {
        (1, "a", 10.0), (2, "b", 20.0)
    }


def test_source_vacuum_keeps_clone_referenced_files(spark, tbl, tmp_path):
    dst = str(tmp_path / "clone")
    lake.clone_table(tbl, dst)
    # source rewrites everything, then vacuums aggressively: the files
    # only the clone still references MUST survive (clone refcount)
    lake.delete_where(spark, tbl, F.col("k") < 10)   # drops all rows
    lake.vacuum(tbl, keep_last=1, grace_seconds=0)
    assert rows(lake.read_table(spark, dst)) == {
        (1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)
    }


def test_dropped_clone_unpins_source_files(spark, tbl, tmp_path):
    import os as _os, shutil as _sh
    dst = str(tmp_path / "clone")
    lake.clone_table(tbl, dst)
    lake.delete_where(spark, tbl, F.col("k") < 10)
    _sh.rmtree(dst)                            # user drops the clone
    lake.vacuum(tbl, keep_last=1, grace_seconds=0)
    # with the clone gone nothing pins v0's files; the head (empty
    # after the full delete) remains readable and the marker retires
    assert lake.read_table(spark, tbl).count() == 0
    cdir = _os.path.join(tbl, "_clones")
    assert all(not n.endswith(".json") for n in _os.listdir(cdir))


def test_clone_rejects_nesting_and_nonempty(spark, tbl, tmp_path):
    with pytest.raises(ValueError, match="nest"):
        lake.clone_table(tbl, tbl + "/sub")
    dst = str(tmp_path / "dirty")
    import os as _os
    _os.makedirs(dst)
    open(_os.path.join(dst, "x"), "w").close()
    with pytest.raises(FileExistsError):
        lake.clone_table(tbl, dst)


def test_clone_of_clone(spark, tbl, tmp_path):
    c1 = str(tmp_path / "c1")
    c2 = str(tmp_path / "c2")
    lake.clone_table(tbl, c1)
    upd = spark.createDataFrame([(4, "d", 40.0)], "k long, s string, v double")
    lake.merge_upsert(spark, c1, upd, keys=["k"])
    lake.clone_table(c1, c2)
    # c2 sees c1's merged state; vacuum BOTH ancestors, c2 survives
    lake.delete_where(spark, c1, F.col("k") < 10)
    lake.vacuum(c1, keep_last=1, grace_seconds=0)
    lake.vacuum(tbl, keep_last=1, grace_seconds=0)
    assert rows(lake.read_table(spark, c2)) == {
        (1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)
    }


def test_grandclone_pins_grandparent_files_transitively(spark, tbl, tmp_path):
    c1 = str(tmp_path / "g1")
    c2 = str(tmp_path / "g2")
    lake.clone_table(tbl, c1)
    lake.clone_table(c1, c2)
    # rewrite + aggressively vacuum BOTH ancestors: only c2 pins the
    # original files now, and only transitively (c2 is registered in
    # c1, not in tbl)
    lake.delete_where(spark, c1, F.col("k") < 10)
    lake.vacuum(c1, keep_last=1, grace_seconds=0)
    lake.delete_where(spark, tbl, F.col("k") < 10)
    lake.vacuum(tbl, keep_last=1, grace_seconds=0)
    assert rows(lake.read_table(spark, c2)) == {
        (1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)
    }


# ---------------------------------------------------------------------------
# Full-clause MERGE (matched-delete, not-matched-by-source)
# ---------------------------------------------------------------------------


def test_merge_by_source_delete_syncs_to_source(spark, tbl):
    src = spark.createDataFrame(
        [(2, "B", 99.0), (5, "e", 50.0)], "k long, s string, v double"
    )
    lake.merge(spark, tbl, src, ["k"], when_not_matched_by_source="delete")
    # matched updated, new inserted, every unmatched target deleted
    assert rows(lake.read_table(spark, tbl)) == {(2, "B", 99.0), (5, "e", 50.0)}


def test_merge_by_source_delete_condition_gates(spark, tbl):
    src = spark.createDataFrame(
        [(2, "B", 99.0)], "k long, s string, v double"
    )
    lake.merge(
        spark, tbl, src, ["k"],
        when_not_matched_by_source="delete",
        by_source_condition=lambda t: t["v"] >= 30.0,
    )
    # k=3 (v=30) deleted, k=1 (v=10) kept, k=2 updated
    assert rows(lake.read_table(spark, tbl)) == {
        (1, "a", 10.0), (2, "B", 99.0)
    }


def test_merge_matched_delete_keys_only_source(spark, tbl):
    src = spark.createDataFrame([(1,), (3,), (9,)], "k long")
    lake.merge(
        spark, tbl, src, ["k"],
        when_matched="delete", when_not_matched=None,
    )
    assert rows(lake.read_table(spark, tbl)) == {(2, "b", 20.0)}


def test_merge_matched_delete_with_condition(spark, tbl):
    src = spark.createDataFrame([(1,), (3,)], "k long")
    lake.merge(
        spark, tbl, src, ["k"],
        when_matched="delete",
        matched_condition=lambda u, t: t["v"] > 15.0,
        when_not_matched=None,
    )
    # only k=3 (v=30) passes the condition; k=1 survives
    assert rows(lake.read_table(spark, tbl)) == {
        (1, "a", 10.0), (2, "b", 20.0)
    }


def test_merge_by_source_update_assignments(spark, tbl):
    src = spark.createDataFrame([(1,)], "k long")
    lake.merge(
        spark, tbl, src, ["k"],
        when_matched=None, when_not_matched=None,
        when_not_matched_by_source={
            "s": "stale", "v": lambda t: t["v"] * 2.0
        },
    )
    assert rows(lake.read_table(spark, tbl)) == {
        (1, "a", 10.0), (2, "stale", 40.0), (3, "stale", 60.0)
    }


def test_merge_insert_only(spark, tbl):
    src = spark.createDataFrame(
        [(1, "IGNORED", 0.0), (7, "g", 70.0)], "k long, s string, v double"
    )
    lake.merge(spark, tbl, src, ["k"], when_matched=None)
    assert rows(lake.read_table(spark, tbl)) == {
        (1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (7, "g", 70.0)
    }


def test_merge_null_target_keys_flow_to_by_source_clause(spark, tmp_path):
    df = spark.createDataFrame(
        [(None, 1.0), (1, 2.0)], "k long, v double"
    )
    path = str(tmp_path / "nulltbl")
    lake.write_table(df, path)
    src = spark.createDataFrame([(1, 9.0)], "k long, v double")
    lake.merge(
        spark, path, src, ["k"], when_not_matched_by_source="delete"
    )
    # NULL key never matches → not-matched-by-source → deleted
    assert rows(lake.read_table(spark, path)) == {(1, 9.0)}


def test_merge_default_clauses_delegate_to_upsert(spark, tbl):
    src = spark.createDataFrame(
        [(2, "B", 99.0), (5, "e", 50.0)], "k long, s string, v double"
    )
    lake.merge(spark, tbl, src, ["k"])
    assert rows(lake.read_table(spark, tbl)) == {
        (1, "a", 10.0), (2, "B", 99.0), (3, "c", 30.0), (5, "e", 50.0)
    }


def test_merge_clause_validation(spark, tbl):
    src = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="no-op"):
        lake.merge(spark, tbl, src, ["k"], when_matched=None,
                   when_not_matched=None)
    with pytest.raises(ValueError, match="update/delete"):
        lake.merge(spark, tbl, src, ["k"], when_matched="upsert")
    with pytest.raises(ValueError, match="by_source_condition"):
        lake.merge(spark, tbl, src, ["k"],
                   by_source_condition=lambda t: t["v"] > 0)
    with pytest.raises(ValueError, match="every table column"):
        lake.merge(spark, tbl, src, ["k"], when_matched="update",
                   when_not_matched=None,
                   when_not_matched_by_source="delete")


def test_merge_partitioned_cow_carries_without_by_source(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "p1", 1.0), (2, "p1", 2.0), (3, "p2", 3.0), (4, "p3", 4.0)],
        "k long, p string, v double",
    )
    path = str(tmp_path / "cowmerge")
    lake.write_table(df, path, partition_by=["p"])
    before = {f for f in lake.data_files(path, 0)}
    src = spark.createDataFrame([(2, "p1", 9.0)], "k long, p string, v double")
    # matched-delete merge restricted to p1: p2/p3 files must carry
    lake.merge(
        spark, path, src, ["k"],
        when_matched="delete", when_not_matched=None,
    )
    after = set(lake.data_files(path, 1))
    carried = before & after
    assert any("p=p2" in f for f in carried)
    assert any("p=p3" in f for f in carried)
    assert rows(lake.read_table(spark, path)) == {
        (1, "p1", 1.0), (3, "p2", 3.0), (4, "p3", 4.0)
    }


def test_merge_by_source_rewrites_all_but_is_correct(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "p1", 1.0), (3, "p2", 3.0)], "k long, p string, v double"
    )
    path = str(tmp_path / "bsmerge")
    lake.write_table(df, path, partition_by=["p"])
    src = spark.createDataFrame([(1, "p1", 9.0)], "k long, p string, v double")
    lake.merge(
        spark, path, src, ["k"], when_not_matched_by_source="delete"
    )
    assert rows(lake.read_table(spark, path)) == {(1, "p1", 9.0)}


# ---------------------------------------------------------------------------
# Hidden partitioning (Iceberg-style partition transforms)
# ---------------------------------------------------------------------------


@pytest.fixture()
def ttbl(spark, tmp_path):
    import datetime as dt
    rows_ = [
        (i, dt.datetime(2024, 1, 1 + i % 10, 8, 0, 0), i % 7, float(i))
        for i in range(100)
    ]
    df = spark.createDataFrame(rows_, "k long, ts timestamp, u long, v double")
    path = str(tmp_path / "ttbl")
    lake.write_table(
        df, path, partition_by=[("days", "ts"), ("bucket", 4, "u")]
    )
    return path


def test_transform_columns_are_hidden(spark, ttbl):
    assert lake.read_table(spark, ttbl).columns == ["k", "ts", "u", "v"]
    assert lake.scan_table(spark, ttbl).columns == ["k", "ts", "u", "v"]
    # ...but recorded in every entry's partition tuple
    m = lake._m_load(ttbl, 0)
    e = lake._m_entries(ttbl, m)[0]
    assert set(e["partition"]) == {"_p_days_ts", "_p_bucket4_u"}


def test_transform_scan_prunes_days_range(spark, ttbl):
    import datetime as dt
    lo, hi = dt.datetime(2024, 1, 3), dt.datetime(2024, 1, 4, 23, 59)
    sc = lake.scan_table(spark, ttbl, where=("between", "ts", lo, hi))
    full = lake.read_table(spark, ttbl)
    assert sc.count() == full.filter(F.col("ts").between(lo, hi)).count() > 0
    assert 0 < len(sc.inputFiles()) < len(full.inputFiles())


def test_transform_scan_prunes_bucket_eq(spark, ttbl):
    sc = lake.scan_table(spark, ttbl, where=("eq", "u", 3))
    full = lake.read_table(spark, ttbl)
    assert sc.count() == full.filter(F.col("u") == 3).count() > 0
    assert 0 < len(sc.inputFiles()) < len(full.inputFiles())
    # partitions= knob routes through the same transform pruning
    # (bucket-only — the where= path additionally prunes on u's
    # min/max file stats, so it may keep strictly fewer files)
    sc2 = lake.scan_table(spark, ttbl, partitions={"u": 3})
    assert sc2.count() == sc.count()
    assert len(sc.inputFiles()) <= len(sc2.inputFiles()) < len(
        full.inputFiles()
    )


def test_transform_scan_or_nest_is_conservative_but_exact(spark, ttbl):
    sc = lake.scan_table(
        spark, ttbl, where=("or", ("eq", "u", 1), ("eq", "u", 2))
    )
    full = lake.read_table(spark, ttbl)
    assert sc.count() == full.filter(F.col("u").isin(1, 2)).count()


def test_transform_merge_carries_untouched_days(spark, ttbl):
    import datetime as dt
    upd = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 2, 8, 0, 0), 1 % 7, 999.0)],
        "k long, ts timestamp, u long, v double",
    )
    before = set(lake.data_files(ttbl, 0))
    lake.merge_upsert(spark, ttbl, upd, keys=["k"])
    carried = before & set(lake.data_files(ttbl, 1))
    assert carried, "untouched hidden partitions must carry by reference"
    got = {
        tuple(r)
        for r in lake.read_table(spark, ttbl).filter(F.col("k") == 1).collect()
    }
    assert got == {(1, dt.datetime(2024, 1, 2, 8, 0, 0), 1, 999.0)}


def test_transform_update_rederives_hidden_value(spark, ttbl):
    import datetime as dt
    moved = dt.datetime(2024, 3, 1, 12, 0, 0)
    lake.update_where(spark, ttbl, F.col("k") == 5, {"ts": F.lit(moved)})
    sc = lake.scan_table(
        spark, ttbl, where=("ge", "ts", dt.datetime(2024, 2, 1))
    )
    assert [r["k"] for r in sc.collect()] == [5]
    assert len(sc.inputFiles()) < len(lake.read_table(spark, ttbl).inputFiles())


def test_transform_append_derives_hidden(spark, ttbl):
    import datetime as dt
    extra = spark.createDataFrame(
        [(1000, dt.datetime(2024, 1, 1, 9, 0, 0), 2, 1.0)],
        "k long, ts timestamp, u long, v double",
    )
    lake.append_table(spark, ttbl, extra)
    assert lake.read_table(spark, ttbl).count() == 101


def test_transform_survives_restore_clone_branch(spark, ttbl, tmp_path):
    lake.delete_where(spark, ttbl, F.col("k") < 50)        # v1
    lake.restore_table(spark, ttbl, 0)                     # v2
    assert lake._m_load(ttbl, 2).get("transforms")
    dst = str(tmp_path / "tclone")
    lake.clone_table(ttbl, dst)
    sc = lake.scan_table(spark, dst, where=("eq", "u", 1))
    assert 0 < len(sc.inputFiles()) < len(lake.read_table(spark, dst).inputFiles())
    lake.create_branch(ttbl, "dev")
    bp = lake.branch_path(ttbl, "dev")
    assert lake._m_load(bp, 0).get("transforms")


def test_transform_guards(spark, ttbl, tmp_path):
    with pytest.raises(ValueError, match="hidden partition"):
        lake.rename_columns(spark, ttbl, {"_p_days_ts": "x"})
    with pytest.raises(ValueError, match="hidden partitioning"):
        lake.drop_columns(spark, ttbl, ["u"])
    with pytest.raises(ValueError, match="hash domain"):
        lake.widen_types(spark, ttbl, {"u": "bigint"})  # u already long: still guarded first
    df = spark.createDataFrame([(1, 2.0)], "k long, v double")
    with pytest.raises(ValueError, match="unknown partition transform"):
        lake.write_table(df, str(tmp_path / "bad"),
                         partition_by=[("years", "k")])


def test_transform_rename_source_follows(spark, ttbl):
    lake.rename_columns(spark, ttbl, {"u": "uid"})
    tf = {t["source"] for t in lake._m_load(ttbl, 1)["transforms"]}
    assert "uid" in tf and "u" not in tf
    sc = lake.scan_table(spark, ttbl, where=("eq", "uid", 3))
    assert 0 < len(sc.inputFiles()) < len(
        lake.read_table(spark, ttbl).inputFiles()
    )


def test_transform_truncate_and_hours(spark, tmp_path):
    import datetime as dt
    rows_ = [
        (i, dt.datetime(2024, 1, 1, i % 24, 30, 0), i * 7) for i in range(48)
    ]
    df = spark.createDataFrame(rows_, "k long, ts timestamp, m long")
    path = str(tmp_path / "thtbl")
    lake.write_table(
        df, path, partition_by=[("hours", "ts"), ("truncate", 100, "m")]
    )
    full = lake.read_table(spark, path)
    sc = lake.scan_table(
        spark, path,
        where=("and",
               ("le", "ts", dt.datetime(2024, 1, 1, 5, 59)),
               ("between", "m", 100, 199)),
    )
    ref = full.filter(
        (F.col("ts") <= dt.datetime(2024, 1, 1, 5, 59))
        & F.col("m").between(100, 199)
    )
    assert sc.count() == ref.count() > 0
    assert 0 < len(sc.inputFiles()) < len(full.inputFiles())


def test_clone_of_branch_pins_branch_files_through_parent_vacuum(
    spark, tbl, tmp_path
):
    # branch writes its own data; a clone of the BRANCH references it;
    # dropping the branch then vacuuming the parent must keep the files
    # the clone still names (clone registries of branch dirs are part
    # of the GC walk)
    lake.create_branch(tbl, "dev")
    bp = lake.branch_path(tbl, "dev")
    upd = spark.createDataFrame([(9, "z", 90.0)], "k long, s string, v double")
    lake.merge_upsert(spark, bp, upd, keys=["k"])
    dst = str(tmp_path / "bclone")
    lake.clone_table(bp, dst)
    lake.drop_branch(tbl, "dev", grace_seconds=0)
    lake.vacuum(tbl, keep_last=1, grace_seconds=0)
    assert rows(lake.read_table(spark, dst)) == {
        (1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (9, "z", 90.0)
    }


def test_transform_prunes_compose_with_in_subquery(spark, ttbl):
    # dynamic file pruning: the dim side resolves to an IN list first
    # (_pred_resolve), which the bucket transform then hashes — hidden
    # partitioning and manifest-layer DPP compose
    dim = spark.createDataFrame([(1,), (2,)], "u long")
    sc = lake.scan_table(spark, ttbl, where=("in_subquery", "u", dim))
    full = lake.read_table(spark, ttbl)
    assert sc.count() == full.filter(F.col("u").isin(1, 2)).count() > 0
    assert 0 < len(sc.inputFiles()) < len(full.inputFiles())


# ---------------------------------------------------------------------------
# Positional deletion vectors (merge-on-read predicate deletes)
# ---------------------------------------------------------------------------


def test_dv_delete_zero_rewrites_and_null_semantics(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0), (4, 40.0)], "k long, v double"
    )
    path = str(tmp_path / "dvtbl")
    lake.write_table(df.repartition(2), path)
    f0 = lake.data_files(path, 0)
    lake.delete_where_dv(spark, path, F.col("v") > 20.0)
    assert lake.data_files(path, 1) == f0          # zero rewrites
    # NULL-evaluating row (k=2) kept — SQL DELETE semantics
    assert rows(lake.read_table(spark, path)) == {(1, 10.0), (2, None)}
    assert lake.read_table(spark, path, 0).count() == 4   # time travel


def test_dv_sequence_rule_reinsert_not_swallowed(spark, tbl):
    lake.delete_where_dv(spark, tbl, F.col("k") == 2)
    upd = spark.createDataFrame([(2, "B", 99.0)], "k long, s string, v double")
    lake.merge_upsert(spark, tbl, upd, keys=["k"])
    assert (2, "B", 99.0) in rows(lake.read_table(spark, tbl))


def test_dv_composes_with_equality_deletes(spark, tbl):
    lake.delete_keys(spark, tbl, spark.createDataFrame([(1,)], "k long"))
    lake.delete_where_dv(spark, tbl, F.col("v") >= 30.0)
    assert rows(lake.read_table(spark, tbl)) == {(2, "b", 20.0)}


def test_dv_applies_through_scan_table_pruning(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "k long, v double"
    )
    path = str(tmp_path / "dvscan")
    lake.write_table(df.repartition(5), path)
    lake.delete_where_dv(spark, path, F.col("k") % 2 == 0)
    sc = lake.scan_table(spark, path, where=("lt", "k", 10))
    assert {r["k"] for r in sc.collect()} == {1, 3, 5, 7, 9}


def test_dv_carries_through_clone_and_branch(spark, tbl, tmp_path):
    lake.delete_where_dv(spark, tbl, F.col("k") == 1)
    dst = str(tmp_path / "dvclone")
    lake.clone_table(tbl, dst)
    assert rows(lake.read_table(spark, dst)) == {
        (2, "b", 20.0), (3, "c", 30.0)
    }
    lake.create_branch(tbl, "dev")
    bp = lake.branch_path(tbl, "dev")
    assert rows(lake.read_table(spark, bp)) == {
        (2, "b", 20.0), (3, "c", 30.0)
    }


def test_dv_compact_clears_and_vacuum_collects(spark, tbl):
    lake.delete_where_dv(spark, tbl, F.col("k") == 1)
    dv_rel = lake._m_load(tbl, 1)["pos_deletes"][0]["path"]
    import os as _os
    assert _os.path.exists(_os.path.join(tbl, dv_rel))
    lake.compact(spark, tbl, target_files=1)
    assert not lake._m_load(tbl, 2).get("pos_deletes")
    lake.vacuum(tbl, keep_last=1, grace_seconds=0)
    assert not _os.path.exists(_os.path.join(tbl, dv_rel))  # unreferenced
    assert rows(lake.read_table(spark, tbl)) == {
        (2, "b", 20.0), (3, "c", 30.0)
    }


def test_dv_restore_rolls_back(spark, tbl):
    lake.delete_where_dv(spark, tbl, F.col("k") == 1)     # v1
    lake.delete_where_dv(spark, tbl, F.col("k") == 2)     # v2
    lake.restore_table(spark, tbl, 1)                     # v3
    assert rows(lake.read_table(spark, tbl)) == {
        (2, "b", 20.0), (3, "c", 30.0)
    }


def test_dv_with_hidden_partitioning(spark, ttbl):
    lake.delete_where_dv(spark, ttbl, F.col("k") < 10)
    out = lake.read_table(spark, ttbl)
    assert out.count() == 90
    assert out.columns == ["k", "ts", "u", "v"]


def test_transform_truncate_string_prefix(spark, tmp_path):
    rows_ = [(i, f"src{i % 20:02d}xyz", float(i)) for i in range(100)]
    df = spark.createDataFrame(rows_, "k long, s string, v double")
    path = str(tmp_path / "strtr")
    lake.write_table(df, path, partition_by=[("truncate", 5, "s")])
    full = lake.read_table(spark, path)
    # eq prunes via the 5-char prefix slot
    sc = lake.scan_table(spark, path, where=("eq", "s", "src07xyz"))
    assert sc.count() == full.filter(F.col("s") == "src07xyz").count() > 0
    assert 0 < len(sc.inputFiles()) < len(full.inputFiles())
    # lexicographic range prunes too (prefix truncate is monotonic)
    sc2 = lake.scan_table(
        spark, path, where=("between", "s", "src03", "src05~")
    )
    ref2 = full.filter(F.col("s").between("src03", "src05~"))
    assert sc2.count() == ref2.count() > 0
    assert 0 < len(sc2.inputFiles()) < len(full.inputFiles())


def test_transform_truncate_string_unsafe_values_conservative(spark, tmp_path):
    # values with path-special characters: the recorded directory
    # spelling is Hive-escaped, so pruning must keep those files and
    # let the residual filter decide
    df = spark.createDataFrame(
        [(1, "a b:c", 1.0), (2, "plain", 2.0)], "k long, s string, v double"
    )
    path = str(tmp_path / "stresc")
    lake.write_table(df, path, partition_by=[("truncate", 3, "s")])
    sc = lake.scan_table(spark, path, where=("eq", "s", "a b:c"))
    assert rows(sc) == {(1, "a b:c", 1.0)}


def test_transform_truncate_rejects_bad_source_types(spark, tmp_path):
    df = spark.createDataFrame([(1.5, 1)], "x double, k long")
    with pytest.raises(ValueError, match="integer or string source"):
        lake.write_table(
            df, str(tmp_path / "badtr"), partition_by=[("truncate", 10, "x")]
        )


# ---------------------------------------------------------------------------
# Round 10: full-clause MERGE cardinality guard, branch-publish seq
# restamping for incremental consumers, and timezone-safe hidden-
# partition probes (ADVICE r9 medium/low items).
# ---------------------------------------------------------------------------


def test_merge_full_duplicate_source_match_raises(spark, tmp_path):
    """A target row matched by multiple source rows raises (SQL MERGE
    cardinality violation / Delta's multiple-source-rows error) instead
    of silently emitting the target once per source row; duplicate
    SOURCE-ONLY keys stay legal (SQL inserts one row each)."""
    path = str(tmp_path / "dup")
    lake.write_table(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double"),
        path,
    )
    src = spark.createDataFrame(
        [(1, 11.0), (1, 12.0), (3, 30.0)], "k long, v double"
    )
    # update-only merge exercises the full-clause kernel (the default
    # update+insert clause pair delegates to the merge_upsert fast
    # path, whose anti-join core cannot fan out)
    with pytest.raises(Exception, match="multiple source rows"):
        lake.merge(spark, path, src, ["k"], when_not_matched=None)
    assert {(r.k, r.v) for r in lake.read_table(spark, path).collect()} == {
        (1, 10.0), (2, 20.0)
    }, "failed merge leaves the table untouched"
    src2 = spark.createDataFrame([(7, 70.0), (7, 71.0)], "k long, v double")
    lake.merge(spark, path, src2, ["k"], when_matched=None)
    got = sorted((r.k, r.v) for r in lake.read_table(spark, path).collect())
    assert got == [(1, 10.0), (2, 20.0), (7, 70.0), (7, 71.0)]


def test_branch_publish_restamps_added_seq_for_incremental(spark, tmp_path):
    """Files ADDED via a branch publish must be visible to incremental
    consumers: scan_table(since=pre-publish head) sees them. Branch
    commits stamp branch-local seqs (1, 2, …) which land below `since`
    unless the publish restamps them — both the fast-forward and the
    rebase path."""
    path = str(tmp_path / "b")
    lake.write_table(
        spark.createDataFrame([(1, 10.0, "x")], "k long, v double, p string"),
        path, partition_by="p",
    )
    # --- fast-forward publish ---
    fork = lake.latest_version(path)
    broot = lake.create_branch(path, "ff")
    lake.append_table(
        spark,
        broot,
        spark.createDataFrame([(2, 20.0, "y")], "k long, v double, p string"),
    )
    lake.publish_branch(path, "ff")
    inc = lake.scan_table(spark, path, since=fork)
    assert {(r.k, r.p) for r in inc.collect()} == {(2, "y")}
    # --- rebase publish (parent advanced on a DISJOINT partition) ---
    head = lake.latest_version(path)
    lake.create_branch(path, "rb")
    lake.append_table(
        spark,
        lake.branch_path(path, "rb"),
        spark.createDataFrame([(3, 30.0, "z")], "k long, v double, p string"),
    )
    lake.append_table(
        spark,
        path,
        spark.createDataFrame([(4, 40.0, "w")], "k long, v double, p string"),
    )
    head2 = lake.latest_version(path)
    lake.publish_branch(path, "rb")
    inc2 = lake.scan_table(spark, path, since=head2)
    assert {(r.k, r.p) for r in inc2.collect()} == {(3, "z")}


def test_transform_prune_correct_in_non_utc_session(spark, tmp_path):
    """Hidden-partition probes evaluate through Spark with the same
    expression the write side used, so pruning stays EXACT when the
    session timezone isn't UTC (the old python-UTC probe computed a
    different hours bucket than unix_timestamp recorded and silently
    pruned live files)."""
    import datetime as dt

    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        rows = [
            (i, dt.datetime(2024, 1, 1, 1 + i % 8, 30), float(i))
            for i in range(64)
        ]
        df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
        path = str(tmp_path / "tz")
        lake.write_table(df, path, partition_by=[("hours", "ts")])
        probe = dt.datetime(2024, 1, 1, 3, 30)
        sc = lake.scan_table(spark, path, where=("eq", "ts", probe))
        full = lake.read_table(spark, path)
        exact = full.filter(F.col("ts") == probe).count()
        assert exact > 0
        assert sc.count() >= exact  # file-granular prune, residual rows ok
        assert sc.filter(F.col("ts") == probe).count() == exact
        assert 0 < len(sc.inputFiles()) < len(full.inputFiles())
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_compact_small_selective_bin_packing(spark, tmp_path):
    """compact(min_file_bytes=…): large entries carry byte-identical,
    small files pack, and PENDING DVs + equality deletes survive the
    commit — carried files keep filtering through them, while the
    packed file materialized its deleted rows out (new seq outranks
    the old delete files)."""
    path = str(tmp_path / "opt")
    big = spark.createDataFrame(
        [(k, float(k)) for k in range(2000)], "k long, v double"
    )
    lake.write_table(big.coalesce(1), path)
    for lo in (2000, 2020):
        lake.append_table(
            spark,
            path,
            spark.createDataFrame(
                [(k, float(k)) for k in range(lo, lo + 20)],
                "k long, v double",
            ).coalesce(1),
        )
    # MoR deletes BEFORE the optimize: a DV predicate delete hitting
    # every file and an equality delete on two keys
    lake.delete_where_dv(spark, path, F.col("k") % 10 == 3)
    lake.delete_keys(
        spark, path, spark.createDataFrame([(7,), (2025,)], "k long")
    )
    expect = {
        k
        for k in list(range(2000)) + list(range(2000, 2040))
        if k % 10 != 3 and k not in (7, 2025)
    }
    assert {r.k for r in lake.read_table(spark, path).collect()} == expect
    base_v = lake.latest_version(path)
    m0 = lake._m_load(path, base_v)
    entries0 = lake._m_entries(path, m0)
    sizes = sorted(e["bytes"] for e in entries0)
    assert len(entries0) == 3 and sizes[1] < sizes[2]
    big_entry = next(e for e in entries0 if e["bytes"] == sizes[2])
    v = lake.compact(
        spark, path, min_file_bytes=sizes[2], target_file_bytes=1 << 30
    )
    m1 = lake._m_load(path, v)
    entries1 = lake._m_entries(path, m1)
    assert len(entries1) == 2, "two small files packed into one"
    carried = next(e for e in entries1 if e["path"] == big_entry["path"])
    assert carried == big_entry, "large entry carried byte-identical"
    assert m1.get("pos_deletes") == m0.get("pos_deletes"), (
        "DVs must ride forward — the carried file still needs them"
    )
    assert m1.get("deletes") == m0.get("deletes")
    assert {r.k for r in lake.read_table(spark, path).collect()} == expect
    # threshold below every file = metadata no-op, no commit
    assert lake.compact(spark, path, min_file_bytes=1) == v
    # z-order + selective is rejected (global clustering = full rewrite)
    from spype_spark.layout import morton2
    with pytest.raises(ValueError, match="ZORDER"):
        lake.compact(
            spark, path, min_file_bytes=100,
            zorder_code=morton2(F.col("k"), F.col("k")),
        )


def test_partition_spec_evolution_mixed_eras(spark, tmp_path):
    """set_partition_spec is metadata-only; each era prunes under its
    own spec; a mutation matching rows in the OLD era falls back to a
    full rewrite (NULL hidden values poison the touched set) and lands
    everything under the CURRENT spec; re-activating a retired spec
    un-retires it."""
    path = str(tmp_path / "spec")
    df = spark.createDataFrame(
        [(k, k % 19, float(k)) for k in range(0, 2000, 2)],
        "k long, u long, v double",
    )
    lake.write_table(df, path, partition_by=[("truncate", 500, "k")])
    f0 = set(lake.data_files(path, 0))
    v1 = lake.set_partition_spec(spark, path, [("bucket", 8, "u")])
    assert set(lake.data_files(path, v1)) == f0, "spec change rewrites 0 files"
    lake.append_table(
        spark, path,
        spark.createDataFrame(
            [(k, k % 19, float(k)) for k in range(1, 2000, 2)],
            "k long, u long, v double",
        ),
    )
    assert lake.read_table(spark, path).columns == ["k", "u", "v"]
    assert lake.read_table(spark, path).count() == 2000
    m = lake._m_load(path, lake.latest_version(path))
    tf = {t["name"]: t for t in m["transforms"]}
    assert tf["_p_trunc500_k"].get("retired") is True
    assert "retired" not in tf["_p_bucket8_u"]
    # UPDATE matching an OLD-era row (k even) → full rewrite, all
    # entries re-derived under the ACTIVE spec only
    lake.update_where(spark, path, F.col("k") == 500, {"v": F.lit(-1.0)})
    es = lake._m_entries(path, lake._m_load(path, lake.latest_version(path)))
    assert {frozenset(e["partition"]) for e in es} == {
        frozenset({"_p_bucket8_u"})
    }
    got = lake.read_table(spark, path)
    assert got.count() == 2000
    assert got.filter(F.col("k") == 500).first().v == -1.0
    # re-activate the truncate spec: un-retired, new writes derive it
    lake.set_partition_spec(spark, path, [("truncate", 500, "k")])
    m2 = lake._m_load(path, lake.latest_version(path))
    tf2 = {t["name"]: t for t in m2["transforms"]}
    assert "retired" not in tf2["_p_trunc500_k"]
    assert tf2["_p_bucket8_u"].get("retired") is True
    lake.append_table(
        spark, path,
        spark.createDataFrame([(9999, 3, 9.0)], "k long, u long, v double"),
    )
    es3 = lake._m_entries(path, lake._m_load(path, lake.latest_version(path)))
    added = [e for e in es3 if e["partition"].get("_p_trunc500_k") == "9500"]
    assert added, "new era derives the re-activated transform"
    # identity re-spec and unknown-column spec
    lake.set_partition_spec(spark, path, "u")
    with pytest.raises(ValueError, match="not in the schema"):
        lake.set_partition_spec(spark, path, [("days", "nope")])


def test_append_never_narrows_schema_nullability(spark, tmp_path):
    """A batch whose projection is non-nullable (literal column) must
    not narrow the recorded schema — strict-equality consumers (branch
    rebase, txn rebase) would spuriously diverge."""
    path = str(tmp_path / "nn")
    lake.write_table(
        spark.createDataFrame([(1, "a")], "k long, s string"), path
    )
    before = lake._m_load(path, 0)["schema"]
    lake.append_table(
        spark, path,
        spark.createDataFrame([(2,)], "k long").select(
            "k", F.lit("Z").alias("s")  # non-nullable projection
        ),
    )
    after = lake._m_load(path, lake.latest_version(path))["schema"]
    assert after == before, "schema must be stable under literal appends"


def test_merge_stats_pruning_unpartitioned(spark, tmp_path):
    """Round 14: an UNPARTITIONED merge carries files whose manifest
    [min, max] on the single merge key cannot intersect the update
    set's key range — a key-local MERGE into a range-clustered layout
    rewrites only the covering files, not the table."""
    path = str(tmp_path / "t")
    df = spark.range(4000).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    lake.write_table(df.repartitionByRange(8, "k"), path)
    m0 = lake._m_load(path, 0)
    n_files0 = len(lake._m_entries(path, m0))
    assert n_files0 >= 8
    upd = spark.range(100).select(
        F.col("id").alias("k"), F.lit(-1).alias("v")
    )
    lake.merge_upsert(spark, path, upd, ["k"])
    m1 = lake._m_load(path, 1)
    carried = [
        e for e in lake._m_entries(path, m1) if e.get("seq", 0) == 0
    ]
    assert len(carried) >= n_files0 - 2, (
        f"expected most files carried, got {len(carried)}/{n_files0}"
    )
    got = sorted(
        (r["k"], r["v"]) for r in lake.read_table(spark, path).collect()
    )
    assert got == sorted(
        (k, -1 if k < 100 else k * 10) for k in range(4000)
    )
    # an update INSERTING new keys outside every file range still lands
    lake.merge_upsert(
        spark,
        path,
        spark.createDataFrame([(99999, 5)], "k long, v long"),
        ["k"],
    )
    assert lake.read_table(spark, path).count() == 4001


def test_merge_stats_pruning_compound_keys(spark, tmp_path):
    """Round 15: COMPOUND-key merges prune on the conjunction of
    per-key ranges — a file is carried when ANY merge key's [min,max]
    misses the update set's range for that key (a match equates all
    keys). Clustered on the leading key, a 2-key merge keyed in a
    narrow leading range rewrites only the covering files."""
    path = str(tmp_path / "t2")
    df = spark.range(4000).select(
        F.col("id").alias("k1"),
        (F.col("id") % 13).alias("k2"),
        (F.col("id") * 10).alias("v"),
    )
    lake.write_table(df.repartitionByRange(8, "k1"), path)
    n0 = len(lake._m_entries(path, lake._m_load(path, 0)))
    assert n0 >= 8
    upd = spark.range(100).select(
        F.col("id").alias("k1"),
        (F.col("id") % 13).alias("k2"),
        F.lit(-1).alias("v"),
    )
    lake.merge_upsert(spark, path, upd, ["k1", "k2"])
    carried = [
        e
        for e in lake._m_entries(path, lake._m_load(path, 1))
        if e.get("seq", 0) == 0
    ]
    assert len(carried) >= n0 - 2, (
        f"2-key merge must carry non-covering files: {len(carried)}/{n0}"
    )
    got = sorted(
        (r["k1"], r["k2"], r["v"])
        for r in lake.read_table(spark, path).collect()
    )
    assert got == sorted(
        (k, k % 13, -1 if k < 100 else k * 10) for k in range(4000)
    )


def test_merge_stats_pruning_conditional_matched(spark, tmp_path):
    """Round 15: a CONDITIONAL WHEN MATCHED merge prunes identically —
    the condition narrows which matched rows update, never widens the
    matched file set — and the answer equals the unpruned semantics."""
    path = str(tmp_path / "tc")
    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("flag"),
        (F.col("id") * 10).alias("v"),
    )
    lake.write_table(df.repartitionByRange(8, "k"), path)
    n0 = len(lake._m_entries(path, lake._m_load(path, 0)))
    upd = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("flag"),
        F.lit(-1).alias("v"),
    )
    lake.merge_upsert(
        spark, path, upd, ["k"],
        match_condition=lambda u, t: t["flag"] == 1,
    )
    carried = [
        e
        for e in lake._m_entries(path, lake._m_load(path, 1))
        if e.get("seq", 0) == 0
    ]
    assert len(carried) >= n0 - 2, (
        f"conditional merge must still prune: {len(carried)}/{n0}"
    )
    got = sorted(
        (r["k"], r["v"]) for r in lake.read_table(spark, path).collect()
    )
    assert got == sorted(
        (k, -1 if (k < 50 and k % 2 == 1) else k * 10)
        for k in range(2000)
    )
