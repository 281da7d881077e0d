"""Source-loading correctness, esp. the events-timestamp encoding.

The corpus has shipped ``events.ts`` as TIMESTAMP(NANOS) (rounds 1-3)
and as native timestamp[us] (round 4+); the loader must read BOTH by
branching on the loaded dtype (normalize_events_ts).
"""

import duckdb
from pyspark.sql import functions as F

from spype_spark.tables import BROADCAST_DIMS, TABLES, load_table, load_tables
from tests.test_compose_jobs import jobs_composing


def test_events_ts_matches_duckdb_to_the_microsecond(spark, sf_dir):
    """Whatever the on-disk encoding, the loaded ts must equal DuckDB's
    CAST(ts AS TIMESTAMP) exactly — under the legacy NANOS encoding a
    double-precision ns→µs division silently corrupts ~±1 µs on
    1.7e18-ns values, so the conversion must be integer division."""
    got = {
        r.event_id: r.ts
        for r in load_table(spark, sf_dir, "events")
        .select("event_id", "ts")
        .limit(200)
        .collect()
    }
    con = duckdb.connect()
    want = dict(
        con.sql(
            f"SELECT event_id, CAST(ts AS TIMESTAMP) FROM "
            f"read_parquet('{sf_dir}/events.parquet') LIMIT 200"
        ).fetchall()
    )
    for eid, ts in got.items():
        assert ts == want[eid], f"event {eid}: {ts} != {want[eid]}"


def test_all_tables_load_with_expected_rows(spark, sf_dir):
    dfs = load_tables(spark, sf_dir)
    assert set(dfs) == set(TABLES)
    counts = {n: dfs[n].count() for n in ("region", "nation", "lineitem")}
    assert counts["region"] == 5 and counts["nation"] == 25
    assert counts["lineitem"] == 6000


def test_events_loads_on_unconfigured_session(spark, sf_dir):
    """The nanos conf must apply at runtime — the driver's session is
    built without it. (A no-op on the current µs corpus; kept so a
    future corpus regen back to NANOS can't regress silently.)"""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    df = load_table(spark, sf_dir, "events")  # re-sets the conf itself
    assert df.schema["ts"].dataType.simpleString().startswith("timestamp")
    assert df.count() == 1000


def test_events_ts_normalized_to_timestamp_ntz(spark, sf_dir):
    """Loader contract: whatever the Parquet encoding (NANOS-as-long or
    native µs), events.ts arrives as timestamp_ntz with non-null values
    — the regenerated-corpus regression (r4) was NULL/err timestamps."""
    df = load_table(spark, sf_dir, "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp_ntz"
    assert df.filter(F.col("ts").isNull()).count() == 0


def test_events_stream_reader_matches_batch_loader(spark, sf_dir):
    """The stream-side schema sniff + shared normalizer must agree with
    the batch loader row-for-row (the r4 bug was a hardcoded `ts long`
    stream schema silently nulling µs timestamps)."""
    from spype_spark.streaming.jobs import _events_stream, _run_available_now

    sdf = _events_stream(spark, sf_dir).select("event_id", "ts")
    got = {
        r.event_id: r.ts.replace(tzinfo=None)
        for r in _run_available_now(
            sdf, "append", "spype_test_stream_schema"
        ).collect()
    }
    want = {
        r.event_id: r.ts
        for r in load_table(spark, sf_dir, "events")
        .select("event_id", "ts")
        .collect()
    }
    assert got == want


def test_broadcast_dims_are_small(spark, sf_dir):
    for name in BROADCAST_DIMS:
        assert load_table(spark, sf_dir, name).count() <= 20_000


def test_schema_memo_serves_repeat_loads_and_follows_rewrites(spark, tmp_path):
    """load_table infers a file's schema once per session and reads
    through the memo afterwards (no job); rewriting the file with a
    different schema changes its stamp, so the next load sees the new
    columns and values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    again = lambda: load_table(spark, str(tmp_path), "t")  # noqa: E731
    assert jobs_composing(spark, "memo-again", again) == [], (
        "a memo hit must not run an inference job"
    )

    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["b", "c"]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_schema_memo_skips_directories(spark, tmp_path):
    """A directory (a partitioned table) is inferred on every load: its
    listing can change without the directory's own stamp changing."""
    spark.range(3).write.parquet(str(tmp_path / "d.parquet"))
    load = lambda: load_table(spark, str(tmp_path), "d")  # noqa: E731
    assert load().columns == ["id"]
    assert jobs_composing(spark, "memo-dir", load) != []
