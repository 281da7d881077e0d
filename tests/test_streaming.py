"""Streaming-equals-batch assertions (SURVEY.md §5.2 item on M4).

On a finite input drained with Trigger.AvailableNow, the final
watermark passes all data, so every streaming job must produce exactly
its batch analog's answer.
"""

import os

import pytest

from spype_spark.queries.streaming_batch import (
    q_stream_stateful_running,
    q_stream_tumbling,
)
from spype_spark.streaming import (
    run_stream_dedup,
    run_stream_session_window,
    run_stream_sliding,
    run_stream_stateful_running,
    run_stream_static_join,
    run_stream_stream_join,
    run_stream_tumbling,
)

pytestmark = pytest.mark.streaming


@pytest.fixture(autouse=True)
def scratch():
    os.makedirs("/root/repo/.scratch", exist_ok=True)


def rows_set(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_tumbling_stream_equals_batch_up_to_watermark(spark, sf_dir):
    """Append mode emits exactly the windows finalized by the last
    watermark (max event time − 1 h delay); trailing windows are
    correctly *withheld* — the batch answer restricted to finalized
    windows must match the stream bit-for-bit."""
    import datetime as dt

    from spype_spark.tables import load_table

    stream = run_stream_tumbling(spark, sf_dir)
    batch = q_stream_tumbling(spark, sf_dir)
    max_ts = (
        load_table(spark, sf_dir, "events")
        .selectExpr("max(ts) AS m")
        .collect()[0]["m"]
    )
    wm = max_ts - dt.timedelta(hours=1)
    cols = ["win_start", "event_type", "n", "sum_value"]
    finalized = {
        t
        for t in rows_set(batch, cols)
        if dt.datetime.strptime(t[0], "%Y-%m-%d %H:%M:%S") + dt.timedelta(hours=1)
        <= wm
    }
    got = rows_set(stream, cols)
    assert got == finalized
    # sanity: something was withheld AND something was emitted
    assert len(got) < len(rows_set(batch, cols)) and got


def test_sliding_stream_equals_batch_up_to_watermark(spark, sf_dir):
    import datetime as dt

    from spype_spark.queries.streaming_batch import q_stream_sliding

    from spype_spark.tables import load_table

    stream = run_stream_sliding(spark, sf_dir)
    batch = q_stream_sliding(spark, sf_dir)
    max_ts = (
        load_table(spark, sf_dir, "events")
        .selectExpr("max(ts) AS m")
        .collect()[0]["m"]
    )
    wm = max_ts - dt.timedelta(hours=1)
    cols = ["win_start", "event_type", "n"]
    finalized = {
        t
        for t in rows_set(batch, cols)
        if dt.datetime.strptime(t[0], "%Y-%m-%d %H:%M:%S") + dt.timedelta(hours=1)
        <= wm
    }
    assert rows_set(stream, cols) == finalized


def test_session_windows_match_batch_analog(spark, sf_dir):
    """Every finalized streamed session must coincide exactly (same
    user, same start, same event count) with a session found by the
    batch lag/gap/cumsum analog; trailing sessions may be withheld by
    the watermark."""
    from spype_spark.queries.streaming_batch import q_stream_session

    stream = run_stream_session_window(spark, sf_dir)
    batch = q_stream_session(spark, sf_dir)
    got = {(r.user_id, r.session_start): r.n_events for r in stream.collect()}
    expected = {(r.user_id, r.session_start): r.n_events for r in batch.collect()}
    assert got, "no sessions finalized"
    for key, n in got.items():
        assert expected.get(key) == n, f"session {key} mismatch: {n} vs {expected.get(key)}"
    total_stream = sum(got.values())
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert total_stream <= n_events


def test_dedup_stream_equals_batch(spark, sf_dir):
    stream = run_stream_dedup(spark, sf_dir)
    n_batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .dropDuplicates(["event_id"])
        .count()
    )
    assert stream.count() == n_batch


def test_stream_static_join_equals_batch(spark, sf_dir):
    from spype_spark.tables import load_table

    stream = run_stream_static_join(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    batch = ev.join(cust, ev.user_id == cust.c_custkey).select(
        "event_id", "user_id", "event_type", "c_mktsegment"
    )
    cols = ["event_id", "user_id", "event_type", "c_mktsegment"]
    assert rows_set(stream, cols) == rows_set(batch, cols)


def test_stream_stream_join_equals_batch_theta_join(spark, sf_dir):
    from pyspark.sql import functions as F

    from spype_spark.tables import load_table

    stream = run_stream_stream_join(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    batch = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("p_id", "c_id", "p_user")
    cols = ["p_id", "c_id", "p_user"]
    assert rows_set(stream, cols) == rows_set(batch, cols)
    assert stream.count() > 0


def test_foreach_batch_sink_exactly_once(spark, sf_dir, tmp_path):
    from spype_spark.streaming.jobs import run_stream_foreach_batch_sink

    out = str(tmp_path / "sink")
    sink1 = run_stream_foreach_batch_sink(spark, sf_dir, out)
    n_src = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert sink1.count() == n_src
    # re-run the whole job into the same dir: epoch-keyed overwrite must
    # leave the sink duplicate-free (idempotence under replay)
    sink2 = run_stream_foreach_batch_sink(spark, sf_dir, out)
    assert sink2.count() == n_src
    assert sink2.select("event_id").distinct().count() == n_src


def test_incremental_rollup_equals_batch_rollup(spark, sf_dir, tmp_path):
    from spype_spark.queries.rollup_materialized import hourly_rollup
    from spype_spark.streaming.jobs import run_stream_rollup_maintenance

    incr = run_stream_rollup_maintenance(spark, sf_dir, str(tmp_path / "rollup"))
    # the replay path must actually be multi-epoch (input split +
    # source-side maxFilesPerTrigger=1), not one epoch holding everything
    import os as _os

    epochs = [
        d for d in _os.listdir(tmp_path / "rollup") if d.startswith("epoch=")
    ]
    assert len(epochs) > 1, f"expected multi-epoch drain, got {epochs}"
    batch = hourly_rollup(spark, sf_dir)
    key = lambda r: (r.hour_ts, r.event_type)  # noqa: E731
    got = {key(r): (r.n, r.value_scaled) for r in incr.collect()}
    want = {key(r): (r.n, r.value_scaled) for r in batch.collect()}
    assert got == want


def test_stateful_running_final_counts_equal_batch(spark, sf_dir):
    stream = run_stream_stateful_running(spark, sf_dir)
    # update-mode emits one row per user per micro-batch; the LAST emit
    # per user is the final running count == batch per-user total.
    final = {}
    for r in stream.collect():
        final[r.user_id] = max(r.running_n, final.get(r.user_id, 0))
    batch = q_stream_stateful_running(spark, sf_dir)
    batch_final = {}
    for r in batch.collect():
        batch_final[r.user_id] = max(r.running_n, batch_final.get(r.user_id, 0))
    assert final == batch_final


def test_tws_api_present_and_gate_is_exactly_the_protobuf_dep(spark, sf_dir):
    """Pin the environment-gate's claims so they are EXECUTED evidence,
    not docstring assertions: (a) this Spark build (4.x) really ships
    ``transformWithStateInPandas`` — the gate is NOT hiding a missing
    API; (b) when ``google.protobuf`` (the TWS state-server protocol's
    runtime) is absent, the operator raises the documented
    NotImplementedError naming the executable fallback. In an
    environment WITH protobuf this test asserts the gate does NOT fire
    and the equality test below runs the real thing."""
    from pyspark.sql.group import GroupedData

    assert hasattr(GroupedData, "transformWithStateInPandas"), (
        "Spark build lacks the TWS API — the gate docstring is stale"
    )
    try:
        import google.protobuf  # noqa: F401

        has_protobuf = True
    except ImportError:
        has_protobuf = False
    if not has_protobuf:
        from spype_spark.streaming.jobs import run_stream_stateful_tws

        with pytest.raises(NotImplementedError, match="protobuf"):
            run_stream_stateful_tws(spark, sf_dir)


def test_stateful_tws_equals_applyinpandas_variant(spark, sf_dir):
    """The transformWithStateInPandas twin must produce the same final
    per-user running counts as the applyInPandasWithState operator.
    Skips where google.protobuf (the TWS state protocol's dependency)
    is absent — the operator itself raises a documented error there."""
    pytest.importorskip("google.protobuf")
    from spype_spark.streaming.jobs import run_stream_stateful_tws

    tws = run_stream_stateful_tws(spark, sf_dir)
    final_tws = {}
    for r in tws.collect():
        final_tws[r.user_id] = max(r.running_n, final_tws.get(r.user_id, 0))
    legacy = run_stream_stateful_running(spark, sf_dir)
    final_legacy = {}
    for r in legacy.collect():
        final_legacy[r.user_id] = max(
            r.running_n, final_legacy.get(r.user_id, 0)
        )
    assert final_tws == final_legacy and len(final_tws) > 0


def test_stream_stream_left_join_outer_semantics(spark, sf_dir):
    """Matched rows equal the batch theta-join; null-padded rows appear
    exactly for unmatched purchases old enough that the final click
    watermark proves no match can arrive."""
    import datetime as dt

    from pyspark.sql import functions as F

    from spype_spark.streaming.jobs import run_stream_stream_left_join
    from spype_spark.tables import load_table

    stream, observed_wm = run_stream_stream_left_join(spark, sf_dir)
    assert observed_wm is not None  # the drain must have advanced a watermark
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    batch = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select("p_id", "c_id", "p_user", "p_ts")

    got_matched = {(r.p_id, r.c_id) for r in stream.collect() if r.c_id is not None}
    want_matched = {(r.p_id, r.c_id) for r in batch.collect() if r.c_id is not None}
    assert got_matched == want_matched  # inner part is exact

    wm_click = c.agg(F.max("c_ts")).collect()[0][0] - dt.timedelta(hours=1)
    got_null = {r.p_id for r in stream.collect() if r.c_id is None}
    want_null_old = {
        r.p_id
        for r in batch.collect()
        if r.c_id is None and r.p_ts < wm_click
    }
    all_null = {r.p_id for r in batch.collect() if r.c_id is None}
    # every provably-unmatched old purchase emitted; nothing beyond the
    # batch-unmatched set ever emits a null row
    assert want_null_old <= got_null <= all_null
    assert got_null and len(got_null) < len(all_null) or want_null_old == all_null


def test_live_ingest_processing_time_trigger_equals_batch(spark, sf_dir):
    """The always-on topology: a processingTime-trigger query over a
    landing dir that receives the events table file-by-file WHILE
    running. Final complete-mode aggregate must equal the batch
    aggregate bit-for-bit, and the progress log must show the data
    actually arrived across multiple micro-batches (not one drain)."""
    from pyspark.sql import functions as F

    from spype_spark.streaming.jobs import run_stream_live_ingest
    from spype_spark.tables import load_table

    stream_df, n_batches = run_stream_live_ingest(spark, sf_dir, n_files=4)
    got = {
        (r.hour_ts, r.event_type): (r.n, r.value_scaled)
        for r in stream_df.collect()
    }
    ev = load_table(spark, sf_dir, "events")
    want = {
        (r.hour_ts, r.event_type): (r.n, r.value_scaled)
        for r in ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_ts"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5))).alias(
                "value_scaled"
            ),
        )
        .collect()
    }
    assert got == want
    assert n_batches >= 4, f"expected >=4 incremental micro-batches, saw {n_batches}"


def test_watermark_bounds_state_store_under_churn(spark, sf_dir):
    """Sustained-churn state profile (ROADMAP item): feed the events
    table in TIME-ORDERED files, one per micro-batch, into a
    watermarked tumbling aggregation and read the state-store metrics
    off the progress log. The watermark must EVICT finalized windows as
    later files arrive — peak state rows well under the total window
    count — and the appended output must still cover every window the
    final watermark passed. Without eviction (no watermark, or files
    arriving in shuffled order so the watermark jumps to max
    immediately) state would hold every window ever seen; this pins
    the bounded-state property a year-long 100 TB stream depends on."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from spype_spark.session import scratch_root
    from spype_spark.tables import load_table

    n_files = 6
    staging = tempfile.mkdtemp(prefix="spype_churn_", dir=scratch_root())
    # watermarks require TIMESTAMP (with-local-tz), not TIMESTAMP_NTZ
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    # range-partition by ts: file i holds strictly earlier events than
    # file i+1, so each arrival advances the watermark past the
    # previous file's windows
    ev.repartitionByRange(n_files, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(staging)
    # FileStreamSource orders arrivals by MODIFICATION TIME, and the 6
    # part files are written by parallel tasks whose finish order is
    # arbitrary — pin ascending mtimes along the range-partition index
    # (part-00000 = earliest time range) or the watermark can jump past
    # unseen early files and silently drop them as late data.
    import time as _time

    t0 = _time.time() - 600
    for i, fname in enumerate(
        sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
    ):
        os.utime(os.path.join(staging, fname), (t0 + i, t0 + i))
    n_windows_total = ev.select(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).distinct().count()

    stream = (
        spark.readStream.schema(spark.read.parquet(staging).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    with tempfile.TemporaryDirectory(
        prefix="spype_ckpt_", dir=scratch_root()
    ) as ckpt:
        q = (
            stream.writeStream.format("memory")
            .queryName("spype_churn_state")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = q.recentProgress
        out_rows = spark.table("spype_churn_state").count()

    state_per_batch = [
        op["numRowsTotal"]
        for p in progress
        for op in (p.get("stateOperators") or [])
    ]
    assert state_per_batch, "no state-operator metrics in progress log"
    peak = max(state_per_batch)
    # ≥1 data micro-batch per file → the stream really arrived in epochs
    data_batches = sum(1 for p in progress if p["numInputRows"] > 0)
    assert data_batches >= n_files
    # eviction: peak live state is a fraction of all windows ever seen.
    # (Bound is loose — state ≈ one file's span + the 1 h delay — but
    # fails decisively if eviction regresses to hold-everything.)
    assert peak < 0.5 * n_windows_total, (peak, n_windows_total)
    # append-mode completeness: every window the final watermark passed
    # was emitted exactly once
    assert out_rows > 0.8 * n_windows_total, (out_rows, n_windows_total)


def test_txn_sink_crash_after_commit_before_checkpoint(spark, sf_dir, tmp_path):
    """The classic exactly-once failure window: the sink CRASHES after
    its catalog transaction committed but before Spark checkpointed
    the batch. On restart from the same checkpoint Spark re-runs that
    batch; the (app_id, batch id) ledger must absorb the replay — the
    additive counts table would double otherwise. Final state must
    equal the batch oracle with exactly one log record per batch."""
    import shutil

    from pyspark.sql import functions as F

    from spype_spark.catalog import Catalog
    from spype_spark.streaming.jobs import _events_batch, _events_stream

    split_dir = str(tmp_path / "split")
    ckpt = str(tmp_path / "ckpt")
    cat = Catalog(str(tmp_path / "cat"))
    app = "crash_sink"
    (
        _events_batch(spark, f"{sf_dir}/events.parquet")
        .repartition(4)
        .write.parquet(split_dir)
    )

    def mk_sink(crash_after):
        def sink(bdf, epoch):
            sess = bdf.sparkSession
            counts = (
                bdf.select((F.col("user_id") % 4).alias("g"))
                .groupBy("g")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            with cat.transaction(sess, app_id=app, app_version=epoch) as txn:
                if "hourly" not in cat.state():
                    txn.write(counts, "hourly")
                else:
                    cur = txn.read("hourly")
                    add = (
                        counts.alias("b")
                        .join(cur.alias("c"), "g", "left")
                        .select(
                            "g",
                            (
                                F.col("b.n") + F.coalesce(F.col("c.n"), F.lit(0))
                            ).alias("n"),
                        )
                    )
                    txn.merge_upsert("hourly", add, keys=["g"])
            if crash_after is not None and epoch == crash_after:
                raise RuntimeError("injected crash post-commit pre-checkpoint")
        return sink

    def drain(crash_after):
        ev = _events_stream(
            spark, split_dir, glob="*.parquet", max_files_per_trigger=1
        )
        q = (
            ev.writeStream.foreachBatch(mk_sink(crash_after))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="injected crash"):
        drain(crash_after=1)
    assert cat.applied_version(app) == 1, "batch 1's txn DID commit"
    drain(crash_after=None)  # restart: batch 1 replays and must no-op

    want = {
        (r.g, r.n)
        for r in _events_batch(spark, split_dir)
        .select((F.col("user_id") % 4).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {(r.g, r.n) for r in cat.read(spark, "hourly").collect()}
    assert got == want, "counts doubled or lost across the crash window"
    assert cat.latest_txn() == 3, "one record per batch, none for the replay"
    assert cat.applied_version(app) == 3
    shutil.rmtree(split_dir, ignore_errors=True)


def test_dedup_within_watermark_state_evicted_under_churn(spark, sf_dir):
    """The dedup-state twin of the churn test above (VERDICT r11 task
    7; the 110-batch processingTime profile lives in
    tools/stream_churn_probe.py → SCALE.md round-12):
    ``dropDuplicatesWithinWatermark`` must EVICT keys once the
    watermark passes them — peak state rows a small fraction of total
    input — while emitting every (unique) row exactly once. Files
    arrive time-ordered (range partition + pinned mtimes, same
    technique as above) so no row is ever late-dropped and the assert
    is deterministic."""
    import os
    import tempfile
    import time as _time

    from pyspark.sql import functions as F

    from spype_spark.session import scratch_root
    from spype_spark.tables import load_table

    n_files = 12
    staging = tempfile.mkdtemp(prefix="spype_dchurn_", dir=scratch_root())
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts")
    )
    total = ev.count()
    ev.repartitionByRange(n_files, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(staging)
    t0 = _time.time() - 600
    for i, fname in enumerate(
        sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
    ):
        os.utime(os.path.join(staging, fname), (t0 + i, t0 + i))
    stream = (
        spark.readStream.schema(spark.read.parquet(staging).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    peak_state = 0
    with tempfile.TemporaryDirectory(
        prefix="spype_ckpt_", dir=scratch_root()
    ) as ckpt:
        q = (
            stream.writeStream.format("memory")
            .queryName("spype_dchurn_out")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        for p in q.recentProgress:
            for so in p.get("stateOperators") or []:
                if so.get("numRowsTotal") is not None:
                    peak_state = max(peak_state, so["numRowsTotal"])
        q.stop()
    got = spark.table("spype_dchurn_out").count()
    assert got == total, f"dedup dropped rows: {got}/{total}"
    # eviction bound: without watermark eviction state would hold all
    # `total` keys at the end; time-ordered arrival keeps only the
    # trailing 30-minute horizon live per batch
    assert 0 < peak_state < total * 0.5, (
        f"state not evicted: peak {peak_state} of {total} keys"
    )
    import shutil

    shutil.rmtree(staging, ignore_errors=True)
