"""Streaming job implementations.

The events table is read as a *stream of files* (maxFilesPerTrigger
is irrelevant under AvailableNow, but the source is the real
FileStreamSource — the same source a production job tails a directory
with). FileStreamSource requires an explicit schema, so the stream
schema is *sniffed* from the actual Parquet footer (a driver-side
metadata read) rather than hardcoded — the corpus has shipped
``events.ts`` both as TIMESTAMP(NANOS) (→ bigint under nanosAsLong)
and as native timestamp[us]; ``normalize_events_ts`` (shared with the
batch loader) branches on the loaded dtype so both encodings work.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spype_spark.queries._util import TS_FMT_SPARK
from spype_spark.session import ensure_session_confs, scratch_root
from spype_spark.tables import normalize_events_ts, read_parquet


def _events_batch(spark: SparkSession, path: str) -> DataFrame:
    """Batch-read an events Parquet file/dir with the session confs the
    corpus may require (nanosAsLong for the legacy NANOS encoding)."""
    ensure_session_confs(spark)
    return read_parquet(spark, path)


def _events_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
    schema=None,
) -> DataFrame:
    """readStream over the events Parquet, ts normalized to TIMESTAMP.

    ``max_files_per_trigger`` is a SOURCE (read) option — setting it on
    the writeStream is a silent no-op. Under Trigger.AvailableNow it
    bounds each micro-batch to N files, which is how a drain run gets
    split into multiple epochs.

    ``schema`` defaults to a footer-sniff of the matching files under
    ``sf_dir`` — pass it explicitly when the directory starts empty
    (live-ingest landing dirs). Sniffing instead of hardcoding keeps the
    stream reader correct across corpus encodings; a hardcoded ``ts
    long`` schema against µs data silently yields NULL timestamps (the
    worst failure mode: wrong, not loud).
    """
    ensure_session_confs(spark)
    if schema is None:
        schema = (
            spark.read.option("pathGlobFilter", glob).parquet(sf_dir).schema
        )
    # FileStreamSource tails a *directory*; glob-filter to the events file.
    reader = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(sf_dir)
    # NB: watermarks require TIMESTAMP (with-local-tz), not TIMESTAMP_NTZ —
    # session tz is pinned to UTC so rendered strings match the batch side.
    return normalize_events_ts(raw, target="timestamp")


def _run_available_now(
    sdf: DataFrame,
    output_mode: str,
    name: str,
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain a finite stream to an in-memory sink, return its result."""
    df, _ = _run_available_now_with_watermark(
        sdf, output_mode, name, state_partitions=state_partitions
    )
    return df


def _run_available_now_with_watermark(
    sdf: DataFrame,
    output_mode: str,
    name: str,
    state_partitions: int | None = None,
):
    """Drain a finite stream and ALSO return the final event-time
    watermark the query observed (a tz-naive UTC ``datetime``, or None
    for stateless queries that track no watermark).

    Outer joins / append-mode aggregations emit their *final* rows in
    the batch AFTER the watermark advances past them; under
    Trigger.AvailableNow that flush is carried by the terminal no-data
    micro-batch, gated by ``spark.sql.streaming.noDataMicroBatches``
    (default true). A caller that filters results against a
    recomputed watermark cut silently loses rows if that flush never
    ran, so this helper (a) asserts the conf up front and (b) hands
    back the watermark the sink really reached, letting callers verify
    coverage loudly instead of hash-diverging.
    """
    spark = sdf.sparkSession
    no_data = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    if str(no_data).lower() != "true":
        raise RuntimeError(
            "spark.sql.streaming.noDataMicroBatches.enabled must be true: "
            "the terminal no-data micro-batch is what flushes final "
            "outer-join / append-mode rows under Trigger.AvailableNow"
        )
    # A stateful query materializes ONE state-store instance per
    # shuffle partition per stateful operator (a stream-stream join
    # keeps FOUR stores per partition), each paying per-micro-batch
    # checkpoint commits — so the drain cost of a small fixture is
    # dominated by store count, not data (measured 15.0 s → 3.1 s for
    # the stream-stream join at sf0.01 going 32 → 8 partitions).
    # ``state_partitions`` pins the query's state partitioning at
    # start (frozen into the checkpoint, as Spark does); production
    # sizing picks it from throughput per state store, not from the
    # session's batch shuffle width. Conf is restored after the drain.
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        with tempfile.TemporaryDirectory(
            prefix="spype_ckpt_", dir=scratch_root()
        ) as ckpt:
            q = (
                sdf.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            wm = None
            prog = q.lastProgress
            if prog:
                wm_str = (prog.get("eventTime") or {}).get("watermark")
                # The epoch sentinel means "no watermark ever advanced".
                if wm_str and not wm_str.startswith("1970-01-01T00:00:00"):
                    wm = _parse_progress_ts(wm_str)
            return spark.table(name).localCheckpoint(eager=True), wm
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_sp)


def _parse_progress_ts(s: str):
    """Parse a StreamingQueryProgress ISO-8601 UTC timestamp
    (``2024-03-01T12:00:00.000Z``) to a tz-naive UTC datetime."""
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
    return dt.astimezone(timezone.utc).replace(tzinfo=None)


def run_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_stream_tumbling: 1 h windows × event type.

    Watermark bounds state: windows older than (max event time − 1 h)
    finalize and can be evicted. Append mode emits only finalized
    windows — under AvailableNow the final watermark passes everything.
    """
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)))
                / F.lit(1e6)
            ).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("win.start"), TS_FMT_SPARK).alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return _run_available_now(agg, "append", "spype_stream_tumbling")


def run_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_stream_sliding: 1 h windows sliding 15 min.

    Each event lands in 4 overlapping windows; state is one partial
    aggregate per (window × type), evicted as the watermark passes.
    """
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("win.start"), TS_FMT_SPARK).alias("win_start"),
            "event_type",
            "n",
        )
    )
    return _run_available_now(agg, "append", "spype_stream_sliding")


def run_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True session windows: session_window(ts, '30 minutes') per user.

    Spark merges overlapping session fragments as state; the watermark
    closes sessions 30 min behind the max event time. Returns one row
    per (user, session): count + start string (matching the batch
    analog's sessionization semantics).
    """
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("sw.start"), TS_FMT_SPARK).alias("session_start"),
            "n_events",
        )
    )
    return _run_available_now(agg, "append", "spype_stream_session")


def run_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked exactly-once dedup on event_id (state ≤ 1 h horizon).

    dropDuplicatesWithinWatermark is what actually bounds state: plain
    dropDuplicates(["event_id"]) without the event-time column in the
    key subset never evicts via the watermark — state grows without
    bound on an infinite stream. The WithinWatermark variant keeps a key
    only until the watermark passes its first-seen event time, which is
    the right contract when duplicates arrive close together (retries,
    at-least-once sources).
    """
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    deduped = ev.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "user_id", "event_type"
    )
    return _run_available_now(deduped, "append", "spype_stream_dedup")


def run_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: events stream ⋈ customer dimension.

    The static side is re-read per micro-batch (picking up dim updates
    for free) and broadcast — the streaming twin of the dimension-
    broadcast rule. No state, no watermark needed for inner equi-join
    against a static side.
    """
    from spype_spark.tables import load_table

    ev = _events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = ev.join(F.broadcast(cust), "user_id").select(
        "event_id", "user_id", "event_type", "c_mktsegment"
    )
    return _run_available_now(joined, "append", "spype_stream_static_join")


def run_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join: each purchase ⋈ same user's clicks ≤ 1 h prior.

    Both sides watermarked; the time-bound predicate lets Spark evict
    click state older than the purchase watermark − 1 h. Inner join ⇒
    the drained result equals the batch theta-join exactly (watermarks
    only bound state, they never drop inner-join matches under
    AvailableNow).
    """
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("p_id", "c_id", "p_user")
    return _run_available_now(
        joined, "append", "spype_stream_stream_join", state_partitions=8
    )


def run_stream_foreach_batch_sink(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> DataFrame:
    """Exactly-once batch sink via foreachBatch: idempotent per-epoch
    Parquet partitions.

    Each micro-batch writes to ``epoch=<id>`` with overwrite — a retry
    of the same epoch replaces, never duplicates, which is the
    idempotence contract foreachBatch requires for exactly-once. (A
    real deployment swaps the directory write for a transactional
    MERGE; the epoch-keyed idempotence is the part that matters.)
    Returns the re-read sink contents.
    """
    ev = _events_stream(spark, sf_dir).select("event_id", "user_id", "event_type")

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .parquet(f"{out_dir}/epoch={epoch_id}")
        )

    with tempfile.TemporaryDirectory(
        prefix="spype_ckpt_", dir=scratch_root()
    ) as ckpt:
        q = (
            ev.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out_dir)


def run_stream_rollup_maintenance(
    spark: SparkSession, sf_dir: str, rollup_dir: str, n_splits: int = 4
) -> DataFrame:
    """Incrementally maintain the hourly rollup from the event stream.

    Continuous-aggregate maintenance with plain Parquet: each epoch
    writes its *additive partials* (count + scaled value sum per
    hour×type) to an epoch-keyed partition — idempotent under replay —
    and readers re-aggregate the partial log (the compaction step a
    table format would do in place). Because partials are additive
    integers, the re-aggregated rollup equals the batch rollup exactly
    (tests/test_streaming.py).

    To actually exercise the multi-epoch replay path, the single events
    file is first split into ``n_splits`` files and the stream reads
    them with maxFilesPerTrigger=1 (a SOURCE option — on the writer it
    is a no-op) so AvailableNow drains in ~``n_splits`` epochs, each
    appending its own partial partition.
    """
    split_dir = tempfile.mkdtemp(prefix="spype_events_split_", dir=scratch_root())
    ensure_session_confs(spark)

    def write_partials(batch_df: DataFrame, epoch_id: int) -> None:
        # aggregate INSIDE the epoch: per-batch additive partials.
        # (Pre-aggregating on the stream in update mode would emit
        # *cumulative* per-key state each epoch — re-aggregating that
        # log double-counts keys that span batches.)
        partial = batch_df.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
            "event_type",
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5))).alias(
                "value_scaled"
            ),
        )
        partial.write.mode("overwrite").parquet(f"{rollup_dir}/epoch={epoch_id}")

    # split_dir is only read during the drain; clean it up afterwards
    # (the returned DataFrame reads rollup_dir only) so repeated
    # invocations don't leak an events-table copy into scratch.
    try:
        (
            _events_batch(spark, f"{sf_dir}/events.parquet")
            .repartition(n_splits)
            .write.mode("overwrite")
            .parquet(split_dir)
        )
        ev = _events_stream(
            spark, split_dir, glob="*.parquet", max_files_per_trigger=1
        )
        with tempfile.TemporaryDirectory(
            prefix="spype_ckpt_", dir=scratch_root()
        ) as ckpt:
            q = (
                ev.writeStream.foreachBatch(write_partials)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        shutil.rmtree(split_dir, ignore_errors=True)
    # compaction view: merge the partial log into the rollup
    log = spark.read.parquet(rollup_dir)
    return log.groupBy("hour_ts", "event_type").agg(
        F.sum("n").alias("n"),
        F.sum("value_scaled").alias("value_scaled"),
    )


def run_stream_lake_upsert(
    spark: SparkSession, sf_dir: str, n_splits: int = 4
) -> DataFrame:
    """CDC stream → lakehouse: conditionally MERGE each micro-batch
    into a versioned table ("newer event wins"), arbitrary arrival
    order.

    The events table is split into ``n_splits`` RANDOM files (not time
    order — deliberately adversarial) and drained one file per
    micro-batch; each batch reduces to its latest event per user and
    ``merge_upsert``s with ``match_condition`` = (newer ts, then
    higher event_id, wins). Because the condition makes the upsert a
    join-semilattice (max by (ts, event_id)), ANY batch order — replay,
    shuffle, duplication — converges to the same table: the global
    latest event per user, which is exactly the SQL oracle of
    q_stream_lake_upsert. This is the out-of-order-CDC correctness
    argument a 100 TB ingest pipeline rests on.
    """
    from spype_spark import lakehouse as lake

    ensure_session_confs(spark)
    split_dir = tempfile.mkdtemp(prefix="spype_cdc_split_", dir=scratch_root())
    tbl_dir = tempfile.mkdtemp(prefix="spype_cdc_tbl_", dir=scratch_root())
    tbl = f"{tbl_dir}/user_latest"
    try:
        (
            _events_batch(spark, f"{sf_dir}/events.parquet")
            .repartition(n_splits)  # random order: adversarial CDC arrival
            .write.mode("overwrite")
            .parquet(split_dir)
        )
        ev = _events_stream(
            spark, split_dir, glob="*.parquet", max_files_per_trigger=1
        )

        def upsert_batch(batch_df: DataFrame, epoch_id: int) -> None:
            us = F.unix_micros(F.col("ts").cast("timestamp"))
            w = Window.partitionBy("user_id").orderBy(
                F.desc("us"), F.desc("event_id")
            )
            latest = (
                batch_df.select(
                    "user_id", "event_id", us.alias("us")
                )
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .drop("rn")
            )
            if not lake.versions(tbl):
                lake.write_table(latest, tbl)
            else:
                lake.merge_upsert(
                    batch_df.sparkSession,
                    tbl,
                    latest,
                    keys=["user_id"],
                    match_condition=lambda u, t: (u["us"] > t["us"])
                    | ((u["us"] == t["us"]) & (u["event_id"] > t["event_id"])),
                )

        with tempfile.TemporaryDirectory(
            prefix="spype_ckpt_", dir=scratch_root()
        ) as ckpt:
            q = (
                ev.writeStream.foreachBatch(upsert_batch)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        final = lake.read_table(spark, tbl).select(
            "user_id",
            "event_id",
            F.date_format(
                F.timestamp_micros(F.col("us")), TS_FMT_SPARK
            ).alias("last_ts"),
        )
        return final.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(split_dir, ignore_errors=True)
        shutil.rmtree(tbl_dir, ignore_errors=True)


def run_stream_live_ingest(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> tuple[DataFrame, int]:
    """Continuous-ingestion behavior: a ``processingTime``-trigger
    micro-batch loop over a landing directory that receives files
    WHILE the query runs — the always-on production topology, vs the
    ``AvailableNow`` drains every other streaming twin uses.

    The events table is pre-split into ``n_files``; an empty landing
    dir starts the query (50 ms trigger cadence, maxFilesPerTrigger=1),
    then files land one at a time with ``processAllAvailable()`` as the
    deterministic barrier after each arrival (no sleeps, no flakes).
    State (the running per-hour×type aggregate, complete output mode)
    carries across micro-batches; the final table must equal the batch
    aggregate bit-for-bit, proving incremental arrival order doesn't
    leak into results.

    Returns (final aggregate DataFrame, number of non-empty
    micro-batches) — callers assert the batch count ≥ ``n_files`` to
    prove the data really arrived incrementally.
    """
    ensure_session_confs(spark)
    staging = tempfile.mkdtemp(prefix="spype_live_stage_", dir=scratch_root())
    landing = tempfile.mkdtemp(prefix="spype_live_land_", dir=scratch_root())
    name = "spype_stream_live_ingest"
    try:
        (
            _events_batch(spark, f"{sf_dir}/events.parquet")
            .repartition(n_files)
            .write.mode("overwrite")
            .parquet(staging)
        )
        parts = sorted(
            f for f in os.listdir(staging) if f.endswith(".parquet")
        )
        # landing starts EMPTY — sniff the schema from staging instead.
        ev = _events_stream(
            spark,
            landing,
            glob="*.parquet",
            max_files_per_trigger=1,
            schema=spark.read.parquet(staging).schema,
        )
        agg = ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_ts"), "event_type"
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5))).alias(
                "value_scaled"
            ),
        )
        with tempfile.TemporaryDirectory(
            prefix="spype_ckpt_", dir=scratch_root()
        ) as ckpt:
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="50 milliseconds")
                .start()
            )
            try:
                for f in parts:
                    os.rename(f"{staging}/{f}", f"{landing}/{f}")
                    q.processAllAvailable()
                n_batches = sum(
                    1
                    for p in q.recentProgress
                    if p and p["numInputRows"] > 0
                )
            finally:
                q.stop()
        return spark.table(name).localCheckpoint(eager=True), n_batches
    finally:
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(landing, ignore_errors=True)


def run_stream_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: running per-user counts via
    applyInPandasWithState (GroupState, update mode).

    One state entry (a single counter) per user; each micro-batch emits
    the user's updated running total. This is the template for any
    custom accumulator Spark's built-in aggregates can't express.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _events_stream(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        batch = 0
        for pdf in pdfs:
            batch += len(pdf)
        n += batch
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "running_n": [n]})

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, running_n long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_available_now(out, "update", "spype_stream_stateful")


def run_stream_stateful_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user counts on the transformWithStateInPandas API
    (Spark 4's successor to applyInPandasWithState): typed state
    handles (ValueState) + a StatefulProcessor lifecycle instead of a
    bare (key, batches, GroupState) function.

    Semantics are identical to :func:`run_stream_stateful_running`
    (asserted in tests); the newer API is what multi-state operators
    (several named states, timers, TTL) should target going forward.

    ENVIRONMENT GATE: transformWithState's Python↔JVM state protocol is
    protobuf-based; this container has no ``google.protobuf``, so the
    TWS driver worker crashes at import. The operator raises a clear
    error here and the equality test skips — the applyInPandasWithState
    twin (:func:`run_stream_stateful_running`) is the executable path.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf for its "
            "state-server protocol, which this environment lacks; use "
            "run_stream_stateful_running (applyInPandasWithState) instead"
        ) from e
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._n = handle.getValueState("n", "n long")

        def handleInputRows(self, key, rows, timerValues):
            n = self._n.get()[0] if self._n.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._n.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "running_n": [n]})

        def close(self) -> None:
            pass

    ev = _events_stream(spark, sf_dir)
    out = ev.groupBy("user_id").transformWithStateInPandas(
        RunningCount(),
        outputStructType="user_id long, running_n long",
        outputMode="Update",
        timeMode="None",
    )
    # transformWithState requires the RocksDB state store provider
    # (the default HDFS-backed provider does not implement the new
    # multi-column-family state API); scope the conf to this query.
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        return _run_available_now(out, "update", "spype_stream_tws")
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)


def run_stream_stream_left_join(spark: SparkSession, sf_dir: str):
    """Stream-stream LEFT OUTER join: every purchase, with its clicks
    ≤ 1 h prior — purchases with NO qualifying click emit once with a
    NULL click id. Returns ``(result_df, final_watermark)`` where the
    watermark is the one the sink actually observed (see
    ``_run_available_now_with_watermark``), so callers can verify that
    every null row below their provable-region cut was really flushed.

    The outer-specific semantics: a null-padded row may only emit when
    the click-side watermark proves no matching click can still arrive
    (wm_click > p_ts); until then the purchase is withheld as state.
    Under AvailableNow the final global watermark lands at
    min(max click ts, max purchase ts) − 1 h, so unmatched purchases
    older than that emit their null row and strictly-later ones are
    (correctly) never emitted — the equality test asserts exactly that
    boundary against the batch left join.
    """
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select("p_id", "c_id", "p_user", "p_ts")
    return _run_available_now_with_watermark(
        joined, "append", "spype_stream_left_join", state_partitions=8
    )


def run_stream_txn_sink(
    spark: SparkSession, sf_dir: str, n_splits: int = 4
) -> DataFrame:
    """EXACTLY-ONCE fan-out of one stream into TWO lakehouse tables
    via catalog transactions (spype_spark/catalog.py).

    Each micro-batch lands atomically in a per-user latest-event table
    (idempotent max-semilattice MERGE) *and* an hourly-counts table
    (ADDITIVE merge — NOT naturally idempotent) inside ONE transaction
    carrying ``(app_id, app_version=batch id)``. The additive table is
    the point: replaying a committed batch would double its counts, so
    correctness rests entirely on the catalog's idempotent-writer
    ledger — a replayed version quietly no-ops in the same CAS loop
    that detects conflicts. After the drain, the WHOLE stream is
    re-run against a FRESH checkpoint (batch ids restart at 0): every
    batch must skip, the head txn id must not move, and the counts
    must equal the batch oracle — the end-to-end exactly-once witness.
    Atomicity across the two tables is structural: one log record per
    batch covers both, so no crash point can publish one without the
    other (the two-table race + interrupted-commit tests pin the
    record protocol itself).
    """
    from spype_spark.catalog import Catalog

    ensure_session_confs(spark)
    split_dir = tempfile.mkdtemp(prefix="spype_txn_split_", dir=scratch_root())
    cat_dir = tempfile.mkdtemp(prefix="spype_txn_cat_", dir=scratch_root())
    app = "events_txn_sink"
    try:
        (
            _events_batch(spark, f"{sf_dir}/events.parquet")
            .repartition(n_splits)
            .write.mode("overwrite")
            .parquet(split_dir)
        )
        cat = Catalog(f"{cat_dir}/cat")

        def sink_batch(batch_df: DataFrame, epoch_id: int) -> None:
            last = cat.applied_version(app)
            if last is not None and last >= epoch_id:
                return  # replay fast-path; commit-time check still gates
            sess = batch_df.sparkSession
            us = F.unix_micros(F.col("ts").cast("timestamp"))
            w = Window.partitionBy("user_id").orderBy(
                F.desc("us"), F.desc("event_id")
            )
            latest = (
                batch_df.select("user_id", "event_id", us.alias("us"))
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .drop("rn")
            )
            counts = (
                batch_df.select(
                    F.date_trunc("hour", F.col("ts").cast("timestamp")).alias(
                        "hour_ts"
                    )
                )
                .groupBy("hour_ts")
                .agg(F.count(F.lit(1)).alias("n_events"))
            )
            with cat.transaction(
                sess, app_id=app, app_version=epoch_id
            ) as txn:
                if "user_latest" not in cat.state():
                    txn.write(latest, "user_latest")
                    txn.write(counts, "hourly_counts")
                else:
                    txn.merge_upsert(
                        "user_latest",
                        latest,
                        keys=["user_id"],
                        match_condition=lambda u, t: (u["us"] > t["us"])
                        | (
                            (u["us"] == t["us"])
                            & (u["event_id"] > t["event_id"])
                        ),
                    )
                    cur = txn.read("hourly_counts")
                    add = (
                        counts.alias("b")
                        .join(cur.alias("c"), "hour_ts", "left")
                        .select(
                            "hour_ts",
                            (
                                F.col("b.n_events")
                                + F.coalesce(F.col("c.n_events"), F.lit(0))
                            ).alias("n_events"),
                        )
                    )
                    txn.merge_upsert("hourly_counts", add, keys=["hour_ts"])

        def drain() -> None:
            ev = _events_stream(
                spark, split_dir, glob="*.parquet", max_files_per_trigger=1
            )
            with tempfile.TemporaryDirectory(
                prefix="spype_ckpt_", dir=scratch_root()
            ) as ckpt:
                q = (
                    ev.writeStream.foreachBatch(sink_batch)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()

        drain()
        head = cat.latest_txn()
        drain()  # full replay, fresh checkpoint: every batch must skip
        if cat.latest_txn() != head:
            raise AssertionError(
                f"replay advanced the log ({head} -> {cat.latest_txn()}): "
                f"exactly-once ledger failed"
            )
        n_users = cat.read(spark, "user_latest").count()
        out = (
            cat.read(spark, "hourly_counts")
            .select(
                F.date_format("hour_ts", TS_FMT_SPARK).alias("hour_ts"),
                "n_events",
                F.lit(n_users).cast("long").alias("n_users"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(split_dir, ignore_errors=True)
        shutil.rmtree(cat_dir, ignore_errors=True)
