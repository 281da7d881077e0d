"""Sustained-churn streaming profile (VERDICT r11 task 7).

The true-streaming contracts drain under AvailableNow; this probe
drives the ALWAYS-ON topology — a ``processingTime``-trigger query
over a landing directory receiving files one per micro-batch — for
100+ batches and records what ROADMAP has carried since round 3:
state-store growth and per-batch latency trend under churn.

Two state profiles, both over the events corpus:

- **agg**: running hour×type aggregate (update mode). State rows =
  distinct groups SEEN — bounded by the key domain, not the input;
  the probe records the saturation curve and asserts the final count
  equals the batch-side distinct-group count.
- **dedup**: ``dropDuplicatesWithinWatermark`` on event_id with a
  30-minute watermark. State rows are EVICTED as the watermark
  advances — the probe records total vs peak state rows; peak << total
  input proves eviction actually bounds the store.

Per batch: trigger wall (`triggerExecution`), input rows, state rows/
memory from `stateOperators`. Latency trend = first-20 vs last-20
median — flat means no per-batch cost creep with accumulated state.

Usage: python tools/stream_churn_probe.py [n_files] [sf_dir]
"""

import json
import os
import shutil
import statistics
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from spype_spark.session import get_spark, scratch_root  # noqa: E402
from spype_spark.streaming.jobs import (  # noqa: E402
    _events_batch,
    _events_stream,
)


def drive(spark, sf_dir: str, n_files: int, profile: str,
          provider: str = "hdfs") -> dict:
    """``provider`` picks the state store: "hdfs" (default
    HDFSBackedStateStoreProvider) or "rocksdb" (RocksDB + changelog
    checkpointing — VERDICT r12 task 6: the r12 probe attributed the
    dedup profile's addBatch creep to HDFS-store delta-chain
    maintenance and named this config as the 10^6-batch path)."""
    if provider == "rocksdb":
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
    else:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    staging = tempfile.mkdtemp(prefix="spype_churn_stage_", dir=scratch_root())
    landing = tempfile.mkdtemp(prefix="spype_churn_land_", dir=scratch_root())
    name = f"spype_churn_{profile}"
    progress = []
    try:
        (
            _events_batch(spark, f"{sf_dir}/events.parquet")
            .repartition(n_files)
            .write.mode("overwrite")
            .parquet(staging)
        )
        parts = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
        schema = spark.read.parquet(staging).schema
        ev = _events_stream(
            spark, landing, glob="*.parquet", max_files_per_trigger=1,
            schema=schema,
        )
        if profile == "agg":
            out = ev.groupBy(
                F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
                "event_type",
            ).agg(F.count("*").alias("n"))
            mode = "update"
        else:
            out = ev.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
                ["event_id"]
            )
            mode = "append"
        with tempfile.TemporaryDirectory(
            prefix="spype_ckpt_", dir=scratch_root()
        ) as ckpt:
            q = (
                out.writeStream.format("noop")
                .queryName(name)
                .outputMode(mode)
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="50 milliseconds")
                .start()
            )
            try:
                for f in parts:
                    os.rename(f"{staging}/{f}", f"{landing}/{f}")
                    q.processAllAvailable()
                    p = q.lastProgress
                    if p and p["numInputRows"] > 0:
                        so = (p.get("stateOperators") or [{}])[0]
                        progress.append(
                            {
                                "rows_in": p["numInputRows"],
                                "trigger_ms": p["durationMs"][
                                    "triggerExecution"
                                ],
                                "addbatch_ms": p["durationMs"].get(
                                    "addBatch"
                                ),
                                "state_rows": so.get("numRowsTotal"),
                                "state_mem": so.get("memoryUsedBytes"),
                            }
                        )
            finally:
                q.stop()
        trig = [p["trigger_ms"] for p in progress]
        ab = [p["addbatch_ms"] for p in progress if p["addbatch_ms"] is not None]
        srows = [p["state_rows"] for p in progress if p["state_rows"] is not None]
        res = {
            "profile": profile,
            "provider": provider,
            "batches": len(progress),
            "rows_total": sum(p["rows_in"] for p in progress),
            "trigger_ms_first20_med": statistics.median(trig[:20]),
            "trigger_ms_last20_med": statistics.median(trig[-20:]),
            "addbatch_ms_first20_med": statistics.median(ab[:20]) if ab else None,
            "addbatch_ms_last20_med": statistics.median(ab[-20:]) if ab else None,
            "state_rows_b10": srows[min(9, len(srows) - 1)],
            "state_rows_mid": srows[len(srows) // 2],
            "state_rows_final": srows[-1],
            "state_rows_peak": max(srows),
            "state_mem_final_mb": round(
                (progress[-1]["state_mem"] or 0) / 1e6, 2
            ),
        }
        if profile == "agg":
            res["distinct_groups_batch"] = (
                _events_batch(spark, f"{sf_dir}/events.parquet")
                .select(
                    F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
                )
                .distinct()
                .count()
            )
        return res
    finally:
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(landing, ignore_errors=True)


def main() -> int:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 110
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    providers = sys.argv[3].split(",") if len(sys.argv) > 3 else ["hdfs"]
    spark = get_spark("spype-churn-probe")
    for provider in providers:
        for profile in ("agg", "dedup"):
            res = drive(spark, sf_dir, n_files, profile, provider=provider)
            print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
