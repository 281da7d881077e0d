"""Large-state streaming churn probe (VERDICT r13 task 7): the
provider comparison in the regime RocksDB exists for.

The r13 churn run was honest that at ~3k state rows the HDFS and
RocksDB providers are indistinguishable. This probe forces MULTI-GB
state: a deterministic ``rate-micro-batch`` source feeds
``rows_per_batch`` unique fat keys per trigger (key = sha2 chain
padded to ``key_bytes``), an UNWATERMARKED ``dropDuplicates`` keeps
every key in state forever, and the run drives ``n_batches``
triggers. State grows linearly to batches × rows_per_batch keys —
at the defaults (500 × 10 000 × 256 B) ≈ 5M rows / ~2+ GB of raw key
material, a real fraction of a production executor's 4-8 GB heap
share and far past the point where the HDFS provider's in-heap
version maps and delta-chain maintenance dominate.

Per batch: trigger wall, addBatch, state rows, provider-reported
state memory (HDFS: in-heap bytes; RocksDB: customMetrics SST +
memtable totals). Creep verdict = median of first 50 vs last 50
batch walls AFTER the ramp. Correctness invariant: final state rows
== batches × rows_per_batch (every key unique, none lost).

Usage:
    python tools/state_heavy_probe.py [n_batches] [rows_per_batch] \
        [key_bytes] [provider: hdfs|rocksdb|both]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from spype_spark.session import get_spark, scratch_root  # noqa: E402


def drive(
    spark, n_batches: int, rows_per_batch: int, key_bytes: int, provider: str
) -> dict:
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
    # sha2 hex is 64 chars; repeat to the target key width so the
    # STATE ROW itself is fat (dedup state stores the key columns)
    reps = max(1, key_bytes // 64)
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("numPartitions", 8)
        .load()
        .select(
            F.repeat(
                F.sha2(F.col("value").cast("string"), 256), reps
            ).alias("key")
        )
    )
    out = src.dropDuplicates(["key"])
    progress: list[dict] = []
    with tempfile.TemporaryDirectory(
        prefix=f"spype_heavy_{provider}_", dir=scratch_root()
    ) as ckpt:
        q = (
            out.writeStream.format("noop")
            .queryName(f"heavy_{provider}")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="10 milliseconds")
            .start()
        )
        try:
            seen = -1
            deadline = time.time() + 3600
            while time.time() < deadline:
                p = q.lastProgress
                if p and p["batchId"] > seen and p["numInputRows"] > 0:
                    seen = p["batchId"]
                    so = (p.get("stateOperators") or [{}])[0]
                    cm = so.get("customMetrics") or {}
                    progress.append(
                        {
                            "batch": seen,
                            "trigger_ms": p["durationMs"][
                                "triggerExecution"
                            ],
                            "addbatch_ms": p["durationMs"].get("addBatch"),
                            "state_rows": so.get("numRowsTotal"),
                            "state_mem": so.get("memoryUsedBytes"),
                            "sst_bytes": cm.get("rocksdbSstFileSize"),
                        }
                    )
                    if len(progress) % 50 == 0:
                        last = progress[-1]
                        print(
                            json.dumps({"provider": provider, **last}),
                            flush=True,
                        )
                if len(progress) >= n_batches:
                    break
                time.sleep(0.02)
        finally:
            q.stop()
    trig = [p["trigger_ms"] for p in progress]
    rows = [p["state_rows"] for p in progress if p["state_rows"]]
    mems = [p["state_mem"] for p in progress if p["state_mem"]]
    ssts = [p["sst_bytes"] for p in progress if p.get("sst_bytes")]
    head = statistics.median(trig[:50])
    tail = statistics.median(trig[-50:])
    res = {
        "provider": provider,
        "batches": len(progress),
        "first50_med_ms": head,
        "last50_med_ms": tail,
        "creep_pct": round(100 * (tail - head) / head, 1),
        "final_state_rows": rows[-1] if rows else None,
        "final_state_mem_mb": round(mems[-1] / 1e6, 1) if mems else None,
        "final_sst_mb": round(ssts[-1] / 1e6, 1) if ssts else None,
    }
    expected = len(progress) * (
        progress[0]["state_rows"] if progress else 0
    )
    # invariant: every key unique and kept — state rows grow exactly
    # linearly (rate-micro-batch is deterministic)
    if rows:
        assert rows[-1] == len(progress) * rows[0], (
            f"state rows {rows[-1]} != batches×per-batch "
            f"{len(progress)}×{rows[0]} (expected {expected})"
        )
    print(json.dumps(res), flush=True)
    return res


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 500
    rpb = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000
    kb = int(sys.argv[3]) if len(sys.argv) > 3 else 256
    prov = sys.argv[4] if len(sys.argv) > 4 else "both"
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    provs = ["hdfs", "rocksdb"] if prov == "both" else [prov]
    out = [drive(spark, n, rpb, kb, p) for p in provs]
    print(json.dumps({"summary": "state_heavy", "runs": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
