#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 15 --trace 0

Each workload is a closed loop with one client: a pipeline author who
submits the next operation only after the previous one finished, from
one process, against Spark at ``local[N]`` with N = min(4, nproc).
Set-up (session start, input generation, DuckDB expectations, fixture
build and one warm-up pass) is timed as ``setup_s``; then operations
run for ``--seconds``. Every operation's output is checked against the
expectation; a mismatch or an exception counts as failed and the run
goes on.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on
the Spark event log for the session, runs the same operation sequence
twice in the timed budget (first untraced, then with spans, forced
physical planning and job groups) and reports the per-layer metrics and
the tracing overhead (traced minus untraced latency).

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
are a human-readable report (every metric with unit and sample count,
and the environment fingerprint).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path
from statistics import median

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import env, gen, oracle  # noqa: E402
from perfbench.analytics import Analytics  # noqa: E402
from perfbench.lake_mix import LakeMix  # noqa: E402
from perfbench.llm_curation import LlmCuration  # noqa: E402
from perfbench.trace import JobGroups, Tracer, event_log_metrics, patched  # noqa: E402

WORKLOADS = {w.name: w for w in (Analytics, LakeMix, LlmCuration)}
MAX_CORES = 4
DRIVER_MEM = "2g"


@dataclass
class Context:
    """What a workload gets to work with."""

    spark: object
    tracer: Tracer
    jobs: JobGroups
    tmp: Path
    inputs: dict = field(default_factory=dict)


@dataclass
class Phase:
    latencies: list[float] = field(default_factory=list)
    kinds: list[str] = field(default_factory=list)
    names: list[str] = field(default_factory=list)
    failed: int = 0
    extra: dict = field(default_factory=dict)

    def of(self, kind: str) -> list[float]:
        return [t for t, k in zip(self.latencies, self.kinds) if k == kind]


def percentile(values: list[float], p: float) -> float:
    """Linearly interpolated percentile (p50 is the median)."""
    s = sorted(values)
    x = p / 100.0 * (len(s) - 1)
    lo = math.floor(x)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (x - lo)


def tail(values: list[float]) -> tuple[float, int]:
    """Latency at the highest whole percentile that still has at least
    ten samples above it (p50 when fewer than 20 samples exist)."""
    n = len(values)
    p = max(50, math.floor(100.0 * (1.0 - 10.0 / n))) if n >= 20 else 50
    return percentile(values, p), p


def start_session(tmp: Path, n_cores: int, event_log: Path | None):
    """Start Spark through the package's own session factory; confs the
    benchmark needs (scratch dirs inside ``tmp``, the event log) go in
    as submit arguments, from outside the package."""
    from spype_spark.session import get_spark

    confs = {
        "spark.local.dir": tmp / "spark-local",
        "spark.sql.warehouse.dir": tmp / "warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log is not None:
        event_log.mkdir()
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = event_log.as_uri()
        confs["spark.eventLog.rolling.enabled"] = "false"  # one plain JSON file
        confs["spark.eventLog.compress"] = "false"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf '{k}={v}'" for k, v in confs.items()
    ) + " pyspark-shell"
    os.environ["SPYPE_DRIVER_MEM"] = DRIVER_MEM
    return get_spark("perfbench", master=f"local[{n_cores}]",
                     shuffle_partitions=n_cores)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run_phase(wl, seconds: float, tracer: Tracer) -> Phase:
    """Closed loop: op i+1 starts when op i (and its check) is done.
    Only the op itself is timed; checking is the client's own work.
    The phase ends at the first cycle boundary after ``seconds``, so
    every run times the same operation mix."""
    ph = Phase()
    wl.start_phase()
    t_end = time.perf_counter() + seconds
    i = 0
    while i < wl.max_ops and (time.perf_counter() < t_end or i % wl.cycle):
        tracer.op = i
        wl.ctx.jobs.enter(i, "action")  # a workload may split it further
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                kind, res = wl.op(i)
            err = None
        except Exception:  # one failed op must not end the run
            kind, res, err = "failed", None, traceback.format_exc()
        ph.latencies.append(time.perf_counter() - t0)
        wl.ctx.jobs.clear()
        ok = err is None and wl.check(i, res)
        ph.kinds.append(kind)
        ph.names.append(wl.op_name(i))
        if not ok:
            ph.failed += 1
            print(f"op {i} failed: {err or 'result mismatch'}", file=sys.stderr)
        i += 1
    tracer.op = None
    ph.extra = wl.end_phase()
    return ph


def end_to_end(ph: Phase, setup_s: float) -> dict:
    reads = ph.of("read") or ph.latencies
    return {
        "setup_s": (setup_s, "s", 1),
        "ops_per_s": (len(ph.latencies) / sum(ph.latencies), "1/s", len(ph.latencies)),
        "read_p50_s": (median(reads), "s", len(reads)),
    }


def per_layer(wl, ctx: Context, untraced: tuple[Phase, Phase], traced: Phase,
              session_start_s: float, rss_mb: float) -> dict:
    """Layer metrics of the traced phase, plus the tracing overhead:
    traced minus untraced latency over the ops all phases ran."""
    tr = ctx.tracer
    n_ops = max(1, len(traced.latencies))
    jobs = ctx.jobs.tally()
    per_op = lambda key: sum(j[key] for j in jobs.values()) / n_ops  # noqa: E731
    u1, u2 = untraced
    common = min(len(u1.latencies), len(u2.latencies), len(traced.latencies))
    u = (sum(u1.latencies[:common]) + sum(u2.latencies[:common])) / 2 or float("nan")
    t = sum(traced.latencies[:common])
    writes = u1.of("write") + u2.of("write")
    m = {
        "session.start_s": (session_start_s, "s"),
        "session.jvm_rss_peak_mb": (rss_mb, "MB"),
        "tables.load_s": (tr.median_s("tables.load"), "s"),
        "tables.input_bytes": (sum(ctx.inputs["bytes"][t_] for t_ in wl.tables), "bytes"),
        "tables.input_rows": (sum(ctx.inputs["rows"][t_] for t_ in wl.tables), "count"),
        "pipeline.compose_s": (tr.median_s("pipeline.compose"), "s"),
        "pipeline.tasks": (len(tr.durations("pipeline.task"))
                           / max(1, len(tr.durations("pipeline.compose"))), "count"),
        "pipeline.action_s": (tr.median_s("pipeline.action"), "s"),
        "queries.compose_s": (tr.median_s("queries.compose"), "s"),
        "queries.plan_s": (tr.median_s("queries.plan"), "s"),
        "queries.exec_s": (tr.median_s("queries.exec"), "s"),
        "queries.jobs": (per_op("jobs"), "count"),
        "queries.eager_jobs": (per_op("eager_jobs"), "count"),
        "queries.tasks": (per_op("tasks"), "count"),
        "queries.result_rows": (tr.mean_count("queries.result_rows"), "count"),
        "trace.untraced_op_s": (u / max(1, common), "s"),
        "trace.traced_op_s": (t / max(1, common), "s"),
        "trace.overhead_frac": (t / u - 1.0, "ratio"),
        "lakehouse.write_p50_s": (median(writes) if writes else 0.0, "s"),
    }
    for name in LAYER_METRICS:
        m.setdefault(name, (0.0, LAYER_METRICS[name]))
    m.update(traced.extra)
    return m


#: Layer metrics a workload may leave out because it bypasses the
#: layer; they are reported as 0 there.
LAYER_METRICS = {
    "functions.exact_dedup_s": "s", "functions.near_dedup_s": "s",
    "functions.minhash_candidates": "count", "functions.verified_pairs": "count",
    "functions.candidate_precision": "ratio", "ann.topk_s": "s",
    "lakehouse.merge_s": "s", "lakehouse.delete_dv_s": "s",
    "lakehouse.delete_range_s": "s", "lakehouse.compact_s": "s",
    "lakehouse.bytes_written_per_user_byte": "ratio",
    "lakehouse.scan_s": "s", "lakehouse.read_s": "s", "lakehouse.changes_s": "s",
    "lakehouse.files_read_per_scan": "count", "lakehouse.files_live": "count",
    "lakehouse.versions": "count", "lakehouse.files_rewritten_per_merge": "count",
    "lakehouse.bytes_stored_per_live_byte": "ratio",
    "sqltext.merge_s": "s",
    "delta_interop.read_dv_s": "s", "delta_interop.files_read": "count",
}


def run(args, tmp: Path) -> tuple[dict, Phase, dict]:
    n_cores = min(MAX_CORES, env.nproc())
    fp = {"load_start": env.loadavg(), "calibration_s": env.calibration_s()}
    parts = fp["setup_parts_s"] = {}
    t0 = t_part = time.perf_counter()

    def part(name: str) -> None:
        nonlocal t_part
        now = time.perf_counter()
        parts[name] = now - t_part
        t_part = now

    spark = start_session(tmp, n_cores, tmp / "eventlog" if args.trace else None)
    part("session")
    session_start_s = parts["session"]
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer()
    ctx = Context(spark, tracer, JobGroups(spark.sparkContext, False), tmp)
    try:
        wl = WORKLOADS[args.workload](ctx)
        ctx.inputs = gen.write_inputs(str(tmp / "inputs"), args.seed, args.workload)
        part("inputs")
        con = oracle.connect(
            {t: os.path.join(ctx.inputs["dir"], f"{t}.parquet") for t in wl.tables}
        )
        try:
            wl.build_expected(con)
        finally:
            con.close()
        part("oracle")
        wl.build_fixtures()
        part("fixtures")
        wl.warm_up()
        part("warm_up")
        setup_s = time.perf_counter() - t0
        if not args.trace:
            ph = run_phase(wl, args.seconds, tracer)
            metrics = end_to_end(ph, setup_s)
            extra = {}
        else:
            # untraced, traced, untraced: the mean of the two untraced
            # passes cancels the warm-up drift a single pass would carry
            u1 = run_phase(wl, args.seconds / 3, tracer)
            tracer.enabled = ctx.jobs.enabled = True
            t_tr = time.perf_counter()
            with patched(tracer):
                ph = run_phase(wl, args.seconds / 3, tracer)
            traced_wall = time.perf_counter() - t_tr
            tracer.enabled = ctx.jobs.enabled = False
            u2 = run_phase(wl, args.seconds / 3, tracer)
            time.sleep(1.0)  # let the listener bus catch up before tallying
            extra = {"untraced": (u1, u2), "traced_wall": traced_wall}
            metrics = None
        fp.update(env.spark_fingerprint(spark, n_cores))
        rss = env.jvm_rss_peak_mb(spark)
        if args.trace:  # the job tally needs the live session
            layer = per_layer(wl, ctx, extra["untraced"], ph, session_start_s, rss)
    finally:
        stop_session(spark)
    if args.trace:
        tot = event_log_metrics(str(tmp / "eventlog"), JobGroups.PREFIX)
        n_ops = max(1, len(ph.latencies))
        layer.update({
            "spark.stages": (tot["stages"] / n_ops, "count"),
            "spark.task_run_s": (tot["task_run_s"] / n_ops, "s"),
            "spark.task_cpu_s": (tot["task_cpu_s"] / n_ops, "s"),
            "spark.gc_s": (tot["gc_s"] / n_ops, "s"),
            "spark.shuffle_write_bytes": (tot["shuffle_write_bytes"] / n_ops, "bytes"),
            "spark.shuffle_read_bytes": (tot["shuffle_read_bytes"] / n_ops, "bytes"),
            "spark.spill_bytes": (tot["spill_bytes"] / n_ops, "bytes"),
            "spark.core_busy_frac": (
                tot["task_run_s"] / (extra["traced_wall"] * n_cores), "ratio"),
        })
        metrics = {k: (v, u, len(ph.latencies)) for k, (v, u) in layer.items()}
    fp["load_end"] = env.loadavg()
    return metrics, ph, fp


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    tmp_root = Path.cwd() / ".perfbench_tmp"
    tmp = tmp_root / f"{args.workload}-{os.getpid()}"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    try:
        metrics, ph, fp = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):
            tmp_root.rmdir()
    n = len(ph.latencies)
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"closed loop, 1 client, local[{min(MAX_CORES, env.nproc())}]")
    print("env " + json.dumps(fp, sort_keys=True))
    if fp.get("oversubscribed"):
        print("WARNING: local[N] exceeds nproc")
    for k, (v, unit, cnt) in metrics.items():
        print(f"{k:40s} {v:14.6g} {unit:6s} n={cnt}")
    print(f"{'op_p50_s':40s} {median(ph.latencies):14.6g} {'s':6s} n={n}")
    tail_s, tail_p = tail(ph.latencies)
    print(f"{'op_tail_s':40s} {tail_s:14.6g} {'s':6s} n={n}  (p{tail_p})")
    if not args.trace and ph.of("write"):
        w = ph.of("write")
        print(f"{'write_p50_s':40s} {median(w):14.6g} {'s':6s} n={len(w)}")
        for k in ("lakehouse.files_live", "lakehouse.versions"):
            print(f"{k + ' (end of run)':40s} {ph.extra[k][0]:14.6g} count")
    print(f"{'failed_ops_frac':40s} {ph.failed / max(1, n):14.6g} {'ratio':6s} n={n}")
    by_name: dict[str, list[float]] = {}
    for name, t in zip(ph.names, ph.latencies):
        by_name.setdefault(name, []).append(t)
    print("op p50_s: " + " ".join(f"{k}={median(v):.4f}" for k, v in by_name.items()))
    out = {
        "correct": ph.failed == 0 and n > 0,
        "attempted": n,
        "failed": ph.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
