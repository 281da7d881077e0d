"""``analytics``: the registry's short relational queries and the two
Pype-algebra queries at sf0.1, plus one call into the curation library
(``functions.exact_dedup`` over ``documents``), one after another in a
fixed cycle.

The queries are planning-bound: a planning, scan or
pipeline-composition change shows here. The library call keeps the
functions layer measured by a workload the benchmark always runs (see
README.md). Lakehouse commits and Python-worker kernels are bypassed.
Results are compared with the registry's own DuckDB ``oracle`` SQL over
the same generated Parquet.
"""

from __future__ import annotations

import contextlib

from spype_spark import functions as S
from spype_spark import tables
from spype_spark.queries import REGISTRY

from perfbench.oracle import Expected

QUERIES = (
    "q_pricing_summary", "q_join_3way", "q_window_topk", "q_events_hourly_agg",
    "q_tpch_q5", "q_tpch_q9", "q_tpch_q18", "q_rolling_dau",
    "q_pipe_chain", "q_pipe_fan_merge",
)
PIPE_QUERIES = {"q_pipe_chain", "q_pipe_fan_merge"}
#: library ops: name -> (span name, compose function)
LIBRARY = {
    "exact_dedup": ("functions.exact_dedup",
                    lambda spark, d: S.exact_dedup(tables.load_table(spark, d, "documents"))),
}
OPS = QUERIES + tuple(LIBRARY)


class Analytics:
    name = "analytics"
    tables = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents")
    max_ops = 10**9
    cycle = len(OPS)

    def __init__(self, ctx):
        self.ctx = ctx
        self.expected: dict[str, Expected] = {}

    def build_expected(self, con) -> None:
        for q in QUERIES:
            self.expected[q] = Expected(con.execute(REGISTRY[q].oracle).fetchall())
        self.expected["exact_dedup"] = Expected(con.execute(
            "SELECT * FROM documents WHERE doc_id IN "
            "(SELECT min(doc_id) FROM documents GROUP BY text)").fetchall())

    def build_fixtures(self) -> None:
        pass

    def warm_up(self) -> None:
        for i in range(len(OPS)):
            self.check(i, self.op(i)[1])

    def start_phase(self) -> None:
        pass

    def op_name(self, i: int) -> str:
        return OPS[i % len(OPS)]

    def op(self, i: int):
        ctx, tr = self.ctx, self.ctx.tracer
        name = OPS[i % len(OPS)]
        if name in LIBRARY:
            layer, compose = LIBRARY[name]
        else:
            layer, compose = None, REGISTRY[name].fn
        with tr.span(layer) if layer else contextlib.nullcontext():
            ctx.jobs.enter(i, "compose")
            with tr.span("queries.compose"):
                df = compose(ctx.spark, ctx.inputs["dir"])
            if tr.enabled:
                with tr.span("queries.plan"):
                    df._jdf.queryExecution().executedPlan()
            ctx.jobs.enter(i, "action")
            with tr.span("queries.exec"):
                with tr.span("pipeline.action") if name in PIPE_QUERIES \
                        else contextlib.nullcontext():
                    rows = df.collect()
            ctx.jobs.clear()
        tr.count("queries.result_rows", len(rows))
        return "read", (name, rows)

    def check(self, i: int, res) -> bool:
        name, rows = res
        return self.expected[name].matches(rows)

    def end_phase(self) -> dict:
        tr = self.ctx.tracer
        return {"functions.exact_dedup_s": (tr.median_s("functions.exact_dedup"), "s")}
