"""``lake_mix``: a seeded read/write mix on one manifest table built
from sf0.1 ``orders`` (Bloom-keyed on ``o_orderkey``), plus a Delta
twin that carries deletion vectors.

Writes: point ``merge_upsert``, the same MERGE through ``sqltext.sql``,
``delete_where_dv``, ``delete_range`` and a periodic selective
``compact``. Reads: a key-range ``scan_table``, a full ``read_table``
aggregate, the one-step ``changes`` feed, and ``delta_interop.read_delta``
of the twin. Both writes and reads go through the lakehouse layer, so a
change that makes commits cheaper by leaving more files or vectors
behind shows as slower reads.

Every phase starts from a fresh shallow ``clone_table`` of the table
built during set-up, so runs do not drift. The expected result of each
read comes from a DuckDB replay of the same mutation log.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from spype_spark import delta_interop as dl
from spype_spark import lakehouse as lake
from spype_spark import sqltext

from perfbench.gen import LAKE_CYCLE
from perfbench.oracle import Expected

KEY = "o_orderkey"
BASE_FILES = 8
COMPACT_BELOW_BYTES = 64 << 10
DELTA_ROWS = 40_000  # the Delta twin holds the orders below this key
DELTA_DV_MOD, DELTA_DV_REM = 101, 7
SQL_MERGE = """
    MERGE INTO '{path}' AS t USING perfbench_upd AS s
    ON t.o_orderkey = s.o_orderkey
    WHEN MATCHED THEN UPDATE SET *
    WHEN NOT MATCHED THEN INSERT *
"""
SCHEMA = ("o_orderkey long, o_custkey long, o_orderstatus string, "
          "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class LakeMix:
    name = "lake_mix"
    tables = ("orders",)
    cycle = len(LAKE_CYCLE)

    def __init__(self, ctx):
        self.ctx = ctx
        self.root = str(ctx.tmp / "lake")
        self.base = f"{self.root}/base"
        self.delta = f"{self.root}/delta_twin"
        self.n_phase = 0

    # -- set-up ---------------------------------------------------------
    def build_expected(self, con) -> None:
        """Replay the mutation log in DuckDB: per op, the batch a merge
        submits, the change set a write leaves, and what a read returns."""
        self.log = self.ctx.inputs["log"]
        self.max_ops = len(self.log)
        self.batches: dict[int, list[tuple]] = {}
        self.batch_bytes: dict[int, int] = {}
        self.changes: dict[int, set] = {}
        self.expected: dict[int, object] = {}
        self.live_rows: list[int] = []
        con.execute("CREATE TABLE t AS SELECT * FROM orders")
        self.row_bytes = con.execute("SELECT * FROM t").arrow().nbytes / max(
            1, con.execute("SELECT count(*) FROM t").fetchone()[0])
        cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
        for i, op in enumerate(self.log):
            kind = op["op"]
            if kind in ("merge", "sql_merge"):
                keys = ",".join(map(str, op["keys"]))
                con.execute(f"""
                    CREATE OR REPLACE TEMP TABLE b AS
                    SELECT o_orderkey, o_custkey, o_orderstatus,
                           o_totalprice + {op['delta']} AS o_totalprice,
                           o_orderdate, o_orderpriority
                    FROM orders WHERE o_orderkey IN ({keys})
                    UNION ALL
                    SELECT k, k % 15000, 'O', {op['delta']}, TIMESTAMP '2001-06-01',
                           '3-MEDIUM'
                    FROM unnest([{keys}]) AS u(k)
                    WHERE k NOT IN (SELECT o_orderkey FROM orders)""")
                batch = con.execute(f"SELECT {cols} FROM b ORDER BY o_orderkey")
                self.batches[i] = batch.fetchall()
                self.batch_bytes[i] = con.execute("SELECT * FROM b").arrow().nbytes
                self.changes[i] = set(con.execute("""
                    SELECT b.o_orderkey,
                           CASE WHEN t.o_orderkey IS NULL THEN 'insert' ELSE 'update' END
                    FROM b LEFT JOIN t USING (o_orderkey)
                    WHERE t.o_orderkey IS NULL
                       OR (t.o_custkey, t.o_orderstatus, t.o_totalprice, t.o_orderdate,
                           t.o_orderpriority)
                          IS DISTINCT FROM (b.o_custkey, b.o_orderstatus, b.o_totalprice,
                           b.o_orderdate, b.o_orderpriority)""").fetchall())
                con.execute("DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM b)")
                con.execute("INSERT INTO t SELECT * FROM b")
            elif kind in ("delete_dv", "delete_range"):
                where = (f"o_orderkey % {op['mod']} = {op['key'] % op['mod']}"
                         if kind == "delete_dv"
                         else f"o_orderkey BETWEEN {op['lo']} AND {op['hi']}")
                self.changes[i] = {(k, "delete") for (k,) in con.execute(
                    f"SELECT o_orderkey FROM t WHERE {where}").fetchall()}
                con.execute(f"DELETE FROM t WHERE {where}")
            elif kind == "compact":
                self.changes[i] = set()
            elif kind == "scan":
                self.expected[i] = Expected(con.execute(
                    f"SELECT {cols} FROM t WHERE o_orderkey BETWEEN {op['lo']} AND {op['hi']}"
                ).fetchall())
            elif kind == "read":
                self.expected[i] = Expected(con.execute(
                    "SELECT count(*), sum(o_orderkey), sum(o_totalprice) FROM t").fetchall())
            self.live_rows.append(con.execute("SELECT count(*) FROM t").fetchone()[0])
        self.delta_expected = Expected(con.execute(f"""
            SELECT count(*), sum(o_orderkey), sum(o_totalprice) FROM orders
            WHERE o_orderkey < {DELTA_ROWS}
              AND o_orderkey % {DELTA_DV_MOD} <> {DELTA_DV_REM}""").fetchall())

    def build_fixtures(self) -> None:
        spark = self.ctx.spark
        orders = spark.read.parquet(os.path.join(self.ctx.inputs["dir"], "orders.parquet"))
        lake.write_table(orders.repartition(BASE_FILES, KEY), self.base, bloom_keys=[KEY])
        dl.write_delta(spark, orders.filter(F.col(KEY) < DELTA_ROWS).repartition(4),
                       self.delta)
        dl.delta_delete_rows(
            spark, self.delta, F.col(KEY) % DELTA_DV_MOD == DELTA_DV_REM)

    def warm_up(self) -> None:
        """One pass over the op cycle on a throw-away clone."""
        self.start_phase()
        for i in range(len(LAKE_CYCLE)):
            self.check(i, self.op(i)[1])

    # -- the timed loop -------------------------------------------------
    def start_phase(self) -> None:
        self.path = f"{self.root}/clone{self.n_phase}"
        self.n_phase += 1
        self.version = lake.clone_table(self.base, self.path)
        self.last_changes: set = set()
        self.ops_done = 0
        self.user_bytes = 0

    def op_name(self, i: int) -> str:
        return self.log[i]["op"]

    def _write(self, i: int, fn):
        before = self.version
        v = fn()
        if self.ctx.tracer.enabled and self.log[i]["op"] in ("merge", "sql_merge"):
            gone = set(lake.data_files(self.path, before)) - set(
                lake.data_files(self.path, v))
            self.ctx.tracer.count("lakehouse.files_rewritten_per_merge", len(gone))
        if v != before:
            self.last_changes = self.changes[i]
        self.version = v
        self.user_bytes += self.batch_bytes.get(i, 0)
        return "write", (before, v)

    def op(self, i: int):
        spark, tr = self.ctx.spark, self.ctx.tracer
        op, path = self.log[i], self.path
        kind = op["op"]
        self.ops_done = i + 1
        agg = (F.count(F.lit(1)), F.sum(KEY), F.sum("o_totalprice"))
        if kind in ("merge", "sql_merge"):
            upd = spark.createDataFrame(self.batches[i], SCHEMA)
            if kind == "merge":
                def call():
                    with tr.span("lakehouse.merge"):
                        return lake.merge_upsert(spark, path, upd, [KEY])
            else:
                def call():
                    upd.createOrReplaceTempView("perfbench_upd")
                    with tr.span("sqltext.merge"):
                        return sqltext.sql(spark, SQL_MERGE.format(path=path))
            return self._write(i, call)
        if kind == "delete_dv":
            cond = F.col(KEY) % op["mod"] == op["key"] % op["mod"]
            with tr.span("lakehouse.delete_dv"):
                return self._write(i, lambda: lake.delete_where_dv(spark, path, cond))
        if kind == "delete_range":
            with tr.span("lakehouse.delete_range"):
                return self._write(i, lambda: lake.delete_range(
                    spark, path, KEY, op["lo"], op["hi"]))
        if kind == "compact":
            with tr.span("lakehouse.compact"):
                return self._write(i, lambda: lake.compact(
                    spark, path, min_file_bytes=COMPACT_BELOW_BYTES))
        if kind == "scan":
            with tr.span("lakehouse.scan"):
                df = lake.scan_table(spark, path, ranges={KEY: (op["lo"], op["hi"])})
                rows = df.collect()
            if tr.enabled:
                tr.count("lakehouse.files_read_per_scan", len(df.inputFiles()))
            return "read", rows
        if kind == "read":
            with tr.span("lakehouse.read"):
                rows = lake.read_table(spark, path).agg(*agg).collect()
            return "read", rows
        if kind == "changes":
            v = self.version
            with tr.span("lakehouse.changes"):
                rows = lake.changes(spark, path, [KEY], max(0, v - 1), v).collect()
            return "read", (v, rows, self.last_changes)
        if kind == "delta_read":
            with tr.span("delta_interop.read_dv"):
                df = dl.read_delta(spark, self.delta)
                rows = df.agg(*agg).collect()
            if tr.enabled:
                tr.count("delta_interop.files_read", len(df.inputFiles()))
            return "read", rows
        raise ValueError(f"unknown op {kind!r}")

    def check(self, i: int, res) -> bool:
        kind = self.log[i]["op"]
        if kind in ("merge", "sql_merge"):
            before, v = res
            return v == before + 1
        if kind in ("delete_dv", "delete_range", "compact"):
            before, v = res
            return v in (before, before + 1)
        if kind == "changes":
            v, rows, want = res
            return all(r["version"] == v for r in rows) and {
                (r[KEY], r["op"]) for r in rows} == want
        if kind == "delta_read":
            return self.delta_expected.matches(res)
        return self.expected[i].matches(res)

    def end_phase(self) -> dict:
        """State evidence (no drift across runs) and the storage ratios."""
        tr = self.ctx.tracer
        live = lake.data_files(self.path, self.version)
        stored = sum(os.path.getsize(os.path.join(self.path, f)) for f in live)
        live_rows = self.live_rows[self.ops_done - 1] if self.ops_done else 0
        return {
            "lakehouse.files_live": (len(live), "count"),
            "lakehouse.versions": (len(lake.versions(self.path)), "count"),
            "lakehouse.bytes_written_per_user_byte": (
                _dir_bytes(self.path) / max(1, self.user_bytes), "ratio"),
            "lakehouse.bytes_stored_per_live_byte": (
                stored / max(1.0, live_rows * self.row_bytes), "ratio"),
            "lakehouse.files_read_per_scan": (
                tr.mean_count("lakehouse.files_read_per_scan"), "count"),
            "lakehouse.files_rewritten_per_merge": (
                tr.mean_count("lakehouse.files_rewritten_per_merge"), "count"),
            "delta_interop.files_read": (tr.mean_count("delta_interop.files_read"), "count"),
            "lakehouse.merge_s": (tr.median_s("lakehouse.merge"), "s"),
            "sqltext.merge_s": (tr.median_s("sqltext.merge"), "s"),
            "lakehouse.delete_dv_s": (tr.median_s("lakehouse.delete_dv"), "s"),
            "lakehouse.delete_range_s": (tr.median_s("lakehouse.delete_range"), "s"),
            "lakehouse.compact_s": (tr.median_s("lakehouse.compact"), "s"),
            "lakehouse.scan_s": (tr.median_s("lakehouse.scan"), "s"),
            "lakehouse.read_s": (tr.median_s("lakehouse.read"), "s"),
            "lakehouse.changes_s": (tr.median_s("lakehouse.changes"), "s"),
            "delta_interop.read_dv_s": (tr.median_s("delta_interop.read_dv"), "s"),
        }
