"""Table sources: load the test-corpus Parquet tables (FIXTURES.md).

The corpus is a TPC-H-ish star schema plus an ``events`` stream table,
``documents`` (text) and ``embeddings`` (64-dim unit-norm vectors).

Scale notes (100 TB): each table here is a single Parquet file; on a
cluster these become partitioned directories (e.g. lineitem partitioned
by ship month) and the *same* ``spark.read.parquet`` call picks up
partition pruning automatically. Column pruning + predicate pushdown are
preserved because loaders return raw scans (no data caching, no forced
materialization) — every query composes filters/projections directly
onto the scan node so Catalyst can push them into the Parquet reader.
The one transformation applied at load (events ts normalization) is a
cheap per-row projection that stays inside whole-stage codegen — and a
no-op when the corpus already stores native µs timestamps.

The one thing loaders do remember is each file's *schema*. A bare
``spark.read.parquet`` runs a Spark job to infer it (about 0.1 s, more
than a small query's whole plan), so building a six-table query would
launch six jobs before its action. :func:`load_table` keeps a
per-session memo, keyed by the resolved path, the file's
``st_mtime_ns`` and ``st_size``, and the session's Parquet-inference
confs, and reads through ``spark.read.schema(memo)`` on a hit: composing
a query launches no Spark job. A rewritten file or a changed conf
misses and infers afresh; a directory (a partitioned table) is never
memoized, since its listing can change without its own stamp changing.
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spype_spark.session import ensure_session_confs

#: All tables in the corpus, in FK-dependency order.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at any realistic scale
#: (region=5, nation=25 rows always; supplier/part grow slowly).
BROADCAST_DIMS = ("region", "nation", "supplier", "part")

#: Session confs that change what Parquet schema inference returns, so
#: they are part of the schema memo's key (read after
#: ``ensure_session_confs`` has applied the engine's own values).
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
)

#: Per-session schema memo: resolved path -> (stamp, schema). Keyed by
#: path, so a rewritten file replaces its entry instead of adding one.
_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def normalize_events_ts(df: DataFrame, target: str = "timestamp_ntz") -> DataFrame:
    """Normalize ``events.ts`` to ``target`` regardless of corpus encoding.

    The test corpus has shipped ``ts`` two ways across regenerations:

    * TIMESTAMP(NANOS) — Spark 4.x cannot map it natively (SURVEY.md
      §7.4 G1); with the nanosAsLong conf it arrives as **bigint**
      nanoseconds. Converted with *integer* division (``div``) to avoid
      double-precision loss on 1.7e18-scale values.
    * timestamp[us] (the current corpus) — arrives natively as
      ``timestamp_ntz`` (or ``timestamp`` if the writer marked UTC).

    Branching on the *loaded* dtype makes both the batch loader and the
    stream reader robust to either encoding, and keeps them on one code
    path so they cannot diverge. ``target`` is ``timestamp_ntz`` for
    batch (matches DuckDB's naive timestamps) and ``timestamp`` for
    streaming (watermarks require TIMESTAMP; session tz is pinned UTC so
    rendered strings agree with the batch side).
    """
    t = df.schema["ts"].dataType.simpleString()
    if t == "bigint":
        ts = F.timestamp_micros(F.expr("ts div 1000")).cast(target)
    elif t != target:
        ts = F.col("ts").cast(target)
    else:
        return df
    return df.withColumn("ts", ts)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring a regular file's schema
    once per (session, file version, inference confs).

    Anything that is not a local regular file — a directory, a URI —
    falls through to Spark's own inference on every call.
    """
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    stamp = (
        st.st_mtime_ns,
        st.st_size,
        tuple(spark.conf.get(k) for k in _INFERENCE_CONFS),
    )
    memo = _SCHEMAS.setdefault(spark, {})
    key = os.path.realpath(path)
    hit = memo.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    memo[key] = (stamp, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table as a DataFrame.

    ``events.ts`` is normalized to ``timestamp_ntz`` whatever the
    on-disk encoding (see :func:`normalize_events_ts`). A table stored
    as one Parquet file has its schema inferred once per session and
    file version (module docstring); a directory is inferred on every
    call, as Spark does.
    """
    ensure_session_confs(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(df)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load several corpus tables at once (dict keyed by table name)."""
    return {n: load_table(spark, sf_dir, n) for n in names}
