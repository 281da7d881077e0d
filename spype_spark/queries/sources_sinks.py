"""Additional source/sink formats and layouts (completing the
"sources / sinks" family beyond the parquet round trip).

Scale notes: the partitioned-write contract is *the* 100 TB layout
pattern — `partitionBy` produces the directory structure that later
enables partition pruning (verified in tests/test_plans.py for the
scan side); CSV/JSON are the interchange formats whose readers must
agree with the Parquet truth.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spype_spark.layout import morton2, morton2_sql
from spype_spark.registry import query
from spype_spark.session import scratch_root
from spype_spark.tables import load_table


def _scratch(prefix: str) -> str:
    return tempfile.mkdtemp(prefix=prefix, dir=scratch_root())


@query(
    "q_sink_csv_roundtrip",
    oracle="""
    SELECT COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT))
                AS DOUBLE) / 1e2 AS total_sum,
           COUNT(DISTINCT o_orderstatus) AS n_status
    FROM orders
    """,
)
def q_sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV write → schema-on-read back → aggregate equality summary.

    Verifies header handling, type inference vs explicit schema, and
    that a lossy text format round-trips exactly for the column types
    it can carry (ints, strings; doubles written with full precision).
    The oracle computes the same summary from the SOURCE table, so a
    hash match proves the sink→source cycle preserved every value the
    summary covers — the roundtrip becomes driver-checkable instead of
    rows-only.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    tmp = _scratch("spype_csv_")
    try:
        path = f"{tmp}/orders_csv"
        o.write.mode("overwrite").option("header", True).csv(path)
        back = (
            spark.read.option("header", True)
            .schema("o_orderkey long, o_custkey long, o_orderstatus string, "
                    "o_totalprice double")
            .csv(path)
        )
        return back.agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
            (F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5)) / 100).alias(
                "total_sum"
            ),
            F.countDistinct("o_orderstatus").alias("n_status"),
        ).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_sink_json_roundtrip",
    oracle="""
    SELECT COUNT(*) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER))
                AS BIGINT) AS k_sum,
           COUNT(DISTINCT event_type) AS n_types
    FROM events
    """,
)
def q_sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines write → read back with explicit schema → summary.

    Exercises nested values too: the events props string is parsed to
    a map before writing, so the reader must reconstruct MapType. The
    oracle recomputes the summary from the source events table (json
    path extraction in place of the map round trip), making the cycle
    driver-checkable.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.from_json("props", "map<string,int>").alias("props_map"),
    )
    tmp = _scratch("spype_json_")
    try:
        path = f"{tmp}/events_json"
        ev.write.mode("overwrite").json(path)
        back = spark.read.schema(
            "event_id long, user_id long, event_type string, "
            "props_map map<string,int>"
        ).json(path)
        return back.agg(
            F.count("*").alias("n"),
            F.sum(F.element_at("props_map", "k")).alias("k_sum"),
            F.countDistinct("event_type").alias("n_types"),
        ).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_sink_partitioned_write",
    oracle="""
    SELECT COUNT(*) AS n_1997,
           COUNT(DISTINCT o_custkey) AS n_cust_1997,
           (SELECT COUNT(DISTINCT year(o_orderdate)) FROM orders)
             AS n_partitions_written
    FROM orders
    WHERE year(o_orderdate) = 1997
    """,
)
def q_sink_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned Parquet write + partition-pruned read.

    Writes orders partitioned by year(o_orderdate) — the layout a
    100 TB table uses — then reads back ONE partition; the scan lists
    only that directory (partition pruning, no data skipped-read). The
    returned summary proves values survived the layout change.
    """
    o = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    tmp = _scratch("spype_part_")
    try:
        path = f"{tmp}/orders_by_year"
        o.write.mode("overwrite").partitionBy("o_year").parquet(path)
        back = spark.read.parquet(path).filter(F.col("o_year") == 1997)
        n_dirs = len(
            [d for d in os.listdir(path) if d.startswith("o_year=")]
        )
        return back.agg(
            F.count("*").alias("n_1997"),
            F.countDistinct("o_custkey").alias("n_cust_1997"),
            F.lit(n_dirs).cast("long").alias("n_partitions_written"),
        ).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_sink_orc_roundtrip",
    oracle="""
    SELECT COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT))
                AS DOUBLE) / 1e2 AS total_sum,
           COUNT(DISTINCT o_orderstatus) AS n_status,
           strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_d
    FROM orders
    """,
)
def q_sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write → read → aggregate equality summary (the other
    columnar interchange format; type fidelity incl. timestamps).
    Oracle = same summary from the source table: hash match proves the
    ORC cycle value-preserving, timestamp grain included."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    tmp = _scratch("spype_orc_")
    try:
        path = f"{tmp}/orders_orc"
        o.write.mode("overwrite").orc(path)
        back = spark.read.orc(path)
        return back.agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
            (F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5)) / 100).alias(
                "total_sum"
            ),
            F.countDistinct("o_orderstatus").alias("n_status"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_d"),
        ).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_source_binaryfile",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS length,
           md5(text) AS content_md5
    FROM documents WHERE doc_id < 20
    """,
)
def q_source_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-media ingestion via the binaryFile source: loose files on
    disk become (path, length, content: binary) rows — the entry point
    a real image/audio corpus takes before the multimodal ops. Writes
    a deterministic set of payload files, reads them back with
    format('binaryFile'), and verifies content integrity by hash.
    Oracle: md5/byte-length of the same documents straight from the
    corpus (ASCII text ⇒ char count == byte count) — file content
    integrity becomes hash-checkable."""
    import os as _os

    tmp = _scratch("spype_binf_")
    try:
        media_dir = f"{tmp}/media"
        _os.makedirs(media_dir, exist_ok=True)
        # deterministic fake media files (text bytes as payload)
        rows = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 20)
            .select("doc_id", "text")
            .toPandas()
        )
        for _, r in rows.iterrows():
            with open(f"{media_dir}/doc_{int(r.doc_id):05d}.bin", "wb") as f:
                f.write(r.text.encode())
        back = spark.read.format("binaryFile").load(media_dir)
        return (
            back.select(
                F.regexp_extract(
                    F.col("path"), r"doc_(\d+)\.bin$", 1
                ).cast("long").alias("doc_id"),
                F.col("length"),
                F.md5("content").alias("content_md5"),
            )
            .orderBy("doc_id")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_layout_zorder",
    oracle=f"""
    SELECT o_orderkey,
           {morton2_sql('o_custkey % 65536',
                        "date_diff('day', TIMESTAMP '1995-01-01', "
                        "o_orderdate) % 65536")}
             AS zcode
    FROM orders
    """,
)
def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout codes over (customer, order-day) — the
    clustering key behind multi-dimensional file skipping
    (`spype_spark.layout`; wired into `lakehouse.compact(zorder_code=…)`
    as the OPTIMIZE ZORDER analog).

    The contract pins the bit-interleave itself: 16 bits of each
    dimension, id mapped by modulo, date by epoch-day offset — pure
    shiftleft/shiftright/mask folding, bit-identical in both engines.
    The layout *effect* (files pruned on either dimension) is asserted
    by tests/test_layout.py, which measures per-file min/max spans
    after a z-order vs linear rewrite.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn("za", F.col("o_custkey") % 65536)
        .withColumn(
            "zb",
            (
                F.datediff(
                    F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
                )
                % 65536
            ).cast("bigint"),
        )
        .select("o_orderkey", morton2("za", "zb").alias("zcode"))
    )


@query(
    "q_sink_avro_roundtrip",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           CAST(o_orderdate AS TIMESTAMP) AS o_ts,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_d
    FROM orders
    """,
)
def q_sink_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro container sink → distributed source → full-content round
    trip, with NO spark-avro jar: the pure-Python container codec
    (:mod:`spype_spark.avro_io`) rides a ``mapInPandas`` seam in both
    directions (:mod:`spype_spark.avro_table`). The sink encodes one
    container file per Spark partition ON the executors; the source is
    one ``binaryFile`` scan (files = unit of parallelism, the same
    granularity spark-avro uses) decoded executor-side into Arrow
    batches, schema derived from ONE file's header (a true
    metadata-only read). Exercises long/double/string plus BOTH
    temporal logical types — ``local-timestamp-micros``
    (timestamp_ntz) and ``date`` (int days). The oracle replays the
    same projection from the source table, so a hash match proves
    every value survived the Avro encode/decode cycle exactly."""
    from spype_spark import avro_table as at

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        "o_orderstatus",
        F.col("o_orderdate").alias("o_ts"),
        F.col("o_orderdate").cast("date").alias("o_d"),
    )
    tmp = _scratch("spype_avro_")
    try:
        path = f"{tmp}/orders_avro"
        manifest = at.write_avro_table(o.repartition(4), path)
        if sum(m["rows"] for m in manifest) != o.count():
            raise AssertionError("avro sink manifest row count mismatch")
        back = at.read_avro_table(spark, path)
        # the date column round-trips as Avro logical `date`; the
        # drivers' comparators hash strings, so format after the trip
        return back.withColumn(
            "o_d", F.date_format("o_d", "yyyy-MM-dd")
        ).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_sink_avro_nested",
    oracle="""
    SELECT o_orderkey,
           o_custkey AS ck, o_orderstatus AS st,
           o_totalprice AS p0, o_totalprice * 2 AS p1,
           o_orderpriority AS pri
    FROM orders
    """,
)
def q_sink_avro_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED Avro round trip (round 14 — graduating the r13 flat
    profile): a struct column (Avro ``record``), an array column
    (``array``), and a string-keyed map (``map``) encode through
    :func:`avro_table.write_avro_table` and decode back through the
    distributed ``binaryFile → mapInPandas`` scan, the Spark schema
    derived recursively from the container's writer schema. The
    result flattens the containers back to scalars so the oracle can
    replay them relationally — a hash match proves every nested value
    (struct field, array element, map entry) survived the
    encode/decode cycle exactly. Recursive named-type schemas and
    non-string map keys remain loud gates (no tree-shaped Spark
    type / no Avro key type)."""
    from spype_spark import avro_table as at

    o = load_table(spark, sf_dir, "orders")
    df = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_custkey").alias("ck"),
            F.col("o_orderstatus").alias("st"),
        ).alias("cust"),
        F.array(
            F.col("o_totalprice"), F.col("o_totalprice") * 2
        ).alias("prices"),
        F.create_map(F.lit("pri"), F.col("o_orderpriority")).alias(
            "meta"
        ),
    )
    tmp = _scratch("spype_avro_nested_")
    try:
        path = f"{tmp}/orders_nested"
        at.write_avro_table(df.repartition(4), path)
        back = at.read_avro_table(spark, path)
        return back.select(
            "o_orderkey",
            F.col("cust.ck").alias("ck"),
            F.col("cust.st").alias("st"),
            F.col("prices")[0].alias("p0"),
            F.col("prices")[1].alias("p1"),
            F.col("meta")["pri"].alias("pri"),
        ).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_sink_avro_typed",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS price_s,
           o_orderstatus AS st,
           md5(CAST(o_orderkey AS VARCHAR)) AS dg_hex
    FROM orders
    """,
)
def q_sink_avro_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed Avro round trip (round 15 — closing the last three type
    gates the way spark-avro maps them): Spark ``decimal(12,2)`` ↔
    the Avro ``decimal`` logical type on bytes (big-endian
    two's-complement unscaled int per the spec), a string column ↔
    ``enum`` and a 16-byte binary ↔ ``fixed`` via the
    ``field_types`` schema override (spark-avro's ``avroSchema``
    opt-in shape — Spark has no enum/fixed types, so the writer must
    ask; symbols and size are validated per datum, loud on
    violation). The result casts the decimal to string and hexes the
    fixed bytes so the oracle replays the identical values from the
    source table — a hash match proves the unscaled-int encoding,
    the symbol-index encoding, and the fixed payload all survived
    the container cycle exactly."""
    from spype_spark import avro_table as at

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
        F.col("o_orderstatus").alias("st"),
        F.unhex(F.md5(F.col("o_orderkey").cast("string"))).alias("dg"),
    )
    tmp = _scratch("spype_avro_typed_")
    try:
        path = f"{tmp}/orders_typed"
        at.write_avro_table(
            o.repartition(4),
            path,
            field_types={
                "st": {
                    "type": "enum",
                    "name": "order_status",
                    "symbols": ["F", "O", "P"],
                },
                "dg": {"type": "fixed", "name": "md5_16", "size": 16},
            },
        )
        back = at.read_avro_table(spark, path)
        return back.select(
            "o_orderkey",
            F.col("price").cast("string").alias("price_s"),
            "st",
            F.lower(F.hex("dg")).alias("dg_hex"),
        ).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
