"""Row liveness under merge-on-read deletes: one Spark kernel behind
the manifest, Iceberg and Delta readers.

A row of a live data file is DEAD when a positional delete names its
``(file, row position)``, or when an equality delete that reaches its
file matches its key. "Reaches" is the sequence-number rule of the
Iceberg spec (https://iceberg.apache.org/spec/#scan-planning): an
equality delete removes rows only from data files with a smaller
sequence number, so a row re-inserted after the delete survives.
Delta's deletion vectors are the positional half with no sequence
numbers.

Each format module only decodes its own metadata into the kernel's
inputs:

- ``scan``: the live files read ONCE, carrying a file-key column and a
  row-position column (``_metadata.file_path`` / ``row_index``);
- ``pos``: one frame of ``(file key, position)`` rows to remove. A
  decoder restricts it to the deletes that reach their file, so the
  data side never carries a sequence number for it;
- ``eq``: equality-delete groups ``(keys, frame, reach)``. The frame's
  key tuples remove rows whose ``keys`` match null-safely in files
  whose sequence number is at most ``reach``;
- ``seqs``: ``[(file key, sequence number)]`` for the live files. It is
  joined onto the scan (broadcast: one row per live file) only when an
  equality delete is pending.

The pure-Python per-file twins of this rule
(``manifest_log.m_applicable``, ``cdf_source._dv_positions``,
``iceberg_cdc._file_delete_state``) run inside Python DataSource
readers, where no SparkSession exists, so they cannot call it.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["empty_scan", "live_rows", "deleted_rows"]


def empty_scan(spark, schema, file_col=None, pos_col=None) -> DataFrame:
    """The scan of no file: an empty relation of ``schema`` (plus the
    named file-key and row-position columns) that the optimizer
    answers, and prunes joins against, without launching a job."""
    df = spark.createDataFrame([], schema)
    if file_col:
        df = df.select(
            "*",
            F.lit(None).cast("string").alias(file_col),
            F.lit(None).cast("long").alias(pos_col),
        )
    return df.limit(0)


def _delete_joins(scan, file_col, pos_col, pos, eq, seqs):
    """The data side (``scan``, with the file seq joined on when an
    equality delete is pending) and one ``(frame, join condition)`` per
    delete input: the positional rows once on ``(file, pos)``, each
    equality group once on its keys plus ``seq <= reach``."""
    data, joins = scan, []
    if pos is not None:
        p = pos.toDF("__rd_file", "__rd_pos")
        cond = (F.col(file_col) == F.col("__rd_file")) & (
            F.col(pos_col) == F.col("__rd_pos")
        )
        joins.append((p, cond))
    if eq:
        smap = scan.sparkSession.createDataFrame(
            seqs, "__rd_sfile string, __rd_seq long"
        )
        data = data.join(
            F.broadcast(smap), F.col(file_col) == F.col("__rd_sfile"), "left"
        ).drop("__rd_sfile")
    for keys, frame, reach in eq:
        k = [f"__rd_k{i}" for i in range(len(keys))]
        cond = F.col("__rd_seq") <= F.lit(int(reach))
        for c, kc in zip(keys, k):
            cond = cond & F.col(c).eqNullSafe(F.col(kc))
        joins.append((frame.select(*keys).toDF(*k), cond))
    return data, joins


def live_rows(
    scan: DataFrame, file_col: str, pos_col: str, pos=None, eq=(), seqs=()
) -> DataFrame:
    """``scan``'s rows that no delete removes, with ``scan``'s columns:
    one anti-join per delete input."""
    data, joins = _delete_joins(scan, file_col, pos_col, pos, eq, seqs)
    for frame, cond in joins:
        data = data.join(frame, cond, "left_anti")
    return data.drop("__rd_seq")


def deleted_rows(
    scan: DataFrame, file_col: str, pos_col: str, pos=None, eq=(), seqs=()
) -> DataFrame:
    """The complement of :func:`live_rows`: ``scan``'s rows some delete
    removes, as a union of semi-joins (a row two deletes remove appears
    twice). Needs at least one delete input."""
    data, joins = _delete_joins(scan, file_col, pos_col, pos, eq, seqs)
    parts = [data.join(frame, cond, "left_semi") for frame, cond in joins]
    return functools.reduce(DataFrame.unionByName, parts).drop("__rd_seq")
