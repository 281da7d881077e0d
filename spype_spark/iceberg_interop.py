"""Interop with Apache Iceberg table metadata — pure Python, no jars.

The Iceberg spec (iceberg.apache.org/spec) layers three metadata
levels over immutable data files:

- ``metadata/v{N}.metadata.json`` (pointer: ``version-hint.text``) —
  table uuid, schemas, partition specs, and the snapshot list; each
  snapshot names a **manifest list**;
- manifest list: an Avro container file, one record per manifest
  (path, content kind, counts);
- manifest: an Avro container file, one ``manifest_entry`` per data
  file (status added/existing/deleted, ``data_file`` struct with
  path, format, partition tuple, counts).

:func:`read_iceberg` walks exactly that chain with
:mod:`spype_spark.avro_io` (the dependency-free Avro codec) and hands
Spark ONE declarative parquet scan over the live files. Iceberg's
data model matches this engine's own manifest layer (identity
-partition source columns live IN the data files), so no partition
-column reconstruction is needed — the metaData schema is applied
directly and absent columns read as NULL (Iceberg's own
schema-evolution read rule for files written before a column was
added).

v2 MERGE-ON-READ deletes are IN profile (graduated round 13): DELETE
manifests (content=1) contribute position-delete files (``file_path``
+ ``pos`` parquet rows, applied to data files whose data sequence
number is ≤ the delete file's) and equality-delete files
(``equality_ids`` columns, applied STRICTLY to older sequence
numbers) — both replayed Spark-side as anti-joins against the data
scan's ``_metadata.file_path`` / ``_metadata.row_index`` columns, so
delete application is distributed, never a driver loop. Remaining
profile gates (loud ValueError, never silently-wrong data):
non-parquet data/delete files, Avro codecs beyond null/deflate, and
unsupported nested schema types. Snapshot time travel via
``snapshot_id=``.

The module also carries a fixture-grade but SPEC-SHAPED writer
(:func:`write_iceberg`) so contracts and tests can fabricate
conforming Iceberg layouts — real Avro manifests/manifest lists
(spec field names, deflate codec), real JSON table metadata with a
snapshot chain, real version-hint — without shipping Iceberg jars.
Scale: the metadata walk is O(manifests + entries) driver-side — the
same cost class as the engine's own manifest planning — and the data
read is one Spark scan, so pruning/pushdown apply unchanged.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from spype_spark import row_deletes
from spype_spark.avro_io import read_avro, write_avro

__all__ = [
    "read_iceberg",
    "position_scan",
    "iceberg_snapshots",
    "import_iceberg",
    "export_iceberg",
    "write_iceberg",
    "write_iceberg_pos_deletes",
    "write_iceberg_eq_deletes",
    "rename_iceberg_columns",
    "set_iceberg_name_mapping",
    "add_iceberg_data_files",
]

from spype_spark.iceberg_log import (  # noqa: F401  (historical aliases)
    URI_SCHEME_RE as _URI_SCHEME_RE,
    current_fields as _current_fields,
    current_metadata as _current_metadata,
    ice_schema_to_spark as _ice_schema_to_spark,
    meta_dir as _meta_dir,
    name_mapping as _name_mapping,
    parquet_field_ids as _parquet_field_ids,
    parquet_footer_info as _parquet_footer_info,
    pick_snapshot as _pick_snapshot,
    resolve_file as _resolve_file,
    snapshot_files as _snapshot_files,
)

_SPARK_TO_ICE = {
    "boolean": "boolean",
    "integer": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "date": "date",
    "string": "string",
    "binary": "binary",
    "timestamp_ntz": "timestamp",
    "timestamp": "timestamptz",
}


def _live_files(
    path: str, snap: dict, partition_filter: dict | None = None
) -> list[str]:
    """Live DATA-file paths only (zero-copy import/export asserts use
    this). Raises when merge-on-read deletes are pending — a plain
    file list cannot express them."""
    info = _snapshot_files(path, snap, partition_filter)
    if info["pos"] or info["eq"]:
        raise ValueError(
            "snapshot has pending merge-on-read delete files — a plain "
            "file list cannot express it (read_iceberg applies them; "
            "compact or materialize for by-reference uses)"
        )
    return [fp for fp, _seq in info["data"]]


def _group_files_by_projection(
    files: list[str], fields: list[dict],
    name_mapping: dict[int, list[str]] | None = None,
) -> dict[tuple, list[str]]:
    """Group data files by their (logical <- physical) top-level name
    projection, resolved BY FIELD ID per the Iceberg spec (a column
    renamed after a file was written keeps its id, so the file's old
    physical name must still feed the new logical column — name-based
    matching would silently NULL it). One footer metadata read per
    file, driver-side: O(files) planning like the manifest walk
    itself; a 10⁶-file table would distribute the footer sweep, noted
    in SCALE.md. Files without ids (or with matching names) fall into
    the identity group, which skips reprojection entirely."""
    nm = name_mapping or {}
    groups: dict[tuple, list[str]] = {}
    for fp in files:
        id2phys, file_names = _parquet_footer_info(fp)
        present = set(file_names)
        proj = []
        for f in fields:
            fid = int(f["id"])
            if fid in id2phys:
                phys = id2phys[fid]
            else:
                # id-less file: name-mapping candidates first (the
                # spec's rule for migrated files), else the logical
                # name itself (absent columns read NULL either way)
                phys = next(
                    (n for n in nm.get(fid, []) if n in present),
                    f["name"],
                )
            proj.append((f["name"], phys))
        groups.setdefault(tuple(proj), []).append(fp)
    return groups


def _read_with_deletes(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None,
    partition_filter: dict | None,
    keep_meta: bool,
    file_subset: set[str] | None = None,
) -> DataFrame:
    """Shared core of :func:`read_iceberg` / :func:`position_scan`:
    one declarative parquet scan over the live data files, then v2
    merge-on-read deletes decoded into the inputs of the shared delete
    kernel (:func:`row_deletes.live_rows`), which anti-joins them
    against the scan's own ``_metadata`` columns — no row ever visits
    the driver. Sequence-number semantics per spec: an equality delete
    hides rows of data files with STRICTLY SMALLER data sequence
    numbers (rows appended after the delete survive, even when they
    match), so its reach is its seq − 1; a position delete applies to
    data files with seq ≤ its own, tested on the delete side.
    ``keep_meta`` keeps Iceberg's ``_file``/``_pos`` metadata columns
    in the result. ``file_subset`` restricts the scan to the
    named data files BEFORE listing (scheme-insensitive) — the
    targeted-read path incremental consumers use; delete files are
    never subset (an anti-join against absent rows is a no-op)."""
    meta = _current_metadata(path)
    fv = int(meta.get("format-version", 1))
    if fv not in (1, 2):
        raise ValueError(f"Iceberg format-version {fv} not supported")
    schema = _ice_schema_to_spark(meta)
    snap = _pick_snapshot(meta, snapshot_id)
    info = _snapshot_files(path, snap, partition_filter)
    if file_subset is not None:
        norm = {
            os.path.abspath(re.sub(_URI_SCHEME_RE, "", p))
            for p in file_subset
        }
        info["data"] = [
            (fp, s)
            for fp, s in info["data"]
            if os.path.abspath(re.sub(_URI_SCHEME_RE, "", fp)) in norm
        ]
    data_cols = [f.name for f in schema.fields]
    if not info["data"]:
        return row_deletes.empty_scan(
            spark, schema, *(("_file", "_pos") if keep_meta else ())
        )
    missing = [fp for fp, _s in info["data"] if not os.path.exists(fp)]
    if missing:
        raise FileNotFoundError(
            f"Iceberg manifest names missing data file(s): {missing[:3]}"
        )
    need_meta = keep_meta or info["pos"] or info["eq"]
    # FIELD-ID projection (spec column resolution): files written
    # before a rename keep the old physical name under the same id —
    # they scan with their physical schema and alias to the current
    # logical names; unrenamed files take the identity fast path.
    from pyspark.sql.types import StructField

    groups = _group_files_by_projection(
        [fp for fp, _s in info["data"]], _current_fields(meta),
        _name_mapping(meta),
    )
    df = None
    for proj, fps in sorted(groups.items()):
        identity = all(ln == pn for ln, pn in proj)
        rs = (
            schema
            if identity
            else StructType(
                [
                    StructField(pn, schema[ln].dataType, True)
                    for ln, pn in proj
                ]
            )
        )
        sel = [F.col(pn).alias(ln) for ln, pn in proj]
        if need_meta:
            sel += [
                F.regexp_replace(
                    F.col("_metadata.file_path"), _URI_SCHEME_RE, ""
                ).alias("__ice_file"),
                F.col("_metadata.row_index").alias("__ice_pos"),
            ]
        part = spark.read.schema(rs).parquet(*fps).select(*sel)
        df = part if df is None else df.unionByName(part)
    if not need_meta:
        return df
    # file -> data sequence number: metadata-sized (one row per live
    # file, the same list the scan plan enumerates)
    seqs = [(os.path.abspath(fp), int(s)) for fp, s in info["data"]]
    id2name = {int(f["id"]): f["name"] for f in _current_fields(meta)}
    # equality deletes, grouped by (seq, id-set): one anti-join per
    # group (delete-file count is a metadata quantity); they reach
    # data files with a STRICTLY smaller seq
    eq_groups: dict[tuple, list[str]] = {}
    for fp, dseq, ids in info["eq"]:
        eq_groups.setdefault((int(dseq), tuple(sorted(ids))), []).append(fp)
    eq = []
    for (dseq, ids), files in sorted(eq_groups.items()):
        if not set(ids) <= id2name.keys():
            raise ValueError(
                f"equality_ids {list(ids)} name a field id missing "
                f"from the current schema"
            )
        cols = [id2name[i] for i in ids]
        # delete files written before a rename carry the OLD column
        # names — resolve by field id per file, same as the data scan
        frames = []
        for fpath in files:
            id2phys = _parquet_field_ids(fpath)
            frames.append(
                spark.read.parquet(fpath).select(
                    *[F.col(id2phys.get(i, id2name[i])) for i in ids]
                ).toDF(*cols)
            )
        eq.append(
            (cols, functools.reduce(DataFrame.unionByName, frames), dseq - 1)
        )
    pos = None
    if info["pos"]:
        # a position delete reaches data files with seq <= its own:
        # filter its rows against the seq map on the delete side
        by_seq: dict[int, list[str]] = {}
        for fp, dseq in info["pos"]:
            by_seq.setdefault(int(dseq), []).append(fp)
        for dseq, files in sorted(by_seq.items()):
            p = spark.read.parquet(*files).select(
                F.regexp_replace(
                    F.col("file_path"), _URI_SCHEME_RE, ""
                ).alias("__del_file"),
                F.col("pos").cast("long").alias("__del_pos"),
                F.lit(dseq).alias("__del_seq"),
            )
            pos = p if pos is None else pos.unionByName(p)
        smap = spark.createDataFrame(
            seqs, "__del_file string, __file_seq long"
        )
        pos = (
            pos.join(F.broadcast(smap), "__del_file")
            .filter(F.col("__file_seq") <= F.col("__del_seq"))
            .select("__del_file", "__del_pos")
        )
    df = row_deletes.live_rows(df, "__ice_file", "__ice_pos", pos, eq, seqs)
    if keep_meta:
        return df.select(
            *data_cols,
            F.col("__ice_file").alias("_file"),
            F.col("__ice_pos").alias("_pos"),
        )
    return df.select(*data_cols)


def read_iceberg(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
) -> DataFrame:
    """Read an Iceberg table (optionally at a historical snapshot)
    without jars — metadata JSON + Avro manifest chain walked in
    Python, data read as ONE declarative Spark parquet scan with the
    table's current schema (absent columns NULL per Iceberg's
    schema-evolution rule; identity-partition columns come from the
    files themselves, the Iceberg storage model). v2 merge-on-read
    position/equality deletes are applied by the shared delete kernel
    (:mod:`spype_spark.row_deletes`) as distributed anti-joins over the
    one scan (see :func:`_read_with_deletes` for the sequence-number
    rules). Equality deletes match null-safely: a NULL delete key
    removes NULL-keyed rows, per the spec.

    ``partition_filter`` ({col: value or list}) prunes manifest
    entries by their typed partition record before any data file is
    opened — manifest-level partition pruning, the quantity a 100 TB
    interop read plans by."""
    return _read_with_deletes(
        spark, path, snapshot_id, partition_filter, keep_meta=False
    )


def position_scan(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    file_subset: set[str] | None = None,
) -> DataFrame:
    """The table's live rows PLUS Iceberg's ``_file`` / ``_pos``
    metadata columns (file URI path-part and 0-based row position) —
    what an engine scans to COMPUTE position deletes: filter this by
    the delete predicate, select ``_file AS file_path, _pos AS pos``,
    and hand it to :func:`write_iceberg_pos_deletes`. Existing deletes
    are already applied, so re-deleting a hidden row is impossible.
    ``file_subset`` restricts the scan to the named data files before
    listing — the incremental reader's targeted form."""
    return _read_with_deletes(
        spark, path, snapshot_id, None, keep_meta=True,
        file_subset=file_subset,
    )


def iceberg_changes(
    spark: SparkSession,
    path: str,
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """INCREMENTAL READ over an Iceberg snapshot chain — the Iceberg
    twin of :func:`delta_interop.delta_changes`: one row per changed
    row per snapshot in the window ``(from_snapshot_id,
    to_snapshot_id]`` (from exclusive, Iceberg's own incremental-scan
    convention; ``None`` = table birth / current head), with
    ``_change_type`` (``insert``/``delete``) and ``_snapshot_id``
    appended to the table schema.

    Per consecutive snapshot pair the change set decomposes into two
    decidable layers, both reusing the table's full delete/rename
    machinery via :func:`position_scan`:

    - **file-set diff**: data files present only in the newer
      snapshot read as ``insert`` (their live rows — same-snapshot
      deletes already applied); files present only in the older one
      read as ``delete`` (their live rows AT THE OLDER SNAPSHOT, its
      merge-on-read deletes applied).
    - **row-level diff on surviving files**: when the snapshot's
      delete-file set changed, rows of the COMMON files live before
      but not after are ``delete`` (new position/equality deletes,
      sequence rules included), live after but not before are
      ``insert`` (delete-file removal = restore). A ``(_file, _pos)``
      anti-join between the two position scans — row identity is the
      position within an immutable file, so the diff is exact.

    A snapshot whose summary operation is ``replace`` (compaction) is
    row-preserving BY SPEC and emits nothing. A snapshot that both
    adds and removes data files under any other operation is a
    rewrite whose row-level changes are undecidable from file diffs —
    loud error, never a silently-wrong feed (same contract as the
    Delta side). Cost: every layer scans a TARGETED file subset (the
    ``file_subset`` path of :func:`position_scan`): inserts read only
    the added files, deletes only the removed ones, and the row-level
    anti-join only the common files a CHANGED delete file can reach —
    position deletes name their target data files (one tiny scan over
    the changed delete files collects the distinct references),
    equality deletes reach exactly the files with strictly smaller
    data sequence numbers. Per-pair cost is O(affected files), not
    O(live data)."""
    meta = _current_metadata(path)
    snaps = list(meta.get("snapshots") or [])
    if not snaps:
        raise ValueError(f"Iceberg table {path} has no snapshots")
    ids = [int(s["snapshot-id"]) for s in snaps]
    start_idx = 0
    if from_snapshot_id is not None:
        if int(from_snapshot_id) not in ids:
            raise ValueError(
                f"from_snapshot_id {from_snapshot_id} not in snapshot chain"
            )
        start_idx = ids.index(int(from_snapshot_id)) + 1
    end_idx = len(ids) - 1
    if to_snapshot_id is not None:
        if int(to_snapshot_id) not in ids:
            raise ValueError(
                f"to_snapshot_id {to_snapshot_id} not in snapshot chain"
            )
        end_idx = ids.index(int(to_snapshot_id))
    schema = _ice_schema_to_spark(meta)
    cols = [f.name for f in schema.fields]
    out_schema = (
        _ice_schema_to_spark(meta)
        .add("_change_type", "string")
        .add("_snapshot_id", "long")
    )

    def tag(df: DataFrame, kind: str, sid: int) -> DataFrame:
        return df.select(
            *cols,
            F.lit(kind).alias("_change_type"),
            F.lit(sid).cast("long").alias("_snapshot_id"),
        )

    def _norm(fp: str) -> str:
        # manifests may carry file:// URIs; the scan's _file column is
        # the scheme-stripped abspath — compare in that normal form
        return os.path.abspath(re.sub(_URI_SCHEME_RE, "", fp))

    frames: list[DataFrame] = []
    for i in range(start_idx, end_idx + 1):
        sid = ids[i]
        snap = snaps[i]
        op = str((snap.get("summary") or {}).get("operation", ""))
        if op == "replace":
            continue  # row-preserving compaction by spec
        cur_info = _snapshot_files(path, snap, None)
        cur_files = {_norm(fp) for fp, _s in cur_info["data"]}
        if i == 0:
            prev_info: dict = {"data": [], "pos": [], "eq": []}
            prev_id = None
        else:
            prev_info = _snapshot_files(path, snaps[i - 1], None)
            prev_id = ids[i - 1]
        prev_files = {_norm(fp) for fp, _s in prev_info["data"]}
        added = cur_files - prev_files
        removed = prev_files - cur_files
        if added and removed:
            raise ValueError(
                f"iceberg_changes: snapshot {sid} (operation {op!r}) "
                f"rewrites data files — row-level changes are "
                f"undecidable from file diffs"
            )
        if added:
            frames.append(
                tag(
                    position_scan(
                        spark, path, sid, file_subset=added
                    ).select(*cols),
                    "insert",
                    sid,
                )
            )
        if removed:
            frames.append(
                tag(
                    position_scan(
                        spark, path, prev_id, file_subset=removed
                    ).select(*cols),
                    "delete",
                    sid,
                )
            )
        # TARGETED row-level diff: the anti-join only needs the common
        # files a CHANGED delete file can affect — position deletes
        # name their target data files explicitly; equality deletes
        # reach exactly the files with strictly smaller data sequence
        # numbers. Everything else is row-identical between the two
        # snapshots by construction, so the pair diff is O(affected
        # files), not O(live data).
        prev_pos = set(map(tuple, prev_info["pos"]))
        cur_pos = set(map(tuple, cur_info["pos"]))
        prev_eq = {(fp, s, tuple(e)) for fp, s, e in prev_info["eq"]}
        cur_eq = {(fp, s, tuple(e)) for fp, s, e in cur_info["eq"]}
        pos_delta = prev_pos ^ cur_pos
        eq_delta = prev_eq ^ cur_eq
        common = prev_files & cur_files
        targeted: set[str] = set()
        if (pos_delta or eq_delta) and common:
            if pos_delta:
                refs = (
                    spark.read.parquet(
                        *sorted({fp for fp, _s in pos_delta})
                    )
                    .select("file_path")
                    .distinct()
                    # metadata-sized collect: one row per distinct
                    # data file the changed delete files reference
                    .collect()
                )
                targeted |= {_norm(r["file_path"]) for r in refs}
            if eq_delta:
                max_eq = max(s for _fp, s, _ids in eq_delta)
                seq_of = {_norm(fp): s for fp, s in cur_info["data"]}
                targeted |= {
                    f for f in common if seq_of.get(f, 0) < max_eq
                }
            targeted &= common
        if targeted:
            prev_scan = position_scan(
                spark, path, prev_id, file_subset=targeted
            )
            cur_scan = position_scan(
                spark, path, sid, file_subset=targeted
            )
            frames.append(
                tag(
                    prev_scan.join(
                        cur_scan.select("_file", "_pos"),
                        ["_file", "_pos"],
                        "left_anti",
                    ).select(*cols),
                    "delete",
                    sid,
                )
            )
            frames.append(
                tag(
                    cur_scan.join(
                        prev_scan.select("_file", "_pos"),
                        ["_file", "_pos"],
                        "left_anti",
                    ).select(*cols),
                    "insert",
                    sid,
                )
            )
    if not frames:
        return spark.createDataFrame([], out_schema)
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def import_iceberg(
    spark: SparkSession,
    iceberg_path: str,
    table_path: str,
    snapshot_id: int | None = None,
    materialize: bool = False,
) -> int:
    """MIGRATE an Iceberg table into the native manifest format — the
    switch-over path for a user with existing Iceberg data. Returns
    the new manifest table's version (0).

    Unlike Delta (:func:`spype_spark.delta_interop.import_delta`,
    where partitioned tables must materialize because Delta excludes
    partition columns from data files), Iceberg's storage model
    matches this engine's own — identity-partition columns live IN
    the data files — so BY-REFERENCE import works for any identity
    -partitioned table: one manifest commit whose entries name the
    Iceberg data files absolutely, footer stats recomputed per file
    (stats/null/slab pruning live immediately), ZERO data copied.
    The imported table starts unpartitioned at the native layer
    (partition-level COW resumes after the first native rewrite or
    with ``materialize=True`` + the identity spec); file-level stats
    pruning covers the same scan-skipping in the meantime.

    ``materialize=True`` reads the snapshot once and rewrites via
    ``write_table(partition_by=<identity sources>)``. The zero-copy
    caveat is the same as Delta's: a foreign-side snapshot expiry /
    orphan-file cleanup can reclaim files this manifest references —
    safe only while the source table is frozen."""
    from spype_spark import lakehouse as lake

    meta = _current_metadata(iceberg_path)
    schema = _ice_schema_to_spark(meta)
    snap = _pick_snapshot(meta, snapshot_id)
    spec = next(
        (
            s
            for s in meta.get("partition-specs") or []
            if s.get("spec-id") == meta.get("default-spec-id", 0)
        ),
        {"fields": []},
    )
    id_to_name = {}

    def walk(fields):
        for f in fields:
            id_to_name[f["id"]] = f["name"]

    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        walk(next(s for s in meta["schemas"] if s.get("schema-id") == sid)["fields"])
    else:
        walk(meta["schema"]["fields"])
    pcols = []
    for f in spec.get("fields") or []:
        if f.get("transform") != "identity":
            raise ValueError(
                f"import_iceberg: partition transform {f.get('transform')!r} "
                f"has no native equivalent — pass materialize=True to "
                f"rewrite once under an explicit native spec"
            )
        pcols.append(id_to_name.get(f.get("source-id"), f["name"]))
    info = _snapshot_files(iceberg_path, snap)
    groups = _group_files_by_projection(
        [fp for fp, _s in info["data"]], _current_fields(meta),
        _name_mapping(meta),
    )
    renamed = any(
        any(ln != pn for ln, pn in proj) for proj in groups
    )
    if materialize or info["pos"] or info["eq"] or renamed:
        # pending merge-on-read deletes and post-rename physical names
        # cannot ride a plain file reference (a by-reference manifest
        # would resurrect deleted rows / NULL the renamed columns) —
        # read once through the full Iceberg semantics and rewrite
        df = read_iceberg(spark, iceberg_path, snapshot_id)
        lake.write_table(df, table_path, partition_by=pcols or None)
        return 0
    files = [fp for fp, _s in info["data"]]
    entries = []
    for fp in sorted(files):
        ap = os.path.abspath(fp)
        if not os.path.exists(ap):
            raise FileNotFoundError(
                f"Iceberg manifest names a missing data file: {ap}"
            )
        entries.append(
            {"path": ap, "partition": {}, "seq": 0, **lake._m_file_stats(ap)}
        )
    os.makedirs(table_path, exist_ok=True)
    manifest = lake._m_manifest(
        table_path, 0, None, schema.jsonValue(), None, entries,
        op={"name": "IMPORT_ICEBERG", "dataChange": True},
    )
    lake._m_publish(table_path, 0, manifest)
    return 0


def export_iceberg(
    spark: SparkSession, table_path: str, iceberg_path: str | None = None
) -> int:
    """Mirror a native manifest table's CURRENT snapshot as an Iceberg
    snapshot — the reverse of :func:`import_iceberg`, completing the
    interop matrix (Delta ⇄ native, Iceberg ⇄ native). Zero data
    copied: the manifest entries become Iceberg ``data_file`` records
    naming the existing parquet files by absolute URI, with record
    counts and byte sizes carried from the native manifest (no footer
    re-reads). ``iceberg_path`` defaults to the TABLE ROOT itself,
    making the table dual-format in place (``metadata/`` next to
    ``_manifests`` over the same immutable files). Identity-partition
    tables export with their typed partition records — the storage
    models agree (partition columns live in the data files), so
    partitioned export is fully in profile, unlike Delta's.

    Re-export after native commits publishes an OVERWRITE snapshot
    (one fresh manifest, no carry) chained to the previous export —
    Iceberg time travel to earlier exports keeps working through
    their own manifest lists. Type-widened tables need no narrow
    -file gate here: Iceberg's spec REQUIRES readers to up-cast
    promoted primitives (int→long, float→double), exactly the
    engine's own widening set. Returns the snapshot id.

    Out of profile (loud errors): hidden-partition transforms (the
    native bucket/truncate hashes are not Iceberg's), pending
    merge-on-read deletes (compact first), and column-mapping
    renames/drops (this writer is name-based; Iceberg expresses
    renames through field-id mapping it would have to fabricate
    retroactively)."""
    from spype_spark import lakehouse as lake

    v = lake.latest_version(table_path)
    m = lake._m_load(table_path, v)
    if any(
        t.get("transform") not in (None, "identity")
        for t in m.get("transforms") or []
    ):
        raise ValueError(
            "export_iceberg: hidden-partition transforms (bucket/days/"
            "hours/truncate) are not exportable — the hash/binning "
            "functions differ; rewrite with identity partitioning first"
        )
    if m.get("deletes") or m.get("pos_deletes"):
        raise ValueError(
            "export_iceberg: pending merge-on-read deletes cannot be "
            "expressed as a plain file list — compact first"
        )
    fields = (m.get("schema") or {}).get("fields", [])
    if m.get("retired") or any(
        f.get("metadata", {}).get("spype_physical") not in (None, f["name"])
        for f in fields
    ):
        raise ValueError(
            "export_iceberg: column-mapping renames/drops would need "
            "fabricated field-id history — export before renaming, or "
            "rewrite the table"
        )
    root = table_path if iceberg_path is None else iceberg_path
    pcols = list(m.get("partition_by") or [])
    type_by_name = {f["name"]: f.get("type") for f in fields}
    pfields = []
    for c in pcols:
        t = type_by_name.get(c)
        avro_t = {"integer": "int", "long": "long", "string": "string"}.get(t)
        if avro_t is None:
            raise ValueError(
                f"export_iceberg: partition column type {t!r} unsupported"
            )
        pfields.append({"name": c, "avro": avro_t, "spark": t})
    entries = []
    snap_id = int(uuid.uuid4().int % (1 << 62)) + 1
    for e in lake._m_entries(table_path, m):
        ap = (
            e["path"]
            if os.path.isabs(e["path"])
            else os.path.abspath(os.path.join(table_path, e["path"]))
        )
        pvals = {}
        for p in pfields:
            import urllib.parse as _up

            raw = (e.get("partition") or {}).get(p["name"])
            if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
                pvals[p["name"]] = None
            elif p["avro"] in ("int", "long"):
                pvals[p["name"]] = int(_up.unquote(str(raw)))
            else:
                pvals[p["name"]] = _up.unquote(str(raw))
        entries.append(
            {
                "status": 1,
                "snapshot_id": snap_id,
                "data_file": {
                    "content": 0,
                    "file_path": "file://" + ap,
                    "file_format": "PARQUET",
                    "partition": pvals,
                    "record_count": int(e.get("rows") or 0),
                    "file_size_in_bytes": int(
                        e.get("bytes") or os.path.getsize(ap)
                    ),
                },
            }
        )
    md = _meta_dir(root)
    exists = os.path.isdir(md) and any(
        n.endswith(".metadata.json") for n in os.listdir(md)
    )
    prev = _current_metadata(root) if exists else None
    schema = StructType.fromJson(m["schema"])
    return _publish_snapshot(
        root, prev, snap_id, entries, pfields, schema.fields, pcols,
        int(os.path.getmtime(table_path) * 1000),
        operation="overwrite" if prev is not None else "append",
        carry_prev=False,
    )


def iceberg_snapshots(spark: SparkSession, path: str) -> DataFrame:
    """One row per snapshot: id, parent, timestamp, operation — the
    DESCRIBE HISTORY analogue for a foreign Iceberg table."""
    meta = _current_metadata(path)
    rows = [
        (
            int(s["snapshot-id"]),
            int(s["parent-snapshot-id"]) if s.get("parent-snapshot-id") else None,
            int(s.get("timestamp-ms") or 0),
            str((s.get("summary") or {}).get("operation", "")),
        )
        for s in meta.get("snapshots") or []
    ]
    return spark.createDataFrame(
        rows,
        "snapshot_id long, parent_id long, timestamp_ms long, operation string",
    )


# ---------------------------------------------------------------------------
# Fixture-grade writer — spec-shaped metadata, real part files.
# ---------------------------------------------------------------------------

_SHADOW = "__ip_"


def _manifest_entry_schema(pfields: list[dict]) -> dict:
    """Avro writer schema for manifest entries (spec names, subset)."""
    part_fields = [
        {"name": p["name"], "type": ["null", p["avro"]], "default": None}
        for p in pfields
    ]
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {
                            "name": "partition",
                            "type": {
                                "type": "record",
                                "name": "r102",
                                "fields": part_fields,
                            },
                        },
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                        {
                            "name": "equality_ids",
                            "type": ["null", {"type": "array", "items": "int"}],
                            "default": None,
                        },
                    ],
                },
            },
        ],
    }


_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long", "default": 0},
        {"name": "added_snapshot_id", "type": "long"},
        {"name": "added_files_count", "type": "int"},
        {"name": "existing_files_count", "type": "int"},
        {"name": "deleted_files_count", "type": "int"},
        {"name": "added_rows_count", "type": "long"},
        {"name": "existing_rows_count", "type": "long"},
        {"name": "deleted_rows_count", "type": "long"},
    ],
}


def write_iceberg(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    mode: str = "error",
    partition_by: list[str] | None = None,
) -> int:
    """Write ``df`` as an Iceberg-layout snapshot: Spark writes the
    part files (identity-partition columns KEPT in-file, the Iceberg
    model — Hive-style dirs are write plumbing via shadow columns),
    then one Avro manifest + manifest list + a new ``metadata.json``
    version + ``version-hint.text`` publish it. ``mode`` ``"error"``
    or ``"append"`` (append reuses the previous snapshot's manifests
    — Iceberg's incremental-commit shape). Returns the snapshot id."""
    import pyarrow.parquet as pq

    if mode not in ("error", "append"):
        raise ValueError(f"unsupported mode {mode!r}")
    md = _meta_dir(path)
    exists = os.path.isdir(md) and any(
        n.endswith(".metadata.json") for n in os.listdir(md)
    )
    if exists and mode == "error":
        raise FileExistsError(f"Iceberg table {path} already exists")
    pcols = list(partition_by or [])
    prev = _current_metadata(path) if exists else None
    if prev is not None:
        prev_spec = (prev.get("partition-specs") or [{}])[0].get("fields") or []
        prev_pcols = [f["name"] for f in prev_spec]
        if pcols and pcols != prev_pcols:
            raise ValueError(f"partition_by {pcols} != existing {prev_pcols}")
        pcols = prev_pcols
    # --- data files (shadow-dir write keeps real columns in-file) ----------
    uid = uuid.uuid4().hex
    datadir = os.path.join(path, "data", uid)
    w = df
    # stamp Iceberg field ids into the parquet footers (Spark writes
    # `parquet.field.id` metadata as PARQUET:field_id) — what the
    # read path resolves renamed columns by. Appends use the TABLE's
    # ids (by name), not positional ones: a foreign table's ids may
    # be non-contiguous after drops
    tbl_ids = (
        {f["name"]: int(f["id"]) for f in _current_fields(prev)}
        if prev is not None
        else {}
    )
    for i, f in enumerate(df.schema.fields, start=1):
        w = w.withMetadata(
            f.name, {"parquet.field.id": tbl_ids.get(f.name, i)}
        )
    for c in pcols:
        w = w.withColumn(_SHADOW + c, F.col(c))
    if pcols:
        w.write.partitionBy(*[_SHADOW + c for c in pcols]).parquet(datadir)
    else:
        w.write.parquet(datadir)
    field_ids = {f.name: i + 1 for i, f in enumerate(df.schema.fields)}
    pfields = []
    for c in pcols:
        st = df.schema[c].dataType.simpleString()
        avro_t = {"int": "int", "bigint": "long", "string": "string"}.get(st)
        if avro_t is None:
            raise ValueError(f"fixture writer: partition col type {st} unsupported")
        pfields.append({"name": c, "avro": avro_t, "spark": st})
    entries = []
    now_ms = int(time.time() * 1000)
    snap_id = int(uuid.uuid4().int % (1 << 62)) + 1
    for root, _dirs, files in os.walk(datadir):
        for fn in sorted(files):
            if not fn.endswith(".parquet"):
                continue
            fp = os.path.join(root, fn)
            part = {}
            for seg in os.path.relpath(root, datadir).split(os.sep):
                if seg.startswith(_SHADOW) and "=" in seg:
                    k, _, v = seg.partition("=")
                    part[k[len(_SHADOW):]] = v
            pvals = {}
            for p in pfields:
                raw = part.get(p["name"])
                if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
                    pvals[p["name"]] = None
                elif p["avro"] in ("int", "long"):
                    pvals[p["name"]] = int(raw)
                else:
                    pvals[p["name"]] = raw
            entries.append(
                {
                    "status": 1,  # ADDED
                    "snapshot_id": snap_id,
                    "data_file": {
                        "content": 0,
                        "file_path": "file://" + os.path.abspath(fp),
                        "file_format": "PARQUET",
                        "partition": pvals,
                        "record_count": pq.ParquetFile(fp).metadata.num_rows,
                        "file_size_in_bytes": os.path.getsize(fp),
                    },
                }
            )
    return _publish_snapshot(
        path, prev, snap_id, entries, pfields, df.schema.fields, pcols,
        now_ms, operation="append", carry_prev=True,
    )




def set_iceberg_name_mapping(
    spark: SparkSession, path: str,
    extra_names: dict[str, list[str]] | None = None,
) -> int:
    """Publish a ``schema.name-mapping.default`` table property — the
    spec's projection rule for data files WITHOUT field ids (files
    migrated from Hive/plain-parquet): each current field maps its id
    to its current name plus ``extra_names[logical]`` (its historical
    names). Metadata-only; returns the new metadata version."""
    meta = _current_metadata(path)
    fields = _current_fields(meta)
    extra = extra_names or {}
    unknown = [c for c in extra if c not in {f["name"] for f in fields}]
    if unknown:
        raise ValueError(f"extra_names for unknown column(s) {unknown}")
    mapping = [
        {
            "field-id": int(f["id"]),
            "names": [f["name"]] + [
                n for n in extra.get(f["name"], []) if n != f["name"]
            ],
        }
        for f in fields
    ]
    md = _meta_dir(path)
    version = _current_version(md) + 1
    new_meta = {
        **meta,
        "properties": {
            **(meta.get("properties") or {}),
            "schema.name-mapping.default": json.dumps(mapping),
        },
        "last-updated-ms": int(time.time() * 1000),
    }
    mpath = os.path.join(md, f"v{version}.metadata.json")
    with open(mpath + ".tmp", "w") as f:
        json.dump(new_meta, f)
    os.replace(mpath + ".tmp", mpath)
    with open(os.path.join(md, "version-hint.text.tmp"), "w") as f:
        f.write(str(version))
    os.replace(
        os.path.join(md, "version-hint.text.tmp"),
        os.path.join(md, "version-hint.text"),
    )
    return version


def add_iceberg_data_files(
    spark: SparkSession, path: str, files: list[str]
) -> int:
    """Append EXISTING parquet files (e.g. Hive-migrated, id-less
    ones) to an Iceberg table as a new snapshot — the spec's
    add_files/migrate shape: one manifest naming them absolutely,
    record counts from their footers, no data copied. Column
    resolution at read time goes through field ids when present, else
    ``schema.name-mapping.default``. Returns the snapshot id."""
    import pyarrow.parquet as pq

    prev = _current_metadata(path)
    snap_id = int(uuid.uuid4().int % (1 << 62)) + 1
    entries = []
    for fp in files:
        ap = os.path.abspath(fp)
        if not os.path.exists(ap):
            raise FileNotFoundError(ap)
        entries.append(
            {
                "status": 1,
                "snapshot_id": snap_id,
                "data_file": {
                    "content": 0,
                    "file_path": "file://" + ap,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": pq.ParquetFile(ap).metadata.num_rows,
                    "file_size_in_bytes": os.path.getsize(ap),
                },
            }
        )
    return _publish_snapshot(
        path,
        prev,
        snap_id,
        entries,
        [],
        _ice_schema_to_spark(prev).fields,
        _spec_pcols(prev),
        int(time.time() * 1000),
        operation="append",
        carry_prev=True,
    )


def _spec_pcols(meta: dict) -> list[str]:
    spec = next(
        (
            s
            for s in meta.get("partition-specs") or []
            if s.get("spec-id") == meta.get("default-spec-id", 0)
        ),
        {"fields": []},
    )
    return [f["name"] for f in spec.get("fields") or []]


def _publish_delete_files(
    spark: SparkSession,
    path: str,
    write_df: DataFrame,
    content: int,
    equality_ids: list[int] | None,
) -> int:
    """Shared delete-snapshot publish for the two delete writers: one
    parquet write under ``data/deletes-*``, one DELETE manifest
    (content=1) whose entries carry ``data_file.content`` 1 or 2, one
    manifest list carrying every previous manifest (deletes ADD state,
    never replace it), stamped with the new sequence number."""
    import pyarrow.parquet as pq

    prev = _current_metadata(path)
    ddir = os.path.join(path, "data", f"deletes-{uuid.uuid4().hex}")
    write_df.write.parquet(ddir)
    snap_id = int(uuid.uuid4().int % (1 << 62)) + 1
    entries = []
    for root, _dirs, files in os.walk(ddir):
        for fn in sorted(files):
            if not fn.endswith(".parquet"):
                continue
            fp = os.path.join(root, fn)
            entries.append(
                {
                    "status": 1,
                    "snapshot_id": snap_id,
                    "data_file": {
                        "content": content,
                        "file_path": "file://" + os.path.abspath(fp),
                        "file_format": "PARQUET",
                        "partition": {},
                        "record_count": pq.ParquetFile(fp).metadata.num_rows,
                        "file_size_in_bytes": os.path.getsize(fp),
                        "equality_ids": equality_ids,
                    },
                }
            )
    return _publish_snapshot(
        path,
        prev,
        snap_id,
        entries,
        [],
        _ice_schema_to_spark(prev).fields,
        _spec_pcols(prev),
        int(time.time() * 1000),
        operation="delete",
        carry_prev=True,
        manifest_content=1,
    )


def write_iceberg_pos_deletes(
    spark: SparkSession, deletes: DataFrame, path: str
) -> int:
    """Publish a POSITION-DELETE snapshot (v2 merge-on-read):
    ``deletes`` must have columns ``file_path`` (the data file's URI
    as manifests name it — :func:`position_scan`'s ``_file`` column
    is accepted too) and ``pos`` (0-based row position). The rows are
    written as one parquet delete file set + a DELETE manifest; no
    data file is rewritten — that is the entire point of
    merge-on-read. Applies (at read) to data files whose sequence
    number is ≤ this commit's. Fixture-grade like
    :func:`write_iceberg`: field ids are the writer's own 1..n
    numbering. Returns the snapshot id."""
    out = deletes.select(
        F.concat(
            F.lit("file://"),
            F.regexp_replace(F.col("file_path").cast("string"),
                             _URI_SCHEME_RE, ""),
        ).alias("file_path"),
        F.col("pos").cast("long").alias("pos"),
    )
    # the spec's reserved field ids for position-delete columns
    out = out.withMetadata("file_path", {"parquet.field.id": 2147483546})
    out = out.withMetadata("pos", {"parquet.field.id": 2147483545})
    return _publish_delete_files(spark, path, out, content=1,
                                 equality_ids=None)


def write_iceberg_eq_deletes(
    spark: SparkSession,
    deletes: DataFrame,
    path: str,
    equality_cols: list[str],
) -> int:
    """Publish an EQUALITY-DELETE snapshot (v2 merge-on-read): a row
    in the table is hidden when its ``equality_cols`` values match any
    ``deletes`` row (null matches null) AND its data file's sequence
    number is STRICTLY SMALLER than this commit's — rows appended
    later survive even when they match, the property that makes
    equality deletes safe under concurrent appends. Returns the
    snapshot id."""
    prev = _current_metadata(path)
    name2id = {f["name"]: int(f["id"]) for f in _current_fields(prev)}
    missing = [c for c in equality_cols if c not in name2id]
    if missing:
        raise ValueError(
            f"equality_cols {missing} not in the table schema"
        )
    ids = [name2id[c] for c in equality_cols]
    out = deletes.select(*equality_cols)
    for c in equality_cols:
        out = out.withMetadata(c, {"parquet.field.id": name2id[c]})
    return _publish_delete_files(
        spark, path, out, content=2, equality_ids=ids,
    )


def rename_iceberg_columns(
    spark: SparkSession, path: str, renames: dict[str, str]
) -> int:
    """RENAME columns of an Iceberg table the way the spec models it —
    a METADATA-ONLY schema evolution: the field keeps its ID, only the
    logical name changes, and a new ``metadata.json`` version is
    published (no snapshot, no data file touched). Files written
    before the rename keep the old physical name; the read path
    resolves them BY FIELD ID (:func:`_group_files_by_projection`), so
    both file generations feed the new logical column. Returns the new
    metadata version.

    Renaming a partition SOURCE column is gated loudly: existing Avro
    manifests key their typed partition records by the old name, and
    this fixture writer does not rewrite manifests."""
    meta = _current_metadata(path)
    fields = _current_fields(meta)
    names = {f["name"] for f in fields}
    unknown = [c for c in renames if c not in names]
    if unknown:
        raise ValueError(f"rename of unknown column(s) {unknown}")
    clashes = [
        n for n in renames.values()
        if n in (names - set(renames)) or list(renames.values()).count(n) > 1
    ]
    if clashes:
        raise ValueError(
            f"rename target(s) already exist: {sorted(set(clashes))}"
        )
    pcols = set(_spec_pcols(meta))
    id_by_name = {f["name"]: int(f["id"]) for f in fields}
    spec = next(
        (
            s
            for s in meta.get("partition-specs") or []
            if s.get("spec-id") == meta.get("default-spec-id", 0)
        ),
        {"fields": []},
    )
    src_ids = {int(f.get("source-id") or -1) for f in spec.get("fields") or []}
    hit = [c for c in renames if id_by_name[c] in src_ids or c in pcols]
    if hit:
        raise ValueError(
            f"renaming partition source column(s) {hit} would orphan "
            f"the manifests' partition records — rewrite the table "
            f"instead"
        )
    new_fields = [
        {**f, "name": renames.get(f["name"], f["name"])} for f in fields
    ]
    old_schemas = meta.get("schemas") or [
        {"schema-id": 0, "type": "struct", "fields": fields}
    ]
    new_sid = max(s.get("schema-id", 0) for s in old_schemas) + 1
    md = _meta_dir(path)
    version = _current_version(md) + 1
    new_meta = {
        **meta,
        "schemas": old_schemas
        + [{"schema-id": new_sid, "type": "struct", "fields": new_fields}],
        "current-schema-id": new_sid,
        "last-updated-ms": int(time.time() * 1000),
    }
    mpath = os.path.join(md, f"v{version}.metadata.json")
    with open(mpath + ".tmp", "w") as f:
        json.dump(new_meta, f)
    os.replace(mpath + ".tmp", mpath)
    with open(os.path.join(md, "version-hint.text.tmp"), "w") as f:
        f.write(str(version))
    os.replace(
        os.path.join(md, "version-hint.text.tmp"),
        os.path.join(md, "version-hint.text"),
    )
    return version


def _spark_field_to_ice(f, field_ids):
    st = f.dataType.jsonValue()
    if not isinstance(st, str) or st not in _SPARK_TO_ICE:
        m = re.match(r"^decimal\((\d+),(\d+)\)$", str(st))
        if m:
            ice_t = f"decimal({m.group(1)}, {m.group(2)})"
        else:
            raise ValueError(f"iceberg writer: column type {st} unsupported")
    else:
        ice_t = _SPARK_TO_ICE[st]
    return {
        "id": field_ids[f.name], "name": f.name,
        "required": False, "type": ice_t,
    }


def _publish_snapshot(
    path: str,
    prev: dict | None,
    snap_id: int,
    entries: list[dict],
    pfields: list[dict],
    spark_fields,
    pcols: list[str],
    now_ms: int,
    operation: str,
    carry_prev: bool,
    manifest_content: int = 0,
) -> int:
    """Shared snapshot publish: one Avro manifest (``manifest_content``
    0 = data, 1 = deletes), a manifest list (optionally carrying the
    parent snapshot's manifests — append vs overwrite semantics), a
    new ``metadata.json`` version, and the ``version-hint.text``
    pointer. The new manifest-list record is stamped with this
    commit's SEQUENCE NUMBER, which entries inherit (the spec's
    inheritance rule) — the quantity merge-on-read delete application
    orders by. Returns ``snap_id``."""
    md = _meta_dir(path)
    os.makedirs(md, exist_ok=True)
    parent_id = None
    seq = 1
    version = 1
    prev_manifests: list = []
    if prev is not None:
        parent = _pick_snapshot(prev, None)
        parent_id = parent["snapshot-id"]
        seq = int(prev.get("last-sequence-number", 0)) + 1
        version = _current_version(md) + 1
        if carry_prev:
            _s, prev_manifests = read_avro(
                _resolve_file(path, parent["manifest-list"])
            )
    man_name = f"{uuid.uuid4().hex}-m0.avro"
    man_path = os.path.join(md, man_name)
    write_avro(man_path, _manifest_entry_schema(pfields), entries)
    manifests = [
        {
            "manifest_path": "file://" + os.path.abspath(man_path),
            "manifest_length": os.path.getsize(man_path),
            "partition_spec_id": 0,
            "content": manifest_content,
            "sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": len(entries),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": sum(
                e["data_file"]["record_count"] for e in entries
            ),
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }
    ]
    manifests.extend(prev_manifests)
    ml_name = f"snap-{snap_id}-1-{uuid.uuid4().hex}.avro"
    ml_path = os.path.join(md, ml_name)
    write_avro(ml_path, _MANIFEST_LIST_SCHEMA, manifests)
    if prev is not None:
        # an EXISTING table's schema history and field ids are
        # authoritative — re-deriving ids positionally would renumber
        # a foreign table with non-contiguous ids (post-drop gaps) and
        # silently mis-project its files' footer ids
        prev_fields = _current_fields(prev)
        if {f.name for f in spark_fields} != {f["name"] for f in prev_fields}:
            raise ValueError(
                "snapshot publish with a schema differing from the "
                "table's current schema is not supported (no silent "
                "schema evolution)"
            )
        field_ids = {f["name"]: int(f["id"]) for f in prev_fields}
        schemas = prev.get("schemas") or [
            {"schema-id": 0, "type": "struct", "fields": prev_fields}
        ]
        current_sid = prev.get("current-schema-id", 0)
        last_col = int(
            prev.get("last-column-id", max(field_ids.values()))
        )
    else:
        field_ids = {f.name: i + 1 for i, f in enumerate(spark_fields)}
        ice_fields = [
            _spark_field_to_ice(f, field_ids) for f in spark_fields
        ]
        schemas = [{"schema-id": 0, "type": "struct", "fields": ice_fields}]
        current_sid = 0
        last_col = max(field_ids.values())
    snapshot = {
        "snapshot-id": snap_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": "file://" + os.path.abspath(ml_path),
        "summary": {"operation": operation},
    }
    if parent_id is not None:
        snapshot["parent-snapshot-id"] = parent_id
    snaps = (prev.get("snapshots") if prev else []) or []
    meta = {
        "format-version": 2,
        "table-uuid": (prev or {}).get("table-uuid", str(uuid.uuid4())),
        "location": os.path.abspath(path),
        "last-sequence-number": seq,
        "last-updated-ms": now_ms,
        "last-column-id": last_col,
        "schemas": schemas,
        "current-schema-id": current_sid,
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {
                        "name": c,
                        "transform": "identity",
                        "source-id": field_ids[c],
                        "field-id": 1000 + i,
                    }
                    for i, c in enumerate(pcols)
                ],
            }
        ],
        "default-spec-id": 0,
        "last-partition-id": 1000 + len(pcols),
        # table properties carry across snapshots (name-mapping etc.)
        "properties": (prev or {}).get("properties") or {},
        "current-snapshot-id": snap_id,
        "snapshots": snaps + [snapshot],
        "snapshot-log": [],
        "metadata-log": [],
    }
    mpath = os.path.join(md, f"v{version}.metadata.json")
    with open(mpath + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(mpath + ".tmp", mpath)
    with open(os.path.join(md, "version-hint.text.tmp"), "w") as f:
        f.write(str(version))
    os.replace(
        os.path.join(md, "version-hint.text.tmp"),
        os.path.join(md, "version-hint.text"),
    )
    return snap_id


def _current_version(md: str) -> int:
    hint = os.path.join(md, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as f:
            return int(f.read().strip())
    best = 0
    for n in os.listdir(md):
        m = re.match(r"^v(\d+)\.metadata\.json$", n)
        if m:
            best = max(best, int(m.group(1)))
    return best
