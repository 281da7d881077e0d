"""Interop with the Delta Lake transaction-log format — pure Python.

The first thing a user with an EXISTING lakehouse hits is "can this
engine read my Delta table?". The Delta log is an open spec
(delta-io PROTOCOL.md) and its read path needs no jars: commits are
newline-delimited JSON action files under ``_delta_log/``
(``%020d.json``), periodically compacted into a parquet checkpoint
(``%020d.checkpoint.parquet``) pointed at by ``_last_checkpoint``.
:func:`read_delta` replays that log with the standard library + one
Spark parquet scan:

- actions understood: ``add`` / ``remove`` (file-level state machine,
  keyed by path), ``metaData`` (schemaString is a Spark StructType
  JSON — ``StructType.fromJson`` parses it directly), ``protocol``
  (gate: ``minReaderVersion`` > 1 or reader features ⇒ a loud
  ValueError, never silently-wrong data), ``commitInfo``/``txn``
  (ignored, as the spec allows for readers);
- checkpoint parquet: read through Spark, adds/metaData/protocol
  extracted (metadata-sized — one row per live file), then JSON
  commits after the checkpoint replayed on top;
- ``version=`` time travel: replay stops at the requested version
  (the checkpoint is only used when it is ≤ the requested version);
- partitioned tables: Delta data files do NOT store partition
  columns — values live in each add's ``partitionValues``. When every
  add's path carries the exact Hive-style ``col=value/`` prefix those
  values imply (the layout every mainstream writer produces), the
  table reads as ONE Spark scan with ``basePath`` partition discovery
  + the metaData schema (types enforced, no inference drift). Adds
  whose paths disagree with their ``partitionValues`` fall back to
  per-partition-group scans with literal columns — partitionValues
  stay authoritative per spec, whatever the layout.

Scale: log replay is O(actions) driver-side metadata work — the same
cost class as the engine's own manifest planning — and the data read
is one declarative Spark scan, so pruning/pushdown apply unchanged.

The module also carries a fixture-grade but SPEC-SHAPED writer
(:func:`write_delta`, :func:`checkpoint_delta`): real part files
written by Spark, real URL-encoded relative paths, real
protocol/metaData/add/remove actions and a real single-file
checkpoint + ``_last_checkpoint``. It exists so contracts and tests
can fabricate conforming Delta layouts (including ones with
checkpoints, multi-commit histories, and partition directories)
without shipping delta jars — and doubles as a minimal export path.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import struct
import urllib.parse
import uuid
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from spype_spark import row_deletes
from spype_spark.manifest_log import m_file_key

__all__ = [
    "read_delta",
    "delta_history",
    "import_delta",
    "export_delta",
    "write_delta",
    "checkpoint_delta",
    "checkpoint_delta_v2",
    "delta_rename_column",
    "delta_delete_rows",
]

from spype_spark.delta_log import (  # noqa: F401  (historical aliases)
    URI_RE as _URI_RE,
    check_protocol as _check_protocol,
    checkpoint_path as _checkpoint_path,
    commit_path as _commit_path,
    commit_versions as _commit_versions,
    last_checkpoint as _last_checkpoint,
    load_dv_bytes as _load_dv_bytes,
    log_dir as _log_dir,
    mapping_info as _mapping_info,
    resolve_checkpoint as _resolve_checkpoint,
    z85_decode as _z85_decode,
    z85_encode as _z85_encode,
)


def _v2_top_parse(
    spark: SparkSession, path: str, ck: dict
) -> tuple[list[dict], list[str]]:
    """Parse a V2 checkpoint TOP-LEVEL (json or parquet): returns
    (its own action dicts — checkpointMetadata / protocol / metaData /
    txn / inline file actions —, resolved sidecar file paths). Spec
    sidecar paths are relative to ``_delta_log/_sidecars/`` or
    absolute — absolute includes the URI form (``file:///…``), which
    ``os.path.isabs`` alone would misjoin."""
    if ck["format"] == "json":
        with open(ck["top"]) as f:
            raw = [json.loads(line) for line in f if line.strip()]
    else:
        raw = []
        # metadata-sized collect: one row per non-file action + one
        # per sidecar reference
        for row in spark.read.parquet(ck["top"]).collect():
            d = row.asDict(recursive=True)
            raw.append({k: val for k, val in d.items() if val is not None})
    actions: list[dict] = []
    sidecars: list[str] = []
    for a in raw:
        if a.get("sidecar"):
            sp = re.sub(_URI_RE, "", a["sidecar"]["path"])
            sidecars.append(
                sp
                if os.path.isabs(sp)
                else os.path.join(_log_dir(path), "_sidecars", sp)
            )
        elif a:
            actions.append(a)
    return actions, sidecars


def _v2_checkpoint_actions(
    spark: SparkSession, path: str, ck: dict, include_sidecars: bool = True
) -> list:
    """Action dicts of a V2 checkpoint: the top-level's own actions
    with sidecar references expanded — each sidecar is a parquet of
    add/remove rows. ``include_sidecars=False`` skips the file-action
    expansion (for metadata-only callers)."""
    actions, sidecars = _v2_top_parse(spark, path, ck)
    if sidecars and include_sidecars:
        sc = spark.read.parquet(*sidecars)
        # metadata-sized collect: one sidecar row per live file or
        # tombstone — the classic-checkpoint cost class
        for row in sc.collect():
            d = row.asDict(recursive=True)
            if d.get("add"):
                actions.append({"add": d["add"]})
            elif d.get("remove"):
                actions.append({"remove": d["remove"]})
    return actions


def _replay_state(
    spark: SparkSession, path: str, version: int | None
) -> dict:
    """Replay the log up to ``version`` (default: head). Returns the
    full table state a checkpoint must carry: ``meta`` (metaData
    action), ``protocol``, ``adds`` (live add actions), ``tombstones``
    (remove actions for files removed and not re-added — other engines
    need them for vacuum safety), ``txns`` (latest setTransaction
    version per appId — streaming-writer idempotency state),
    ``version``."""
    versions = _commit_versions(path)
    ckpt = _last_checkpoint(path)
    head = versions[-1] if versions else (ckpt["version"] if ckpt else None)
    if head is None:
        raise FileNotFoundError(f"empty Delta log under {path}")
    v = head if version is None else int(version)
    meta: dict | None = None
    protocol: dict | None = None
    live: dict[str, dict] = {}  # add.path -> add action
    tombstones: dict[str, dict] = {}  # remove.path -> remove action
    txns: dict[str, int] = {}  # appId -> latest version
    start = 0
    if ckpt is not None and ckpt["version"] <= v:
        cv = int(ckpt["version"])
        ck = _resolve_checkpoint(path, cv, ckpt)
        if ck["kind"] == "classic":
            cp = spark.read.parquet(*ck["files"])
            cols = set(cp.columns)
            # metadata-sized collect: one checkpoint row per live file
            # / tombstone / metadata action — the same cost class as
            # manifest planning
            rows = [row.asDict(recursive=True) for row in cp.collect()]
        else:
            rows = _v2_checkpoint_actions(spark, path, ck)
            cols = {"txn"}
        for d in rows:
            if d.get("add"):
                live[d["add"]["path"]] = d["add"]
            elif d.get("remove"):
                tombstones[d["remove"]["path"]] = d["remove"]
            elif "txn" in cols and d.get("txn") and d["txn"].get("appId"):
                txns[d["txn"]["appId"]] = int(d["txn"].get("version") or 0)
            elif d.get("metaData") and d["metaData"].get("schemaString"):
                meta = d["metaData"]
            elif d.get("protocol") and d["protocol"].get("minReaderVersion"):
                protocol = d["protocol"]
            # checkpointMetadata: carries only the version, ignored
        start = cv + 1
    missing = [t for t in range(start, v + 1) if t not in set(versions)]
    if missing:
        raise FileNotFoundError(
            f"Delta log of {path} is missing commit(s) {missing} "
            f"between checkpoint and version {v}"
        )
    for t in range(start, v + 1):
        with open(_commit_path(path, t)) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "add" in action:
                    p = action["add"]["path"]
                    live[p] = action["add"]
                    tombstones.pop(p, None)  # re-added: no longer a tombstone
                elif "remove" in action:
                    p = action["remove"]["path"]
                    live.pop(p, None)
                    tombstones[p] = action["remove"]
                elif "metaData" in action:
                    meta = action["metaData"]
                elif "protocol" in action:
                    protocol = action["protocol"]
                elif "txn" in action and action["txn"].get("appId"):
                    txns[action["txn"]["appId"]] = int(
                        action["txn"].get("version") or 0
                    )
                # commitInfo / cdc: ignored on the read path
    _check_protocol(protocol)
    if meta is None:
        raise ValueError(f"Delta log of {path} has no metaData action")
    fmt = (meta.get("format") or {}).get("provider", "parquet")
    if fmt != "parquet":
        raise ValueError(f"unsupported Delta data format {fmt!r}")
    return {
        "meta": meta,
        "protocol": protocol,
        "adds": list(live.values()),
        "tombstones": list(tombstones.values()),
        "txns": txns,
        "version": v,
    }


def _replay(
    spark: SparkSession, path: str, version: int | None
) -> tuple[dict, list[dict], int]:
    """Replay the log up to ``version`` (default: head). Returns
    (metaData, live add actions, resolved version)."""
    st = _replay_state(spark, path, version)
    return st["meta"], st["adds"], st["version"]


def _publish_commit(root: str, version: int, actions: list[dict]) -> None:
    """Put-if-absent publish of one Delta commit file: write + fsync a
    temp file, then ``os.link`` it to ``N.json`` — the same conditional
    -PUT discipline as the native manifest's ``_m_publish``. Delta
    requires mutual exclusion on commit N (PROTOCOL.md: the log is an
    ordered atomic register); a plain rename would silently clobber a
    concurrent writer's commit (ADVICE r12). EEXIST surfaces as the
    engine's standard :class:`lakehouse.ConcurrentWriteError` so
    callers share one retry discipline."""
    from spype_spark.lakehouse import ConcurrentWriteError

    os.makedirs(_log_dir(root), exist_ok=True)
    final = _commit_path(root, version)
    tmp = final + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, final)
    except FileExistsError as exc:
        os.unlink(tmp)
        raise ConcurrentWriteError(
            f"Delta version {version} of {root} was committed "
            f"concurrently; re-read and retry"
        ) from exc
    os.unlink(tmp)


def _hive_prefix(pcols: list[str], pvals: dict) -> str:
    """The Hive-style directory prefix a partitioned add's path carries
    when the writer used directory layout (every mainstream writer)."""
    segs = []
    for c in pcols:
        val = pvals.get(c)
        if val is None:
            segs.append(f"{c}=__HIVE_DEFAULT_PARTITION__")
        else:
            segs.append(f"{c}={urllib.parse.quote(str(val), safe='')}")
    return "/".join(segs) + "/"


#: Past this many estimated log actions, read_delta switches from
#: driver-side replay to DataFrame state reconstruction (checkpoint ∪
#: tail commits, last-writer-wins by path via ONE window) — the Delta
#: OSS design for large logs. Below it, driver replay is faster (no
#: Spark job for a handful of JSON lines).
_SPARK_REPLAY_THRESHOLD = 50_000

#: deletionVector descriptor shape (PROTOCOL.md).
_DV_STRUCT = (
    "struct<storageType:string,pathOrInlineDv:string,offset:int,"
    "sizeInBytes:int,cardinality:bigint>"
)

#: Spark schema for one commit-log action line (the subset state
#: reconstruction needs; explicit so JSON inference can't drift —
#: inference would type partitionValues as a struct, not a map).
_ACTION_JSON_SCHEMA = (
    "add struct<path:string,partitionValues:map<string,string>,size:bigint,"
    "modificationTime:bigint,dataChange:boolean,"
    "deletionVector:" + _DV_STRUCT + ">, "
    "remove struct<path:string,deletionTimestamp:bigint,dataChange:boolean>"
)


def _estimate_actions(path: str, versions: list[int], ckpt: dict | None) -> int:
    """Cheap upper-bound estimate of log actions: checkpoint row count
    (recorded in ``_last_checkpoint``) + tail JSON bytes / 120 (a
    conservative bytes-per-action floor). Pure stat() metadata."""
    n = int(ckpt.get("size", 0)) if ckpt else 0
    start = int(ckpt["version"]) + 1 if ckpt else 0
    for t in versions:
        if t >= start:
            try:
                n += os.path.getsize(_commit_path_by_version(path, t)) // 120
            except OSError:
                pass
    return n


def _commit_path_by_version(path: str, version: int) -> str:
    return _commit_path(path, version)


def delta_state_df(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """The table's LIVE FILE STATE as a DataFrame — no driver-side
    action parsing (VERDICT r12 task 3 / SCALE.md r12: the driver
    -replay file list is comfortable to ~10⁵ files; past that, state
    reconstruction must BE a distributed computation, Delta OSS's own
    Snapshot design).

    Plan shape: checkpoint parquet scan ∪ tail-commit JSON scan (each
    line one action, explicit schema, commit version extracted from
    the file name) → ONE window over path ordered by (version DESC,
    is_add DESC) → keep rank-1 add rows. Last-writer-wins per path;
    within one commit an add beats a tombstone (the self-overwrite
    pattern). Returns columns ``path`` (as written in the log),
    ``partitionValues``, ``size``, ``deletionVector``, ``version``.
    O(actions) work distributed across executors; nothing driver-side
    but the file LISTING (a directory page, not the actions)."""
    from pyspark.sql.window import Window

    versions = _commit_versions(path)
    ckpt = _last_checkpoint(path)
    head = versions[-1] if versions else (ckpt["version"] if ckpt else None)
    if head is None:
        raise FileNotFoundError(f"empty Delta log under {path}")
    v = head if version is None else int(version)
    parts = []
    start = 0
    if ckpt is not None and ckpt["version"] <= v:
        cv = int(ckpt["version"])
        ck = _resolve_checkpoint(path, cv, ckpt)

        def _norm_cp(cp: DataFrame) -> DataFrame:
            add_fields = {
                f.name for f in cp.schema["add"].dataType.fields
            } if "add" in cp.columns else set()
            rm = (
                F.col("remove.path")
                if "remove" in cp.columns
                else F.lit(None).cast("string")
            )
            dv = (
                F.col("add.deletionVector").cast(_DV_STRUCT)
                if "deletionVector" in add_fields
                else F.lit(None).cast(_DV_STRUCT)
            )
            return cp.where(
                F.col("add").isNotNull()
                | (rm.isNotNull() if "remove" in cp.columns else F.lit(False))
            ).select(
                F.coalesce(F.col("add.path"), rm).alias("path"),
                F.col("add").isNotNull().alias("is_add"),
                F.col("add.partitionValues").alias("partitionValues"),
                F.col("add.size").alias("size"),
                dv.alias("deletionVector"),
                F.lit(cv).cast("bigint").alias("version"),
            )

        if ck["kind"] == "classic":
            parts.append(_norm_cp(spark.read.parquet(*ck["files"])))
        else:
            # v2: the top-level is metadata-sized (non-file actions +
            # sidecar refs, parsed driver-side by the shared helper);
            # the sidecar parquet — the O(files) quantity — stays a
            # distributed scan
            top_actions, sidecars = _v2_top_parse(spark, path, ck)
            inline = [
                a for a in top_actions if a.get("add") or a.get("remove")
            ]
            if sidecars:
                parts.append(_norm_cp(spark.read.parquet(*sidecars)))
            if inline:
                rows = [
                    (
                        (a.get("add") or a.get("remove"))["path"],
                        bool(a.get("add")),
                        (a.get("add") or {}).get("partitionValues"),
                        (a.get("add") or {}).get("size"),
                        (a.get("add") or {}).get("deletionVector"),
                        cv,
                    )
                    for a in inline
                ]
                parts.append(
                    spark.createDataFrame(
                        rows,
                        "path string, is_add boolean, "
                        "partitionValues map<string,string>, size bigint, "
                        "deletionVector " + _DV_STRUCT + ", version bigint",
                    )
                )
        start = cv + 1
    missing = [t for t in range(start, v + 1) if t not in set(versions)]
    if missing:
        raise FileNotFoundError(
            f"Delta log of {path} is missing commit(s) {missing} "
            f"between checkpoint and version {v}"
        )
    tail = [_commit_path(path, t) for t in range(start, v + 1)]
    if tail:
        j = (
            spark.read.schema(_ACTION_JSON_SCHEMA)
            .json(tail)
            .withColumn(
                "version",
                F.regexp_extract(
                    F.element_at(F.split(F.input_file_name(), "/"), -1),
                    r"^(\d{20})\.json",
                    1,
                ).cast("bigint"),
            )
            .where(F.col("add").isNotNull() | F.col("remove").isNotNull())
            .select(
                F.coalesce(F.col("add.path"), F.col("remove.path")).alias(
                    "path"
                ),
                F.col("add").isNotNull().alias("is_add"),
                F.col("add.partitionValues").alias("partitionValues"),
                F.col("add.size").alias("size"),
                F.col("add.deletionVector").alias("deletionVector"),
                "version",
            )
        )
        parts.append(j)
    if not parts:
        raise FileNotFoundError(f"empty Delta log under {path}")
    acts = parts[0]
    for p in parts[1:]:
        acts = acts.unionByName(p)
    w = Window.partitionBy("path").orderBy(
        F.col("version").desc(), F.col("is_add").desc()
    )
    return (
        acts.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & F.col("is_add"))
        .select("path", "partitionValues", "size", "deletionVector", "version")
    )


def _meta_protocol(spark: SparkSession, path: str, version: int | None) -> dict:
    """Latest metaData action at/under ``version`` WITHOUT replaying
    the whole log driver-side: walk tail commits backwards (string
    -scanning lines for the rare metaData/protocol actions), fall back
    to the checkpoint's metaData row. The protocol gate applies
    exactly as in full replay."""
    versions = _commit_versions(path)
    ckpt = _last_checkpoint(path)
    head = versions[-1] if versions else (ckpt["version"] if ckpt else None)
    if head is None:
        raise FileNotFoundError(f"empty Delta log under {path}")
    v = head if version is None else int(version)
    start = int(ckpt["version"]) + 1 if ckpt and ckpt["version"] <= v else 0
    meta = protocol = None
    for t in range(v, start - 1, -1):
        if t not in set(versions):
            continue
        with open(_commit_path(path, t)) as f:
            for line in f:
                if meta is None and '"metaData"' in line:
                    a = json.loads(line)
                    if "metaData" in a:
                        meta = a["metaData"]
                if protocol is None and '"protocol"' in line:
                    a = json.loads(line)
                    if "protocol" in a:
                        protocol = a["protocol"]
        if meta is not None and protocol is not None:
            break
    if (meta is None or protocol is None) and ckpt and ckpt["version"] <= v:
        cv = int(ckpt["version"])
        ck = _resolve_checkpoint(path, cv, ckpt)
        if ck["kind"] == "classic":
            cp = spark.read.parquet(*ck["files"])
            hits = cp.where(
                F.col("metaData.schemaString").isNotNull()
                | F.col("protocol.minReaderVersion").isNotNull()
            )
            # metadata-sized collect: at most one metaData + one
            # protocol row
            rows = [row.asDict(recursive=True) for row in hits.collect()]
        else:
            # v2 tops carry metaData/protocol inline — sidecars hold
            # only file actions, never scanned here
            rows = [
                a
                for a in _v2_checkpoint_actions(
                    spark, path, ck, include_sidecars=False
                )
                if a.get("metaData") or a.get("protocol")
            ]
        for d in rows:
            if meta is None and d.get("metaData", {}) and d["metaData"].get(
                "schemaString"
            ):
                meta = d["metaData"]
            if protocol is None and d.get("protocol", {}) and d[
                "protocol"
            ].get("minReaderVersion"):
                protocol = d["protocol"]
    _check_protocol(protocol)
    if meta is None:
        raise ValueError(f"Delta log of {path} has no metaData action")
    return meta


def _match_pv(pv: dict, partition_filter: dict) -> bool:
    """Does an add's partitionValues map satisfy a {col: value-or-list}
    filter? Values compare as the spec's STRING encoding."""
    for c, want in partition_filter.items():
        got = (pv or {}).get(c)
        if isinstance(want, (list, tuple, set, frozenset)):
            if got not in {None if w is None else str(w) for w in want}:
                return False
        elif got != (None if want is None else str(want)):
            return False
    return True


def read_delta(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    partition_filter: dict | None = None,
) -> DataFrame:
    """Read a Delta Lake table (optionally at a historical version)
    without delta jars — see the module docstring for the protocol
    profile. Returns a DataFrame with the table's metaData schema.

    ``partition_filter`` ({col: value or list-of-values}, compared in
    the spec's string encoding) prunes at the partitionValues level
    BEFORE any file is opened or listed into the scan — the
    partition-pruning a 100 TB interop read needs, applied to the log
    metadata rather than left to directory discovery.

    Log-size adaptivity: small logs replay driver-side (cheap, no
    Spark job); past ~``_SPARK_REPLAY_THRESHOLD`` estimated actions
    the live-file state is reconstructed AS a DataFrame
    (:func:`delta_state_df` — checkpoint ∪ tail commits, one window),
    the partition filter applies DISTRIBUTED on that DataFrame, and
    only the SURVIVING live list returns to the driver, which is the
    floor any Spark scan needs (FileSourceScanExec enumerates its
    input files on the driver — Delta OSS shares this property)."""
    versions = _commit_versions(path)
    ckpt = _last_checkpoint(path)
    if _estimate_actions(path, versions, ckpt) > _SPARK_REPLAY_THRESHOLD:
        meta = _meta_protocol(spark, path, version)
        state = delta_state_df(spark, path, version)
        if partition_filter:
            _m, _pj, l2p = _mapping_info(meta)
            for c, want in partition_filter.items():
                vals = want if isinstance(want, (list, tuple, set)) else [want]
                pc = l2p.get(c, c)
                col = F.element_at(F.col("partitionValues"), pc)
                if pc != c:
                    # mapped tables key partitionValues physically per
                    # spec, but logically-keyed logs appear in the
                    # wild (same tolerance as _scan_adds.pv_of) —
                    # checking only one keying silently prunes the
                    # other kind of table to empty
                    col = F.coalesce(
                        col, F.element_at(F.col("partitionValues"), c)
                    )
                state = state.where(
                    col.isin([None if v is None else str(v) for v in vals])
                )
        live = state.select("path", "partitionValues", "deletionVector")
        # metadata-sized collect: the live-file list (post window
        # dedup + partition pruning), the same quantity every Spark
        # scan plan enumerates
        rows = live.collect()
        adds = [
            {
                "path": r["path"],
                "partitionValues": r["partitionValues"],
                "deletionVector": (
                    r["deletionVector"].asDict()
                    if r["deletionVector"] is not None
                    else None
                ),
            }
            for r in rows
        ]
        return _scan_adds(spark, path, meta, adds)
    meta, adds, _v = _replay(spark, path, version)
    if partition_filter:
        _m, _pj, l2p = _mapping_info(meta)
        # each filter key matches under EITHER its physical or its
        # logical keying (same tolerance as _scan_adds.pv_of: spec
        # says physical under mapping, but logically-keyed logs exist)
        norm_filter = {l2p.get(c, c): w for c, w in partition_filter.items()}

        def _pv_normed(a: dict) -> dict:
            pv = dict(a.get("partitionValues") or {})
            for lc, w in partition_filter.items():
                pc = l2p.get(lc, lc)
                if pc != lc and pc not in pv and lc in pv:
                    pv[pc] = pv[lc]
            return pv

        adds = [a for a in adds if _match_pv(_pv_normed(a), norm_filter)]
    return _scan_adds(spark, path, meta, adds)



# ---------------------------------------------------------------------------
# deletion vectors (PROTOCOL.md "Deletion Vectors") — graduated r13
# ---------------------------------------------------------------------------


def _write_dv_file(table_path: str, payload: bytes, cardinality: int) -> dict:
    """Write one deletion vector as its own ``u``-storage file and
    return the add-action descriptor."""
    u = uuid.uuid4()
    fp = os.path.join(table_path, f"deletion_vector_{u}.bin")
    crc = zlib.crc32(payload)
    with open(fp, "wb") as f:
        f.write(b"\x01")
        f.write(struct.pack(">i", len(payload)))
        f.write(payload)
        f.write(struct.pack(">i", crc - (1 << 32) * (crc >> 31)))
    return {
        "storageType": "u",
        "pathOrInlineDv": _z85_encode(u.bytes),
        "offset": 1,
        "sizeInBytes": len(payload),
        "cardinality": int(cardinality),
    }


#: Below this TOTAL declared cardinality, deletion vectors decode on
#: the driver (a createDataFrame of the positions) — the ~50 ms of
#: decode beats the Python-worker spin-up of a mapInPandas stage by
#: ~10×. Above it (or when any descriptor omits cardinality), decode
#: moves to executors so the exploded position count never visits the
#: driver. The same adaptive shape as _SPARK_REPLAY_THRESHOLD.
_DV_DRIVER_DECODE_THRESHOLD = 200_000


def _dv_positions_df(
    spark: SparkSession, table_path: str, dv_adds: list[tuple[str, dict]]
) -> DataFrame:
    """(file, deleted position) rows for every live add carrying a
    deletion vector. The BYTES are loaded driver-side (compressed
    bitmaps — a metadata-class quantity, same family as the add list);
    DECODE is adaptive: small totals (declared cardinality, a free
    metadata read) inline on the driver, large ones explode on
    executors via mapInPandas so the O(deleted rows) quantity never
    visits the driver."""
    import pandas as pd

    # captured by the closure (NOT imported inside it): roaring is
    # registered for by-value pickling, so cloudpickle ships the
    # decode code to executors that cannot import spype_spark
    from spype_spark.roaring import deserialize_array64

    def decode(fp, blob, card):
        """The positions of one deletion vector, checked against its
        declared cardinality (-1: none declared)."""
        pos = deserialize_array64(bytes(blob))
        if card >= 0 and len(pos) != card:
            raise ValueError(
                f"deletion vector for {fp} decodes to {len(pos)} "
                f"positions != cardinality {card}"
            )
        return pos

    # NOTE: cardinality 0 is legal (an empty vector) and must not be
    # conflated with "missing" — `or -1` would force such batches onto
    # the executor path and skip their consistency check
    triples = [
        (
            fp,
            bytearray(_load_dv_bytes(table_path, dvd)),
            int(dvd["cardinality"])
            if dvd.get("cardinality") is not None
            else -1,
        )
        for fp, dvd in dv_adds
    ]
    out_schema = "__del_file string, __del_pos long"
    cards = [c for _fp, _b, c in triples]
    if all(c >= 0 for c in cards) and sum(cards) <= _DV_DRIVER_DECODE_THRESHOLD:
        import numpy as np

        arrs = [np.asarray(decode(*t), dtype=np.int64) for t in triples]
        files = np.repeat([t[0] for t in triples], [len(a) for a in arrs])
        # hand the positions over as ONE Arrow-backed pandas frame: the
        # per-tuple pickle of createDataFrame(list) costs ~10× more
        # than the decode itself at the threshold cardinality (r15 opt)
        pdf = pd.DataFrame(
            {"__del_file": files.astype(object), "__del_pos": np.concatenate(arrs)}
        )
        return spark.createDataFrame(pdf, out_schema)
    src = spark.createDataFrame(
        triples, "__del_file string, __dv binary, __card long"
    )

    def explode(batches):
        for b in batches:
            for fp, blob, card in zip(b["__del_file"], b["__dv"], b["__card"]):
                pos = decode(fp, blob, card)
                yield pd.DataFrame(
                    {
                        "__del_file": [fp] * len(pos),
                        "__del_pos": pd.array(pos, dtype="int64"),
                    }
                )

    return src.mapInPandas(explode, out_schema)


def _scan_adds(
    spark: SparkSession,
    path: str,
    meta: dict,
    adds: list[dict],
    keep_pos: bool = False,
) -> DataFrame:
    """One declarative scan over a resolved live-file list: Hive
    basePath discovery when every path matches its partitionValues,
    per-partition-group literal-column scans otherwise. Under column
    mapping (name mode) the files are scanned with the PHYSICAL
    schema, then one projection casts each column back to its logical
    name/shape (struct casts rename nested fields positionally) —
    partitionValues keys and directory names are physical per spec.
    Adds carrying a ``deletionVector`` have their tombstoned rows
    removed by the shared delete kernel (:func:`row_deletes.live_rows`):
    ONE distributed anti-join keyed on the scan's own ``_metadata``
    (file, row position), whatever the scan shape. Delta has no
    sequence numbers, so only the positional input is used; the
    bitmaps decode in :func:`_dv_positions_df`. ``keep_pos`` appends
    ``_file``/``_pos`` metadata columns (what a DV writer filters to
    compute deletes)."""
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    mode, pj, l2p = _mapping_info(meta)
    read_schema = StructType.fromJson(pj) if mode == "name" else schema
    if not adds:
        return row_deletes.empty_scan(
            spark, schema, *(("_file", "_pos") if keep_pos else ())
        )
    rel_paths = [urllib.parse.unquote(a["path"]) for a in adds]
    abs_paths = [os.path.join(path, p) for p in rel_paths]
    dv_adds = [
        (os.path.abspath(ap), a["deletionVector"])
        for a, ap in zip(adds, abs_paths)
        if a.get("deletionVector")
    ]
    need_pos = keep_pos or bool(dv_adds)
    pos_cols = ["__dv_file", "__dv_pos"] if need_pos else []

    def attach_pos(df: DataFrame) -> DataFrame:
        if not need_pos:
            return df
        return df.select(
            "*",
            F.regexp_replace(F.col("_metadata.file_path"), _URI_RE, "")
            .alias("__dv_file"),
            F.col("_metadata.row_index").alias("__dv_pos"),
        )

    def finish(df: DataFrame) -> DataFrame:
        if dv_adds:
            pos = _dv_positions_df(spark, path, dv_adds)
            df = row_deletes.live_rows(df, "__dv_file", "__dv_pos", pos)
        if not need_pos and mode != "name":
            return df
        sel = [
            F.col(pf.name).cast(lf.dataType).alias(lf.name)
            if mode == "name"
            else F.col(pf.name)
            for lf, pf in zip(schema.fields, read_schema.fields)
        ]
        if keep_pos:
            sel += [
                F.col("__dv_file").alias("_file"),
                F.col("__dv_pos").alias("_pos"),
            ]
        return df.select(*sel)

    if mode == "id":
        # id mode (the Iceberg-compatible form): every data file's
        # columns are matched by PARQUET FIELD ID from its footer —
        # one footer metadata read per file, the same sweep the
        # Iceberg reader does — with the metadata physicalName as the
        # spec's fallback for id-less files. Files group by their
        # resolved projection (plus partition tuple on partitioned
        # tables — partition columns are EXCLUDED from the files by
        # every mainstream writer and attached as literals from the
        # authoritative partitionValues, graduated r14); each group
        # scans with its own physical names and aliases onto the
        # logical schema.
        from pyspark.sql.types import StructField

        from spype_spark.iceberg_interop import _parquet_field_ids

        sj = json.loads(meta["schemaString"])
        trip = []
        for f in sj["fields"]:
            md = f.get("metadata") or {}
            trip.append(
                (
                    f["name"],
                    md.get("delta.columnMapping.id"),
                    md.get("delta.columnMapping.physicalName", f["name"]),
                )
            )
        l2p_trip = {ln: pn for ln, _i, pn in trip}
        p2l_trip = {pn: ln for ln, _i, pn in trip}
        # tolerate either keying in partitionColumns (logical is what
        # Delta-Spark writes; physical appears in the wild)
        pcols_log = [
            p2l_trip.get(c, c)
            for c in (meta.get("partitionColumns") or [])
        ]
        data_trip = [
            (ln, i, pn) for ln, i, pn in trip if ln not in pcols_log
        ]
        groups: dict[tuple, list[str]] = {}
        for a, ap in zip(adds, abs_paths):
            fid2name = _parquet_field_ids(ap)
            proj = tuple(
                (
                    ln,
                    fid2name.get(int(i))
                    if i is not None and int(i) in fid2name
                    else pn,
                )
                for ln, i, pn in data_trip
            )
            pv = a.get("partitionValues") or {}
            pvt = tuple(
                pv.get(l2p_trip.get(c, c), pv.get(c)) for c in pcols_log
            )
            groups.setdefault((proj, pvt), []).append(ap)
        df = None
        for (proj, pvt), fps in sorted(
            groups.items(), key=lambda kv: str(kv[0])
        ):
            rs = StructType(
                [StructField(fc, schema[ln].dataType, True) for ln, fc in proj]
            )
            lits = {
                c: F.lit(None if v == "__HIVE_DEFAULT_PARTITION__" else v)
                .cast(schema[c].dataType)
                for c, v in zip(pcols_log, pvt)
            }
            part = (
                attach_pos(spark.read.schema(rs).parquet(*fps))
                .select(*[F.col(fc).alias(ln) for ln, fc in proj], *pos_cols)
                .withColumns(lits)
                .select(*schema.fieldNames(), *pos_cols)
            )
            df = part if df is None else df.unionByName(part)
        return finish(df)

    # partitionColumns are logical names; under mapping the log's
    # partitionValues / directory layout use the physical names
    # (tolerate either keying — both appear in the wild)
    pcols_log = list(meta.get("partitionColumns") or [])
    phys_names = {f.name for f in read_schema.fields}
    pcols = [
        c if c in phys_names else l2p.get(c, c) for c in pcols_log
    ]

    def pv_of(a: dict) -> dict:
        pv = a.get("partitionValues") or {}
        if mode != "name":
            return pv
        out = {}
        for lc, pc in zip(pcols_log, pcols):
            out[pc] = pv[pc] if pc in pv else pv.get(lc)
        return out

    if not pcols:
        return finish(
            attach_pos(spark.read.schema(read_schema).parquet(*abs_paths))
        )
    # partitioned: partitionValues are authoritative. One scan with
    # Hive-style discovery when the layout matches them exactly …
    hive_ok = all(
        rp.startswith(_hive_prefix(pcols, pv_of(a)))
        for a, rp in zip(adds, rel_paths)
    )
    if hive_ok:
        return finish(
            attach_pos(
                spark.read.schema(read_schema)
                .option("basePath", path)
                .parquet(*abs_paths)
            )
        )
    # … else per-partition-group scans with literal columns (correct
    # for ANY layout; group count = touched partitions, a metadata
    # quantity). Data columns keep their file schema; partition
    # columns are cast from the spec's string encoding.
    data_schema = StructType(
        [f for f in read_schema.fields if f.name not in set(pcols)]
    )
    by_group: dict[tuple, list[str]] = {}
    for a, ap in zip(adds, abs_paths):
        pv = pv_of(a)
        key = tuple(pv.get(c) for c in pcols)
        by_group.setdefault(key, []).append(ap)
    out = None
    for key, files in sorted(by_group.items(), key=lambda kv: str(kv[0])):
        part = (
            attach_pos(spark.read.schema(data_schema).parquet(*files))
            .withColumns(
                {
                    c: F.lit(val).cast(read_schema[c].dataType)
                    for c, val in zip(pcols, key)
                }
            )
            .select(*read_schema.fieldNames(), *pos_cols)
        )
        out = part if out is None else out.unionByName(part)
    return finish(out)


def import_delta(
    spark: SparkSession,
    delta_path: str,
    table_path: str,
    version: int | None = None,
    materialize: bool | None = None,
) -> int:
    """MIGRATE a Delta table into the native manifest format — the
    switch-over path for a user with existing lakehouse data. Returns
    the new manifest table's version (0).

    Unpartitioned tables import BY REFERENCE: one manifest commit
    whose entries name the Delta data files ABSOLUTELY (the same
    cross-root convention branch forks use — `_m_repath`), with footer
    stats recomputed per file so stats/null/slab pruning work
    immediately; ZERO data copied, and the Delta log is left
    untouched, so both engines keep reading their own metadata over
    the same immutable files. The importing table's vacuum can never
    reclaim the foreign files: the GC refcounts by absolute path but
    only sweeps candidates under its own root. The CONVERSE does not
    hold (ADVICE r12): the foreign engine's own VACUUM knows nothing
    about this manifest, so Delta-side deletes/overwrites followed by
    a Delta VACUUM reclaim files the imported table still references —
    later native reads fail on the missing files. A zero-copy import
    is therefore only safe while the source Delta log is frozen (or
    its retention outlives the import); when the source stays live,
    pass ``materialize=True`` to copy once and sever the dependency.

    Partitioned tables MATERIALIZE (``materialize=True``; forced when
    partition columns exist): the two formats disagree about file
    content — Delta EXCLUDES partition columns from data files
    (values live in each add's ``partitionValues``), while the
    manifest read contract expects every schema column in-file
    (absent columns read as NULL, the schema-evolution rule) — so a
    by-reference import would silently null the partition columns.
    Instead the snapshot is read once through :func:`read_delta` and
    rewritten via ``write_table(partition_by=<same identity
    columns>)``, preserving partition-level COW for future mutations.
    """
    from spype_spark import lakehouse as lake

    meta, adds, _v = _replay(spark, delta_path, version)
    pcols = list(meta.get("partitionColumns") or [])
    mode, _pj, _l2p = _mapping_info(meta)
    has_dv = any(a.get("deletionVector") for a in adds)
    if pcols or materialize or mode != "none" or has_dv:
        # column-mapped sources must materialize too: their files carry
        # PHYSICAL names a by-reference manifest read would null out;
        # deletion-vectored sources likewise — a plain file reference
        # would RESURRECT the tombstoned rows
        df = read_delta(spark, delta_path, version)
        lake.write_table(df, table_path, partition_by=pcols or None)
        return 0
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    entries = []
    for a in adds:
        ap = os.path.abspath(
            os.path.join(delta_path, urllib.parse.unquote(a["path"]))
        )
        if not os.path.exists(ap):
            raise FileNotFoundError(
                f"Delta add action names a missing data file: {ap}"
            )
        entries.append(
            {"path": ap, "partition": {}, "seq": 0, **lake._m_file_stats(ap)}
        )
    entries.sort(key=lambda e: e["path"])
    os.makedirs(table_path, exist_ok=True)
    manifest = lake._m_manifest(
        table_path, 0, None, schema.jsonValue(), None, entries,
        op={"name": "IMPORT_DELTA", "dataChange": True},
    )
    lake._m_publish(table_path, 0, manifest)
    return 0


#: Arrow physical types strictly NARROWER than each Spark logical type
#: in the engine's widening set (`lakehouse._WIDEN_OK`): a widened
#: table's carried files keep these physical types, which pre-Spark-4 /
#: pre-typeWidening Delta readers cannot up-cast.
_NARROWER_THAN: dict[str, frozenset[str]] = {
    # keys are Spark schema-JSON type names (StructType.jsonValue)
    "short": frozenset({"int8"}),
    "integer": frozenset({"int8", "int16"}),
    "long": frozenset({"int8", "int16", "int32"}),
    "double": frozenset({"halffloat", "float", "int8", "int16", "int32"}),
}


def _narrow_file_cols(schema_fields: list[dict], file_path: str) -> list[str]:
    """Columns whose physical type in ``file_path``'s footer is
    narrower than the logical schema type (the type-widening residue).
    One footer metadata read — no data pages touched."""
    import pyarrow.parquet as pq

    arrow = pq.read_schema(file_path)
    out = []
    for f in schema_fields:
        narrow = _NARROWER_THAN.get(f.get("type"))
        if not narrow:
            continue
        idx = arrow.get_field_index(f["name"])
        if idx >= 0 and str(arrow.field(idx).type) in narrow:
            out.append(f["name"])
    return out


def _mor_deleted_positions(
    spark: SparkSession, table_path: str, m: dict, entries: list[dict]
) -> dict[str, list[int]]:
    """``{file key: sorted row positions}`` suppressed by the manifest's
    pending merge-on-read deletes — the exact per-file row sets a Delta
    deletion vector must encode. The rows come from the delete kernel's
    semi-join form over the same inputs a native read anti-joins
    (``lakehouse._m_delete_inputs``), so the sequence rule lives in one
    place. The result is collected driver-side: bounded by the pending
    deletes' own matched-row count — the quantity the export commit
    must serialize into vectors either way (same bound and argument as
    ``delta_delete_rows``)."""
    from spype_spark import lakehouse as lake

    inputs = lake._m_delete_inputs(spark, table_path, entries, m)
    out: dict[str, list[int]] = {}
    if inputs is None:
        return out
    dead = row_deletes.deleted_rows(*inputs).select("__fname", "__pos")
    # metadata-sized collect: bounded by the pending deletes' matched
    # row count — the exact payload the commit serializes into DVs
    for r in dead.dropDuplicates().collect():
        out.setdefault(r["__fname"], []).append(int(r["__pos"]))
    return {k: sorted(v) for k, v in out.items()}


def export_delta(
    spark: SparkSession,
    table_path: str,
    delta_path: str | None = None,
    allow_narrow_files: bool = False,
) -> int:
    """Mirror a native manifest table's CURRENT snapshot as a Delta
    commit — the reverse of :func:`import_delta`, so any Delta reader
    can consume this engine's tables. Zero data copied: the commit's
    add actions name the manifest's existing parquet files (relative
    when they sit under the Delta root, absolute URIs otherwise — both
    legal per spec). ``delta_path`` defaults to the TABLE ROOT itself,
    making the table dual-format in place (``_delta_log`` next to
    ``_manifests`` over the same immutable files). Re-export after
    native commits appends a snapshot-replace Delta commit (remove-all
    + add-all — overwrite semantics); when the manifest schema or
    partition spec evolved since the previous export, the commit also
    carries a fresh ``metaData`` action (same table id) so Delta
    readers see added columns and widened types instead of the stale
    v0 schema (ADVICE r12). Returns the Delta version written. The
    mirror is a SNAPSHOT: the native table's vacuum does not consult
    the Delta log, so after native rewrites, re-export BEFORE
    vacuuming if Delta readers are live (the same contract as any
    external snapshot consumer).

    Partitioned tables (identity partitioning) export with each add's
    ``partitionValues`` taken from its manifest entry — the
    authoritative channel Delta readers resolve partition columns
    from. This engine also keeps identity-partition columns IN the
    data files (the Iceberg model); for Delta readers that redundant
    in-file copy is inert — they request only non-partition columns
    from the file, so column pruning skips it — but it is an export
    -profile note, since mainstream Delta WRITERS omit the columns
    from data files.

    Type-widening residue: a :func:`lakehouse.widen_types` commit is
    metadata-only, so carried files keep their NARROW physical types
    (int32 under a bigint schema). Spark 4+ up-casts at scan time, but
    older Delta readers fail the conversion — so the export sweeps one
    parquet footer per data directory (a metadata-class read, same
    cost family as import's stats recompute) and raises when narrow
    files sit under a widened schema. Pass ``allow_narrow_files=True``
    to export anyway for a reader population known to up-cast.

    Merge-on-read residue exports as DELETION VECTORS (graduated this
    round from the old "compact first" gate): pending equality and
    positional deletes are converted into one roaring deletion vector
    per touched data file — the Delta-native expression of exactly the
    same rows-suppressed-without-rewrite state — and the commit's
    protocol declares reader feature ``deletionVectors``. Readers
    without DV support then fail LOUDLY on the protocol gate (the
    spec's behavior), never resurrect deleted rows. The conversion is
    O(pending deleted rows): the delete kernel's semi-join form
    (:func:`row_deletes.deleted_rows`) returns the (file, position)
    rows the pending deletes remove from one table scan — the quantity
    the commit must serialize anyway.

    Column-mapping renames likewise export as ``columnMapping`` NAME
    mode (graduated): each logical field carries
    ``delta.columnMapping.physicalName`` = the manifest's frozen
    physical name, so Delta readers project the files' physical
    columns back to the renamed logical schema. Dropped columns need
    nothing (absent from the logical schema; their in-file residue is
    pruned by every reader).

    Partitioned column-mapped tables (graduated round 14) follow the
    spec's writer requirement: each add's ``partitionValues`` are
    keyed by the PHYSICAL partition-column name (the manifest's frozen
    name — also what the files and Hive-layout directories carry,
    renames being metadata-only), while metaData ``partitionColumns``
    stay logical, the keying Delta-Spark itself produces.

    Out of profile (loud errors, never a silently-wrong export):
    hidden-partition transforms (bucket/days/hours/truncate — Delta
    has no transform spec; its generated columns cannot reproduce the
    engine's hash), and pending deletes over by-reference imported
    files (their absolute paths carry no commit-relative row
    anchor)."""
    from spype_spark import lakehouse as lake

    v = lake.latest_version(table_path)
    m = lake._m_load(table_path, v)
    if any(
        t.get("transform") not in (None, "identity")
        for t in m.get("transforms") or []
    ):
        raise ValueError(
            "export_delta: hidden-partition transforms (bucket/days/"
            "hours/truncate) have no Delta equivalent — rewrite with "
            "identity partitioning first"
        )
    fields = (m.get("schema") or {}).get("fields", [])
    cmap = {
        f["name"]: f.get("metadata", {}).get("spype_physical") or f["name"]
        for f in fields
    }
    mapped = any(p != l for l, p in cmap.items())
    pcols = list(m.get("partition_by") or [])
    root = table_path if delta_path is None else delta_path
    entries = lake._m_entries(table_path, m)
    dv_positions: dict[str, list[int]] = {}
    if m.get("deletes") or m.get("pos_deletes"):
        if any(os.path.isabs(e["path"]) for e in entries):
            raise ValueError(
                "export_delta: pending merge-on-read deletes over "
                "by-reference imported files have no commit-relative "
                "row anchor — compact first"
            )
        dv_positions = _mor_deleted_positions(spark, table_path, m, entries)
    now_ms = int(os.path.getmtime(table_path) * 1000)
    adds = []
    narrow_seen_dirs: set[str] = set()
    narrow_cols: set[str] = set()
    # footer sweeps probe the files' PHYSICAL column names (they equal
    # the logical names except under renames)
    phys_fields = [{**f, "name": cmap.get(f["name"], f["name"])} for f in fields]
    for e in entries:
        ap = (
            e["path"]
            if os.path.isabs(e["path"])
            else os.path.abspath(os.path.join(table_path, e["path"]))
        )
        # one footer probe per data directory: files in one dir come
        # from one write job and share a physical schema, so this is
        # O(commits), not O(files)
        d = os.path.dirname(ap)
        if d not in narrow_seen_dirs:
            narrow_seen_dirs.add(d)
            narrow_cols.update(_narrow_file_cols(phys_fields, ap))
        rp = os.path.relpath(ap, os.path.abspath(root))
        loc = ap if rp.startswith("..") else rp.replace(os.sep, "/")
        pv = {}
        for c in pcols:
            raw = (e.get("partition") or {}).get(c)
            # spec writer requirement under column mapping: the add's
            # partitionValues are keyed by PHYSICAL column names (the
            # manifest's frozen names — also the names in the files
            # and the Hive-layout directories, since renames are
            # metadata-only); partitionColumns in metaData stay
            # logical, the keying Delta-Spark itself produces
            pv[cmap.get(c, c)] = (
                None
                if raw is None or raw == "__HIVE_DEFAULT_PARTITION__"
                else urllib.parse.unquote(str(raw))
            )
        add = {
            "path": urllib.parse.quote(loc, safe="/="),
            "partitionValues": pv,
            "size": int(e.get("bytes") or os.path.getsize(ap)),
            "modificationTime": now_ms,
            "dataChange": True,
        }
        if dv_positions:
            pos = dv_positions.pop(m_file_key(ap), None)
            if pos:
                from spype_spark import roaring

                add["deletionVector"] = _write_dv_file(
                    root, roaring.serialize_array64(pos), cardinality=len(pos)
                )
        adds.append(add)
    if narrow_cols and not allow_narrow_files:
        raise ValueError(
            f"export_delta: column(s) {sorted(narrow_cols)} were widened "
            f"after their data files were written — the files' narrow "
            f"physical types fail on Delta readers without type-widening "
            f"support. Compact/rewrite the table, or pass "
            f"allow_narrow_files=True for readers known to up-cast "
            f"(Spark 4+)."
        )
    if dv_positions:
        raise ValueError(
            "export_delta: pending delete positions reference files "
            f"absent from the manifest: {sorted(dv_positions)}"
        )
    feats: set[str] = set()
    if any(a.get("deletionVector") for a in adds):
        feats.add("deletionVectors")
    config: dict[str, str] = {}
    schema_out = m["schema"]
    if mapped:
        feats.add("columnMapping")
        config = {
            "delta.columnMapping.mode": "name",
            "delta.columnMapping.maxColumnId": str(len(fields)),
        }
        schema_out = {
            **m["schema"],
            "fields": [
                {
                    **f,
                    "metadata": {
                        **{
                            k: val
                            for k, val in (f.get("metadata") or {}).items()
                            if k != "spype_physical"
                        },
                        "delta.columnMapping.id": i,
                        "delta.columnMapping.physicalName": cmap[f["name"]],
                    },
                }
                for i, f in enumerate(fields, start=1)
            ],
        }
    versions = _commit_versions(root) if os.path.isdir(_log_dir(root)) else []
    dv = (versions[-1] + 1) if versions else 0
    actions: list[dict] = []
    if dv == 0:
        actions.append(
            {
                "protocol": _feature_protocol(None, feats)
                if feats
                else {"minReaderVersion": 1, "minWriterVersion": 2}
            }
        )
        actions.append(
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(schema_out),
                    "partitionColumns": pcols,
                    "configuration": config,
                    "createdTime": now_ms,
                }
            }
        )
    else:
        prev = _replay_state(spark, root, None)
        prev_meta = prev["meta"]
        prev_schema = json.loads(prev_meta["schemaString"])
        prev_pcols = list(prev_meta.get("partitionColumns") or [])
        prev_conf = prev_meta.get("configuration") or {}
        if feats - _implied_features(prev["protocol"]):
            # the mirror gained a table feature (first MoR residue or
            # first rename since the last export): upgrade in-commit,
            # preserving everything the log already declared
            actions.append(
                {"protocol": _feature_protocol(prev["protocol"], feats)}
            )
        if (
            prev_schema != schema_out
            or prev_pcols != pcols
            or (
                mapped
                and prev_conf.get("delta.columnMapping.mode") != "name"
            )
        ):
            # schema/spec evolved since the last export: Delta readers
            # must see the new logical schema, under the SAME table id
            actions.append(
                {
                    "metaData": {
                        **prev_meta,
                        "schemaString": json.dumps(schema_out),
                        "partitionColumns": pcols,
                        "configuration": {**prev_conf, **config},
                    }
                }
            )
        for a in prev["adds"]:
            remove = {
                "path": a["path"],
                "deletionTimestamp": now_ms,
                "dataChange": True,
            }
            if a.get("deletionVector"):
                remove["deletionVector"] = a["deletionVector"]
            actions.append({"remove": remove})
    actions.extend({"add": a} for a in adds)
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "SPYPE EXPORT",
                "operationParameters": {"tableVersion": v},
            }
        }
    )
    _publish_commit(root, dv, actions)
    return dv


def delta_history(spark: SparkSession, path: str) -> DataFrame:
    """One row per commit: version, timestamp (the commit file's
    mtime, as Delta's FileStreamSource does absent commitInfo), number
    of add/remove actions — the DESCRIBE HISTORY analogue for a
    foreign Delta log."""
    rows = []
    for t in _commit_versions(path):
        p = _commit_path(path, t)
        n_add = n_remove = 0
        with open(p) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                n_add += 1 if "add" in action else 0
                n_remove += 1 if "remove" in action else 0
        rows.append((t, int(os.path.getmtime(p) * 1000), n_add, n_remove))
    return spark.createDataFrame(
        rows, "version long, timestamp_ms long, n_added long, n_removed long"
    )


# ---------------------------------------------------------------------------
# Fixture-grade writer — spec-shaped actions, real part files.
# ---------------------------------------------------------------------------


def _list_part_files(root: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(root):
        for n in files:
            if n.endswith(".parquet"):
                out.append(os.path.relpath(os.path.join(dirpath, n), root))
    return sorted(out)


def _pvals_from_rel(rel: str, pcols: list[str]) -> dict:
    vals: dict[str, str | None] = {}
    for seg in rel.split("/")[:-1]:
        if "=" not in seg:
            continue
        c, _, raw = seg.partition("=")
        if c in pcols:
            vals[c] = (
                None
                if raw == "__HIVE_DEFAULT_PARTITION__"
                else urllib.parse.unquote(raw)
            )
    return {c: vals.get(c) for c in pcols}


def write_delta(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    mode: str = "error",
    partition_by: list[str] | None = None,
    column_mapping: str | None = None,
) -> int:
    """Write ``df`` as a Delta-layout commit: Spark writes the part
    files (Hive-style partition dirs under ``partition_by``), then one
    JSON commit publishes protocol/metaData (version 0) and the
    add (+ remove, for overwrite) actions. Returns the new version.

    ``column_mapping="id"`` (create only; partitioned allowed — r14)
    builds the Iceberg-compatible id-mode table: every field gets a stable
    ``delta.columnMapping.id`` and a random ``physicalName``; the data
    files are written under the PHYSICAL names with real parquet
    field ids stamped into the footers — what the id-mode read path
    matches by. Appends to mapped tables (name AND id mode, r14) take
    the LOGICAL schema and restore the physical names/field ids."""
    if mode not in ("error", "append", "overwrite"):
        raise ValueError(f"unsupported mode {mode!r}")
    if column_mapping not in (None, "id"):
        raise ValueError(f"unsupported column_mapping {column_mapping!r}")
    cm_fields: list[dict] | None = None
    pcols_meta = list(partition_by or [])
    if column_mapping == "id":
        if mode != "error":
            raise ValueError("column_mapping applies to table CREATE only")
        cm_fields = []
        w0 = df
        sj = json.loads(df.schema.json())
        cm_l2p: dict[str, str] = {}
        for i, f in enumerate(sj["fields"], start=1):
            phys = f"col-{uuid.uuid4().hex[:12]}"
            cm_l2p[f["name"]] = phys
            cm_fields.append(
                {
                    **f,
                    "metadata": {
                        **(f.get("metadata") or {}),
                        "delta.columnMapping.id": i,
                        "delta.columnMapping.physicalName": phys,
                    },
                }
            )
            w0 = w0.withColumnRenamed(f["name"], phys).withMetadata(
                phys, {"parquet.field.id": i}
            )
        df = w0
        # partitioned id-mode (graduated r14): files and Hive dirs use
        # the physical names, partitionValues key physical (spec
        # writer requirement); metaData partitionColumns stay logical
        if partition_by:
            bad = [c for c in partition_by if c not in cm_l2p]
            if bad:
                raise ValueError(f"partition_by columns {bad} not in df")
            partition_by = [cm_l2p[c] for c in partition_by]
    versions = _commit_versions(path) if os.path.isdir(_log_dir(path)) else []
    ckpt = _last_checkpoint(path) if os.path.isdir(_log_dir(path)) else None
    exists = bool(versions) or ckpt is not None
    if exists and mode == "error":
        raise FileExistsError(f"Delta table {path} already exists")
    version = (
        max(versions[-1] if versions else -1, ckpt["version"] if ckpt else -1)
        + 1
        if exists
        else 0
    )
    pcols = list(partition_by or [])
    if exists:
        meta_prev, prev_adds, _ = _replay(spark, path, None)
        prev_pcols = list(meta_prev.get("partitionColumns") or [])
        if pcols and pcols != prev_pcols:
            raise ValueError(
                f"partition_by {pcols} != existing table's {prev_pcols}"
            )
        pcols = prev_pcols
        cm_mode, pj, l2p = _mapping_info(meta_prev)
        if cm_mode == "name":
            # post-rename appends must write PHYSICAL column names into
            # the files and the partition directories — the reader maps
            # them back to logical, same as any mainstream Delta writer
            log = StructType.fromJson(json.loads(meta_prev["schemaString"]))
            phys = StructType.fromJson(pj)
            missing = [f.name for f in log.fields if f.name not in df.columns]
            if missing:
                raise ValueError(
                    f"append under column mapping expects the LOGICAL "
                    f"schema; missing columns {missing}"
                )
            df = df.select(
                *[
                    F.col(lf.name).cast(pf.dataType).alias(pf.name)
                    for lf, pf in zip(log.fields, phys.fields)
                ]
            )
            pcols = [l2p.get(c, c) for c in pcols]
        elif cm_mode == "id":
            # id-mode append (graduated r14): write under the PHYSICAL
            # names with the table's stable field ids stamped into the
            # parquet footers — exactly what the id-mode read matches
            # by, so a foreign-shaped id file and a native append read
            # back in one scan
            sj_prev = json.loads(meta_prev["schemaString"])
            log = StructType.fromJson(sj_prev)
            phys = StructType.fromJson(pj)
            missing = [
                f.name for f in log.fields if f.name not in df.columns
            ]
            if missing:
                raise ValueError(
                    f"append under column mapping expects the LOGICAL "
                    f"schema; missing columns {missing}"
                )
            w0 = df.select(
                *[
                    F.col(lf.name).cast(pf.dataType).alias(pf.name)
                    for lf, pf in zip(log.fields, phys.fields)
                ]
            )
            for f, pf in zip(sj_prev["fields"], phys.fields):
                cid = (f.get("metadata") or {}).get("delta.columnMapping.id")
                if cid is None:
                    raise ValueError(
                        f"id-mode append: field {f['name']!r} lacks "
                        f"delta.columnMapping.id"
                    )
                w0 = w0.withMetadata(
                    pf.name, {"parquet.field.id": int(cid)}
                )
            df = w0
            pcols = [l2p.get(c, c) for c in pcols]
    # stage through a temp dir so the files THIS commit adds are known
    # exactly, then hard-move them into the table root
    stage = os.path.join(path, f".stage-{uuid.uuid4().hex}")
    w = df.write.mode("overwrite")
    if pcols:
        w = w.partitionBy(*pcols)
    w.parquet(stage)
    adds = []
    now_ms = int(os.path.getmtime(stage) * 1000)
    for rel in _list_part_files(stage):
        src = os.path.join(stage, rel)
        dst = os.path.join(path, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.replace(src, dst)
        adds.append(
            {
                "path": urllib.parse.quote(rel, safe="/="),
                "partitionValues": _pvals_from_rel(rel, pcols),
                "size": os.path.getsize(dst),
                "modificationTime": now_ms,
                "dataChange": True,
            }
        )
    shutil.rmtree(stage, ignore_errors=True)
    actions: list[dict] = []
    if version == 0:
        if cm_fields is not None:
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["columnMapping"],
                        "writerFeatures": ["columnMapping"],
                    }
                }
            )
            schema_string = json.dumps(
                {"type": "struct", "fields": cm_fields}
            )
            configuration = {
                "delta.columnMapping.mode": "id",
                "delta.columnMapping.maxColumnId": str(len(cm_fields)),
            }
        else:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
            schema_string = df.schema.json()
            configuration = {}
        actions.append(
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_string,
                    "partitionColumns": pcols_meta,
                    "configuration": configuration,
                    "createdTime": now_ms,
                }
            }
        )
    if mode == "overwrite" and exists:
        for a in prev_adds:
            actions.append(
                {
                    "remove": {
                        "path": a["path"],
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
    actions.extend({"add": a} for a in adds)
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "WRITE",
                "operationParameters": {"mode": mode.upper()},
            }
        }
    )
    _publish_commit(path, version, actions)
    return version


def delta_delete_rows(spark: SparkSession, path: str, condition) -> int:
    """DELETE rows from a Delta table with DELETION VECTORS — the
    merge-on-read form mainstream writers use for small deletes: no
    data file is rewritten; each touched file's add action is
    re-committed with a ``deletionVector`` descriptor (storageType
    ``u``: a z85-uuid-named ``deletion_vector_*.bin`` holding the
    magic-prefixed RoaringBitmapArray of deleted row positions), the
    previous file version removed in the same commit, and the
    protocol upgraded to reader 3 + ``deletionVectors``. Re-deleting
    from an already-vectored file MERGES the positions (the spec's
    single-DV-per-file invariant). Returns the committed version.

    Fixture-grade like :func:`write_delta`: the matched (file,
    position) pairs are collected driver-side — bounded by the
    delete's own row count, fine at contract scale; a production
    writer would stream them per file."""
    st = _replay_state(spark, path, None)
    meta, adds, v = st["meta"], st["adds"], st["version"]
    # column-mapped tables graduated r14: the predicate evaluates on
    # the LOGICAL schema the scan already projects (name or id mode),
    # and the vectors anchor to (file path, row index) — column names
    # never enter the DV itself
    scan = _scan_adds(spark, path, meta, adds, keep_pos=True)
    hits = scan.filter(condition).select("_file", "_pos")
    by_file: dict[str, list[int]] = {}
    # metadata-sized collect: bounded by the DELETE's own matched-row
    # count (the quantity the commit must serialize into vectors),
    # never the table — a production writer would stream per file
    for r in hits.collect():
        by_file.setdefault(r["_file"], []).append(int(r["_pos"]))
    add_by_norm = {
        os.path.abspath(
            os.path.join(path, urllib.parse.unquote(a["path"]))
        ): a
        for a in adds
    }
    from spype_spark import roaring

    now_ms = int(os.path.getmtime(_log_dir(path)) * 1000)
    actions: list[dict] = [
        {"protocol": _feature_protocol(st["protocol"], {"deletionVectors"})}
    ]
    for f_norm in sorted(by_file):
        a = add_by_norm[f_norm]
        old = a.get("deletionVector")
        pos = set(by_file[f_norm])
        if old:
            pos |= set(roaring.deserialize_array64(_load_dv_bytes(path, old)))
        payload = roaring.serialize_array64(sorted(pos))
        dvd = _write_dv_file(path, payload, cardinality=len(pos))
        remove = {
            "path": a["path"],
            "deletionTimestamp": now_ms,
            "dataChange": True,
        }
        if old:
            remove["deletionVector"] = old
        actions.append({"remove": remove})
        actions.append(
            {
                "add": {
                    **a,
                    "deletionVector": dvd,
                    "modificationTime": now_ms,
                    "dataChange": True,
                }
            }
        )
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "DELETE",
                "operationParameters": {"mode": "deletionVectors"},
            }
        }
    )
    _publish_commit(path, v + 1, actions)
    return v + 1


def delta_update_rows(
    spark: SparkSession, path: str, condition, assignments: dict
) -> int:
    """UPDATE rows of a Delta table WITH Change Data Feed output —
    the commit rewrites the table copy-on-write (fixture-grade: the
    whole file set; a production writer touches only matched files)
    and emits spec-shaped ``cdc`` actions naming ``_change_data/``
    parquet files that hold the ``update_preimage`` /
    ``update_postimage`` rows. That is the channel Delta's CDF
    readers (and :func:`delta_changes`) treat as AUTHORITATIVE for
    the commit — without it, a rewrite commit's add/remove diff
    cannot distinguish updated rows from carried ones. The protocol's
    minWriterVersion rises to 4 (the changeDataFeed legacy writer
    floor); readers are unaffected. ``assignments`` maps column name
    to a Column expression evaluated on matched rows. NULL-evaluating
    conditions leave rows untouched (SQL UPDATE semantics)."""
    st = _replay_state(spark, path, None)
    meta, adds, v = st["meta"], st["adds"], st["version"]
    if _mapping_info(meta)[0] != "none":
        raise ValueError(
            "delta_update_rows on a column-mapped table is outside the "
            "fixture writer's profile (delta_delete_rows and appends "
            "are mapped-capable; rewrite-with-cdc under mapping is not)"
        )
    # partitioned tables graduated r14: the rewrite restores the
    # Hive layout and each add's partitionValues; cdc files are staged
    # partitionBy(*pcols) with each cdc action's partitionValues keyed
    # from its staged directory — mainstream Delta CDF readers fill
    # partition columns for cdc files FROM the action's
    # partitionValues, so leaving them {} surfaced NULL partition
    # columns in foreign readers' change rows (advice r15)
    pcols = list(meta.get("partitionColumns") or [])
    scan = _scan_adds(spark, path, meta, adds)
    hit = F.coalesce(condition, F.lit(False))
    # matched rows materialize ONCE (r15 opt): pre feeds the rewrite
    # union AND both CDC branches — without the cut the data-file job
    # and the CDC-file job re-scanned the table three times between
    # them (rewrite scan + pre + post); now the table scans once per
    # job and the pre/post branches read the checkpointed matched set
    pre = scan.filter(hit).localCheckpoint(eager=False)
    post = pre.withColumns(assignments)
    if post.columns != scan.columns:
        raise ValueError("assignments must not add or reorder columns")
    final = scan.filter(~hit).unionByName(post)
    # stage data files exactly like write_delta, plus the CDC files
    stage = os.path.join(path, f".stage-{uuid.uuid4().hex}")
    w = final.write.mode("overwrite")
    if pcols:
        w = w.partitionBy(*pcols)
    w.parquet(stage)
    new_adds = []
    now_ms = int(os.path.getmtime(stage) * 1000)
    for rel in _list_part_files(stage):
        src = os.path.join(stage, rel)
        dst = os.path.join(path, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.replace(src, dst)
        new_adds.append(
            {
                "path": urllib.parse.quote(rel, safe="/="),
                "partitionValues": _pvals_from_rel(rel, pcols),
                "size": os.path.getsize(dst),
                "modificationTime": now_ms,
                "dataChange": True,
            }
        )
    shutil.rmtree(stage, ignore_errors=True)
    cdc_df = pre.withColumn(
        "_change_type", F.lit("update_preimage")
    ).unionByName(post.withColumn("_change_type", F.lit("update_postimage")))
    cstage = os.path.join(path, f".cstage-{uuid.uuid4().hex}")
    cw = cdc_df.write.mode("overwrite")
    if pcols:
        cw = cw.partitionBy(*pcols)
    cw.parquet(cstage)
    cdir = os.path.join(path, "_change_data")
    os.makedirs(cdir, exist_ok=True)
    cdc_actions = []
    for rel in _list_part_files(cstage):
        dst_rel = f"_change_data/cdc-{uuid.uuid4().hex}.parquet"
        os.replace(os.path.join(cstage, rel), os.path.join(path, dst_rel))
        cdc_actions.append(
            {
                "path": dst_rel,
                "partitionValues": _pvals_from_rel(rel, pcols),
                "size": os.path.getsize(os.path.join(path, dst_rel)),
                "dataChange": False,
            }
        )
    shutil.rmtree(cstage, ignore_errors=True)
    proto = dict(st["protocol"] or {"minReaderVersion": 1})
    actions: list[dict] = []
    if int(proto.get("minWriterVersion", 2)) < 4 and "writerFeatures" not in (
        proto or {}
    ):
        actions.append(
            {"protocol": {**proto, "minWriterVersion": 4}}
        )
    for a in adds:
        rm = {"path": a["path"], "deletionTimestamp": now_ms,
              "dataChange": True}
        if a.get("deletionVector"):
            rm["deletionVector"] = a["deletionVector"]
        actions.append({"remove": rm})
    actions.extend({"add": a} for a in new_adds)
    actions.extend({"cdc": c} for c in cdc_actions)
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "UPDATE",
                "operationParameters": {},
            }
        }
    )
    _publish_commit(path, v + 1, actions)
    return v + 1


def delta_changes(
    spark: SparkSession,
    path: str,
    starting_version: int = 0,
    ending_version: int | None = None,
) -> DataFrame:
    """CHANGE DATA FEED over a foreign Delta log — the interop twin of
    the native ``Catalog.changes``: one row per changed row per commit
    in ``[starting_version, ending_version]``, with ``_change_type``
    (``insert`` / ``delete`` / ``update_preimage`` /
    ``update_postimage``) and ``_commit_version`` appended to the
    table schema. This is what a CDC-consuming pipeline tails to keep
    a downstream store in sync without rescanning the table.

    Per commit, the change set comes from (in priority order):

    1. **``cdc`` actions** (present when the writer emitted Change
       Data Feed, e.g. :func:`delta_update_rows` or any mainstream
       writer with ``delta.enableChangeDataFeed``): the named
       ``_change_data`` files are AUTHORITATIVE — they carry
       ``_change_type`` in-file and are scanned directly.
    2. **File-diff reconstruction** for commits without cdc: pure
       adds read as ``insert``; pure removes read as ``delete`` (the
       file's live rows at removal time — its tracked deletion vector
       applied); a remove+re-add of the SAME path with a grown
       deletion vector (the ``delta_delete_rows`` shape) reads only
       the NEWLY tombstoned positions as ``delete`` (a shrunk vector
       reads restored positions as ``insert``). Bitmap deltas decode
       driver-side — bounded by the vectors' own cardinality, the
       quantity the commit serialized.
    3. A commit that rewrites files (removes one path, adds another)
       WITHOUT cdc actions is undecidable row-wise and raises loudly
       — the same contract mainstream CDF readers enforce (enable CDF
       before reading changes), never a silent wrong feed.

    Compaction commits (``dataChange: false``) emit nothing but still
    advance the tracked file state, exactly per spec. The window must
    lie within the retained JSON commits (a checkpoint-truncated
    prefix raises)."""
    from spype_spark import roaring

    versions_all = _commit_versions(path)
    if ending_version is None:
        ending_version = versions_all[-1] if versions_all else 0
    avail = set(versions_all)
    window = list(range(starting_version, ending_version + 1))
    missing = [v for v in window if v not in avail]
    if missing:
        raise ValueError(
            f"delta_changes: commits {missing} not retained as JSON "
            f"(checkpoint-truncated) — change window unavailable"
        )
    st_end = _replay_state(spark, path, ending_version)
    meta = st_end["meta"]
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    out_schema = StructType.fromJson(
        json.loads(meta["schemaString"])
    ).add("_change_type", "string").add("_commit_version", "long")
    cols = [f.name for f in schema.fields]
    parsed: list[tuple[int, list[dict], list[dict], list[dict]]] = []
    for v in window:
        adds_v: list[dict] = []
        rms_v: list[dict] = []
        cdc_v: list[dict] = []
        with open(_commit_path(path, v)) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "add" in action:
                    adds_v.append(action["add"])
                elif "remove" in action:
                    rms_v.append(action["remove"])
                elif "cdc" in action:
                    cdc_v.append(action["cdc"])
        parsed.append((v, adds_v, rms_v, cdc_v))
    # file state entering the window (add action per live path) — only
    # reconstructed when some diff actually references a PRE-window
    # file, so a window of pure appends works even when the commits
    # before it were checkpoint-truncated
    state: dict[str, dict] = {}
    if starting_version > 0:
        known: set[str] = set()
        need_state = False
        for _v, adds_v, rms_v, cdc_v in parsed:
            if not cdc_v and any(
                r["path"] not in known
                for r in rms_v
                if r.get("dataChange", True)
            ):
                need_state = True
                break
            known.update(a["path"] for a in adds_v)
        if need_state:
            _m0, adds0, _v0 = _replay(spark, path, starting_version - 1)
            state = {a["path"]: a for a in adds0}
    frames: list[DataFrame] = []

    def tag(df: DataFrame, kind: str, v: int) -> DataFrame:
        return df.select(
            *cols,
            F.lit(kind).alias("_change_type"),
            F.lit(v).cast("long").alias("_commit_version"),
        )

    for v, adds_v, rms_v, cdc_v in parsed:
        if cdc_v:
            cdc_schema = StructType.fromJson(
                json.loads(meta["schemaString"])
            ).add("_change_type", "string")
            # partition columns live in the cdc action's
            # partitionValues (mainstream Delta CDF layout); legacy
            # fixtures carried them in-file — file columns first,
            # partitionValues as fallback (advice r15)
            pcols_c = list(meta.get("partitionColumns") or [])
            cgroups: dict[tuple, list[str]] = {}
            for c in cdc_v:
                pv = c.get("partitionValues") or {}
                key = tuple(pv.get(pc) for pc in pcols_c)
                cgroups.setdefault(key, []).append(
                    os.path.join(path, urllib.parse.unquote(c["path"]))
                )
            for pvt, cfiles in sorted(
                cgroups.items(), key=lambda kv: str(kv[0])
            ):
                cf = spark.read.schema(cdc_schema).parquet(*cfiles)
                for pc, val in zip(pcols_c, pvt):
                    typ = cdc_schema[pc].dataType
                    cf = cf.withColumn(
                        pc,
                        F.coalesce(
                            F.col(pc), F.lit(val).cast(typ)
                        )
                        if val is not None
                        else F.col(pc),
                    )
                frames.append(
                    cf.select(
                        *cols,
                        "_change_type",
                        F.lit(v).cast("long").alias("_commit_version"),
                    )
                )
        else:
            da = [a for a in adds_v if a.get("dataChange", True)]
            dr = [r for r in rms_v if r.get("dataChange", True)]
            add_paths = {a["path"] for a in da}
            rm_paths = {r["path"] for r in dr}
            pure_adds = [a for a in da if a["path"] not in rm_paths]
            pure_rms = [r for r in dr if r["path"] not in add_paths]
            if pure_adds and pure_rms:
                raise ValueError(
                    f"delta_changes: commit {v} rewrites files without "
                    f"cdc actions — the row-level change set is "
                    f"undecidable; enable Change Data Feed on the writer"
                )
            if pure_adds:
                frames.append(
                    tag(_scan_adds(spark, path, meta, pure_adds),
                        "insert", v)
                )
            if pure_rms:
                ghost = []
                for r in pure_rms:
                    prev = state.get(r["path"])
                    if prev is None:
                        raise ValueError(
                            f"delta_changes: commit {v} removes "
                            f"{r['path']} which is not in the tracked "
                            f"state — window must start at table birth "
                            f"or a replayable version"
                        )
                    ghost.append(prev)
                frames.append(
                    tag(_scan_adds(spark, path, meta, ghost), "delete", v)
                )
            for a in da:
                if a["path"] not in rm_paths:
                    continue
                prev = state.get(a["path"]) or {}
                old_dvd = prev.get("deletionVector")
                new_dvd = a.get("deletionVector")
                if new_dvd is None and old_dvd is None:
                    raise ValueError(
                        f"delta_changes: commit {v} re-adds "
                        f"{a['path']} unchanged and un-vectored — "
                        f"row-level change set undecidable without cdc"
                    )
                # metadata-sized decode: bounded by the two vectors'
                # cardinality (what the commit serialized)
                old_pos = set(
                    roaring.deserialize_array64(
                        _load_dv_bytes(path, old_dvd)
                    )
                    if old_dvd
                    else []
                )
                new_pos = set(
                    roaring.deserialize_array64(
                        _load_dv_bytes(path, new_dvd)
                    )
                    if new_dvd
                    else []
                )
                for kind, delta in (
                    ("delete", sorted(new_pos - old_pos)),
                    ("insert", sorted(old_pos - new_pos)),
                ):
                    if not delta:
                        continue
                    bare = {
                        k: val
                        for k, val in a.items()
                        if k != "deletionVector"
                    }
                    full = _scan_adds(
                        spark, path, meta, [bare], keep_pos=True
                    )
                    pos_df = spark.createDataFrame(
                        [(int(p),) for p in delta], "_pos long"
                    )
                    frames.append(
                        tag(
                            full.join(
                                F.broadcast(pos_df), ["_pos"], "inner"
                            ),
                            kind,
                            v,
                        )
                    )
        for r in rms_v:
            state.pop(r["path"], None)
        for a in adds_v:
            state[a["path"]] = a
    if not frames:
        return spark.createDataFrame([], out_schema)
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def delta_rename_column(
    spark: SparkSession, path: str, renames: dict[str, str]
) -> int:
    """RENAME columns of a Delta table via column mapping (name mode)
    — the metadata-only operation mainstream writers perform for
    ``ALTER TABLE … RENAME COLUMN``: no data file is touched; every
    field gets ``delta.columnMapping.physicalName`` pinned to its
    CURRENT name (so existing files stay readable) plus a stable
    ``delta.columnMapping.id``, the logical names change in the
    schemaString/partitionColumns, and the protocol upgrades to
    reader 3 / writer 7 with the ``columnMapping`` feature. Returns
    the committed version. Renaming a PARTITION column works — the
    log's partitionValues keys stay physical, per spec."""
    versions = _commit_versions(path)
    if not versions and _last_checkpoint(path) is None:
        raise FileNotFoundError(f"empty Delta log under {path}")
    st = _replay_state(spark, path, None)
    meta, v = st["meta"], st["version"]
    sj = json.loads(meta["schemaString"])
    names = {f["name"] for f in sj["fields"]}
    unknown = [c for c in renames if c not in names]
    if unknown:
        raise ValueError(f"rename of unknown column(s) {unknown}")
    clashes = [
        n for n in renames.values()
        if n in (names - set(renames)) or list(renames.values()).count(n) > 1
    ]
    if clashes:
        raise ValueError(f"rename target(s) already exist: {sorted(set(clashes))}")
    fields = []
    for i, f in enumerate(sj["fields"], start=1):
        md = dict(f.get("metadata") or {})
        md.setdefault("delta.columnMapping.physicalName", f["name"])
        md.setdefault("delta.columnMapping.id", i)
        fields.append(
            {**f, "name": renames.get(f["name"], f["name"]), "metadata": md}
        )
    conf = dict(meta.get("configuration") or {})
    # an already-mapped table keeps its mode (renaming an id-mode
    # table is metadata-only too — the ids don't move)
    if conf.get("delta.columnMapping.mode", "none") in ("none", ""):
        conf["delta.columnMapping.mode"] = "name"
    conf.setdefault("delta.columnMapping.maxColumnId", str(len(fields)))
    new_meta = {
        **meta,
        "schemaString": json.dumps({"type": "struct", "fields": fields}),
        "partitionColumns": [
            renames.get(c, c) for c in meta.get("partitionColumns") or []
        ],
        "configuration": conf,
    }
    now_ms = int(os.path.getmtime(_log_dir(path)) * 1000)
    _publish_commit(
        path,
        v + 1,
        [
            {
                "protocol": _feature_protocol(
                    st["protocol"], {"columnMapping"}
                )
            },
            {"metaData": new_meta},
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "RENAME COLUMN",
                    "operationParameters": {"renames": json.dumps(renames)},
                }
            },
        ],
    )
    return v + 1


#: Sidecar file-action schema for V2 checkpoints — unlike the classic
#: schema it CARRIES deletionVector, which is why v2 is the checkpoint
#: form vectored tables must use.
_SIDECAR_SCHEMA = (
    "add struct<path:string,partitionValues:map<string,string>,size:bigint,"
    "modificationTime:bigint,dataChange:boolean,"
    "deletionVector:" + _DV_STRUCT + ">, "
    "remove struct<path:string,deletionTimestamp:bigint,dataChange:boolean>"
)


def _implied_features(protocol: dict | None) -> set[str]:
    """Reader features the table already requires, normalizing the
    legacy encodings (reader 2 implies columnMapping)."""
    if protocol is None:
        return set()
    reader = int(protocol.get("minReaderVersion", 1))
    feats = set(protocol.get("readerFeatures") or [])
    if reader == 2:
        feats.add("columnMapping")
    return feats


def _feature_protocol(protocol: dict | None, add: set[str]) -> dict:
    """A table-features protocol action that ADDS ``add`` while
    preserving everything the table already declared — a writer that
    overwrites the feature lists with only its own feature produces a
    malformed table (e.g. live deletionVector adds with no
    deletionVectors flag, which a conforming reader would then
    resurrect)."""
    feats = _implied_features(protocol) | add
    wfeats = set((protocol or {}).get("writerFeatures") or []) | feats
    return {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(feats),
        "writerFeatures": sorted(wfeats),
    }


def checkpoint_delta_v2(spark: SparkSession, path: str) -> int:
    """Compact the current snapshot into a V2 CHECKPOINT — the
    table-features form every modern Delta reader must support: a
    uuid-named top-level JSON (``N.checkpoint.<uuid>.json``) holding
    checkpointMetadata / protocol / metaData / txn actions plus
    SIDECAR references, with the O(files) add/remove state in one
    parquet sidecar under ``_delta_log/_sidecars/``. Unlike the
    classic writer, the sidecar schema carries ``deletionVector`` and
    the protocol action carries the table's reader features — so
    column-mapped and vectored tables CAN checkpoint through this
    path (the classic writer's loud gates point here). The table's
    protocol is first upgraded (one commit) to declare
    ``v2Checkpoint`` alongside its existing features, as the spec
    requires before a v2 checkpoint may be written. Returns the
    checkpointed version."""
    st = _replay_state(spark, path, None)
    feats = _implied_features(st["protocol"])
    if any(a.get("deletionVector") for a in st["adds"]):
        feats.add("deletionVectors")
    if (st["meta"].get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    ) not in ("none", ""):
        feats.add("columnMapping")
    proto = _feature_protocol(st["protocol"], feats | {"v2Checkpoint"})
    now_ms = int(os.path.getmtime(_log_dir(path)) * 1000)
    v = st["version"] + 1
    _publish_commit(
        path,
        v,
        [
            {"protocol": proto},
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "UPGRADE PROTOCOL",
                    "operationParameters": {},
                }
            },
        ],
    )
    rows = []
    for a in st["adds"]:
        dv = a.get("deletionVector")
        rows.append(
            (
                (
                    a["path"],
                    a.get("partitionValues") or {},
                    int(a.get("size", 0)),
                    int(a.get("modificationTime", 0)),
                    bool(a.get("dataChange", True)),
                    (
                        dv["storageType"],
                        dv["pathOrInlineDv"],
                        dv.get("offset"),
                        int(dv.get("sizeInBytes") or 0),
                        int(dv.get("cardinality") or 0),
                    )
                    if dv
                    else None,
                ),
                None,
            )
        )
    for r in st["tombstones"]:
        rows.append(
            (
                None,
                (
                    r["path"],
                    int(r.get("deletionTimestamp") or 0),
                    bool(r.get("dataChange", True)),
                ),
            )
        )
    scdir = os.path.join(_log_dir(path), "_sidecars")
    os.makedirs(scdir, exist_ok=True)
    stage = os.path.join(path, f".sidecar-{uuid.uuid4().hex}")
    spark.createDataFrame(rows, _SIDECAR_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(stage)
    part = [n for n in os.listdir(stage) if n.endswith(".parquet")]
    if len(part) != 1:
        raise RuntimeError(f"expected one sidecar part file, got {part}")
    sc_name = f"{uuid.uuid4().hex}.parquet"
    os.replace(os.path.join(stage, part[0]), os.path.join(scdir, sc_name))
    shutil.rmtree(stage, ignore_errors=True)
    top = [
        {"checkpointMetadata": {"version": v}},
        {"protocol": proto},
        {"metaData": st["meta"]},
    ]
    for app_id, txv in sorted(st["txns"].items()):
        top.append({"txn": {"appId": app_id, "version": int(txv)}})
    top.append(
        {
            "sidecar": {
                "path": sc_name,
                "sizeInBytes": os.path.getsize(os.path.join(scdir, sc_name)),
                "modificationTime": now_ms,
            }
        }
    )
    top_path = os.path.join(
        _log_dir(path), f"{v:020d}.checkpoint.{uuid.uuid4()}.json"
    )
    with open(top_path + ".tmp", "w") as f:
        for a in top:
            f.write(json.dumps(a) + "\n")
    os.replace(top_path + ".tmp", top_path)
    lc = os.path.join(_log_dir(path), "_last_checkpoint")
    tmp = lc + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump({"version": v, "size": len(rows) + len(top)}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, lc)
    return v


#: The classic checkpoint schema subset this writer emits (single-file
#: form). Struct fields mirror the action shapes above.
_CKPT_SCHEMA = (
    "txn struct<appId:string,version:bigint>, "
    "add struct<path:string,partitionValues:map<string,string>,size:bigint,"
    "modificationTime:bigint,dataChange:boolean>, "
    "remove struct<path:string,deletionTimestamp:bigint,dataChange:boolean>, "
    "metaData struct<id:string,format:struct<provider:string,"
    "options:map<string,string>>,schemaString:string,"
    "partitionColumns:array<string>,configuration:map<string,string>,"
    "createdTime:bigint>, "
    "protocol struct<minReaderVersion:int,minWriterVersion:int>"
)


def checkpoint_delta(spark: SparkSession, path: str) -> int:
    """Compact the current snapshot into a classic single-file parquet
    checkpoint + ``_last_checkpoint`` pointer (the form every Delta
    reader must support). Returns the checkpointed version.

    Beyond the live file list the checkpoint carries the OTHER state
    the spec requires (ADVICE r12 — dropping it breaks foreign engines
    replaying from the checkpoint after JSON cleanup): ``txn`` rows
    (latest setTransaction per appId — streaming-writer idempotency)
    and ``remove`` tombstones (vacuum safety). Tombstones are carried
    un-expired — this writer does not apply
    ``deletedFileRetentionDuration``, so a checkpoint never silently
    ages one out; extra tombstones are harmless to readers."""
    st = _replay_state(spark, path, None)
    meta, adds, v = st["meta"], st["adds"], st["version"]
    if (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    ) not in ("none", ""):
        raise ValueError(
            "checkpoint_delta: the classic checkpoint schema carries "
            "base protocol (1,2) — checkpointing a column-mapped table "
            "would drop the columnMapping feature flag; use "
            "checkpoint_delta_v2"
        )
    if any(a.get("deletionVector") for a in adds):
        raise ValueError(
            "checkpoint_delta: the classic checkpoint schema has no "
            "deletionVector column — checkpointing would RESURRECT "
            "vectored-away rows; use checkpoint_delta_v2"
        )
    rows = [
        (
            None,
            None,
            None,
            (
                meta["id"],
                (
                    meta["format"].get("provider", "parquet"),
                    meta["format"].get("options") or {},
                ),
                meta["schemaString"],
                list(meta.get("partitionColumns") or []),
                meta.get("configuration") or {},
                meta.get("createdTime"),
            ),
            None,
        ),
        (None, None, None, None, (1, 2)),
    ]
    for app_id, txv in sorted(st["txns"].items()):
        rows.append(((app_id, int(txv)), None, None, None, None))
    for a in adds:
        rows.append(
            (
                None,
                (
                    a["path"],
                    a.get("partitionValues") or {},
                    int(a.get("size", 0)),
                    int(a.get("modificationTime", 0)),
                    bool(a.get("dataChange", True)),
                ),
                None,
                None,
                None,
            )
        )
    for r in st["tombstones"]:
        rows.append(
            (
                None,
                None,
                (
                    r["path"],
                    int(r.get("deletionTimestamp") or 0),
                    bool(r.get("dataChange", True)),
                ),
                None,
                None,
            )
        )
    cp = spark.createDataFrame(rows, _CKPT_SCHEMA).coalesce(1)
    stage = os.path.join(path, f".ckpt-{uuid.uuid4().hex}")
    cp.write.mode("overwrite").parquet(stage)
    part = [
        n for n in os.listdir(stage) if n.endswith(".parquet")
    ]
    if len(part) != 1:
        raise RuntimeError(f"expected one checkpoint part file, got {part}")
    os.replace(
        os.path.join(stage, part[0]), _checkpoint_path(path, v)
    )
    shutil.rmtree(stage, ignore_errors=True)
    lc = os.path.join(_log_dir(path), "_last_checkpoint")
    tmp = lc + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump({"version": v, "size": len(rows)}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, lc)
    return v
