"""The native lakehouse as a Spark *sink* format — the Spark 4 Python
DataSource WRITER API over :mod:`spype_spark.manifest_log`.

``df.write.format("spype_lake")`` and — the flagship —
``df.writeStream.format("spype_lake")`` append into an existing
manifest table (:func:`spype_spark.lakehouse.write_table` creates it)
with the SAME commit protocol every engine verb uses: executors write
immutable parquet files (invisible until referenced), the driver-side
``commit()`` assembles one manifest carrying every base entry BY
REFERENCE plus the new entries, and publishes it put-if-absent. Cost
per microbatch is O(new rows) regardless of table size — the
minute-cadence landing-job property ``append_table`` documents, now
reachable from any Structured Streaming pipeline with zero glue code
(no foreachBatch, no driver round-trip of data).

**Exactly-once** follows Delta's transactional-sink design: each
streaming commit stamps ``txns[appId] = batchId`` into the manifest
(``appId`` defaults to the query's checkpoint location). When Spark
replays a batch after a failure (its checkpoint says the batch may
not have committed), ``commit()`` sees ``txns[appId] >= batchId`` in
the base manifest, deletes the replay's freshly written files
(orphans — the earlier attempt's files are the referenced ones), and
returns without publishing: at-least-once delivery from the engine
becomes exactly-once in the table. Concurrent writers (another
stream, a MERGE, a compaction) are handled by the protocol itself:
losing the put-if-absent race re-reads the new head and re-publishes
on top — an append composes with ANY concurrent commit because it
only adds entries.

Execution model: ``write()`` runs on executors over Arrow record
batches (`DataSourceStreamArrowWriter` — the vectorized channel),
one parquet file per task per partition value, footer stats computed
task-side exactly as the engine's own writers record them (the
Iceberg writer-report model — the driver never touches data).
``commit()``/``abort()`` run in the data-source worker, which cannot
import ``spype_spark`` — hence :mod:`manifest_log`'s by-value
registration.

The format also carries the native CHANGE DATA FEED
(``.option("readChangeFeed", "true")``, Delta's own option surface) as
both a streaming source (manifest-version offsets in Spark's
checkpoint — exactly-once restart with zero source-side state) and a
batch window reader. Change sets derive from the manifest chain alone:
per-file ``insert`` partitions for appends, per-file mask diffs for
merge-on-read deletes (the commit's new DV/equality sidecars applied
against the prior state, sequence rule intact), and a key-diff of
exactly the touched files for rewrite commits — bounded by the MERGE's
own write amplification, never the table size. Rewrite commits need
``.option("keys", "k1,k2")`` (unique per row, as in ``table_diff``);
without it they fail loudly.

Profile (loud gates, never silent corruption): the table must exist;
append only (``mode("overwrite")`` refused); schema must equal the
table's (names AND types — use MERGE ``evolve_schema`` to widen);
tables with hidden-partition transforms, CHECK constraints, renamed
columns (physical≠logical), or retired names refuse the fast path —
those verbs need engine logic the sink deliberately does not fork.
Identity partition columns ARE supported: tasks split each batch by
partition value (nulls gated) and entries carry the value for
manifest-level pruning, with the column kept in-file like every
engine write.
"""

from __future__ import annotations

import datetime
import os
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from spype_spark import manifest_log as mlog
from spype_spark.arrow_shape import shape_batches
from spype_spark.bloom import (
    BLOOM_INLINE_MAX_BITS as _BLOOM_INLINE_MAX_BITS,
    bloom_build as _bloom_build,
)

FORMAT_NAME = "spype_lake"

#: bounded optimistic-retry budget for the put-if-absent publish race
_COMMIT_RETRIES = 20


def register_lake_sink(spark) -> None:
    """Register the ``spype_lake`` sink format on a live session."""
    spark.dataSource.register(LakeSinkDataSource)


class _LakeWriteMessage(WriterCommitMessage):
    def __init__(self, entries: list[dict], files: list[str]):
        self.entries = entries  # manifest entries (relative paths)
        self.files = files  # absolute paths, for abort/duplicate cleanup


def _pv_str(v) -> str:
    """Partition value in the engine's directory-string form (what
    ``write_table``'s Hive-style shadow dirs produce)."""
    if v is None:
        raise ValueError(
            "spype_lake sink: NULL partition values are outside the "
            "sink profile — filter or default them upstream"
        )
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return str(v)


def _write_task(
    iterator, path: str, pcols: list[str], bloom_keys: list[str] = ()
) -> _LakeWriteMessage:
    """Executor side: drain the task's record batches, split by
    partition value when the table is partitioned, write one parquet
    file per group under a fresh task-uuid dir, and return the
    manifest entries (footer stats included — writer-reported, the
    driver never reads data). ``bloom_keys`` (tables opted into
    per-file Bloom filters, spype_spark.bloom) are stamped HERE, from
    the in-memory Arrow columns — the zero-extra-read model the
    engine-side driver stamp only approximates. The bloom helpers are
    MODULE-level globals (never function-local imports): they ship by
    value inside the pickled closure, the convention every worker-side
    path in this module follows."""
    import base64 as _b64

    import pyarrow as pa
    import pyarrow.parquet as pq

    batches = [b for b in iterator if b.num_rows]
    if not batches:
        return _LakeWriteMessage([], [])
    tbl = pa.Table.from_batches(batches)
    datadir = os.path.join(path, "data", f"stream-{uuid.uuid4().hex}")
    os.makedirs(datadir, exist_ok=True)
    groups: list[tuple[dict, pa.Table]] = []
    if pcols:
        combos = tbl.group_by(pcols).aggregate([]).to_pylist()
        for combo in combos:
            mask = None
            for c in pcols:
                if combo[c] is None:
                    raise ValueError(
                        "spype_lake sink: NULL partition values are "
                        "outside the sink profile"
                    )
                eq = pa.compute.equal(tbl.column(c), pa.scalar(combo[c]))
                eq = pa.compute.fill_null(eq, False)
                mask = eq if mask is None else pa.compute.and_(mask, eq)
            groups.append(
                ({c: _pv_str(combo[c]) for c in pcols}, tbl.filter(mask))
            )
    else:
        groups.append(({}, tbl))
    entries, files = [], []
    for i, (part, sub) in enumerate(groups):
        fp = os.path.join(datadir, f"part-{i:05d}.parquet")
        pq.write_table(sub, fp)
        entry = {
            "path": os.path.relpath(fp, path).replace(os.sep, "/"),
            "partition": part,
            **mlog.m_file_stats(fp),
        }
        blooms = {}
        for k in bloom_keys or ():
            if k not in sub.schema.names or not sub.num_rows:
                continue
            bf = _bloom_build(sub.column(k).to_pylist())
            if bf is None:
                continue
            if bf["m"] > _BLOOM_INLINE_MAX_BITS:
                side = os.path.join(datadir, f"part-{i:05d}.{k}.bloom")
                with open(side, "wb") as bfh:
                    bfh.write(_b64.b64decode(bf.pop("b")))
                bf["ref"] = os.path.relpath(side, path).replace(
                    os.sep, "/"
                )
                files.append(side)
            blooms[k] = bf
        if blooms:
            entry["bloom"] = blooms
        entries.append(entry)
        files.append(fp)
    return _LakeWriteMessage(entries, files)


def _gate_head_profile(m: dict, path: str) -> None:
    """Commit-time profile re-check against the (possibly rebased)
    head: engine DDL landing mid-stream must fail the NEXT commit
    loudly, never be silently dropped from the published manifest."""
    bad = [
        k
        for k in ("transforms", "constraints", "retired")
        if m.get(k)
    ]
    if any(mlog.phys(f) != f["name"] for f in m["schema"]["fields"]):
        bad.append("renamed columns")
    if bad:
        raise ValueError(
            f"spype_lake sink: the head manifest of {path} now carries "
            f"{bad} (engine DDL landed mid-stream) — outside the sink "
            f"profile; restart ingestion through lakehouse.append_table"
        )


def _check_table_profile(m: dict, schema) -> list[str]:
    """Gate the base manifest against the sink profile and the
    declared write schema; returns the table's partition columns."""
    if m.get("transforms"):
        raise ValueError(
            "spype_lake sink: table has hidden-partition transforms — "
            "append through lakehouse.append_table, which derives them"
        )
    if m.get("constraints"):
        raise ValueError(
            "spype_lake sink: table has CHECK constraints — append "
            "through lakehouse.append_table, which enforces them"
        )
    if m.get("retired"):
        raise ValueError(
            "spype_lake sink: table has retired physical columns "
            "(post-DROP) — outside the sink profile"
        )
    fields = m["schema"]["fields"]
    for f in fields:
        if mlog.phys(f) != f["name"]:
            raise ValueError(
                "spype_lake sink: table has renamed columns "
                "(physical != logical) — outside the sink profile"
            )
    from pyspark.sql.types import StructType

    table_st = StructType.fromJson(
        {
            "type": "struct",
            "fields": [
                {**f, "metadata": {}} for f in fields
            ],
        }
    )
    declared = {f.name: f.dataType.simpleString() for f in schema.fields}
    expected = {
        n: table_st[n].dataType.simpleString()
        for n in table_st.fieldNames()
    }
    if declared != expected:
        raise ValueError(
            f"spype_lake sink: stream schema {declared} != table "
            f"schema {expected}; use merge_upsert(evolve_schema=True) "
            f"to widen the table first"
        )
    return m.get("partition_by") or []


def _write_merge_sidecar(
    path: str, files: list[str], keys: list[str]
) -> tuple[str, int]:
    """Build the microbatch's equality-delete sidecar for mergeKeys
    mode: the distinct key tuples of the batch's own freshly-written
    files (read back key-columns-only — O(batch), never the table).
    Duplicate key tuples WITHIN one microbatch make the upsert
    ill-defined (which row wins?) — fail loudly, the caller dedupes
    upstream (Delta's MERGE raises on multiple matches the same
    way)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tabs = [pq.read_table(f, columns=keys) for f in files]
    kt = pa.concat_tables(tabs)
    total = kt.num_rows
    kt = kt.group_by(keys).aggregate([])
    if kt.num_rows != total:
        raise ValueError(
            f"spype_lake sink: mergeKeys microbatch carries duplicate "
            f"{keys} tuples ({total} rows, {kt.num_rows} distinct) — "
            f"dedupe upstream (keep the latest row per key) so the "
            f"upsert is well-defined"
        )
    d = os.path.join(path, "data", uuid.uuid4().hex)
    os.makedirs(d, exist_ok=True)
    fp = os.path.join(d, "delete-keys-00000.parquet")
    pq.write_table(kt, fp)
    return fp, kt.num_rows


def _commit_append(
    path: str,
    messages,
    app_id: str | None,
    batch_id: int | None,
    merge_keys: list[str] | None = None,
) -> None:
    """Driver-side commit: one manifest on top of the current head,
    base entries carried by reference (slab structure preserved —
    the engine's own :func:`manifest_log.m_manifest` assembly, so a
    microbatch into a slab-structured table rewrites only the slabs
    its entries land in, O(new rows) not O(table files)), optimistic
    retry on the put-if-absent race, idempotent on
    (app_id, batch_id) replay. An empty microbatch publishes NOTHING
    (processing-time triggers with no data must not churn versions).

    ``merge_keys`` switches the commit from APPEND to UPSERT
    (VERDICT-r14 item 3): the batch's distinct key tuples become one
    equality-delete record published UNDER THE SAME manifest commit
    as the new entries — delete-keys + append in one atomic version,
    exactly :func:`lakehouse.delete_keys`'s merge-on-read protocol.
    The record's seq equals the commit version, so it kills matching
    rows in every OLDER file and never touches the batch's own; cost
    is O(batch keys) — no table file is read or rewritten, the
    microbatch path a CDC-shaped stream needs at 100 TB. NULL key
    tuples never match (SQL anti-join semantics — a NULL-keyed batch
    row inserts without replacing anything).

    The profile gates re-check against EVERY rebased head: an engine
    DDL landing mid-stream (transforms, constraints, renames, DROP
    retirement) changes what an append must know — the sink refuses
    loudly rather than publishing a manifest that silently drops or
    violates those invariants."""
    new_entries = [
        e for msg in messages if msg is not None for e in msg.entries
    ]
    new_files = [
        f for msg in messages if msg is not None for f in msg.files
    ]
    del_file: str | None = None
    del_rows = 0

    def drop_new_files() -> None:
        files = new_files + ([del_file] if del_file else [])
        for f in files:
            try:
                os.unlink(f)
                os.rmdir(os.path.dirname(f))
            except OSError:
                pass

    if not new_entries:
        drop_new_files()
        return
    if merge_keys:
        del_file, del_rows = _write_merge_sidecar(
            path, new_files, merge_keys
        )
    for _attempt in range(_COMMIT_RETRIES):
        base = max(mlog.m_versions(path))
        m = mlog.m_load(path, base)
        _gate_head_profile(m, path)
        txns = dict(m.get("txns") or {})
        if (
            app_id is not None
            and batch_id is not None
            and int(txns.get(app_id, -1)) >= batch_id
        ):
            # replayed microbatch: the earlier attempt's commit is the
            # referenced one; this replay's files are orphans
            drop_new_files()
            return
        version = base + 1
        for e in new_entries:
            e["seq"] = version
        deletes = m.get("deletes")
        if del_file is not None:
            deletes = list(deletes or []) + [
                {
                    "path": os.path.relpath(del_file, path).replace(
                        os.sep, "/"
                    ),
                    "keys": list(merge_keys),
                    "rows": del_rows,
                    "seq": version,
                }
            ]
        op = {
            "name": (
                "STREAMING_UPSERT" if merge_keys else "STREAMING_APPEND"
            ),
            "dataChange": True,
        }
        # incremental slab append (r15): touch only the roll buckets
        # the new entries hash into — commit wall stays flat in table
        # size (the full regroup is O(all entries): measured 15→150 ms
        # from 10³→10⁴ entries, 15 s extrapolated at 10⁶)
        inc = mlog.m_append_parts(path, m, new_entries)
        if inc is not None:
            names, summaries, groupkeys = inc
            man = {
                "version": version,
                "base": base,
                "schema": m["schema"],
                "partition_by": m.get("partition_by"),
                "op": op,
                "parts": names,
                "part_summaries": summaries,
                "part_groups": groupkeys,
            }
            if m.get("bloom_keys"):
                man["bloom_keys"] = m["bloom_keys"]
            if deletes:
                man["deletes"] = deletes
            if m.get("pos_deletes"):
                man["pos_deletes"] = m["pos_deletes"]
        else:
            man = mlog.m_manifest(
                path,
                version,
                base,
                m["schema"],
                m.get("partition_by"),
                mlog.m_entries(path, m) + new_entries,
                deletes=deletes,
                pos_deletes=m.get("pos_deletes"),
                op=op,
                bloom_keys=m.get("bloom_keys"),
            )
        if app_id is not None and batch_id is not None:
            txns[app_id] = batch_id
        if txns:
            man["txns"] = txns
        # stale-base guard (same as the engine's _m_commit): retention
        # collecting our base mid-commit surfaces as retry, not as a
        # manifest with dangling carried references
        if not os.path.exists(mlog.m_path(path, base)):
            continue
        try:
            mlog.m_publish(path, version, man)
            return
        except mlog.ConcurrentWriteError:
            continue  # lost the race — rebase on the new head
    drop_new_files()
    raise mlog.ConcurrentWriteError(
        f"spype_lake sink: lost the publish race on {path} "
        f"{_COMMIT_RETRIES} times — a writer storm; back off and retry"
    )


class _LakeStreamWriter(DataSourceStreamArrowWriter):
    def __init__(
        self,
        path: str,
        pcols: list[str],
        app_id: str,
        merge_keys: list[str] | None = None,
        bloom_keys: list[str] | None = None,
    ):
        self.path = path
        self.pcols = pcols
        self.app_id = app_id
        self.merge_keys = merge_keys
        self.bloom_keys = bloom_keys or []

    def write(self, iterator):
        return _write_task(
            iterator, self.path, self.pcols, self.bloom_keys
        )

    def commit(self, messages, batchId):
        _commit_append(
            self.path, messages, self.app_id, int(batchId),
            merge_keys=self.merge_keys,
        )

    def abort(self, messages, batchId):
        for msg in messages:
            if msg is None:
                continue
            for f in msg.files:
                try:
                    os.unlink(f)
                    os.rmdir(os.path.dirname(f))
                except OSError:
                    pass


class _LakeBatchWriter(DataSourceArrowWriter):
    def __init__(
        self,
        path: str,
        pcols: list[str],
        merge_keys: list[str] | None = None,
        bloom_keys: list[str] | None = None,
    ):
        self.path = path
        self.pcols = pcols
        self.merge_keys = merge_keys
        self.bloom_keys = bloom_keys or []

    def write(self, iterator):
        return _write_task(
            iterator, self.path, self.pcols, self.bloom_keys
        )

    def commit(self, messages):
        _commit_append(
            self.path, messages, None, None, merge_keys=self.merge_keys
        )

    def abort(self, messages):
        for msg in messages:
            if msg is None:
                continue
            for f in msg.files:
                try:
                    os.unlink(f)
                    os.rmdir(os.path.dirname(f))
                except OSError:
                    pass


# ---------------------------------------------------------------------------
# streaming SOURCE — append-tail over the manifest log (the Delta
# streaming-source model: new files per version, change commits gated)
# ---------------------------------------------------------------------------


class _LakeFilePartition(InputPartition):
    def __init__(self, file: str, rename: dict):
        self.file = file
        self.rename = rename  # physical -> logical


class _LakeStreamSourceReader(DataSourceStreamReader):
    """Offsets are manifest versions: ``{"version": N}`` = versions
    ≤ N consumed. Each microbatch emits the rows of the files a
    version ADDED (entries stamped ``seq == version``). A version
    that also REMOVED entries, or changed the merge-on-read delete
    state, is a CHANGE commit (MERGE/DELETE/compaction rewrite):
    its carried-forward rewrites would duplicate already-delivered
    rows, so it FAILS the stream loudly — or is skipped wholesale
    under ``skipChangeCommits`` (Delta's own option semantics)."""

    def __init__(self, schema, options):
        self.schema = schema
        self.path = options["path"]
        self.skip_changes = (
            str(options.get("skipchangecommits", "")).lower() == "true"
        )
        #: -1 = deliver the whole table from birth; N = start after N
        self.start = int(options.get("startingversion", -1))

    def initialOffset(self):
        return {"version": self.start}

    def latestOffset(self):
        return {"version": max(mlog.m_versions(self.path))}

    def partitions(self, start, end):
        lo, hi = int(start["version"]), int(end["version"])
        parts: list[_LakeFilePartition] = []
        for v in range(lo + 1, hi + 1):
            m = mlog.m_load(self.path, v)
            entries = mlog.m_entries(self.path, m)
            rename = {
                mlog.phys(f): f["name"] for f in m["schema"]["fields"]
            }
            new = [e for e in entries if int(e.get("seq", 0)) == v]
            changed = False
            if v > 0:
                try:
                    prev = mlog.m_load(self.path, v - 1)
                except FileNotFoundError:
                    # vacuumed predecessor: append-only CANNOT be
                    # proven — a rewrite's re-added files carry seq==v
                    # and would re-deliver already-delivered rows.
                    # Loud, never a silent duplicate feed.
                    raise ValueError(
                        f"spype_lake source: version {v - 1} of "
                        f"{self.path} was vacuumed — cannot prove "
                        f"version {v} is append-only; restart the "
                        f"stream from a retained version"
                    )
                prev_entries = mlog.m_entries(self.path, prev)
                removed = {e["path"] for e in prev_entries} - {
                    e["path"] for e in entries
                }
                dels_changed = (
                    prev.get("deletes") != m.get("deletes")
                    or prev.get("pos_deletes") != m.get("pos_deletes")
                )
                changed = bool(removed) or dels_changed
            if changed:
                if self.skip_changes:
                    continue
                raise ValueError(
                    f"spype_lake source: version {v} of {self.path} is "
                    f"a CHANGE commit (rewrites or delete-state) — an "
                    f"append-tail stream would duplicate or miss rows; "
                    f"pass .option('skipChangeCommits','true') to skip "
                    f"such commits, or consume the CDF instead"
                )
            for e in new:
                parts.append(
                    _LakeFilePartition(
                        os.path.join(self.path, e["path"]), rename
                    )
                )
        return parts

    def read(self, partition):
        if partition is None:
            return
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self.schema)
        tbl = pq.read_table(partition.file)
        tbl = tbl.rename_columns(
            [partition.rename.get(c, c) for c in tbl.column_names]
        )
        n = tbl.num_rows
        if n == 0:
            return

        def resolve(name):
            if name in tbl.column_names:
                return ("col", tbl.column(name))
            return None

        yield from shape_batches(target, n, resolve)

    def commit(self, end):
        pass


# ---------------------------------------------------------------------------
# CHANGE DATA FEED — ``.option("readChangeFeed", "true")`` (Delta's own
# option surface) over the manifest chain: row-level changes per
# version, decidable from the manifests alone for append and
# merge-on-read delete commits, and from a bounded key-diff of the
# TOUCHED files for rewrite commits (MERGE / compaction).
# ---------------------------------------------------------------------------

CHANGE_TYPE_COL = "_change_type"
COMMIT_VERSION_COL = "_commit_version"


def _resolve_eq_keys(path: str, recs: list[dict], rename: dict) -> None:
    """Rekey each equality-delete record's ``keys`` from their
    DELETE-TIME logical names (which the sidecar parquet's columns
    also carry, kept as ``sel``) to the WINDOW-HEAD logical names the
    shaped tables use — physical names are frozen, so delete-time
    schema → phys → head name survives any later rename. The engine
    rejects renames while eq-deletes are PENDING, so only a
    historical window (delete → compact → rename) reaches the mapped
    branch; if the delete-time manifest was vacuumed, fall back to
    head-name containment or fail naming the rename (advice r15)."""
    cache: dict[int, dict | None] = {}
    head_names = set(rename.values())
    for r in recs:
        if r["kind"] != "eq" or "sel" in r:
            continue
        r["sel"] = list(r["keys"])
        s = int(r["seq"])
        if s not in cache:
            try:
                mm = mlog.m_load(path, s)
                cache[s] = {
                    f["name"]: mlog.phys(f)
                    for f in mm["schema"]["fields"]
                }
            except FileNotFoundError:
                cache[s] = None
        n2p = cache[s]
        if n2p is not None:
            r["keys"] = [
                rename.get(n2p.get(k, k), n2p.get(k, k))
                for k in r["keys"]
            ]
        elif not set(r["keys"]) <= head_names:
            raise ValueError(
                f"spype_lake CDF: equality-delete keys {r['keys']} "
                f"(recorded at version {s} of {path}) no longer match "
                f"the head schema — the column was renamed after the "
                f"delete and version {s}'s manifest was vacuumed, so "
                f"the historical mapping cannot be recovered"
            )


class _LakeCDFPartition(InputPartition):
    """One unit of change-feed work. ``kind``:

    - ``insert``: one NEW data file — every row is an insert (a commit's
      fresh files cannot be delete-targeted by the sequence rule).
    - ``mask``: one KEPT data file whose live-mask shrank (a
      merge-on-read delete commit) — emit the rows live under
      ``base_recs`` but dead under ``base_recs + new_recs`` as deletes.
    - ``diff``: one REWRITE commit (MERGE/compaction) — key-diff the
      live rows of the removed files (under the prev delete state)
      against the live rows of the added files (under the new state);
      bounded by the commit's own write amplification, never the table.
      A LARGE rewrite splits into ``nbuckets`` diff partitions, each
      filtering both sides to its deterministic key-hash bucket before
      joining — the change set of a big MERGE parallelizes across
      tasks instead of funneling through one (VERDICT-r14 item 2b).
      The split trades a re-read of the touched files (key columns
      decide the bucket row-wise) for bounded per-task join memory
      and N-way CPU — the object-store read fan-out a 1000-executor
      cluster wants; small commits stay one task with zero overhead.

      KEY-RANGE ROUTING (r16, VERDICT-r15 item 6): when the touched
      files are key-clustered (manifest [min, max] stats on the first
      key column partition the key space with little overlap — the
      layout a sorted/z-ordered table produces), each bucket is a key
      RANGE and its ``old_files``/``new_files`` hold ONLY the files
      whose stat envelope intersects that range (``bounds`` set). The
      hash split reads every touched file in every bucket (read
      amplification = nbuckets ×, which is why ``_DIFF_MAX_BUCKETS``
      capped it); the range split reads each file once per
      intersecting bucket, so per-bucket I/O is bounded by
      intersecting files and the bucket count scales with the rewrite
      size UNCAPPED. Overlapping layouts fall back to the hash split
      (planner-measured: accepted only when no range bucket's
      intersecting bytes exceed 2× the per-bucket target).
    """

    def __init__(
        self,
        kind: str,
        version: int,
        rename: dict,
        file: str | None = None,
        rel: str | None = None,
        base_recs: list[dict] | None = None,
        new_recs: list[dict] | None = None,
        old_files: list[tuple] | None = None,
        new_files: list[tuple] | None = None,
        keys: list[str] | None = None,
        bucket: int = 0,
        nbuckets: int = 1,
        bounds: tuple | None = None,
    ):
        self.kind = kind
        self.version = version
        self.rename = rename  # physical -> logical (this version's map)
        self.file = file
        self.rel = rel
        self.base_recs = base_recs or []
        self.new_recs = new_recs or []
        self.old_files = old_files or []  # (abs path, rel fname, recs)
        self.new_files = new_files or []
        self.keys = keys or []
        self.bucket = bucket
        self.nbuckets = max(1, nbuckets)
        #: key-range routing bounds (lo, hi) on keys[0] — row kept when
        #: lo <= k < hi; lo None = -inf AND this bucket keeps NULL keys,
        #: hi None = +inf. None = hash routing (bucket/nbuckets).
        self.bounds = bounds


#: default per-bucket target for the rewrite key-diff — one task's
#: worth of touched bytes; override with .option("diffBucketBytes", n)
_DIFF_BUCKET_BYTES = 256 * 1024 * 1024
_DIFF_MAX_BUCKETS = 64
#: sanity ceiling for RANGE-routed diff buckets (per-bucket I/O is
#: bounded by intersecting files, so the hash cap's read-amplification
#: rationale does not apply; this only bounds task-count explosion)
_DIFF_MAX_RANGE_BUCKETS = 4096


def _plan_range_buckets(
    old_entries: list[dict],
    new_entries: list[dict],
    key: str,
    total: int,
    bucket_bytes: int,
    ebytes,
) -> list[tuple] | None:
    """Key-range bucket plan for one rewrite diff, or ``None`` when the
    layout is not range-routable (missing/float/mixed-type stats on the
    first key column, or ranges overlap so much that the hash split's
    balanced buckets are the better trade).

    Returns ``[(bounds, old_idx, new_idx), ...]`` where ``bounds`` is
    the (lo, hi) slice of the key domain (None = open end; the lo=None
    bucket also keeps NULL keys) and ``old_idx``/``new_idx`` index the
    caller's entry lists — every file appears in exactly the buckets
    its [min, max] envelope intersects, plus bucket 0 when it may hold
    NULL key values (manifest ``nulls`` count positive or unrecorded).
    Row-level routing is on the key VALUE, identically on both sides,
    so full-key-equal rows always meet in one bucket and the diff's
    output is invariant to the routing (same argument as the hash
    split). ``key`` is the first key column's name as the entries'
    stats are keyed: its logical name in the step's manifest."""
    import bisect

    def span(e):
        st = (e.get("stats") or {}).get(key)
        if not st:
            return None
        mn, mx = st
        # ints and strings only: float keys can carry NaN rows, which
        # order nowhere (they would silently drop from every range);
        # the hash split handles them, so floats stay on it
        if not (
            all(
                isinstance(v, int) and not isinstance(v, bool)
                for v in (mn, mx)
            )
            or all(isinstance(v, str) for v in (mn, mx))
        ):
            return None
        nulls = (e.get("nulls") or {}).get(key)
        return (mn, mx, ebytes(e), nulls)

    spans = []
    for e in old_entries + new_entries:
        s = span(e)
        if s is None:
            return None
        spans.append(s)
    n_old = len(old_entries)
    nb = min(
        _DIFF_MAX_RANGE_BUCKETS,
        max(1, -(-total // max(1, int(bucket_bytes)))),
    )
    if nb <= 1:
        return None  # single bucket: the unbucketed path is identical
    # boundaries: greedy byte accumulation over min-sorted file spans —
    # ≈ bucket_bytes of clustered data lands between consecutive cuts
    target = max(1, -(-total // nb))
    order = sorted(range(len(spans)), key=lambda i: (spans[i][0], spans[i][1]))
    gmin = spans[order[0]][0]
    cuts: list = []
    acc = 0
    for i in order:
        mn, mx, b, _ = spans[i]
        if (
            acc >= target
            and len(cuts) < nb - 1
            and mn > (cuts[-1] if cuts else gmin)
        ):
            cuts.append(mn)
            acc = 0
        acc += b
    if not cuts:
        return None
    # acceptance: per-bucket intersecting bytes must stay bounded, or
    # the overlap makes hash routing's balanced buckets the better deal
    per = [0] * (len(cuts) + 1)
    homes: list[tuple[int, int]] = []
    for mn, mx, b, _ in spans:
        lo_b = bisect.bisect_right(cuts, mn)
        hi_b = bisect.bisect_right(cuts, mx)
        homes.append((lo_b, hi_b))
        for x in range(lo_b, hi_b + 1):
            per[x] += b
    if max(per) > 2 * max(target, int(bucket_bytes)):
        return None
    out = []
    for x in range(len(cuts) + 1):
        lo = cuts[x - 1] if x > 0 else None
        hi = cuts[x] if x < len(cuts) else None
        old_idx = []
        new_idx = []
        for i, (lo_b, hi_b) in enumerate(homes):
            hit = lo_b <= x <= hi_b
            if x == 0 and not hit:
                # NULL keys route to bucket 0: a file whose null count
                # for the key is positive or unrecorded must be read
                # there too (its in-range rows are filtered back out)
                nulls = spans[i][3]
                hit = nulls is None or nulls > 0
            if hit:
                (old_idx if i < n_old else new_idx).append(
                    i if i < n_old else i - n_old
                )
        out.append(((lo, hi), old_idx, new_idx))
    return out


def _plan_cdf_step(
    path: str,
    v: int,
    keys: list[str] | None,
    rename: dict,
    bucket_bytes: int = _DIFF_BUCKET_BYTES,
) -> list[_LakeCDFPartition]:
    """Classify one version step v-1 → v into change-feed partitions —
    pure manifest metadata, runs in the data-source worker. ``rename``
    is the physical→logical map of the WINDOW-HEAD schema (physical
    names are frozen, so it covers files written under any earlier
    logical name — pre-rename change rows surface under the declared
    schema's CURRENT names, never NULL-filled; review r14)."""
    cur = mlog.m_load(path, v)
    opm = cur.get("op") or {}
    if v > 0 and opm.get("dataChange", True) is False:
        # Delta CDF semantics: a pure LAYOUT commit (COMPACT / ZORDER /
        # OPTIMIZE stamp dataChange=false) provably leaves the live
        # row set unchanged — emit NOTHING, decided from the manifest
        # stamp alone: no data file is opened and no keys are needed,
        # where pre-r15 this path paid a full key-diff read to emit
        # zero rows (VERDICT-r14 item 2a)
        return []
    if v == 0:
        prev_entries: list[dict] = []
        prev_recs: list[dict] = []
    else:
        try:
            prev = mlog.m_load(path, v - 1)
        except FileNotFoundError:
            raise ValueError(
                f"spype_lake CDF: version {v - 1} of {path} was "
                f"vacuumed — the change set of version {v} cannot be "
                f"derived; restart the stream from a retained version"
            ) from None
        prev_entries = mlog.m_entries(path, prev)
        prev_recs = mlog.m_delete_recs(path, prev)
        _resolve_eq_keys(path, prev_recs, rename)
    cur_entries = mlog.m_entries(path, cur)
    cur_recs = mlog.m_delete_recs(path, cur)
    _resolve_eq_keys(path, cur_recs, rename)
    removed, added, affected = mlog.m_step_files(
        path, prev_entries, prev_recs, cur_entries, cur_recs
    )

    def rec_ids(recs: list[dict]) -> set[str]:
        return {r["path"] for r in recs}

    # resurrection guard: a kept file LOSING an applicable delete
    # record without being rewritten brings rows back to life — a
    # RESTORE to a version before the delete does this — so it joins
    # the key-diff path, never a mask
    shrink_only = all(
        rec_ids(mlog.m_applicable(prev_recs, e))
        <= rec_ids(mlog.m_applicable(cur_recs, e))
        for e in affected
    )

    def abs_of(e: dict) -> str:
        p = e["path"]
        return p if os.path.isabs(p) else os.path.join(path, p)

    parts: list[_LakeCDFPartition] = []
    if removed or (affected and not shrink_only):
        # a PURE removal (whole files dropped, nothing added, no kept
        # file touched) is fully derivable without keys: the new side
        # is empty, so the read path emits the old side's live rows as
        # deletes — only a genuine two-sided rewrite needs the key
        # columns (advice r15)
        if not keys and (added or affected):
            raise ValueError(
                f"spype_lake CDF: version {v} of {path} is a REWRITE "
                f"commit (files replaced) — row-level changes need the "
                f"key columns; pass .option('keys', '<k1,k2,...>') "
                f"(keys must be unique per row, as in table_diff)"
            )
        old_side = [
            (
                abs_of(e),
                mlog.m_file_key(abs_of(e)),
                mlog.m_applicable(prev_recs, e),
            )
            for e in removed + affected
        ]
        new_side = [
            (
                abs_of(e),
                mlog.m_file_key(abs_of(e)),
                mlog.m_applicable(cur_recs, e),
            )
            for e in added + affected
        ]
        if not new_side:
            # pure removal: no cross-file key interaction — one
            # delete-emitting partition PER dropped file
            for f, rel, recs in old_side:
                parts.append(
                    _LakeCDFPartition(
                        "diff",
                        v,
                        rename,
                        old_files=[(f, rel, recs)],
                        new_files=[],
                        keys=keys,
                    )
                )
            return parts

        def ebytes(e: dict) -> int:
            if "bytes" in e:
                return int(e["bytes"])
            try:
                return os.path.getsize(abs_of(e))
            except OSError:
                return 0

        total = sum(
            ebytes(e) for e in removed + added + affected + affected
        )
        # key-range routing first (r16): clustered layouts get buckets
        # whose file lists are bounded by range intersection instead of
        # every bucket re-reading every touched file. Entry stats are
        # keyed by LOGICAL name as of the manifest listing them (written
        # localized; a rename rekeys every carried entry), so the key is
        # looked up by its name in THIS version's schema — never by its
        # physical name, which after a rename plus reuse of the old
        # name is ANOTHER column's stats key (routing by that envelope
        # dropped rows from the feed). A file without stats under that
        # name sends the whole step to the hash split.
        inv_rename = {v2: k2 for k2, v2 in rename.items()}
        phys_key = inv_rename.get(keys[0], keys[0])
        step_names = {mlog.phys(f): f["name"] for f in cur["schema"]["fields"]}
        rb = _plan_range_buckets(
            removed + affected,
            added + affected,
            step_names.get(phys_key, keys[0]),
            total,
            bucket_bytes,
            ebytes,
        )
        if rb is not None:
            nb = len(rb)
            for b, (bounds, old_idx, new_idx) in enumerate(rb):
                if not old_idx and not new_idx:
                    continue  # empty key slice: nothing to diff
                parts.append(
                    _LakeCDFPartition(
                        "diff",
                        v,
                        rename,
                        old_files=[old_side[i] for i in old_idx],
                        new_files=[new_side[i] for i in new_idx],
                        keys=keys,
                        bucket=b,
                        nbuckets=nb,
                        bounds=bounds,
                    )
                )
            return parts
        nb = min(
            _DIFF_MAX_BUCKETS,
            max(1, -(-total // max(1, int(bucket_bytes)))),
        )
        for b in range(nb):
            parts.append(
                _LakeCDFPartition(
                    "diff",
                    v,
                    rename,
                    old_files=old_side,
                    new_files=new_side,
                    keys=keys,
                    bucket=b,
                    nbuckets=nb,
                )
            )
        return parts
    for e in added:
        # normal appends stamp seq == v, so no record can target them
        # — but a CLONE/BRANCH/RESTORE v0 carries entries with OLDER
        # seqs alongside repathed delete records: apply them, or the
        # feed would resurrect deleted rows as inserts (review r14)
        parts.append(
            _LakeCDFPartition(
                "insert",
                v,
                rename,
                file=abs_of(e),
                rel=mlog.m_file_key(abs_of(e)),
                base_recs=mlog.m_applicable(cur_recs, e),
            )
        )
    for e in affected:
        base = mlog.m_applicable(prev_recs, e)
        base_ids = rec_ids(base)
        new = [
            r
            for r in mlog.m_applicable(cur_recs, e)
            if r["path"] not in base_ids
        ]
        parts.append(
            _LakeCDFPartition(
                "mask",
                v,
                rename,
                file=abs_of(e),
                rel=mlog.m_file_key(abs_of(e)),
                base_recs=base,
                new_recs=new,
            )
        )
    return parts


#: per-worker LRU of decoded delete sidecars: a MoR commit touching F
#: kept files re-applies each sidecar once per mask partition, and the
#: tasks of one executor process share this cache — O(F × sidecar
#: bytes) redundant reads collapse to one read per (worker, sidecar)
#: (r15, VERDICT-r14 nit). Keyed on (path, columns, size, mtime) so a
#: rewritten path can never serve stale bytes; bounded at 16 entries
#: (sidecars are bounded by deleted rows, cleared at compaction).
_SIDECAR_CACHE: dict = {}
_SIDECAR_CACHE_MAX = 16


def _read_sidecar(path: str, columns: tuple):
    import pyarrow.parquet as pq

    st = os.stat(path)
    key = (path, columns, st.st_size, st.st_mtime_ns)
    hit = _SIDECAR_CACHE.pop(key, None)
    if hit is None:
        hit = pq.read_table(path, columns=list(columns))
    _SIDECAR_CACHE[key] = hit  # re-insert = LRU order
    while len(_SIDECAR_CACHE) > _SIDECAR_CACHE_MAX:
        _SIDECAR_CACHE.pop(next(iter(_SIDECAR_CACHE)))
    return hit


def _dead_mask(tbl, rel: str, recs: list[dict]):
    """Boolean numpy mask of ``tbl``'s rows killed by the delete
    records ``recs`` (logical column names already applied). DV
    sidecars match on the commit-relative fname; equality sidecars
    match on distinct key tuples (NULL keys never match — SQL
    anti-join semantics, which the Arrow hash join shares)."""
    import numpy as np
    import pyarrow as pa

    dead = np.zeros(tbl.num_rows, dtype=bool)
    idx = pa.array(range(tbl.num_rows), type=pa.int64())
    for r in recs:
        if r["kind"] == "pos":
            t = _read_sidecar(r["path"], ("fname", "pos"))
            import pyarrow.compute as pc

            hits = t.filter(pc.equal(t.column("fname"), rel))
            pos = np.asarray(hits.column("pos"), dtype=np.int64)
            dead[pos[pos < tbl.num_rows]] = True
        else:
            # the sidecar's columns carry their DELETE-TIME logical
            # names (r["sel"]); the shaped table carries the head's —
            # read under the recorded names, serve under the head's
            sel = r.get("sel", r["keys"])
            kt = _read_sidecar(r["path"], tuple(sel))
            kt = kt.select(sel).rename_columns(r["keys"])
            kt = kt.group_by(r["keys"]).aggregate([])
            sub = tbl.select(r["keys"]).append_column("__idx", idx)
            j = sub.join(kt, keys=r["keys"], join_type="inner")
            if j.num_rows:
                dead[np.asarray(j.column("__idx"), dtype=np.int64)] = True
    return dead


def _shaped_live(
    file: str, rel: str, recs: list[dict], rename: dict, data_schema
):
    """One data file as a pyarrow Table shaped to ``data_schema``
    (logical names, declared types, NULL-filled absences) with its
    delete state applied — the normalized unit both CDF sides diff."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(file)
    tbl = tbl.rename_columns(
        [rename.get(c, c) for c in tbl.column_names]
    )
    if recs:
        tbl = tbl.filter(pa.array(~_dead_mask(tbl, rel, recs)))
    n = tbl.num_rows
    if n == 0:
        return pa.Table.from_batches([], schema=data_schema)

    def resolve(name):
        if name in tbl.column_names:
            return ("col", tbl.column(name))
        return None

    return pa.Table.from_batches(
        list(shape_batches(data_schema, n, resolve)), schema=data_schema
    )


def _col_changed(a, b):
    """Element-wise "values differ" (NULL == NULL) for two columns.
    Vectorized for every type Arrow's ``equal`` kernel covers; nested
    types (map/struct) fall back to a python compare — rare in diff
    keys' value columns, and bounded by the commit's touched rows."""
    import pyarrow as pa
    import pyarrow.compute as pc

    try:
        eq = pc.coalesce(
            pc.equal(a, b), pc.and_(pc.is_null(a), pc.is_null(b))
        )
        if pa.types.is_floating(a.type):
            # IEEE equal(NaN, NaN) is false, but a rewrite carrying a
            # NaN unchanged is NOT an update — rescue it (review r14).
            # is_nan(NULL) is null and the non-Kleene and_/or_ kernels
            # propagate it past True/False, so coalesce each side to
            # False first or any NULL float cell poisons the row
            # (advice r15: NULL->value updates were silently dropped)
            nan_both = pc.and_(
                pc.coalesce(pc.is_nan(a), pa.scalar(False)),
                pc.coalesce(pc.is_nan(b), pa.scalar(False)),
            )
            eq = pc.or_(eq, nan_both)
        return pc.coalesce(pc.invert(eq), pa.scalar(False))
    except pa.ArrowNotImplementedError:
        av, bv = a.to_pylist(), b.to_pylist()
        return pa.array([x != y for x, y in zip(av, bv)], type=pa.bool_())


def _read_cdf_partition(part: _LakeCDFPartition, schema):
    """Executor side: yield Arrow batches of (table columns,
    ``_change_type``, ``_commit_version``) for one CDF partition."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)
    data_names = [
        f.name
        for f in schema.fields
        if f.name not in (CHANGE_TYPE_COL, COMMIT_VERSION_COL)
    ]
    data_schema = pa.schema(
        [target.field(n) for n in data_names]
    )

    def emit(tbl, change_type: str, suffix: str = ""):
        n = tbl.num_rows
        if n == 0:
            return

        def resolve(name):
            if name == CHANGE_TYPE_COL:
                return ("const", change_type)
            if name == COMMIT_VERSION_COL:
                return ("const", part.version)
            if name + suffix in tbl.column_names:
                return ("col", tbl.column(name + suffix))
            if name in tbl.column_names:
                return ("col", tbl.column(name))
            return None

        yield from shape_batches(target, n, resolve)

    if part.kind == "insert":
        live = _shaped_live(
            part.file, part.rel, part.base_recs, part.rename, data_schema
        )
        yield from emit(live, "insert")
        return
    if part.kind == "mask":
        import numpy as np
        import pyarrow.parquet as pq

        tbl = pq.read_table(part.file)
        tbl = tbl.rename_columns(
            [part.rename.get(c, c) for c in tbl.column_names]
        )
        base_dead = _dead_mask(tbl, part.rel, part.base_recs)
        new_dead = _dead_mask(tbl, part.rel, part.new_recs)
        newly = np.logical_and(new_dead, np.logical_not(base_dead))
        dead_rows = tbl.filter(pa.array(newly))
        n = dead_rows.num_rows
        if n == 0:
            return

        def resolve(name):
            if name in dead_rows.column_names:
                return ("col", dead_rows.column(name))
            return None

        shaped = pa.Table.from_batches(
            list(shape_batches(data_schema, n, resolve)),
            schema=data_schema,
        )
        yield from emit(shaped, "delete")
        return

    # kind == "diff": bounded key-diff of the touched files; a
    # bucketed partition keeps only its deterministic key-hash slice
    # of BOTH sides (same rows land in the same bucket by
    # construction), so N tasks share a big rewrite's join
    def bucket_slice(t):
        if part.nbuckets <= 1 or t.num_rows == 0:
            return t
        if part.bounds is not None:
            # key-range routing (r16): keep lo <= k < hi; the lo=None
            # (leftmost) bucket also keeps NULL keys. coalesce pins a
            # NULL comparison to False so null rows never leak into
            # other buckets (Table.filter drops null mask slots, but
            # explicit is safer than the drop behavior).
            lo, hi = part.bounds
            col = t.column(part.keys[0])
            keep = None
            if lo is not None:
                keep = pc.coalesce(
                    pc.greater_equal(col, pa.scalar(lo, type=col.type)),
                    pa.scalar(False),
                )
            if hi is not None:
                lt = pc.coalesce(
                    pc.less(col, pa.scalar(hi, type=col.type)),
                    pa.scalar(False),
                )
                keep = lt if keep is None else pc.and_(keep, lt)
            if lo is None:
                isnull = pc.is_null(col)
                keep = isnull if keep is None else pc.or_(keep, isnull)
            return t.filter(keep)
        import pandas as pd

        h = pd.util.hash_pandas_object(
            t.select(part.keys).to_pandas(), index=False
        ).to_numpy(dtype="uint64")
        return t.filter(pa.array(h % part.nbuckets == part.bucket))

    def side(files):
        tabs = [
            bucket_slice(
                _shaped_live(f, rel, recs, part.rename, data_schema)
            )
            for f, rel, recs in files
        ]
        tabs = [t for t in tabs if t.num_rows]
        if not tabs:
            return pa.Table.from_batches([], schema=data_schema)
        return pa.concat_tables(tabs)

    old = side(part.old_files)
    new = side(part.new_files)
    keys = part.keys
    bad = [k for k in keys if k not in data_names]
    if bad:
        raise ValueError(
            f"spype_lake CDF: key columns {bad} are not table columns"
        )
    if old.num_rows == 0:
        yield from emit(new, "insert")
        return
    if new.num_rows == 0:
        yield from emit(old, "delete")
        return
    value_cols = [c for c in data_names if c not in keys]
    o = old.append_column("__po", pa.repeat(True, old.num_rows))
    nw = new.append_column("__pn", pa.repeat(True, new.num_rows))
    j = o.join(
        nw,
        keys=keys,
        join_type="full outer",
        left_suffix="__o",
        right_suffix="__n",
    )
    only_new = j.filter(pc.is_null(j.column("__po")))
    yield from emit(only_new, "insert", suffix="__n")
    only_old = j.filter(pc.is_null(j.column("__pn")))
    yield from emit(only_old, "delete", suffix="__o")
    both = j.filter(
        pc.and_(
            pc.is_valid(j.column("__po")), pc.is_valid(j.column("__pn"))
        )
    )
    if both.num_rows:
        changed = None
        for c in value_cols:
            d = _col_changed(
                both.column(f"{c}__o"), both.column(f"{c}__n")
            )
            changed = d if changed is None else pc.or_(changed, d)
        if changed is None:
            return  # keys-only table: matched rows are identical
        # Table.filter drops null mask slots — a null here would
        # silently lose an update row, so pin unknown to unchanged
        upd = both.filter(pc.coalesce(changed, pa.scalar(False)))
        yield from emit(upd, "update_preimage", suffix="__o")
        yield from emit(upd, "update_postimage", suffix="__n")


def _cdf_head_rename(path: str, declared=None) -> dict:
    """physical→logical map of the CURRENT head schema — frozen
    physical names cover every file generation. With ``declared``
    (the query's resolved schema), a declared data column absent from
    the head's logical names means the table was renamed/dropped
    since the stream's checkpoint pinned its schema: fail LOUDLY
    (Delta's own streaming behavior on schema change), never
    NULL-fill a live column."""
    mh = mlog.m_load(path, max(mlog.m_versions(path)))
    rename = {mlog.phys(f): f["name"] for f in mh["schema"]["fields"]}
    if declared is not None:
        names = set(rename.values())
        missing = [
            f.name
            for f in declared.fields
            if f.name not in names
            and f.name not in (CHANGE_TYPE_COL, COMMIT_VERSION_COL)
        ]
        if missing:
            raise ValueError(
                f"spype_lake CDF: column(s) {missing} of the stream's "
                f"checkpointed schema no longer exist under {path} "
                f"(renamed or dropped mid-stream) — restart the query "
                f"to pick up the new schema"
            )
    return rename


def _cdf_plan_range(
    path: str,
    lo: int,
    hi: int,
    keys: list[str] | None,
    rename: dict,
    bucket_bytes: int = _DIFF_BUCKET_BYTES,
) -> list[_LakeCDFPartition]:
    parts: list[_LakeCDFPartition] = []
    avail = set(mlog.m_versions(path))
    for v in range(lo, hi + 1):
        if v not in avail:
            raise ValueError(
                f"spype_lake CDF: version {v} of {path} is not "
                f"committed/retained — change window unavailable"
            )
        parts.extend(
            _plan_cdf_step(path, v, keys, rename, bucket_bytes)
        )
    return parts


def _cdf_keys_opt(options: dict) -> list[str] | None:
    raw = options.get("keys")
    if not raw:
        return None
    return [c.strip() for c in str(raw).split(",") if c.strip()]


class _LakeCDFStreamReader(DataSourceStreamReader):
    """Streaming CDF: offsets are manifest versions (``{"version": N}``
    = versions ≤ N consumed), held in Spark's checkpoint — restart
    resumes exactly-once with no source-side state, exactly the
    ``delta_cdf`` contract. ``maxVersionsPerTrigger`` rate-limits
    admission (a hint, never a correctness boundary)."""

    def __init__(self, schema, options):
        self.schema = schema
        self.path = options["path"]
        self.keys = _cdf_keys_opt(options)
        self.start = int(options.get("startingversion", 0))
        self.max_versions = (
            int(options["maxversionspertrigger"])
            if "maxversionspertrigger" in options
            else None
        )
        self.bucket_bytes = int(
            options.get("diffbucketbytes", _DIFF_BUCKET_BYTES)
        )
        self._pos: int | None = None

    def initialOffset(self):
        self._pos = self.start - 1
        return {"version": self.start - 1}

    def latestOffset(self):
        head = max(mlog.m_versions(self.path))
        if self.max_versions is not None and self._pos is not None:
            head = min(head, self._pos + self.max_versions)
        self._pos = head
        return {"version": head}

    def partitions(self, start, end):
        lo, hi = int(start["version"]), int(end["version"])
        if self._pos is None or self._pos < hi:
            self._pos = hi
        if hi <= lo:
            return []
        rename = _cdf_head_rename(self.path, declared=self.schema)
        return _cdf_plan_range(
            self.path, lo + 1, hi, self.keys, rename, self.bucket_bytes
        )

    def read(self, partition):
        if partition is None:
            return
        yield from _read_cdf_partition(partition, self.schema)

    def commit(self, end):
        pass


class _LakeCDFBatchReader(DataSourceReader):
    """Batch CDF window ``[startingVersion, endingVersion]`` — the
    same plan/read units as the stream, one frame."""

    def __init__(self, schema, options):
        self.schema = schema
        self.path = options["path"]
        self.keys = _cdf_keys_opt(options)
        self.start = int(options.get("startingversion", 0))
        self.end = (
            int(options["endingversion"])
            if "endingversion" in options
            else None
        )
        self.bucket_bytes = int(
            options.get("diffbucketbytes", _DIFF_BUCKET_BYTES)
        )

    def partitions(self):
        end = self.end
        if end is None:
            end = max(mlog.m_versions(self.path))
        rename = _cdf_head_rename(self.path)
        return _cdf_plan_range(
            self.path, self.start, end, self.keys, rename,
            self.bucket_bytes,
        )

    def read(self, partition):
        if partition is None:
            return
        yield from _read_cdf_partition(partition, self.schema)


class LakeSinkDataSource(DataSource):
    """``format("spype_lake")`` — batch + streaming sink into an
    existing native manifest table: APPEND by default, UPSERT with
    ``.option("mergeKeys", "k1,k2")`` (the batch's keys become an
    equality-delete record under the SAME commit as its files — a
    merge-on-read upsert, O(batch), no table rewrite). Options:
    ``path`` (table root, required), ``txnAppId`` (streaming
    idempotence key; defaults to the query's checkpoint location),
    ``mergeKeys``, ``createTableIfAbsent``, ``partitionedBy``."""

    @classmethod
    def name(cls):
        return FORMAT_NAME

    def _cdf(self) -> bool:
        opts = {k.lower(): v for k, v in self.options.items()}
        return str(opts.get("readchangefeed", "")).lower() == "true"

    def schema(self):
        from pyspark.sql.types import StructType

        path = self.options.get("path")
        if not path:
            raise ValueError(
                "spype_lake requires .option('path', <table root>)"
            )
        m = mlog.m_load(path, max(mlog.m_versions(path)))
        st = StructType.fromJson(
            {
                "type": "struct",
                "fields": [
                    {**f, "metadata": {}} for f in m["schema"]["fields"]
                ],
            }
        )
        if self._cdf():
            st.add(CHANGE_TYPE_COL, "string", False)
            st.add(COMMIT_VERSION_COL, "long", False)
        return st

    def reader(self, schema):
        if self._cdf():
            opts = {k.lower(): v for k, v in self.options.items()}
            opts["path"] = self.options["path"]
            return _LakeCDFBatchReader(schema, opts)
        raise ValueError(
            "spype_lake batch reads go through the JVM scan path — use "
            "lakehouse.read_table / scan_table (predicate and partition "
            "pruning, WholeStageCodegen); the Python format exists for "
            "the STREAMING halves, where no JVM alternative exists "
            "(pass .option('readChangeFeed','true') for the batch CDF "
            "window, which has no JVM twin)"
        )

    def streamReader(self, schema):
        opts = {k.lower(): v for k, v in self.options.items()}
        path = self.options.get("path")
        if not path:
            raise ValueError(
                "spype_lake requires .option('path', <table root>)"
            )
        opts["path"] = path
        if self._cdf():
            return _LakeCDFStreamReader(schema, opts)
        return _LakeStreamSourceReader(schema, opts)

    def _prep(self, schema):
        path = self.options.get("path")
        if not path:
            raise ValueError(
                "spype_lake requires .option('path', <table root>) or "
                ".save(<table root>)"
            )
        try:
            versions = mlog.m_versions(path)
        except FileNotFoundError:
            versions = []
        if not versions:
            if str(
                self.options.get("createtableifabsent", "")
            ).lower() != "true":
                raise ValueError(
                    f"spype_lake sink: {path} is not an existing "
                    f"manifest table — create it with "
                    f"lakehouse.write_table, or pass "
                    f".option('createTableIfAbsent', 'true')"
                )
            pcols, bkeys = self._create_v0(path, schema)
            return path, pcols, bkeys
        m = mlog.m_load(path, max(versions))
        pcols = _check_table_profile(m, schema)
        return path, pcols, list(m.get("bloom_keys") or [])

    def _create_v0(self, path: str, schema) -> list[str]:
        """First-write table creation (the Delta-sink convention): one
        EMPTY v0 manifest from the declared schema, published
        put-if-absent so racing creators fail loudly. Identity
        partition columns come from ``partitionedBy`` (comma list)."""
        import json as _json

        raw = self.options.get("partitionedby") or ""
        pcols = [c.strip() for c in str(raw).split(",") if c.strip()]
        names = {f.name for f in schema.fields}
        bad = [c for c in pcols if c not in names]
        if bad:
            raise ValueError(
                f"spype_lake sink: partitionedBy columns {bad} not in "
                f"the stream schema"
            )
        braw = self.options.get("bloomkeys") or ""
        bkeys = [c.strip() for c in str(braw).split(",") if c.strip()]
        tn = {f.name: f.dataType.typeName() for f in schema.fields}
        badb = [
            c
            for c in bkeys
            if tn.get(c) not in ("string", "long", "integer", "short", "byte")
            or c in pcols
        ]
        if badb:
            raise ValueError(
                f"spype_lake sink: bloomKeys columns {badb} are "
                f"missing, non-string/integral, or partition columns"
            )
        schema_json = _json.loads(schema.json())
        for f in schema_json["fields"]:
            f["metadata"] = {}
        os.makedirs(path, exist_ok=True)
        # publish the empty v0 manifest put-if-absent, so racing
        # creators fail
        v0 = {
            "version": 0,
            "base": None,
            "schema": schema_json,
            "partition_by": pcols or None,
            "files": [],
        }
        if bkeys:
            v0["bloom_keys"] = bkeys
        mlog.m_publish(path, 0, v0)
        return pcols, bkeys

    def _merge_keys(self, schema) -> list[str] | None:
        """Parse + validate ``.option("mergeKeys", "k1,k2")`` — the
        sink's UPSERT mode (delete-keys + append under one manifest
        commit, see :func:`_commit_append`)."""
        raw = self.options.get("mergekeys")
        if not raw:
            return None
        keys = [c.strip() for c in str(raw).split(",") if c.strip()]
        names = {f.name for f in schema.fields}
        bad = [k for k in keys if k not in names]
        if bad:
            raise ValueError(
                f"spype_lake sink: mergeKeys columns {bad} not in the "
                f"stream schema {sorted(names)}"
            )
        return keys

    def writer(self, schema, overwrite):
        if overwrite:
            raise ValueError(
                "spype_lake sink is APPEND-only — use "
                "lakehouse.write_table to replace a table"
            )
        path, pcols, bkeys = self._prep(schema)
        return _LakeBatchWriter(
            path, pcols, self._merge_keys(schema), bkeys
        )

    def streamWriter(self, schema, overwrite):
        if overwrite:
            raise ValueError("spype_lake streaming sink is APPEND-only")
        path, pcols, bkeys = self._prep(schema)
        app_id = (
            self.options.get("txnappid")
            or self.options.get("checkpointlocation")
            or f"spype-lake-{uuid.uuid4().hex}"
        )
        return _LakeStreamWriter(
            path, pcols, str(app_id), self._merge_keys(schema), bkeys
        )


# Ship the classes and this module's code inside the pickle — the
# data-source workers cannot import spype_spark.
try:  # pragma: no cover
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
except Exception:  # pragma: no cover
    pass
