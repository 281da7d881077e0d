"""Pure-Python manifest-log primitives of the native lakehouse
format — NO pyspark imports.

The commit-protocol core of :mod:`spype_spark.lakehouse` (version
listing, manifest load/entry resolution, the put-if-absent publish,
parquet-footer entry stats, the schema physical-name map), extracted
so it can run where a SparkSession does not exist: the Spark 4 Python
DataSource WRITER workers behind :mod:`spype_spark.lake_sink`, whose
``commit(messages, batchId)`` assembles and publishes a manifest in
the data-source worker process. Registered for cloudpickle BY-VALUE
pickling (the delta_log/iceberg_log pattern) so pickled writer objects
ship this code to workers that cannot import ``spype_spark``.

:mod:`spype_spark.lakehouse` imports these names under its historical
private aliases — one implementation of the commit protocol, both
execution contexts.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import uuid

class ConcurrentWriteError(RuntimeError):
    """A concurrent writer committed the version this mutation was
    based on. The table is uncorrupted; re-read and retry the whole
    mutation (optimistic concurrency, as in Delta/Iceberg commits)."""


_MANIFEST_RE = re.compile(r"^v=(\d+)\.json$")

#: schema-field metadata key naming the physical (in-file) column —
#: the column-mapping channel RENAME rides on
_PHYS_KEY = "spype_physical"


def m_path(path: str, version: int) -> str:
    return os.path.join(path, "_manifests", f"v={version}.json")


def m_versions(path: str) -> list[int]:
    mdir = os.path.join(path, "_manifests")
    if not os.path.isdir(mdir):
        return []
    out = []
    for n in os.listdir(mdir):
        m = _MANIFEST_RE.match(n)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def m_load(path: str, version: int) -> dict:
    p = m_path(path, version)
    if not os.path.exists(p):
        raise FileNotFoundError(f"version {version} not committed under {path}")
    with open(p) as f:
        return json.load(f)


_PART_INLINE_MAX = 64
# max manifest part slabs per data-commit uuid (see _m_write_parts)
_SLAB_MAX_GROUPS = 64


def m_entries(path: str, m: dict) -> list[dict]:
    """Resolve a manifest's file entries — inline ``files`` for small
    tables, concatenated part slabs otherwise."""
    if "files" in m:
        return m["files"]
    out: list[dict] = []
    for name in m["parts"]:
        with open(os.path.join(path, "_manifests", name)) as f:
            out.extend(json.load(f))
    return out


def m_publish(path: str, version: int, manifest: dict) -> None:
    """Put-if-absent publish of a complete manifest: write + fsync a
    temp file, then ``os.link`` it to ``v=N.json`` — atomic, and EEXIST
    means a concurrent writer won this version. On an object store this
    whole function is one conditional PUT of the manifest object; there
    is deliberately NO directory rename anywhere in the protocol, so a
    non-atomic rename primitive cannot half-publish a version — the
    manifest either exists (complete by construction) or doesn't."""
    mdir = os.path.join(path, "_manifests")
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, m_path(path, version))
    except FileExistsError as exc:
        os.unlink(tmp)
        raise ConcurrentWriteError(
            f"version {version} of {path} was committed concurrently "
            f"(base version is stale); re-read and retry"
        ) from exc
    os.unlink(tmp)


def usable_stat_pair(lo, hi) -> bool:
    """True when a footer (min, max) pair is sound prune material:
    finite numerics (exact in parquet footers), or a str pair. String
    stats are safe even when the writer truncated them — the parquet
    spec requires truncated min to stay a valid LOWER bound (prefix
    truncation only decreases) and truncated max a valid UPPER bound
    (truncate-then-increment), so the recorded interval always contains
    the true one, and pruning needs containment, not exactness. Python
    str comparison (code points) matches Spark's UTF8 binary string
    ordering, so driver-side interval tests agree with ``between()``.
    bool is excluded — an int subclass but not key material; bytes are
    excluded (binary columns are payloads, not keys)."""
    import math

    if all(isinstance(v, str) for v in (lo, hi)):
        return True
    return all(
        isinstance(v, (int, float)) and not isinstance(v, bool)
        for v in (lo, hi)
    ) and all(math.isfinite(float(v)) for v in (lo, hi))


def m_file_stats(fpath: str) -> dict:
    """Manifest entry metadata for one data file: row count + per-column
    [min, max] from the parquet footer — finite numerics and strings
    (see :func:`usable_stat_pair` for why possibly-truncated string
    stats are still sound bounds; bools/bytes are not key material).
    A driver-side metadata read at commit time; at cluster scale the
    same numbers come back with the executor write results (as
    Iceberg's writers report them), identical content."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fpath).metadata
    stats: dict[str, list] = {}
    nulls: dict[str, int] = {}
    for i in range(md.num_columns):
        name = md.schema.column(i).name
        if "." in name:
            continue  # nested leaf — not a top-level prune key
        lo = hi = None
        ok = True
        nc = 0
        nc_ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None:
                ok = nc_ok = False
                break
            if st.has_null_count:
                nc += st.null_count
            else:
                nc_ok = False
            if not st.has_min_max:
                ok = False
                continue
            mn, mx = st.min, st.max
            if not usable_stat_pair(mn, mx) or (
                lo is not None and type(mn) is not type(lo)
            ):
                ok = False
                continue
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        if ok and lo is not None:
            stats[name] = [lo, hi]
        if nc_ok:
            # exact per-file null count (footers record it even for
            # all-null columns, where min/max is absent) — the material
            # for IS [NOT] NULL file pruning in scan_table
            nulls[name] = nc
    return {
        "rows": md.num_rows,
        # on-disk size, the bin-packing material for selective
        # OPTIMIZE (entries written before this key existed fall back
        # to a stat() at planning time)
        "bytes": os.path.getsize(fpath),
        "stats": stats,
        "nulls": nulls,
    }


def phys(f: dict) -> str:
    """Physical (in-file) column name of one schema-JSON field."""
    return (f.get("metadata") or {}).get(_PHYS_KEY, f["name"])


def col_map(schema_json: dict) -> dict[str, str]:
    """``{logical name: physical name}`` for a manifest schema."""
    return {f["name"]: phys(f) for f in schema_json["fields"]}


def m_delete_recs(path: str, m: dict) -> list[dict]:
    """Delete-state records of one manifest: sidecar path under the
    table root (absolute when the manifest lists it so), kind (``eq``
    equality-delete keys / ``pos`` positional DV), the commit seq, and
    ``reach``: the highest data-file seq the record can touch.

    An equality delete reaches the files of OLDER commits (``seq - 1``,
    the sequence rule). A DV names only files live at its base; its
    writer records the highest seq among them, because on a branch the
    fork-carried files keep the parent's seqs, which can exceed the
    branch-local seq of the DV that names them (a DV record written
    without a ``reach`` falls back to ``seq - 1``)."""
    recs = [
        {
            "path": os.path.join(path, d["path"]),
            "kind": "eq",
            "keys": list(d["keys"]),
            "seq": int(d["seq"]),
            "reach": int(d["seq"]) - 1,
        }
        for d in m.get("deletes") or []
    ]
    recs += [
        {
            "path": os.path.join(path, d["path"]),
            "kind": "pos",
            "seq": int(d["seq"]),
            "reach": int(d.get("reach", int(d["seq"]) - 1)),
        }
        for d in m.get("pos_deletes") or []
    ]
    return recs


def m_applicable(recs: list[dict], entry: dict) -> list[dict]:
    """The delete records that can touch ``entry``: those whose
    ``reach`` covers the seq of the commit that wrote it."""
    s = int(entry.get("seq", 0))
    return [r for r in recs if r["reach"] >= s]


#: Spark spelling of the file key: ``regexp_extract(_metadata.file_path,
#: FILE_KEY_RE, 1)`` (``lakehouse._m_open_files``). The first branch
#: keeps what follows the first ``/data/``; the second strips the URI
#: scheme (and authority) of a path with none, leaving it absolute.
FILE_KEY_RE = r"^(?:.*?/data/|[A-Za-z][A-Za-z0-9+.-]*:(?://[^/]*)?)(.*)$"

# characters java.net.URI leaves unquoted in a path (unreserved, ":@&=+$,"
# and ";" "/"); Spark's _metadata.file_path spells paths that way
_URI_PATH_SAFE = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    "-_.!~*'():@&=+$,;/"
)


def m_file_key(file_path: str) -> str:
    """The row-identity key positional deletes anchor to: everything
    after the FIRST ``/data/`` of the file's absolute path, spelled as
    Spark's ``_metadata.file_path`` spells it (URI-quoted: a space reads
    ``%20``, a ``%`` reads ``%25``). Normally that is the file's
    COMMIT-RELATIVE path ``<commit-uuid>/<partition dirs>/<part file>``,
    unique by the commit uuid and invariant under clones and branches.
    A file outside any ``data/`` tree (a by-reference import of an
    unpartitioned Delta table) keys by its whole absolute path, so
    every listed file keeps a key of its own. The Python twin of
    :data:`FILE_KEY_RE`: the scan, the delete kernel's seq map, the
    CDF sink and ``export_delta`` all key files by it."""
    q = os.path.abspath(file_path)
    if not _URI_PATH_SAFE.issuperset(q):
        q = "".join(
            ch
            if ch in _URI_PATH_SAFE
            or (ord(ch) > 127 and ch.isprintable() and not ch.isspace())
            else "".join("%%%02X" % b for b in ch.encode())
            for ch in q
        )
    return q.split("/data/", 1)[1] if "/data/" in q else q


def m_step_files(
    path: str,
    old_entries: list[dict],
    old_recs: list[dict],
    new_entries: list[dict],
    new_recs: list[dict],
) -> tuple[list[dict], list[dict], list[dict]]:
    """The files a step between two manifests of one table touched:
    ``(removed, added, affected)``.

    An entry listed by both manifests (same resolved path, same seq) is
    KEPT. A kept entry whose applicable delete records are the same on
    both sides holds the same live rows on both, so no change can come
    from it. The rest are AFFECTED (returned as the new side's entry):
    the step gave them a delete record, or took one away. ``removed``
    and ``added`` are the entries only the old or only the new manifest
    lists."""

    def _by(entries):
        # clone and branch entries are absolute, the rest table-relative
        return {
            (os.path.abspath(os.path.join(path, e["path"])), e.get("seq")): e
            for e in entries
        }

    def _ids(recs, e):
        return {r["path"] for r in m_applicable(recs, e)}

    old_by, new_by = _by(old_entries), _by(new_entries)
    removed = [e for k, e in old_by.items() if k not in new_by]
    added = [e for k, e in new_by.items() if k not in old_by]
    affected = [
        e
        for k, e in new_by.items()
        if k in old_by and _ids(old_recs, e) != _ids(new_recs, e)
    ]
    return removed, added, affected


def m_part_key(entry: dict) -> str:
    """Grouping key for manifest parts: the entry's data-commit uuid
    directory + its partition tuple. Both components are IMMUTABLE for
    the life of the entry (files never move; partition values are in
    the path), so a group's membership only changes when a mutation
    actually rewrites one of its files — which is exactly when its
    part must be rewritten anyway."""
    seg = entry["path"].split("/")
    # the commit-uuid dir follows the LAST "data" path segment; handles
    # both root-relative ("data/<uid>/...") and absolute entry paths
    # (branch manifests reference parent data by absolute path)
    uid = seg[0]
    for i in range(len(seg) - 2, -1, -1):
        if seg[i] == "data":
            uid = seg[i + 1]
            break
    part = ",".join(f"{k}={v}" for k, v in sorted(entry["partition"].items()))
    return f"{uid}|{part}"


def m_slab_summary(group: list[dict]) -> dict:
    """Slab-level pruning summary — a sound over-approximation of one
    part slab's entries, computed once at write time so scan planning
    can refute WHOLE SLABS from the manifest pointer list without
    JSON-decoding their entries (the Iceberg manifest-list partition
    summaries, re-derived for this protocol). Soundness contract: the
    summary, viewed as a pseudo manifest entry, must evaluate "maybe"
    under :func:`_pred_compile` whenever ANY member entry would — so
    every field is either an envelope/sum over all members or omitted:

    - ``partition``: only columns whose recorded value is IDENTICAL
      across every member (always true for natural partition-grouped
      slabs; rebucketed slabs drop mixed columns → unprunable, kept).
    - ``stats``: per-column [min, max] envelope, only when every
      member records comparable stats on the column.
    - ``nulls`` / ``rows``: SUMS — sound for both null-leaf directions
      (sum > 0 iff any member may hold a NULL; sum < total rows iff
      any member may hold a non-NULL) and for the all-NULL refutation.
    - ``seq``: [min, max] commit-sequence envelope for ``since=``.
    """
    first = group[0]
    part = dict(first.get("partition") or {})
    for e in group[1:]:
        ep = e.get("partition") or {}
        for c in list(part):
            if ep.get(c) != part[c] or part[c] is None:
                del part[c]
    stats: dict[str, list] = {}
    for c, st in (first.get("stats") or {}).items():
        lo, hi = st
        ok = lo is not None and hi is not None
        for e in group[1:]:
            est = e.get("stats", {}).get(c)
            if est is None or est[0] is None or est[1] is None:
                ok = False
                break
            try:
                lo = min(lo, est[0])
                hi = max(hi, est[1])
            except TypeError:
                ok = False
                break
        if ok:
            stats[c] = [lo, hi]
    rows = 0
    rows_ok = True
    for e in group:
        r = e.get("rows")
        if r is None:
            rows_ok = False
            break
        rows += r
    nulls: dict[str, int] = {}
    for c in (first.get("nulls") or {}):
        tot = 0
        ok = True
        for e in group:
            nc = e.get("nulls", {}).get(c)
            if nc is None:
                ok = False
                break
            tot += nc
        if ok:
            nulls[c] = tot
    seqs = [e.get("seq", 0) for e in group]
    out: dict = {"seq": [min(seqs), max(seqs)]}
    if part:
        out["partition"] = part
    if stats:
        out["stats"] = stats
    if nulls:
        out["nulls"] = nulls
    if rows_ok:
        out["rows"] = rows
    return out


def m_write_parts(
    path: str, entries: list[dict]
) -> tuple[list[str], dict[str, dict]]:
    """Write manifest PART files — content-addressed slabs of entries,
    grouped by :func:`m_part_key` — and return ``(filenames,
    {filename: slab summary})`` (see :func:`m_slab_summary`; the
    summaries ride in the manifest pointer object so planning can
    prune slabs before opening them).

    This is the Iceberg manifest-list idea expressed with the same
    single primitive as everything else: a part's name is the sha1 of
    its canonical JSON, published write-if-absent, so a commit whose
    carry-over leaves a group untouched reproduces the IDENTICAL part
    file name and writes NOTHING for it (EEXIST = free dedup). Commit
    metadata cost is therefore O(changed groups + 1 manifest), not
    O(total files) — at 10⁶ files across 10³ partitions a MERGE
    touching one partition writes one slab and one pointer list, while
    an inline file list would rewrite hundreds of MB of JSON per
    commit."""
    mdir = os.path.join(path, "_manifests")
    os.makedirs(mdir, exist_ok=True)
    groups: dict[str, list[dict]] = {}
    for e in entries:
        groups.setdefault(m_part_key(e), []).append(e)
    # Cap the metadata-file count: a commit spanning thousands of
    # partitions would otherwise emit one slab PER PARTITION and every
    # scan's planning would pay O(partitions) file opens (measured:
    # ~0.1 ms/entry at 3k one-entry slabs). Commits whose group count
    # exceeds _SLAB_MAX_GROUPS rebucket by sha(partition) — stable per
    # entry, so untouched buckets of a carried commit still reproduce
    # identical slab names (content-address dedup); a rewrite touching
    # one partition rewrites one bucket (~1/_SLAB_MAX_GROUPS of that
    # commit's entries) instead of one partition-slab — the bounded
    # trade for bounded planning fan-in.
    by_uid: dict[str, int] = {}
    for key in groups:
        uid = key.split("|", 1)[0]
        by_uid[uid] = by_uid.get(uid, 0) + 1
    over = {u for u, n in by_uid.items() if n > _SLAB_MAX_GROUPS}
    if over:
        rebucketed: dict[str, list[dict]] = {}
        for key, es in groups.items():
            uid, part = key.split("|", 1)
            if uid in over:
                b = (
                    int(hashlib.sha1(part.encode()).hexdigest()[:8], 16)
                    % _SLAB_MAX_GROUPS
                )
                rebucketed.setdefault(f"{uid}|b{b}", []).extend(es)
            else:
                rebucketed.setdefault(key, []).extend(es)
        groups = rebucketed
    # Roll-up across commits (round 14): a long run of SMALL commits —
    # a minute-cadence streaming sink or landing job — would otherwise
    # accumulate one slab PER COMMIT forever, and every scan's planning
    # would pay O(commits) slab opens. When the group count crosses the
    # planning cap, groups smaller than the inline threshold merge into
    # ≤ _SLAB_MAX_GROUPS roll-up buckets keyed by sha(group key) —
    # stable per key, so an untouched bucket reproduces the identical
    # content-addressed slab and writes NOTHING; a new commit's entries
    # land in one bucket, rewriting one slab of ~(small entries /
    # _SLAB_MAX_GROUPS). Large groups (compaction output, backfills)
    # keep their own partition-pure slabs and summaries.
    if len(groups) > _SLAB_MAX_GROUPS:
        small = [
            k for k, g in groups.items() if len(g) < _PART_INLINE_MAX
        ]
        if len(small) > 1:
            rolled: dict[str, list[dict]] = {}
            for k in small:
                b = (
                    int(hashlib.sha1(k.encode()).hexdigest()[:8], 16)
                    % _SLAB_MAX_GROUPS
                )
                rolled.setdefault(f"roll|b{b}", []).extend(groups.pop(k))
            groups.update(rolled)
    names = []
    summaries: dict[str, dict] = {}
    groupkeys: dict[str, str] = {}
    for key, group in sorted(groups.items()):
        group = sorted(group, key=lambda e: e["path"])
        name = _m_write_slab(mdir, group)
        names.append(name)
        # pure function of slab content — identical for a carried slab,
        # so content-address dedup across commits stays exact
        summaries[name] = m_slab_summary(group)
        groupkeys[name] = key
    return names, summaries, groupkeys


def _m_write_slab(mdir: str, group: list[dict]) -> str:
    """Write one content-addressed slab (write-if-absent; EEXIST =
    free dedup) and return its filename. ``group`` must already be
    path-sorted so identical content always produces one name."""
    payload = json.dumps(group, sort_keys=True)
    name = f"part-{hashlib.sha1(payload.encode()).hexdigest()}.json"
    final = os.path.join(mdir, name)
    if not os.path.exists(final):
        tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final)
        except FileExistsError:
            pass  # concurrent writer produced the same content
        os.unlink(tmp)
    return name


def m_append_parts(
    path: str, m: dict, new_entries: list[dict]
) -> tuple[list[str], dict[str, dict], dict[str, str]] | None:
    """INCREMENTAL slab append (r15): extend a slab-structured base
    manifest with ``new_entries`` touching ONLY the roll buckets the
    new entries hash into — O(new + touched-bucket) per commit where
    the full :func:`m_write_parts` regroup is O(all entries). This is
    what keeps a minute-cadence streaming sink's commit wall FLAT in
    table size: the 10⁴-commit probe showed the full regroup's
    serialize+hash growing linearly with the entry count (15 → 150 ms
    from 10³ → 10⁴ entries — 15 s extrapolated at 10⁶).

    Requires the base manifest to carry ``part_groups`` (name → group
    key, stamped by every r15+ commit) — returns None otherwise and
    the caller falls back to the full path (one full regroup upgrades
    any older table). The produced layout may differ from what a full
    regroup would build (new entries always land in roll buckets);
    ANY partition of the entries into slabs is a valid manifest — the
    summaries are computed per slab, readers just concatenate, and
    the next full-path commit (MERGE, OPTIMIZE) regroups at will.
    Returns ``(names, summaries, part_groups)``."""
    parts = m.get("parts")
    pg = m.get("part_groups")
    sums = m.get("part_summaries")
    if (
        not parts
        or not pg
        or not sums
        or set(pg) != set(parts)
        or set(sums) != set(parts)
    ):
        return None
    mdir = os.path.join(path, "_manifests")
    os.makedirs(mdir, exist_ok=True)
    add: dict[str, list[dict]] = {}
    for e in new_entries:
        k = m_part_key(e)
        b = (
            int(hashlib.sha1(k.encode()).hexdigest()[:8], 16)
            % _SLAB_MAX_GROUPS
        )
        add.setdefault(f"roll|b{b}", []).append(e)
    names = list(parts)
    summaries = dict(sums)
    groupkeys = dict(pg)
    by_key: dict[str, str] = {}
    for nm in parts:
        by_key.setdefault(pg[nm], nm)
    for bkey, es in sorted(add.items()):
        old = by_key.get(bkey)
        if old is not None:
            with open(os.path.join(mdir, old)) as f:
                group = json.load(f)
        else:
            group = []
        group = sorted(group + es, key=lambda e: e["path"])
        name = _m_write_slab(mdir, group)
        if old is not None:
            names[names.index(old)] = name
            summaries.pop(old, None)
            groupkeys.pop(old, None)
        else:
            names.append(name)
        summaries[name] = m_slab_summary(group)
        groupkeys[name] = bkey
        by_key[bkey] = name
    return names, summaries, groupkeys


def m_manifest(
    path: str,
    version: int,
    base: int | None,
    schema_json: dict | None,
    pcols: list[str] | None,
    entries: list[dict],
    deletes: list[dict] | None = None,
    retired: list[str] | None = None,
    constraints: dict | None = None,
    transforms: list[dict] | None = None,
    pos_deletes: list[dict] | None = None,
    op: dict | None = None,
    bloom_keys: list[str] | None = None,
) -> dict:
    """Assemble a manifest payload: entries inline while the table is
    small (≤ ``_PART_INLINE_MAX`` files — keeps tiny tables one
    object), content-addressed part slabs beyond. Part files are
    unreferenced until the manifest naming them lands, so writing them
    here needs no atomicity (the standard invisibility argument).
    ``deletes`` (cumulative equality-delete files, see
    :func:`delete_keys`) ride inline — they are few by construction
    (compaction clears them). ``op`` is the commit's operation stamp
    ``{"name": <verb>, "dataChange": bool}`` (Delta's commitInfo
    operation + the add-action dataChange flag collapsed to one
    commit-level field): ``dataChange=False`` marks a pure LAYOUT
    rewrite (compaction, z-order) whose live row set is provably
    unchanged — change-feed planners skip such commits at PLAN time
    without reading a data file. Absent = assume data changed
    (pre-r15 manifests)."""
    man = {
        "version": version,
        "base": base,
        "schema": schema_json,
        "partition_by": pcols,
    }
    if op:
        man["op"] = {
            "name": str(op.get("name", "UNKNOWN")),
            "dataChange": bool(op.get("dataChange", True)),
        }
    if deletes:
        man["deletes"] = deletes
    if retired:
        man["retired"] = sorted(set(retired))
    if constraints:
        man["constraints"] = constraints
    if transforms:
        man["transforms"] = transforms
    if pos_deletes:
        man["pos_deletes"] = pos_deletes
    if bloom_keys:
        # table-lifetime Bloom opt-in (see spype_spark.bloom): the
        # columns whose per-file filters every data-writing commit
        # stamps into its new entries
        man["bloom_keys"] = list(bloom_keys)
    if len(entries) <= _PART_INLINE_MAX:
        man["files"] = entries
    else:
        names, summaries, groupkeys = m_write_parts(path, entries)
        man["parts"] = names
        man["part_summaries"] = summaries
        # name → group key: what the r15 incremental slab append
        # (m_append_parts) needs to extend one bucket without the
        # O(all entries) regroup; readers ignore it
        man["part_groups"] = groupkeys
    return man


# Ship this module's code inside pickled objects — the
# delta_log/iceberg_log/roaring pattern.
try:  # pragma: no cover
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
except Exception:  # pragma: no cover
    pass
