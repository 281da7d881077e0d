"""Multi-table ACID transactions over manifest lakehouse tables.

SURVEY.md §2.B lakehouse ops — the capability a single-table commit
protocol cannot give: mutate SEVERAL tables and have readers see all
of it or none of it. The design is the catalog-commit-log model every
production format converges on (Iceberg's atomic catalog swap, Delta's
unified commit coordinator), re-expressed over this repo's manifest
protocol with exactly ONE storage primitive: put-if-absent.

Layout::

    <root>/
      _log/t=N.json        transaction records (put-if-absent)
      tables/<name>/       ordinary manifest-protocol tables

A transaction record maps every table name to the EXACT manifest
version a reader of that transaction sees::

    {"txn": N, "base": N-1, "tables": {"orders": 3, "daily": 7},
     "changed": ["orders", "daily"]}

The protocol:

1. A :class:`Transaction` snapshots the latest record at open; every
   read and every mutation plan resolves table versions through that
   snapshot (snapshot isolation — a txn never sees a concurrent
   writer's half-finished state, because state only changes when a
   record lands).
2. Mutations execute eagerly: data files are written under the table's
   ``data/`` dir and a table manifest is published at the next FREE
   version slot (put-if-absent, scanning upward past slots orphaned by
   crashed transactions). Staged manifests are INVISIBLE — no
   committed record references them — so staging needs no atomicity
   and a crash at any point leaves the catalog state untouched.
3. Commit publishes one record at ``t=latest+1`` put-if-absent: the
   single atomic step, covering every staged table at once. Before
   publishing, intervening records are conflict-checked at PARTITION
   granularity (the Delta/Iceberg model): every record carries each
   changed table's conflict footprint (``ops`` — a mode plus the
   partition keys it added/removed files in), and an intervening
   change of the same table only aborts this txn when the footprints
   can intersect — wildcard rewrites, overlapping partition sets, or
   anything unprovably disjoint. PROVABLY-disjoint writers to one
   table instead REBASE: the later committer re-stages its net change
   onto the new head manifest (head entries outside its footprint +
   its own entries inside it — a commit-time manifest merge) and
   re-points the CAS, so partition-disjoint MERGEs into one hot fact
   table commute without retries. Real conflicts still raise
   :class:`~spype_spark.lakehouse.ConcurrentWriteError`.
4. Abort (exception inside the ``with``, or a lost conflict) unlinks
   the staged manifests; orphaned data files are swept by
   :meth:`Catalog.vacuum`, which is also what reclaims them after a
   crash that never reached abort.

At 100 TB the records and manifests stay metadata-sized (names +
versions; file lists live in the per-table manifests), commits cost
O(changed files) metadata writes regardless of table size, and nothing
here lists directories on the read path — a reader resolves one record
then one manifest per table. Direct single-table mutation of a
catalog-managed table (``lakehouse.merge_upsert`` on its path) is not
corruption — records pin exact versions — but its effect is invisible
until a transaction commits over it; mutate through transactions.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spype_spark import lakehouse as lake
from spype_spark.lakehouse import ConcurrentWriteError

_LOG_RE = re.compile(r"^t=(\d+)\.json$")


class Catalog:
    """A directory of manifest tables with a shared transaction log."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(self._log_dir, exist_ok=True)
        os.makedirs(os.path.join(root, "tables"), exist_ok=True)

    # -- log plumbing ---------------------------------------------------
    @property
    def _log_dir(self) -> str:
        return os.path.join(self.root, "_log")

    def _log_path(self, txn: int) -> str:
        return os.path.join(self._log_dir, f"t={txn}.json")

    def txns(self) -> list[int]:
        out = []
        for n in os.listdir(self._log_dir):
            m = _LOG_RE.match(n)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def _record(self, txn: int) -> dict:
        with open(self._log_path(txn)) as f:
            return json.load(f)

    def latest_txn(self) -> int | None:
        ts = self.txns()
        return ts[-1] if ts else None

    def _publish_record(self, txn: int, record: dict) -> None:
        """Put-if-absent record publish — the same one-primitive commit
        as :func:`~spype_spark.lakehouse._m_publish` (≙ a conditional
        PUT on an object store; no rename anywhere)."""
        tmp = os.path.join(self._log_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(record, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._log_path(txn))
        except FileExistsError as exc:
            os.unlink(tmp)
            raise ConcurrentWriteError(
                f"transaction {txn} of {self.root} was committed "
                f"concurrently; re-check and retry"
            ) from exc
        os.unlink(tmp)

    # -- state ----------------------------------------------------------
    def state(self, txn: int | None = None) -> dict[str, int]:
        """``{table name: manifest version}`` as of a transaction
        (default: latest). Empty catalog → ``{}``."""
        t = self.latest_txn() if txn is None else txn
        if t is None:
            return {}
        return dict(self._record(t)["tables"])

    def apps(self, txn: int | None = None) -> dict[str, int]:
        """``{app_id: last applied version}`` as of a transaction — the
        writer-idempotence ledger (Delta's txnAppId/txnVersion model),
        carried forward cumulatively by every record."""
        t = self.latest_txn() if txn is None else txn
        if t is None:
            return {}
        return dict(self._record(t).get("apps", {}))

    def applied_version(self, app_id: str) -> int | None:
        """Last committed version for an idempotent writer, or None.
        An exactly-once sink checks this before re-doing work; the
        commit-time check is the correctness gate either way."""
        return self.apps().get(app_id)

    # -- tags -----------------------------------------------------------
    def tag(self, name: str, txn: int | None = None) -> int:
        """Pin an IMMUTABLE name to a transaction id (default: latest)
        — put-if-absent, so a tag can never be moved or re-pointed.
        Tagged transactions survive :meth:`vacuum`."""
        if not re.match(r"^[A-Za-z0-9_.-]+$", name):
            raise ValueError(f"unsafe tag name {name!r}")
        t = self.latest_txn() if txn is None else txn
        if t is None or not os.path.exists(self._log_path(t)):
            raise FileNotFoundError(f"no committed transaction {t}")
        tdir = os.path.join(self.root, "_tags")
        os.makedirs(tdir, exist_ok=True)
        tmp = os.path.join(tdir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump({"name": name, "txn": t}, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, os.path.join(tdir, f"{name}.json"))
        except FileExistsError as exc:
            os.unlink(tmp)
            raise ConcurrentWriteError(
                f"tag {name!r} already exists (tags are immutable)"
            ) from exc
        os.unlink(tmp)
        return t

    def tags(self) -> dict[str, int]:
        tdir = os.path.join(self.root, "_tags")
        if not os.path.isdir(tdir):
            return {}
        out = {}
        for n in os.listdir(tdir):
            if n.endswith(".json") and not n.startswith("."):
                with open(os.path.join(tdir, n)) as f:
                    rec = json.load(f)
                out[rec["name"]] = rec["txn"]
        return out

    def table_path(self, name: str) -> str:
        if not re.match(r"^[A-Za-z0-9_.-]+$", name):
            raise ValueError(f"unsafe table name {name!r}")
        return os.path.join(self.root, "tables", name)

    def read(
        self,
        spark: SparkSession,
        name: str,
        txn: int | None = None,
        tag: str | None = None,
        branch: str | None = None,
    ) -> DataFrame:
        """Snapshot read through the log — with ``txn`` (or a ``tag``
        pinned to one), a CONSISTENT CROSS-TABLE time travel (all
        tables as of that transaction). With ``branch``, the branch's
        staged state overlaid on its fork — the AUDIT read of
        catalog-level write-audit-publish."""
        if tag is not None:
            if txn is not None:
                raise ValueError("pass txn or tag, not both")
            txn = self.tags()[tag]
        if branch is not None:
            if txn is not None:
                raise ValueError("pass branch or txn/tag, not both")
            rec = self._branch_rec(branch)
            st = self.state(rec["fork_txn"])
            st.update(rec["tables"])
        else:
            st = self.state(txn)
        if name not in st:
            raise FileNotFoundError(f"no table {name!r} in catalog state")
        return lake._m_snapshot(spark, self.table_path(name), st[name])

    def scan(
        self,
        spark: SparkSession,
        name: str,
        txn: int | None = None,
        partitions: dict | None = None,
        ranges: dict | None = None,
        nulls: dict | None = None,
        where=None,
        since: int | None = None,
    ) -> DataFrame:
        """Manifest-pruned read (see :func:`lakehouse.scan_table`)
        resolved through the log. ``since`` is the incremental
        append-scan knob, expressed in TABLE versions (as recorded in
        the txn log's state maps — a consumer checkpoints
        ``state(txn)[name]`` and passes it back here)."""
        st = self.state(txn)
        if name not in st:
            raise FileNotFoundError(f"no table {name!r} in catalog state")
        return lake.scan_table(
            spark,
            self.table_path(name),
            version=st[name],
            partitions=partitions,
            ranges=ranges,
            nulls=nulls,
            where=where,
            since=since,
        )

    def history(self, spark: SparkSession) -> DataFrame:
        """One row per committed transaction: txn id, changed tables,
        full table→version map (as JSON)."""
        rows = []
        for t in self.txns():
            r = self._record(t)
            rows.append(
                (t, sorted(r["changed"]), json.dumps(r["tables"], sort_keys=True))
            )
        return spark.createDataFrame(
            rows, "txn long, changed array<string>, tables string"
        )

    # -- transactions ---------------------------------------------------
    def transaction(
        self,
        spark: SparkSession,
        app_id: str | None = None,
        app_version: int | None = None,
        branch: str | None = None,
    ) -> "Transaction":
        """Open a transaction. ``app_id``/``app_version`` make it an
        IDEMPOTENT writer commit: if a record already carries
        ``apps[app_id] >= app_version``, the commit quietly unstages
        and returns None instead of applying twice — the exactly-once
        contract a restarted streaming sink relies on (checked inside
        the same CAS loop as conflicts, so a racing duplicate of the
        same batch can never double-apply).

        ``branch`` binds the transaction to a catalog branch (see
        :meth:`create_branch`): verbs base on the branch's state, and
        commit SAVES the staged versions into the branch ref instead of
        publishing a record — nothing becomes catalog-visible until
        :meth:`publish_branch`."""
        if (app_id is None) != (app_version is None):
            raise ValueError("app_id and app_version go together")
        if branch is not None and app_id is not None:
            raise ValueError(
                "idempotent app commits and branch staging don't "
                "compose (the app watermark only advances at publish)"
            )
        return Transaction(self, spark, app_id, app_version, branch=branch)

    def run(self, spark: SparkSession, fn, retries: int = 3):
        """Optimistic-retry harness: run ``fn(txn)`` in a fresh
        transaction, retrying on commit conflict up to ``retries``
        times (the standard client loop every OCC format documents)."""
        last: ConcurrentWriteError | None = None
        for _ in range(retries + 1):
            try:
                with self.transaction(spark) as txn:
                    fn(txn)
                return
            except ConcurrentWriteError as exc:
                last = exc
        raise last

    def restore(self, txn: int) -> int:
        """RESTORE the whole catalog to transaction ``txn`` as a NEW
        record — cross-table time travel made durable (the multi-table
        analogue of :func:`lakehouse.restore_table`): the log head
        moves FORWARD, every table's version in the new record is the
        old transaction's, and history is preserved (time travel to
        the undone records still works until retention drops them).
        Pure metadata: one put-if-absent record, zero manifests or
        data files touched — undoing a bad pipeline run that landed
        across N tables is one conditional PUT. Tables created after
        ``txn`` leave the visible state (their objects remain for
        history). The restore record carries WILDCARD conflict
        footprints on every table it moves, so any open transaction on
        those tables aborts cleanly rather than committing against a
        snapshot that was rolled away. App-idempotence watermarks are
        NOT rolled back (a replayed batch stays applied — Delta's
        RESTORE keeps txnAppId ledgers too). Raises FileNotFoundError
        if record ``txn`` was vacuumed."""
        old = self.state(txn)  # raises on a vacuumed/unknown record
        while True:
            cur = self.latest_txn()
            cur_state = self.state(cur)
            changed = sorted(
                n
                for n in set(old) | set(cur_state)
                if old.get(n) != cur_state.get(n)
            )
            new_txn = (cur if cur is not None else -1) + 1
            try:
                self._publish_record(
                    new_txn,
                    {
                        "txn": new_txn,
                        "base": cur,
                        "tables": old,
                        "changed": changed,
                        "ops": {
                            n: {"mode": "*", "touched": []} for n in changed
                        },
                        "apps": self.apps(cur),
                    },
                )
                return new_txn
            except ConcurrentWriteError:
                continue  # lost the slot — re-point and retry

    # -- catalog-grain change feed ---------------------------------------
    def changes(
        self,
        spark: SparkSession,
        keys_by_table: dict[str, list[str]],
        txn_from: int | None = None,
        txn_to: int | None = None,
    ) -> dict[str, DataFrame]:
        """CATALOG-GRAIN change data feed: per-table change sets for
        every transaction in ``(txn_from, txn_to]`` — the cross-table
        analogue of :func:`lakehouse.changes`, checkpointable by TXN
        id. A pipeline consuming N tables gets all of their changes
        with ONE cursor, at transaction granularity: for each record
        in the window and each table whose version moved, the
        version-pair :func:`lakehouse.table_diff` rows are stamped
        with the version that introduced them and the transaction
        that committed them. Returns ``{table: DataFrame(keys…, op,
        version, txn)}`` — only tables that changed in the window AND
        appear in ``keys_by_table`` (a consumer names the tables it
        follows; others are skipped). A table CREATED inside the
        window emits its creation snapshot as ``insert`` rows; a
        RESTORE record emits the diff against the rolled-back state
        (the jump diff, sound in either direction). ``txn_from=None``
        starts before the first record (full history);
        ``txn_to=None`` ends at the head. Cost is O(changed keys) per
        window — snapshot diffs over manifest reads, never a log scan
        of data."""
        ts = self.txns()
        if not ts:
            raise FileNotFoundError(f"no transactions under {self.root}")
        hi = ts[-1] if txn_to is None else txn_to
        window = [
            t for t in ts if (txn_from is None or t > txn_from) and t <= hi
        ]
        out: dict[str, DataFrame] = {}
        retained = set(ts)
        # base-state reuse: walking a window in txn order, a record's
        # base is almost always the record just processed (contention
        # is the exception) — re-reading it from disk would double the
        # walk's JSON reads (measured 2x: tools/catalog_cdf_probe.py)
        prev_txn: int | None = None
        prev_tables: dict | None = None
        for t in window:
            rec = self._record(t)
            base = rec.get("base")
            if base is not None and base not in retained:
                # the record's base predates the retained log (vacuum
                # dropped it) — same descriptive cannot-resume error as
                # CatalogChangesStream.drain, not a raw FileNotFoundError
                # from _record (ADVICE r11); full-history replay
                # (txn_from=None / from_txn=-1) lands here too.
                raise FileNotFoundError(
                    f"txn {t} of {self.root} references base record "
                    f"{base}, which was vacuumed; the change window "
                    f"cannot be replayed without a gap — restart from "
                    f"an explicit txn at or after the retained log "
                    f"floor ({ts[0]})"
                )
            if base is None:
                before = {}
            elif base == prev_txn:
                before = prev_tables
            else:
                before = self.state(base)
            after = rec["tables"]
            prev_txn, prev_tables = t, after
            for name in sorted(set(before) | set(after)):
                old_v, new_v = before.get(name), after.get(name)
                if old_v == new_v or name not in keys_by_table:
                    continue
                keys = keys_by_table[name]
                path = self.table_path(name)
                if old_v is None:
                    step = (
                        lake.read_table(spark, path, version=new_v)
                        .select(*keys)
                        .withColumn("op", F.lit("insert"))
                    )
                elif new_v is None:  # defensive: no drop verb today
                    step = (
                        lake.read_table(spark, path, version=old_v)
                        .select(*keys)
                        .withColumn("op", F.lit("delete"))
                    )
                else:
                    step = lake.table_diff(spark, path, old_v, new_v, keys)
                step = step.withColumn(
                    "version", F.lit(new_v if new_v is not None else old_v)
                    .cast("long")
                ).withColumn("txn", F.lit(t).cast("long"))
                out[name] = (
                    step
                    if name not in out
                    else out[name].unionByName(step)
                )
        return out

    def read_changes_stream(
        self,
        spark: SparkSession,
        keys_by_table: dict[str, list[str]],
        checkpoint_dir: str,
        from_txn: int | None = None,
    ) -> "CatalogChangesStream":
        """Open (or resume) an incremental catalog-grain CDF consumer
        — see :class:`CatalogChangesStream`."""
        return CatalogChangesStream(
            spark, self, keys_by_table, checkpoint_dir, from_txn
        )

    # -- catalog-level branches (multi-table write-audit-publish) --------
    @property
    def _branch_dir(self) -> str:
        return os.path.join(self.root, "_branches")

    def _branch_file(self, name: str) -> str:
        return os.path.join(self._branch_dir, f"{name}.json")

    def create_branch(self, name: str, txn: int | None = None) -> dict:
        """Catalog-level BRANCH: fork the WHOLE catalog state at one
        transaction (default: head) under a named ref. Metadata-only —
        one small JSON ref, zero table or data objects touched.

        Where :func:`lakehouse.create_branch` forks ONE table, this is
        the write-audit-publish unit for a PIPELINE: stage mutations to
        several tables on the branch
        (``cat.transaction(spark, branch=name)`` — staged manifests
        land at the tables' free slots, invisible to every reader, and
        the branch ref pins them across sessions), audit the branch's
        consistent cross-table state (``cat.read(..., branch=name)``),
        then :meth:`publish_branch` — ONE catalog record covering every
        branch table, under the same partition-footprint conflict rules
        (and commit-time rebase) as any transaction. The fork txn is
        pinned against record retention while the branch lives.

        One writer per branch (branch saves are last-wins); concurrent
        PARENT writers are what the publish-time conflict scan is for."""
        if not lake._SAFE_PART_VAL.match(name):
            raise ValueError(
                f"branch name {name!r} has path-special characters"
            )
        t = self.latest_txn() if txn is None else txn
        if t is None:
            raise ValueError("cannot branch an empty catalog")
        if t not in self.txns():
            raise FileNotFoundError(f"no transaction {t} in catalog log")
        os.makedirs(self._branch_dir, exist_ok=True)
        rec = {
            "name": name,
            "fork_txn": t,
            "tables": {},   # table -> staged manifest version
            "meta": {},     # table -> conflict footprint
            "staged": [],   # every staged (table, version), incl. superseded
        }
        # put-if-absent, same one-primitive publish as records
        tmp = os.path.join(self._branch_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(rec, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._branch_file(name))
        except FileExistsError:
            os.unlink(tmp)
            raise ValueError(f"branch {name!r} already exists")
        os.unlink(tmp)
        return rec

    def branches(self) -> list[str]:
        if not os.path.isdir(self._branch_dir):
            return []
        return sorted(
            n[:-5]
            for n in os.listdir(self._branch_dir)
            if n.endswith(".json") and not n.startswith(".")
        )

    def _branch_rec(self, name: str) -> dict:
        try:
            with open(self._branch_file(name)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise FileNotFoundError(f"no catalog branch {name!r}")

    def _branch_save(self, name: str, rec: dict) -> None:
        # single-writer-per-branch: atomic replace, last save wins
        tmp = os.path.join(self._branch_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(rec, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._branch_file(name))

    def publish_branch(self, spark: SparkSession, name: str) -> int | None:
        """PUBLISH a catalog branch: every table it staged becomes
        visible in ONE atomic record (all-or-nothing across tables —
        the audit pattern for a fact and its rollup landing together).
        Conflict rules are exactly the transaction's: intervening
        parent commits to the same tables abort with
        :class:`ConcurrentWriteError` unless their partition footprints
        are provably disjoint, in which case the branch's net change is
        REBASED onto the head (parent-advance-tolerant WAP). On success
        the branch ref is consumed (dropped); on conflict the branch —
        including its staged manifests — is left intact for inspection
        or retry. Returns the new txn id (None for an empty branch,
        which is just dropped)."""
        rec = self._branch_rec(name)
        if not rec["tables"]:
            self.drop_branch(name)
            return None
        t = Transaction(self, spark)
        t._base_txn = rec["fork_txn"]
        t._base_state = self.state(rec["fork_txn"])
        t._staged = dict(rec["tables"])
        t._staged_meta = dict(rec["meta"])
        # a publish failure must leave the branch intact: nothing for
        # _unstage to unlink, and rebase keeps superseded slots (they
        # stay pinned by the branch ref until drop_branch)
        t._all_staged = []
        t._keep_superseded = True
        new_txn = t.commit()
        self.drop_branch(name)
        return new_txn

    def drop_branch(self, name: str) -> None:
        """Delete a branch ref and unlink its staged manifests — except
        any a committed record references (a published branch's final
        slots). Orphaned data files are left to :meth:`vacuum`'s
        refcounting sweep, same as an aborted transaction's."""
        rec = self._branch_rec(name)
        referenced: dict[str, set[int]] = {}
        for t in self.txns():
            try:
                r = self._record(t)
            except FileNotFoundError:
                continue
            for n, v in r["tables"].items():
                referenced.setdefault(n, set()).add(v)
        for n, v in rec.get("staged", []):
            if v in referenced.get(n, set()):
                continue
            try:
                os.unlink(lake._m_path(self.table_path(n), v))
            except FileNotFoundError:
                pass
        try:
            os.unlink(self._branch_file(name))
        except FileNotFoundError:
            pass

    # -- retention ------------------------------------------------------
    def vacuum(
        self, keep_last: int = 1, grace_seconds: float = None
    ) -> list[int]:
        """Drop all but the last ``keep_last`` transaction records, then
        reclaim everything they alone referenced: per-table manifest
        versions no surviving record names (INCLUDING orphans staged by
        crashed or aborted transactions) and, through the tables' own
        path-refcount GC, the data files those manifests pinned. Same
        retention-grace caveat as table vacuum: a transaction racing the
        vacuum with a just-dropped base record fails cleanly with
        ConcurrentWriteError and retries. Tagged transactions are
        always kept.

        ``grace_seconds`` (default
        :data:`spype_spark.lakehouse.DEFAULT_GC_GRACE_SECONDS`)
        protects LIVE in-flight transactions: a staged manifest is
        unreferenced by ANY record until its commit publishes —
        reclaiming it would leave the commit pinning a deleted
        manifest. A live staged slot can sit at ANY unreferenced
        version, including BELOW the record-referenced head (a
        concurrent stager can take the next slot and commit first), so
        every NEVER-RECORDED manifest younger than the window survives
        the sweep (crashed-txn orphans older than it are still
        reclaimed). Versions the DROPPED records referenced were
        committed — by definition not live staged slots — and are
        reclaimed immediately, whatever their age (a transaction racing
        on such a base fails cleanly with ConcurrentWriteError, the
        documented retention trade). The data-file GC applies the same
        window. ``grace_seconds=0`` restores immediate reclamation for
        single-writer callers."""
        if grace_seconds is None:
            grace_seconds = lake.DEFAULT_GC_GRACE_SECONDS
        young_floor = time.time() - grace_seconds
        ts = self.txns()
        pinned = set(ts[-keep_last:]) | set(self.tags().values())
        # live catalog branches pin their fork txn (publish's conflict
        # floor and fallback read state) and their staged manifests
        branch_refs: dict[str, set[int]] = {}
        for bname in self.branches():
            try:
                brec = self._branch_rec(bname)
            except FileNotFoundError:
                continue
            pinned.add(brec["fork_txn"])
            for n, v in brec.get("staged", []):
                branch_refs.setdefault(n, set()).add(v)
            for n, v in brec["tables"].items():
                branch_refs.setdefault(n, set()).add(v)
        drop = [t for t in ts if t not in pinned]
        # record what the dropped records referenced BEFORE unlinking
        # them: those versions were committed history, not live staged
        # slots, so the grace window doesn't apply to them
        was_recorded: dict[str, set[int]] = {}
        for t in drop:
            try:
                rec = self._record(t)
            except FileNotFoundError:
                continue
            for name, v in rec["tables"].items():
                was_recorded.setdefault(name, set()).add(v)
        for t in drop:
            try:
                os.unlink(self._log_path(t))
            except FileNotFoundError:
                pass
        referenced: dict[str, set[int]] = {}
        for t in self.txns():
            try:
                rec = self._record(t)
            except FileNotFoundError:
                continue
            for name, v in rec["tables"].items():
                referenced.setdefault(name, set()).add(v)
        tdir = os.path.join(self.root, "tables")
        for name in os.listdir(tdir):
            path = os.path.join(tdir, name)
            if not lake._is_manifest_table(path):
                continue
            keep = referenced.get(name, set()) | branch_refs.get(name, set())
            committed = was_recorded.get(name, set()) - branch_refs.get(
                name, set()
            )
            for v in lake._m_versions(path):
                if v in keep:
                    continue
                mp = lake._m_path(path, v)
                if v not in committed:
                    # NEVER recorded — possibly a LIVE transaction's
                    # staged slot (which can sit at any version,
                    # including below head: a concurrent stager can
                    # take the next slot and commit first) — only
                    # reclaim once it has outlived the grace window
                    try:
                        if os.path.getmtime(mp) > young_floor:
                            continue
                    except OSError:
                        continue
                try:
                    os.unlink(mp)
                except FileNotFoundError:
                    pass
            lake._m_gc_files(path, grace_seconds=grace_seconds)
        return drop


# the partition-footprint unit is shared with the branch publish's
# rebase path — one canonicalization, one conflict algebra
_part_key = lake._part_key


def _ops_compatible(mine: dict, theirs: dict) -> bool:
    """Can this transaction's staged mutation of a table commute with
    an intervening commit's mutation of the SAME table? The
    Delta/Iceberg serializability test at partition granularity:

    - a ``*`` (wildcard) footprint on either side — full rewrites,
      schema changes, new equality-delete files — conflicts with
      everything (today's table-level rule);
    - two pure ADDs always commute (appends read nothing);
    - otherwise both sides carry partition footprints and commute
      exactly when the footprints are DISJOINT — an add into a
      partition someone rewrote (or vice versa) conflicts, because the
      rewrite's snapshot semantics can't order the unseen files.
    """
    m, t = mine.get("mode", "*"), theirs.get("mode", "*")
    if m == "*" or t == "*":
        return False
    if m == "add" and t == "add":
        return True
    return not (
        set(mine.get("touched", ())) & set(theirs.get("touched", ()))
    )


class Transaction:
    """Stage mutations on several tables; commit them atomically.

    Use as a context manager — normal exit commits, an exception
    aborts::

        with cat.transaction(spark) as txn:
            txn.merge_upsert("orders", updates, keys=["o_orderkey"])
            txn.delete_where("audit", F.col("stale"))
    """

    def __init__(
        self,
        cat: Catalog,
        spark: SparkSession,
        app_id: str | None = None,
        app_version: int | None = None,
        branch: str | None = None,
    ):
        self.cat = cat
        self.spark = spark
        self._app_id = app_id
        self._app_version = app_version
        self._branch = branch
        if branch is not None:
            # branch-bound: base on the branch's fork overlaid with its
            # already-staged tables; preloading their footprints makes
            # any FURTHER verb on those tables a CHAINED staging (the
            # conservative wildcard — a single-step rebase can't replay
            # a pair of commits)
            rec = cat._branch_rec(branch)
            self._base_txn = rec["fork_txn"]
            self._base_state = cat.state(rec["fork_txn"])
            self._base_state.update(rec["tables"])
            self._staged_meta = dict(rec["meta"])
        else:
            self._base_txn = cat.latest_txn()
            self._base_state = cat.state(self._base_txn)
            # per-table conflict footprint: {"mode": "*"|"add"|"replace",
            # "touched": sorted partition keys, "new_entries": [...]}
            self._staged_meta = {}
        self._staged: dict[str, int] = {}  # final staged version per table
        self._all_staged: list[tuple[str, int]] = []  # incl. intermediates
        self._keep_superseded = False  # branch publish: rebase keeps slots
        self._scan_floor: int | None = None  # conflicts resolved up to
        self._closed = False

    # -- resolution -----------------------------------------------------
    def _resolve(self, name: str) -> int:
        if name in self._staged:
            return self._staged[name]
        if name not in self._base_state:
            raise FileNotFoundError(f"no table {name!r} in catalog state")
        return self._base_state[name]

    def read(self, name: str) -> DataFrame:
        """Read-your-writes snapshot read inside the transaction."""
        return lake._m_snapshot(
            self.spark, self.cat.table_path(name), self._resolve(name)
        )

    # -- staging --------------------------------------------------------
    _INHERIT = object()  # sentinel: take the value from the base manifest

    def _stage(
        self,
        df: DataFrame | None,
        path: str,
        pcols: list[str] | None,
        carry: list[dict],
        base: int | None,
        deletes: list[dict] | None = None,
        mode: str = "*",
        schema_json: dict | None = None,
        retired_override: list[str] | None = None,
        constraints_override: dict | None = None,
        transforms=_INHERIT,
        pos_deletes=_INHERIT,
        op: dict | None = None,
        bloom_keys_override: list[str] | None = None,
    ) -> int:
        """Publish a staged manifest at the next free version slot.
        A slot collision (concurrent stager, or a slot orphaned by a
        crashed txn) just moves up — visibility and conflicts are the
        COMMIT's problem, not the slot number's.

        ``mode`` is the verb's declared conflict footprint class
        ("replace" for COW rewrites, "add" for blind appends, "*" for
        full rewrites); it is ESCALATED back to "*" whenever the staged
        manifest can't be proven partition-local — no base, a schema
        change, or a changed equality-delete list — so partition-level
        conflict detection only ever claims disjointness it can prove.

        ``transforms`` / ``pos_deletes`` default to INHERITING the base
        manifest's values (as ``lake._m_commit`` does): hidden
        partition transforms persist across every staged verb and the
        hidden columns are force re-derived on staged rows, and
        positional deletion vectors ride forward so carried files keep
        their DV-deleted rows suppressed (rewritten files get this
        slot's seq, which outranks every older DV — the same sequence
        rule as the lake path). Verbs that semantically RESET either
        one (full REPLACE, compaction) pass an explicit value.

        New files go through the write seam ``lake._m_commit`` shares
        (``lake._m_write_new``); only the publish policy differs."""
        datadir, entries = (None, [])
        base_schema, retired, constraints = None, [], None
        bloom_keys = None
        if base is not None:
            try:
                bm = lake._m_load(path, base)
            except FileNotFoundError:
                raise ConcurrentWriteError(
                    f"base version {base} of {path} was vacuumed while "
                    f"this transaction was staging; retry"
                )
            base_schema = bm.get("schema")
            retired = bm.get("retired", [])
            constraints = bm.get("constraints")
            bloom_keys = bm.get("bloom_keys")
            if transforms is Transaction._INHERIT:
                transforms = bm.get("transforms")
            if pos_deletes is Transaction._INHERIT:
                pos_deletes = bm.get("pos_deletes")
        if transforms is Transaction._INHERIT:
            transforms = None
        if pos_deletes is Transaction._INHERIT:
            pos_deletes = None
        if retired_override is not None:
            retired = retired_override
        if constraints_override is not None:
            constraints = constraints_override or None
        if bloom_keys_override is not None:
            bloom_keys = bloom_keys_override or None
        if df is not None:
            datadir, entries, schema_json = lake._m_write_new(
                df, path, pcols, base_schema, retired, constraints,
                transforms, bloom_keys,
            )
        elif schema_json is None:
            schema_json = base_schema
        while True:
            vs = lake._m_versions(path)
            v = (vs[-1] + 1) if vs else 0
            # new entries carry this slot as their seq (carried entries
            # keep theirs) — the ordering equality-deletes apply by;
            # re-stamped each attempt so a slot bump stays consistent
            for e in entries:
                e["seq"] = v
            manifest_files = carry + entries
            if base is not None and not os.path.exists(
                lake._m_path(path, base)
            ):
                if datadir:
                    shutil.rmtree(datadir, ignore_errors=True)
                raise ConcurrentWriteError(
                    f"base version {base} of {path} was vacuumed while "
                    f"this transaction was staging; retry"
                )
            try:
                lake._m_publish(
                    path,
                    v,
                    lake._m_manifest(
                        path,
                        v,
                        base,
                        schema_json,
                        pcols,
                        manifest_files,
                        deletes=deletes,
                        retired=retired,
                        constraints=constraints,
                        transforms=transforms,
                        pos_deletes=pos_deletes,
                        # staged OPTIMIZE passes dataChange=false so
                        # the change feed skips it at plan time (r15);
                        # every data-mutating verb stays True
                        op=op or {"name": "TXN_COMMIT", "dataChange": True},
                        bloom_keys=bloom_keys,
                    ),
                )
            except ConcurrentWriteError:
                continue  # slot taken — scan upward
            name = os.path.basename(path)
            self._all_staged.append((name, v))
            self._staged_meta[name] = self._footprint(
                path, base, carry, entries, deletes, schema_json, mode
            )
            return v

    def _footprint(
        self,
        path: str,
        base: int | None,
        carry: list[dict],
        entries: list[dict],
        deletes: list[dict] | None,
        schema_json: dict | None,
        mode: str,
    ) -> dict:
        """Compute one staged mutation's conflict footprint (see
        :func:`_ops_compatible`): the partition keys it removed files
        from or added files to, or ``*`` when partition-locality can't
        be proven."""
        name = os.path.basename(path)
        prev = self._staged_meta.get(name)
        if base is None:
            # no base to prove locality against: conservative wildcard
            return {"mode": "*", "touched": [], "new_entries": entries}
        base_m = lake._m_load(path, base)
        if (deletes or []) != base_m.get("deletes", []) or (
            schema_json != base_m["schema"]
        ):
            return {"mode": "*", "touched": [], "new_entries": entries}
        base_entries = lake._m_entries(path, base_m)
        carried = {e["path"] for e in carry}
        removed = [e for e in base_entries if e["path"] not in carried]
        if prev is not None:
            # CHAINED staging (second verb on the same table this txn /
            # branch — its base is the earlier staged slot, so a
            # single-step rebase can't replay the PAIR)… except a chain
            # of pure blind ADDs: the accumulated new-file list IS the
            # net change, replayable in one rebase step (head entries +
            # all our files). Anything else: conservative wildcard.
            if prev.get("mode") == "add" and mode == "add" and not removed:
                return {
                    "mode": "add",
                    "touched": sorted(
                        set(prev.get("touched", ()))
                        | {_part_key(e.get("partition")) for e in entries}
                    ),
                    "new_entries": list(prev.get("new_entries", []))
                    + entries,
                }
            return {"mode": "*", "touched": [], "new_entries": entries}
        if mode == "add":
            if removed:  # an "add" must not drop base files
                return {
                    "mode": "*", "touched": [], "new_entries": entries
                }
            touched = {_part_key(e.get("partition")) for e in entries}
        elif mode == "replace":
            touched = {_part_key(e.get("partition")) for e in removed} | {
                _part_key(e.get("partition")) for e in entries
            }
        else:
            return {"mode": "*", "touched": [], "new_entries": entries}
        return {
            "mode": mode,
            "touched": sorted(touched),
            "new_entries": entries,
        }

    def _rebase_table(self, name: str, head_v: int) -> None:
        """Re-stage ``name``'s mutation on top of manifest ``head_v``
        after PROVABLY-DISJOINT intervening commits: take the head's
        entries for every partition outside our footprint (they carry
        the other writers' changes) and our staged entries inside it
        (our rewrites plus the refuted files we carried), publish the
        merged manifest at the next free slot, retire the superseded
        staged slot. For a pure ADD, the merge is head entries + our
        new files. Defensive revalidation of the schema / delete-list
        invariants the compatibility test relied on aborts with
        :class:`ConcurrentWriteError` rather than guessing."""
        path = self.cat.table_path(name)
        meta = self._staged_meta[name]
        my_v = self._staged[name]
        try:
            my_m = lake._m_load(path, my_v)
            head_m = lake._m_load(path, head_v)
        except FileNotFoundError as exc:
            # a racing vacuum collected one of the manifests this
            # rebase needs — surface the standard retry signal instead
            # of a raw FileNotFoundError
            self._unstage()
            raise ConcurrentWriteError(
                f"a manifest needed to rebase staged mutation of "
                f"{name!r} was vacuumed concurrently; retry"
            ) from exc
        if (
            head_m.get("partition_by") != my_m.get("partition_by")
            or head_m["schema"] != my_m["schema"]
            or head_m.get("deletes", []) != my_m.get("deletes", [])
            or head_m.get("transforms") != my_m.get("transforms")
            or head_m.get("pos_deletes") != my_m.get("pos_deletes")
        ):
            self._unstage()
            raise ConcurrentWriteError(
                f"cannot rebase staged mutation of {name!r} onto head "
                f"v{head_v}: schema/partitioning/delete-list/"
                f"transform/deletion-vector state diverged; "
                f"retry from a fresh snapshot"
            )
        head_entries = lake._m_entries(path, head_m)
        if meta["mode"] == "add":
            new_paths = {e["path"] for e in meta["new_entries"]}
            entries = [
                e for e in head_entries if e["path"] not in new_paths
            ] + meta["new_entries"]
        else:
            touched = set(meta["touched"])
            mine = lake._m_entries(path, my_m)
            entries = [
                e
                for e in head_entries
                if _part_key(e.get("partition")) not in touched
            ] + [
                e
                for e in mine
                if _part_key(e.get("partition")) in touched
            ]
        while True:
            vs = lake._m_versions(path)
            v = (vs[-1] + 1) if vs else 0
            try:
                lake._m_publish(
                    path,
                    v,
                    lake._m_manifest(
                        path,
                        v,
                        head_v,
                        my_m["schema"],
                        my_m.get("partition_by"),
                        entries,
                        deletes=my_m.get("deletes", []) or None,
                        retired=my_m.get("retired"),
                        constraints=my_m.get("constraints"),
                        transforms=my_m.get("transforms"),
                        pos_deletes=my_m.get("pos_deletes"),
                        op={"name": "TXN_REBASE", "dataChange": True},
                    ),
                )
            except ConcurrentWriteError:
                continue  # slot taken — scan upward
            break
        if not self._keep_superseded:
            try:
                os.unlink(lake._m_path(path, my_v))  # superseded, ours
            except FileNotFoundError:
                pass
        self._all_staged.append((name, v))
        self._staged[name] = v

    def _check_open(self):
        if self._closed:
            raise RuntimeError("transaction already committed or aborted")

    def write(
        self, df: DataFrame, name: str, partition_by=None, bloom_keys=None
    ) -> int:
        """CREATE (or, within the catalog, REPLACE) ``name`` with
        ``df``'s rows — a full new manifest, no carry. ``partition_by``
        accepts the same identity-column / transform-tuple mix as
        :func:`spype_spark.lakehouse.write_table` (hidden
        partitioning); ``bloom_keys`` opts into per-file Bloom filters
        exactly as there (a REPLACE resets the opt-in to the new
        list). A REPLACE resets the table's transforms to the
        NEW spec and clears positional deletion vectors (nothing
        carried can need them)."""
        self._check_open()
        if isinstance(bloom_keys, str):
            bloom_keys = [bloom_keys]
        path = self.cat.table_path(name)
        pcols, tfs = lake._norm_partition_spec(partition_by)
        lake._stamp_transforms(df, tfs)
        os.makedirs(path, exist_ok=True)
        base = self._staged.get(name, self._base_state.get(name))
        v = self._stage(
            df, path, pcols, [], base,
            transforms=tfs or None, pos_deletes=None,
            bloom_keys_override=list(bloom_keys) if bloom_keys else [],
        )
        self._staged[name] = v
        return v

    def _stage_plan(self, name: str, planner, *args) -> int:
        """Plan one DML verb at the transaction's snapshot of ``name``
        with the lakehouse planner ``lake.<verb>`` uses, then stage
        it. A planner returning None (a no-op) stages nothing."""
        self._check_open()
        path = self.cat.table_path(name)
        base = self._resolve(name)
        plan = planner(self.spark, path, base, *args)
        if plan is None:
            return base
        try:
            v = self._stage(
                plan.df, path, plan.m.get("partition_by"), plan.carry, base,
                deletes=plan.deletes, mode=plan.mode,
                pos_deletes=plan.pos_deletes,
                # data-changing staged manifests keep the TXN_COMMIT
                # stamp; maintenance (dataChange=false) keeps its own so
                # the change feed skips it at plan time
                op=None if plan.op["dataChange"] else plan.op,
            )
        except ConcurrentWriteError:
            if plan.sidecar:
                shutil.rmtree(plan.sidecar, ignore_errors=True)
            raise
        self._staged[name] = v
        return v

    def merge_upsert(
        self,
        name: str,
        updates: DataFrame,
        keys: list[str],
        evolve_schema: bool = False,
        match_condition=None,
    ) -> int:
        """MERGE upsert through the transaction (see
        :func:`spype_spark.lakehouse.merge_upsert`)."""
        return self._stage_plan(
            name, lake._m_merge_plan, updates, keys, evolve_schema,
            match_condition,
        )

    def merge(
        self,
        name: str,
        source: DataFrame,
        keys: list[str],
        when_matched: str | None = "update",
        matched_condition=None,
        when_not_matched: str | None = "insert",
        when_not_matched_by_source=None,
        by_source_condition=None,
        not_matched_condition=None,
    ) -> int:
        """Full-clause MERGE through the transaction — same clause
        algebra as :func:`spype_spark.lakehouse.merge` (matched
        update/delete, conditional insert, not-matched-by-source
        delete/update), staged against the txn's snapshot and committed
        atomically with the rest of the transaction."""
        clauses = lake._merge_clauses(
            when_matched,
            matched_condition,
            when_not_matched,
            when_not_matched_by_source,
            by_source_condition,
            not_matched_condition,
        )
        return self._stage_plan(
            name, lake._m_merge_plan, source, keys, False, None, clauses
        )

    def delete_where(self, name: str, cond) -> int:
        """Copy-on-write DELETE through the transaction (see
        :func:`spype_spark.lakehouse.delete_where`)."""
        return self._stage_plan(name, lake._m_rewrite_plan, cond)

    def update_where(self, name: str, cond, assignments: dict) -> int:
        """SQL UPDATE through the transaction (see
        :func:`spype_spark.lakehouse.update_where`)."""
        return self._stage_plan(
            name, lake._m_rewrite_plan, cond, assignments
        )

    def delete_keys(self, name: str, keys_df: DataFrame) -> int:
        """Merge-on-read equality DELETE through the transaction (see
        :func:`spype_spark.lakehouse.delete_keys`): records a key file
        + manifest delete entry, carries every data entry untouched."""
        return self._stage_plan(name, lake._m_keys_plan, keys_df)

    def delete_where_dv(self, name: str, cond) -> int:
        """MERGE-ON-READ positional DELETE (deletion vectors) through
        the transaction — see
        :func:`spype_spark.lakehouse.delete_where_dv`. Zero data files
        rewritten: the staged manifest carries every entry by
        reference plus one DV sidecar, committed atomically with the
        rest of the transaction. Full-table conflict footprint (a
        positional delete's row identities can't be proven
        partition-local against an unseen concurrent rewrite)."""
        return self._stage_plan(name, lake._m_dv_plan, cond)

    def compact(
        self,
        name: str,
        target_files: int = 1,
        zorder_code=None,
        min_file_bytes: int | None = None,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> int:
        """Small-file compaction (optionally Z-order clustered, or
        SELECTIVE via ``min_file_bytes`` bin-packing — see
        :func:`spype_spark.lakehouse.compact`) THROUGH the
        transaction: the rewritten snapshot becomes catalog-visible in
        the txn's record, unlike a direct ``lake.compact`` on the table
        path, which records never reference and vacuum would reclaim.
        A selective no-op (fewer than two small files) stages
        nothing."""
        return self._stage_plan(
            name, lake._m_compact_plan, target_files, zorder_code,
            min_file_bytes, target_file_bytes,
        )

    def delete_range(self, name: str, col: str, lo, hi) -> int:
        """Range DELETE through the transaction (see
        :func:`spype_spark.lakehouse.delete_range`)."""
        return self._stage_plan(
            name, lake._m_predicate_plan, ("between", col, lo, hi)
        )

    def delete_predicate(self, name: str, pred) -> int:
        """DELETE by predicate spec with general file pruning (see
        :func:`spype_spark.lakehouse.delete_predicate`), staged."""
        return self._stage_plan(name, lake._m_predicate_plan, pred)

    def append(self, df: DataFrame, name: str) -> int:
        """Blind APPEND (zero reads/rewrites of existing data — see
        :func:`spype_spark.lakehouse.append_table`), staged."""
        self._check_open()
        path = self.cat.table_path(name)
        base = self._resolve(name)
        m = lake._m_load(path, base)
        hidden = {t["name"] for t in m.get("transforms") or []}
        # appenders never name hidden partition columns — _stage
        # derives them from the transform sources at write time
        cols = [
            f["name"] for f in m["schema"]["fields"]
            if f["name"] not in hidden
        ]
        if set(df.columns) != set(cols):
            raise ValueError(
                f"append schema {sorted(df.columns)} != table schema "
                f"{sorted(cols)}"
            )
        v = self._stage(
            df.select(*cols),
            path,
            m.get("partition_by"),
            lake._m_entries(path, m),
            base,
            deletes=m.get("deletes", []),
            mode="add",
        )
        self._staged[name] = v
        return v

    def rename_columns(self, name: str, renames: dict) -> int:
        """Stage a column RENAME (metadata-only; column-mapping name
        mode — see :func:`spype_spark.lakehouse.rename_columns`).
        The schema change escalates the conflict footprint to the
        whole table, so any concurrent writer to ``name`` aborts one
        side — the serializability a schema change demands."""
        self._check_open()
        path = self.cat.table_path(name)
        base = self._resolve(name)
        m = lake._m_load(path, base)
        tf = m.get("transforms") or []
        hidden = {t["name"] for t in tf} & set(renames)
        if hidden:
            raise ValueError(
                f"{sorted(hidden)} are hidden partition-transform "
                "columns; rename their SOURCE column instead (the "
                "transform follows)"
            )
        # a renamed transform source follows the rename — same rule as
        # lake.rename_columns (hidden names/directories are immutable)
        new_tf = [
            {**t, "source": renames.get(t["source"], t["source"])}
            for t in tf
        ]
        schema_json, pcols, entries, retired, cons, bkeys = (
            lake._rename_plan(path, m, renames)
        )
        v = self._stage(
            None, path, pcols, entries, base,
            schema_json=schema_json, retired_override=retired,
            constraints_override=cons if cons is not None else {},
            transforms=new_tf or None,
            bloom_keys_override=bkeys,
        )
        self._staged[name] = v
        return v

    def set_partition_spec(self, name: str, partition_by) -> int:
        """Stage PARTITION SPEC EVOLUTION (metadata-only; see
        :func:`spype_spark.lakehouse.set_partition_spec`) — the only
        log-safe way to evolve a CATALOG table's spec (a direct
        lake-level call would bump the table behind the record log's
        back). Schema changes escalate the conflict footprint to the
        whole table, as any schema change."""
        self._check_open()
        path = self.cat.table_path(name)
        base = self._resolve(name)
        m = lake._m_load(path, base)
        pcols, new_tf, schema_json = lake._spec_plan(m, partition_by)
        v = self._stage(
            None,
            path,
            pcols,
            lake._m_entries(path, m),
            base,
            deletes=m.get("deletes", []),
            schema_json=schema_json,
            transforms=new_tf or [],
        )
        self._staged[name] = v
        return v

    def drop_columns(self, name: str, cols) -> int:
        """Stage a column DROP (metadata-only; physical names retired —
        see :func:`spype_spark.lakehouse.drop_columns`). Full-table
        conflict footprint, as any schema change."""
        self._check_open()
        path = self.cat.table_path(name)
        base = self._resolve(name)
        m = lake._m_load(path, base)
        tf = m.get("transforms") or []
        if isinstance(cols, str):
            cols = [cols]
        bad = (
            {t["name"] for t in tf} | {t["source"] for t in tf}
        ) & set(cols)
        if bad:
            raise ValueError(
                f"{sorted(bad)} back the table's hidden partitioning "
                "(transform source or hidden column); repartition the "
                "table to drop them"
            )
        schema_json, pcols, entries, retired, cons, bkeys = (
            lake._drop_plan(path, m, cols)
        )
        v = self._stage(
            None, path, pcols, entries, base,
            schema_json=schema_json, retired_override=retired,
            constraints_override=cons if cons is not None else {},
            bloom_keys_override=bkeys if bkeys is not None else [],
        )
        self._staged[name] = v
        return v

    # -- commit / abort -------------------------------------------------
    def commit(self) -> int | None:
        """Publish ONE log record covering every staged table — the
        atomic step. Returns the new txn id (None for an empty txn).

        A BRANCH-bound transaction commits to the branch ref instead:
        the staged versions and footprints are saved (pinned,
        cross-session durable, still invisible to every catalog
        reader) and no record is published — that is
        :meth:`Catalog.publish_branch`'s job. Returns None."""
        self._check_open()
        self._closed = True
        if not self._staged:
            return None
        if self._branch is not None:
            rec = self.cat._branch_rec(self._branch)
            rec["tables"].update(self._staged)
            for n, m in self._staged_meta.items():
                if n in self._staged:
                    rec["meta"][n] = {
                        "mode": m["mode"],
                        "touched": list(m.get("touched", [])),
                        "new_entries": m.get("new_entries", []),
                    }
            rec["staged"] = list(rec.get("staged", [])) + [
                [n, v] for n, v in self._all_staged
            ]
            self.cat._branch_save(self._branch, rec)
            return None
        while True:
            cur = self.cat.latest_txn()
            apps = self.cat.apps(cur)
            if (
                self._app_id is not None
                and apps.get(self._app_id, -1) >= self._app_version
            ):
                # idempotent writer: this unit of work already landed
                # (a restarted sink replaying a committed batch) —
                # quietly discard rather than double-apply. Checked
                # before the conflict test: a replayed batch's tables
                # were OBVIOUSLY changed since its snapshot, and that
                # is precisely not an error here.
                self._unstage()
                return None
            lo = -1 if self._base_txn is None else self._base_txn
            if self._scan_floor is not None:
                lo = max(lo, self._scan_floor)
            rebase: set[str] = set()
            for t in range(lo + 1, (cur if cur is not None else -1) + 1):
                try:
                    rec = self.cat._record(t)
                except FileNotFoundError:
                    # a vacuum dropped a record between this txn's
                    # snapshot and its commit — the conflict scan can
                    # no longer prove isolation; fail cleanly per the
                    # documented contract, not with a raw IO error
                    self._unstage()
                    raise ConcurrentWriteError(
                        f"transaction record {t} was vacuumed while "
                        f"this transaction was open; its conflict "
                        f"window cannot be checked — retry from a "
                        f"fresh snapshot"
                    )
                ops = rec.get("ops", {})
                for name in set(rec["changed"]) & set(self._staged):
                    mine = self._staged_meta.get(name, {"mode": "*"})
                    theirs = ops.get(name, {"mode": "*"})
                    if not _ops_compatible(mine, theirs):
                        self._unstage()
                        raise ConcurrentWriteError(
                            f"transaction conflict on table(s) "
                            f"[{name!r}]: txn {t} changed them after "
                            f"this transaction's snapshot (overlapping "
                            f"or unprovably-disjoint footprints); retry"
                        )
                    rebase.add(name)
            if rebase:
                # every intervening change is PROVABLY disjoint from
                # ours — re-stage each clashed table's net change onto
                # the current head (Iceberg-style commit-time manifest
                # merge) instead of aborting, then re-scan from here
                state = self.cat.state(cur)
                for name in sorted(rebase):
                    self._rebase_table(name, state[name])
                self._scan_floor = cur
                continue
            new_txn = (cur if cur is not None else -1) + 1
            tables = self.cat.state(cur)
            tables.update(self._staged)
            if self._app_id is not None:
                apps[self._app_id] = self._app_version
            try:
                self.cat._publish_record(
                    new_txn,
                    {
                        "txn": new_txn,
                        "base": cur,
                        "tables": tables,
                        "changed": sorted(self._staged),
                        "ops": {
                            n: {
                                "mode": m["mode"],
                                "touched": list(m.get("touched", [])),
                            }
                            for n, m in self._staged_meta.items()
                            if n in self._staged
                        },
                        "apps": apps,
                    },
                )
                return new_txn
            except ConcurrentWriteError:
                continue  # re-point against the newer record set

    def abort(self) -> None:
        self._check_open()
        self._closed = True
        self._unstage()

    def _unstage(self) -> None:
        """Unlink staged manifests (they were never referenced by a
        record, so this is invisible); orphaned data files are left for
        :meth:`Catalog.vacuum` — the same sweep that handles a crash
        which never reached this cleanup."""
        for name, v in self._all_staged:
            try:
                os.unlink(lake._m_path(self.cat.table_path(name), v))
            except FileNotFoundError:
                pass

    def __enter__(self) -> "Transaction":
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        if exc_type is not None:
            if not self._closed:
                self.abort()
            return False
        if not self._closed:
            self.commit()
        return False


class CatalogChangesStream:
    """Incremental consumption of the CATALOG-GRAIN change feed — the
    cross-table analogue of :class:`lakehouse.ChangesStream`: each
    :meth:`drain` emits exactly the per-table feeds for the
    transactions committed since the last drain and durably
    checkpoints the consumed txn id, so a restarted consumer resumes
    where it left off and every transaction is delivered exactly once
    across restarts. The consumer state is ONE integer for N tables —
    which is the point: a pipeline following fact + rollup (+ …)
    cannot see a transaction's fact changes without its rollup
    changes, because the cursor moves per TRANSACTION, never per
    table.

    ``from_txn=None`` starts at the current head (only new
    transactions); pass an explicit txn id to replay from there
    (``-1`` = full history). Offset commit/callback semantics are
    identical to :class:`lakehouse.ChangesStream` (at-least-once with
    ``process``, whose argument here is the ``{table: DataFrame}``
    dict; exactly-once when the callback lands in an idempotent
    sink)."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog,
        keys_by_table: dict[str, list[str]],
        checkpoint_dir: str,
        from_txn: int | None = None,
    ):
        self.spark = spark
        self.catalog = catalog
        self.keys_by_table = dict(keys_by_table)
        os.makedirs(checkpoint_dir, exist_ok=True)
        self._offset_path = os.path.join(checkpoint_dir, "offset.json")
        if not os.path.exists(self._offset_path):
            start = (
                catalog.latest_txn() if from_txn is None else from_txn
            )
            if start is None:
                start = -1
            self._commit_offset(start)

    def consumed_txn(self) -> int:
        with open(self._offset_path) as f:
            return json.load(f)["txn"]

    def _commit_offset(self, t: int) -> None:
        tmp = self._offset_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"txn": t, "catalog": self.catalog.root}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._offset_path)

    def drain(self, process=None) -> dict[str, DataFrame] | None:
        """One microbatch: ``{table: feed}`` for every transaction
        committed since the checkpoint, or ``None`` when caught up.
        Without ``process`` the feeds are localCheckpoint-materialized
        before the offset commits, so they survive later mutations."""
        last = self.consumed_txn()
        head = self.catalog.latest_txn()
        if head is None or head <= last:
            return None
        ts = self.catalog.txns()
        if last != -1 and last not in ts:
            raise FileNotFoundError(
                f"checkpointed txn {last} of {self.catalog.root} was "
                f"vacuumed; the stream cannot resume without a gap — "
                f"restart from an explicit from_txn"
            )
        feeds = self.catalog.changes(
            self.spark,
            self.keys_by_table,
            txn_from=(None if last == -1 else last),
            txn_to=head,
        )
        if process is not None:
            process(feeds)
            self._commit_offset(head)
            return feeds
        feeds = {k: v.localCheckpoint() for k, v in feeds.items()}
        self._commit_offset(head)
        return feeds
