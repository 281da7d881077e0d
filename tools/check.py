"""Local differential checker — replica of the driver's t2 gate.

Runs every registered query on Spark and its oracle SQL on DuckDB over
the same Parquet tables, then compares row count, column names, and an
order-insensitive value hash. Stricter than the driver on value
canonicalization (exact repr of doubles), so passing here is the best
available predictor of passing the driver's CORRECTNESS check.

Usage:
    python tools/check.py                 # all queries at sf0.01
    python tools/check.py q_join_3way ... # subset
    python tools/check.py 'q_lake_*'      # subset by shell-style glob
    python tools/check.py --sf /root/testdata/sf0.001
"""

from __future__ import annotations

import argparse
import datetime as dt
import decimal
import fnmatch
import hashlib
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from spype_spark.queries import REGISTRY
from spype_spark.session import get_spark
from spype_spark.tables import TABLES


def canon_value(v) -> str:
    """Canonical string for one cell value (strict: exact float repr)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_value(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _replica_cell(v) -> str:
    """Cell canonicalization as the DRIVER sees it (post-pandas).

    The driver converts both result sets through pandas before hashing
    (CORRECTNESS_r01 tracebacks show pandas sort_values in its _canon).
    Two consequences this replica reproduces deliberately:

    - numpy.ndarray cells (any array-typed output column) are unhashable
      in pandas sort_values → the driver CRASHES. We raise the same
      TypeError so array outputs fail loudly here first.
    - DuckDB DECIMAL arrives as float64 while Spark ships
      decimal.Decimal objects → differing canonical strings → hash
      mismatch. repr() preserves that divergence instead of papering
      over it like canon_value() does.
    """
    import numpy as np

    if v is None:
        return "NULL"
    if isinstance(v, np.ndarray):
        raise TypeError("unhashable type: 'numpy.ndarray' (driver-replica)")
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        return "NULL" if v != v else repr(v)
    return repr(v)


def replica_hash(pdf) -> str:
    """Order-insensitive hash through the driver's pandas path.

    Sorts columns by name, rows by all columns via pandas sort_values
    (which raises on unhashable cells exactly like the driver), then
    sha256 over repr-canonicalized rows.
    """
    pdf = pdf.reindex(columns=sorted(pdf.columns))
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns))
    h = hashlib.sha256()
    lines = sorted(
        "\x1f".join(_replica_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def hash_rows(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash: sort columns by name, canonicalize rows,
    sort row strings, sha256."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(canon_value(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def _arrow_col_canon(col):
    """(family, value ndarray, null-mask ndarray) for one Arrow column,
    or (None, None, None) when the type needs the per-cell legacy path.

    Exactness notes: integers stay int64 end-to-end (no float64 detour
    that would silently round > 2^53 — hash checksums and xxhash64
    outputs live there); floats canonicalize to their BIT PATTERN
    (int64 view) — stricter than repr. Nulls are carried as a separate
    mask field (value slot zeroed), so NULL orders distinctly from
    every real value including NaN.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.types as pt

    a = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    t = a.type
    mask = a.is_null().to_numpy(zero_copy_only=False)
    if pt.is_integer(t):
        v = a.cast(pa.int64()).fill_null(0).to_numpy(zero_copy_only=False)
        return "int", v, mask
    if pt.is_floating(t):
        v = (
            a.cast(pa.float64())
            .fill_null(0.0)
            .to_numpy(zero_copy_only=False)
            .copy()
        )
        nan = np.isnan(v)
        bits = v.view("int64").copy()
        bits[nan] = -1  # all-NaN-payloads collapse, like repr() does
        return "float", bits, mask
    if pt.is_boolean(t):
        v = a.fill_null(False).to_numpy(zero_copy_only=False).astype("i1")
        return "bool", v, mask
    if pt.is_string(t) or pt.is_large_string(t):
        v = a.to_numpy(zero_copy_only=False)
        out = np.where(mask, "", v).astype("U")
        return "str", out, mask
    if pt.is_timestamp(t):
        # tz-aware vs naive is a FAMILY difference (legacy path decides)
        fam = f"ts[{t.tz or ''}]"
        v = (
            a.cast(pa.timestamp("us", tz=t.tz))
            .fill_null(0)
            .cast(pa.int64())
            .to_numpy(zero_copy_only=False)
        )
        return fam, v, mask
    if pt.is_date(t):
        v = a.cast(pa.int64()).fill_null(0).to_numpy(zero_copy_only=False)
        return "date", v, mask
    return None, None, None


def hash_tables_fast(tab_s, tab_d):
    """Vectorized order-insensitive hash of BOTH Arrow tables, or
    (None, None) when any column needs the legacy path or the two
    sides' canonical families disagree (a conversion artifact, e.g.
    nullable-int vs float — the legacy Python-value path adjudicates
    those, exactly as before).

    Rows become records of a packed structured array ((null, value)
    field pair per column, columns in name order); np.sort orders the
    multiset canonically and sha256 runs over the raw sorted bytes.
    Both sides go through the IDENTICAL canonicalization, so the
    comparison is exact — a different (bit-level, stricter for floats)
    canonical form than hash_rows, applied symmetrically.
    """
    import numpy as np

    cols = sorted(tab_s.column_names)
    if sorted(tab_d.column_names) != cols:
        return None, None
    hashes = []
    fams = []
    for tab in (tab_s, tab_d):
        vals = []
        masks = []
        fam_row = []
        for c in cols:
            fam, arr, mask = _arrow_col_canon(tab.column(c))
            if fam is None:
                return None, None
            fam_row.append(fam)
            vals.append(arr)
            masks.append(mask)
        fams.append(fam_row)
        n = tab.num_rows
        fields = []
        for i, v in enumerate(vals):
            fields.append((f"n{i}", "i1"))
            fields.append((f"v{i}", v.dtype.str))
        rec = np.empty(n, dtype=fields)
        keys = []
        for i, (v, m) in enumerate(zip(vals, masks)):
            rec[f"n{i}"] = m.astype("i1")
            rec[f"v{i}"] = v
            keys.append(m)
            keys.append(v)
        # lexsort (type-specialized radix/merge per key) + permutation:
        # ~5x faster than np.sort on the void records, same total order
        srt = rec[np.lexsort(tuple(reversed(keys)))] if keys else rec
        h = hashlib.sha256()
        h.update(str(srt.dtype).encode())
        h.update(srt.tobytes())
        hashes.append(h.hexdigest())
    if fams[0] != fams[1]:
        return None, None
    return hashes[0], hashes[1]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "keys", nargs="*",
        help="query keys or shell-style globs, e.g. 'q_lake_*' (default: all)",
    )
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--shuffle-partitions",
        type=int,
        default=None,
        help="override shuffle partitions (determinism-under-repartitioning check)",
    )
    ap.add_argument("--show-diff", action="store_true",
                    help="print sample mismatching rows")
    ap.add_argument(
        "--driver-replica",
        action="store_true",
        help="ALSO hash through the driver's pandas canonicalization "
        "(catches ndarray crashes and Decimal-vs-float64 divergence "
        "that the strict native hash is blind to)",
    )
    args = ap.parse_args()

    keys, unknown = [], []
    for pat in args.keys or ["*"]:
        hits = fnmatch.filter(sorted(REGISTRY), pat)
        if not hits:
            unknown.append(pat)
        keys += [k for k in hits if k not in keys]
    if unknown:
        print(f"unknown keys: {unknown}")
        return 2

    spark = get_spark("spype-check")
    if args.shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    # Oracle-result cache for SQL shared verbatim by several keys (the
    # ANN audit contracts share one exact-top-3 oracle): run it once.
    from collections import Counter

    oracle_uses = Counter(
        REGISTRY[k].oracle for k in keys if REGISTRY[k].oracle is not None
    )
    oracle_cache: dict[str, object] = {}

    n_pass = n_fail = n_rows_only = 0
    failures: list[str] = []
    for name in keys:
        q = REGISTRY[name]
        t0 = time.time()
        try:
            df = q.fn(spark, args.sf)
            s_cols = df.columns
            # Arrow export feeds the vectorized hash; falls back to
            # collect() below only when a column type needs it.
            s_tab = df.toArrow()
            n_s = s_tab.num_rows
        except Exception:
            print(f"FAIL  {name}: SPARK ERROR")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            continue
        t_spark = time.time() - t0
        if q.oracle is None:
            print(f"rows  {name}: {n_s} rows (rows-only, {t_spark:.1f}s)")
            n_rows_only += 1
            continue
        t1 = time.time()
        try:
            d_tab = oracle_cache.get(q.oracle)
            if d_tab is None:
                d_tab = con.sql(q.oracle).arrow()
                if oracle_uses[q.oracle] > 1:
                    oracle_cache[q.oracle] = d_tab
            d_cols = d_tab.column_names
            n_d = d_tab.num_rows
        except Exception:
            print(f"FAIL  {name}: DUCKDB ERROR")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            continue
        problems = []
        if n_s != n_d:
            problems.append(f"rows {n_s} != {n_d}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols {sorted(s_cols)} != {sorted(d_cols)}")
        s_rows = None
        if not problems:
            hs, hd = hash_tables_fast(s_tab, d_tab)
            if hs is None:
                # legacy per-cell path (array/map/decimal outputs, or a
                # cross-engine dtype-family artifact): exact Python
                # values from collect()/fetchall(), as before
                s_rows = [tuple(r) for r in df.collect()]
                d_rows = con.sql(q.oracle).fetchall()
                hs = hash_rows(s_cols, s_rows)
                hd = hash_rows(d_cols, d_rows)
            hash_mismatch = hs != hd
            if hash_mismatch:
                problems.append("value-hash mismatch")
            elif args.driver_replica:
                try:
                    rs = replica_hash(df.toPandas())
                    rd = replica_hash(con.sql(q.oracle).df())
                    if rs != rd:
                        problems.append("DRIVER-replica hash mismatch")
                        hash_mismatch = True
                except TypeError as e:
                    problems.append(f"DRIVER-replica crash: {e}")
            if hash_mismatch and args.show_diff:
                if s_rows is None:  # fast path hashed; fetch rows now
                    s_rows = [tuple(r) for r in df.collect()]
                    d_rows = con.sql(q.oracle).fetchall()
                order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                set_s = {
                    "\x1f".join(canon_value(r[i]) for i in order_s)
                    for r in s_rows
                }
                set_d = {
                    "\x1f".join(canon_value(r[i]) for i in order_d)
                    for r in d_rows
                }
                print(f"  cols: {sorted(s_cols)}")
                for x in list(set_s - set_d)[:5]:
                    print(f"  spark-only: {x!r}")
                for x in list(set_d - set_s)[:5]:
                    print(f"  duck-only : {x!r}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
            failures.append(name)
        else:
            t_duck = time.time() - t1
            print(
                f"ok    {name}: {n_s} rows "
                f"({time.time()-t0:.1f}s = spark {t_spark:.1f}s"
                f" + duck {t_duck:.1f}s)"
            )
            n_pass += 1

    print(
        f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} FAILED"
        + (f": {failures}" if failures else "")
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
