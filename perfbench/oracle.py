"""Expected outputs, computed once during set-up with DuckDB (NumPy for
exact cosine top-k), and the comparison every timed operation's output
goes through.

A result is reduced to a canonical, order-free row list and a SHA-256
digest of it. Equal digests pass at once; otherwise the rows are
compared pairwise with a tight float tolerance, because two engines may
sum the same doubles in a different order.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import duckdb
import numpy as np
import pyarrow.parquet as pq

REL_TOL = 1e-9
ABS_TOL = 1e-6


def _cell(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def _sort_key(row: tuple) -> tuple:
    return tuple(
        (0, "") if v is None
        else (1, f"{v:.6g}") if isinstance(v, float)
        else (2, repr(v))
        for v in row
    )


def canonical(rows) -> list[tuple]:
    """Rows (Spark ``Row``s or tuples) as sorted tuples of plain values."""
    return sorted((tuple(_cell(v) for v in r) for r in rows), key=_sort_key)


def digest(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(_sort_key(r)).encode())
    return h.hexdigest()


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


class Expected:
    """One expected result: canonical rows plus their digest."""

    def __init__(self, rows):
        self.rows = canonical(rows)
        self.digest = digest(self.rows)

    def matches(self, rows) -> bool:
        got = canonical(rows)
        if digest(got) == self.digest:
            return True
        return len(got) == len(self.rows) and all(
            _close(a, b) for a, b in zip(got, self.rows)
        )


def cosine_topk_rows(ids: np.ndarray, vecs: np.ndarray, k: int) -> list[tuple]:
    """Exact top-k neighbours by dot product, ties to the lower id:
    ``(src_id, nbr_id, cosine rounded to 6 places, rank)``."""
    dots = vecs @ vecs.T
    np.fill_diagonal(dots, -np.inf)
    rows = []
    for r, src in enumerate(ids):
        order = np.lexsort((ids, -dots[r]))[:k]
        rows += [(int(src), int(ids[c]), round(float(dots[r, c]), 6), rank + 1)
                 for rank, c in enumerate(order)]
    return rows


def read_embeddings(path: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, float64 vectors) of an embeddings Parquet file."""
    t = pq.read_table(path)
    vecs = np.asarray(t["embedding"].to_pylist(), dtype=np.float32)
    return t["vec_id"].to_numpy(), vecs.astype(np.float64)


def connect(table_paths: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with one view per generated Parquet table."""
    con = duckdb.connect()
    for name, path in table_paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con
