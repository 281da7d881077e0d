"""Seeded input generator.

Everything a workload reads is made here from ``--seed``: the sf0.1
star-schema tables (same names, columns and value domains as the
corpus the engine's contracts run on), the ``llm_curation`` corpus
with a fixed near-duplicate share, and the ``lake_mix`` mutation log.
The same seed gives byte-identical files (tested in ``test_gen.py``):
only NumPy's seeded ``Generator`` draws values and the Parquet writer
settings are pinned.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: sf0.1 row counts (documents/embeddings do not scale linearly).
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMB_DIM = 64

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "D").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(table: pa.Table, path: str) -> int:
    """Write one Parquet file with pinned settings; returns its size."""
    pq.write_table(
        table, path, compression="snappy", row_group_size=1 << 20,
        write_statistics=True, store_schema=False,
    )
    return os.path.getsize(path)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_days(days: np.ndarray) -> pa.Array:
    us = (days.astype(np.int64) + _EPOCH_1995) * _US_PER_DAY
    return pa.array(us, type=pa.timestamp("us"))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    return [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]


def star_tables(seed: int) -> dict[str, pa.Table]:
    """The relational sf0.1 tables plus ``events``, ``documents`` and
    ``embeddings``, drawn from ``seed``."""
    rng = np.random.default_rng([seed, 1])
    n = SF01_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
        "c_name": _names("Customer", n["customer"]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
        "s_name": _names("Supplier", n["supplier"]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    n_part = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    n_ord = n["orders"]
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 900.0, 500_000.0, n_ord),
        "o_orderdate": _ts_days(order_day),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)  # ~4 lines per order → ~600k
    l_ord = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(l_ord)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ord),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], n_li)),
        "l_linenumber": pa.array((np.arange(n_li) - starts + 1).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts_days(order_day[l_ord] + rng.integers(1, 122, n_li)),
    })
    n_ev = n["events"]
    ev_ts = np.sort(rng.integers(0, 29 * _US_PER_DAY, n_ev)) + _EPOCH_2024
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    t["documents"] = documents_table(rng, n["documents"])
    t["embeddings"] = embeddings_table(rng, n["embeddings"])
    return t


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    texts = _texts(rng, n)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
    })


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel()), EMB_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


#: ``llm_curation`` corpus shape: the sf0.1 documents scaled up by
#: CURATION_SCALE, with NEAR_DUP_SHARE of the rows near-duplicates of
#: another row and EXACT_DUP_SHARE verbatim copies. Each copy has its
#: own source doc, so duplicates come in pairs. A near-duplicate is one
#: word substituted in a doc of at least NEAR_DUP_MIN_WORDS words:
#: 3-shingle Jaccard >= 0.9, where MinHash LSH (8 bands of 2) misses a
#: pair with probability < 2e-6, while unrelated docs share almost no
#: shingles. Every doc has an embedding row.
CURATION_SCALE = 2
NEAR_DUP_SHARE = 0.20
EXACT_DUP_SHARE = 0.05
NEAR_DUP_MIN_WORDS = 60


def curation_corpus(seed: int) -> dict[str, pa.Table]:
    """Documents and embeddings for ``llm_curation`` (ids are dense)."""
    rng = np.random.default_rng([seed, 2])
    n = SF01_ROWS["documents"] * CURATION_SCALE
    n_near = int(n * NEAR_DUP_SHARE)
    n_exact = int(n * EXACT_DUP_SHARE)
    n_base = n - n_near - n_exact
    texts = _texts(rng, n_base)
    words_of = [t.split(" ") for t in texts]
    long_ids = [i for i in rng.permutation(n_base)
                if len(words_of[i]) >= NEAR_DUP_MIN_WORDS][:n_near]
    if len(long_ids) < n_near:
        raise ValueError("corpus too small for the near-duplicate share")
    for s in long_ids:
        words = list(words_of[s])
        p = int(rng.integers(0, len(words)))
        shift = 1 + int(rng.integers(0, len(VOCAB) - 1))  # never the same word
        words[p] = VOCAB[(VOCAB.index(words[p]) + shift) % len(VOCAB)]
        texts.append(" ".join(words))
    taken = set(long_ids)
    free = [i for i in rng.permutation(n_base) if i not in taken]
    texts.extend(texts[s] for s in free[:n_exact])
    order = rng.permutation(n)  # scatter the copies through the id space
    texts = [texts[i] for i in order]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
    })
    return {"documents": docs, "embeddings": embeddings_table(rng, n)}


#: The ``lake_mix`` op cycle: 5 writes and 4 reads.
LAKE_CYCLE = ("merge", "scan", "delete_dv", "read", "sql_merge", "changes",
              "delete_range", "delta_read", "compact")


def lake_mutations(seed: int, n_orders: int, n_ops: int) -> list[dict]:
    """The ``lake_mix`` operation log: a fixed op cycle with seeded
    keys. Merge keys hit existing orders (updates) and fresh keys past
    the table (inserts); deletes take a narrow key range or a residue
    class, so no operation ever empties the table."""
    rng = np.random.default_rng([seed, 3])
    log = []
    fresh = n_orders
    for i in range(n_ops):
        kind = LAKE_CYCLE[i % len(LAKE_CYCLE)]
        op: dict = {"op": kind, "i": i}
        if kind in ("merge", "sql_merge"):
            upd = sorted({int(k) for k in rng.integers(0, n_orders, 4)})
            op["keys"] = upd + [fresh, fresh + 1]
            fresh += 2
            op["delta"] = round(float(rng.integers(1, 1000)), 2)
        elif kind == "delete_dv":
            op["key"] = int(rng.integers(0, n_orders))
            op["mod"] = 997
        elif kind == "delete_range":
            lo = int(rng.integers(0, n_orders - 20))
            op["lo"], op["hi"] = lo, lo + 5
        elif kind == "scan":
            lo = int(rng.integers(0, n_orders - 2000))
            op["lo"], op["hi"] = lo, lo + 1500
        log.append(op)
    return log


#: Length of the ``lake_mix`` log: four passes over the op cycle, more
#: than a timed phase runs at the current speed (one pass).
LAKE_OPS = 4 * len(LAKE_CYCLE)


def write_inputs(root: str, seed: int, workload: str) -> dict:
    """Generate ``workload``'s inputs under ``root``; returns a summary
    (paths, bytes and rows per table) that the workload reads back."""
    os.makedirs(root, exist_ok=True)
    if workload == "llm_curation":
        tables = curation_corpus(seed)
    else:
        tables = star_tables(seed)
        if workload == "lake_mix":
            tables = {"orders": tables["orders"]}
    sizes = {name: _write(tab, os.path.join(root, f"{name}.parquet"))
             for name, tab in tables.items()}
    out = {"dir": root, "bytes": sizes,
           "rows": {k: v.num_rows for k, v in tables.items()}}
    if workload == "lake_mix":
        log = lake_mutations(seed, tables["orders"].num_rows, LAKE_OPS)
        with open(os.path.join(root, "mutations.json"), "w") as f:
            json.dump(log, f, sort_keys=True)
        out["log"] = log
    return out
