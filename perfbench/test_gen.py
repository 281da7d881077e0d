"""The benchmark's own tests: inputs are a pure function of the seed,
and the lake_mix log never empties the table.

    python3 -m pytest perfbench/test_gen.py
"""

from __future__ import annotations

import hashlib
import os

import pytest

from perfbench import gen


def _tree_digest(root: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(root, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(root))
    }


@pytest.mark.parametrize("workload", ["analytics", "llm_curation", "lake_mix"])
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    a = gen.write_inputs(str(tmp_path / "a"), 7, workload)
    b = gen.write_inputs(str(tmp_path / "b"), 7, workload)
    assert _tree_digest(a["dir"]) == _tree_digest(b["dir"])
    assert a["rows"] == b["rows"] and a["bytes"] == b["bytes"]


def test_other_seed_gives_other_inputs(tmp_path):
    a = gen.write_inputs(str(tmp_path / "a"), 1, "lake_mix")
    b = gen.write_inputs(str(tmp_path / "b"), 2, "lake_mix")
    assert _tree_digest(a["dir"]) != _tree_digest(b["dir"])


def test_curation_corpus_has_its_duplicate_shares():
    docs = gen.curation_corpus(3)["documents"].column("text").to_pylist()
    n = len(docs)
    exact = n - len(set(docs))
    assert exact == int(n * gen.EXACT_DUP_SHARE)
    # each near-duplicate differs from its source in exactly one word
    by_len: dict[int, list[list[str]]] = {}
    for t in set(docs):
        by_len.setdefault(len(t.split(" ")), []).append(t.split(" "))
    near = 0
    for group in by_len.values():
        if len(group[0]) < gen.NEAR_DUP_MIN_WORDS:
            continue
        seen = {}
        for words in group:
            for p in range(len(words)):
                key = (p, tuple(words[:p]), tuple(words[p + 1:]))
                near += key in seen
                seen[key] = True
    assert near >= int(n * gen.NEAR_DUP_SHARE)


def test_lake_log_keeps_rows_and_uses_every_op():
    log = gen.lake_mutations(5, 150_000, gen.LAKE_OPS)
    kinds = {op["op"] for op in log}
    assert kinds == {"merge", "sql_merge", "delete_dv", "delete_range", "compact",
                     "scan", "read", "changes", "delta_read"}
    deleted = sum(op["hi"] - op["lo"] + 1 for op in log if op["op"] == "delete_range")
    deleted += sum(150_000 // op["mod"] + 1 for op in log if op["op"] == "delete_dv")
    assert deleted < 150_000 // 2
