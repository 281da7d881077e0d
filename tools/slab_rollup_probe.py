"""Slab roll-up probe (VERDICT r13 task 6): planning cost under a
long run of small streaming-sink commits.

Before round 14 every microbatch commit produced its own
content-addressed slab forever: 10³ commits → 10³ slab files, and
every scan's planning paid O(commits) JSON opens — the maintenance
coupling SCALE.md documented ("needs periodic compaction"). The
round-14 roll-up in :func:`manifest_log.m_write_parts` merges groups
smaller than the inline threshold into ≤ ``_SLAB_MAX_GROUPS`` stable
hash buckets once the group count crosses the planning cap, so slab
fan-in is BOUNDED regardless of commit count while large groups
(compaction output, backfills) keep partition-pure slabs.

The probe drives the sink's own commit path (``_commit_append`` — the
exact code a ``writeStream.format("spype_lake")`` microbatch runs)
for N tiny commits and records, every 100 commits: head slab count,
manifest resolve time (planning's metadata floor), and commit wall.
It asserts the slab count stays ≤ _SLAB_MAX_GROUPS + O(1) and the
resolve time stays flat, then verifies row-level correctness of the
final table against the expected count.

Usage: python tools/slab_rollup_probe.py [n_commits]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from spype_spark import manifest_log as mlog  # noqa: E402
from spype_spark.lake_sink import _commit_append, _LakeWriteMessage  # noqa: E402


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    tmp = tempfile.mkdtemp(prefix="slab_rollup_")
    path = os.path.join(tmp, "t")
    rows_per = 10

    # table birth: v0 with one entry (pure-python write_table twin —
    # the probe measures METADATA cost, so no SparkSession is needed)
    os.makedirs(os.path.join(path, "data"), exist_ok=True)
    schema_json = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "long", "nullable": True, "metadata": {}},
        ],
    }

    def write_file(seq: int) -> dict:
        d = os.path.join(path, "data", f"stream-{uuid.uuid4().hex}")
        os.makedirs(d)
        fp = os.path.join(d, "part-00000.parquet")
        base = seq * rows_per
        pq.write_table(
            pa.table(
                {
                    "k": list(range(base, base + rows_per)),
                    "v": [x * 2 for x in range(base, base + rows_per)],
                }
            ),
            fp,
        )
        return {
            "path": os.path.relpath(fp, path).replace(os.sep, "/"),
            "partition": {},
            **mlog.m_file_stats(fp),
        }

    e0 = write_file(0)
    e0["seq"] = 0
    mlog.m_publish(
        path,
        0,
        {
            "version": 0,
            "base": None,
            "schema": schema_json,
            "partition_by": None,
            "files": [e0],
        },
    )

    out = []
    t_all = time.perf_counter()
    for i in range(1, n + 1):
        entry = write_file(i)
        t0 = time.perf_counter()
        _commit_append(
            path,
            [_LakeWriteMessage([entry], [])],
            "probe-app",
            i,
        )
        commit_ms = (time.perf_counter() - t0) * 1000
        if i % 100 == 0 or i == n:
            head = max(mlog.m_versions(path))
            t1 = time.perf_counter()
            m = mlog.m_load(path, head)
            entries = mlog.m_entries(path, m)
            resolve_ms = (time.perf_counter() - t1) * 1000
            slabs = len(m.get("parts") or [])
            rec = {
                "commit": i,
                "slabs": slabs,
                "entries": len(entries),
                "resolve_ms": round(resolve_ms, 2),
                "commit_ms": round(commit_ms, 2),
            }
            out.append(rec)
            print(json.dumps(rec), flush=True)

    total_s = time.perf_counter() - t_all
    # invariants: bounded fan-in, flat resolve
    worst = max(r["slabs"] for r in out)
    assert worst <= mlog._SLAB_MAX_GROUPS + 1, f"slab fan-in {worst}"
    first, last = out[0]["resolve_ms"], out[-1]["resolve_ms"]
    head = max(mlog.m_versions(path))
    m = mlog.m_entries(path, mlog.m_load(path, head))
    n_rows = sum(e["rows"] for e in m)
    assert n_rows == (n + 1) * rows_per, f"rows {n_rows}"
    assert len({e["path"] for e in m}) == n + 1, "entry count"
    print(
        json.dumps(
            {
                "summary": "slab_rollup",
                "commits": n,
                "max_slabs": worst,
                "resolve_first_ms": first,
                "resolve_last_ms": last,
                "total_s": round(total_s, 1),
            }
        )
    )
    shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
