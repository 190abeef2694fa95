"""Check a committed table against the single-process oracle, from files.

Reads the table root with pyarrow (not through the Spark session under
test) and counts bad rows:

* ``doc_kind = 'error'`` rows;
* urls missing from the table, extra urls, and extra copies of a url;
* per-url ``text_sha256`` that differs from the oracle;
* every row of a bucket whose lineage does not reconcile: per bucket, the
  lineage row of the latest run that wrote it must carry the bucket's row
  count and the XOR-of-sha256 rollup of the oracle digests of its urls;
* every row of a run's buckets when that run's snapshot row is missing or
  its doc_count differs from the run's lineage total.
"""

from __future__ import annotations

import os
from collections import Counter, defaultdict
from typing import Dict, List, Sequence, Set, Tuple

import pyarrow as pa
import pyarrow.parquet as pq


def xor_rollup(digests) -> str:
    """Python twin of the JVM rollup (functions.sql.digest_xor_chunks)."""
    acc = [0] * 8
    for d in digests:
        for k in range(8):
            acc[k] ^= int(d[k * 8 : k * 8 + 8], 16)
    return "".join(f"{x:08x}" for x in acc)


def read_committed(root: str) -> List[Tuple[str, int, str, str]]:
    """(url, url_bucket, doc_kind, text_sha256) for every committed row."""
    t = pq.read_table(
        os.path.join(root, "extracted"),
        columns=["url", "url_bucket", "doc_kind", "text_sha256"],
    )
    cols = [t.column(c).to_pylist() for c in ("url", "url_bucket", "doc_kind", "text_sha256")]
    return list(zip(*cols))


def _read_rows(path: str) -> List[dict]:
    if not os.path.isdir(path):
        return []
    return pq.read_table(path).to_pylist()


def count_bad(root: str, expected: Dict[str, str], run_ids: Sequence[str]) -> int:
    """Bad rows of the table at ``root``; ``run_ids`` lists the runs that
    committed to it, oldest first."""
    rows = read_committed(root)
    bad: Set[str] = set()
    extra_copies = 0
    seen = Counter(r[0] for r in rows)
    for url, n in seen.items():
        extra_copies += n - 1
    by_bucket: Dict[int, List[str]] = defaultdict(list)
    for url, bucket, kind, sha in rows:
        by_bucket[bucket].append(url)
        if kind == "error" or expected.get(url) != sha:
            bad.add(url)
    bad.update(u for u in expected if u not in seen)

    lineage = [r for r in _read_rows(os.path.join(root, "lineage")) if r["run_id"] in run_ids]
    order = {rid: i for i, rid in enumerate(run_ids)}
    latest: Dict[int, dict] = {}
    for r in sorted(lineage, key=lambda r: order[r["run_id"]]):
        latest[r["url_bucket"]] = r
    for bucket, urls in by_bucket.items():
        lin = latest.get(bucket)
        want = xor_rollup(expected[u] for u in urls if u in expected)
        if lin is None or lin["doc_count"] != len(urls) or lin["sha256_rollup"] != want:
            bad.update(urls)

    snaps = {r["run_id"]: r for r in _read_rows(os.path.join(root, "snapshots"))}
    for rid in run_ids:
        mine = [r for r in lineage if r["run_id"] == rid]
        snap = snaps.get(rid)
        if snap is None or snap["doc_count"] != sum(r["doc_count"] for r in mine):
            for r in mine:
                bad.update(by_bucket.get(r["url_bucket"], ()))
    return len(bad) + extra_copies


def corrupt_one_digest(root: str) -> None:
    """Self-test hook: flip one committed row's text_sha256."""
    ext = os.path.join(root, "extracted")
    for dirpath, _, files in sorted(os.walk(ext)):
        for name in sorted(files):
            if name.endswith(".parquet"):
                path = os.path.join(dirpath, name)
                t = pq.read_table(path)
                if t.num_rows == 0:
                    continue
                shas = t.column("text_sha256").to_pylist()
                shas[0] = "0" * 64 if shas[0] != "0" * 64 else "f" * 64
                i = t.schema.get_field_index("text_sha256")
                t = t.set_column(i, t.schema.field(i), pa.array(shas, pa.string()))
                pq.write_table(t, path)
                return
    raise RuntimeError(f"no committed parquet file under {ext}")
