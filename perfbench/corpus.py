"""Seeded benchmark inputs and their single-process oracle.

A corpus is two relations, both derived from ``--seed``:

* ``base``, by kind: ``crawl`` is ``gen_pages(size, seed)`` — the
  generator's default crawl mix (~78 % HTML, 15 % PDF, 7 % text, mild host
  skew, 5 % re-crawl duplicates); ``pdf`` is the first ``size`` rows of the
  generator's heavy-skew stream that ``sniff_kind`` calls PDF (every
  font, layout and encryption band the generator draws);
* ``increment``: ~5 % of ``size`` extra rows, half brand-new crawl-mix urls
  and half re-crawls of base urls at a later timestamp, a third of those
  carrying the base row's bytes unchanged.

Both are written as multi-file parquet (a single file scans as one task).
The oracle is the per-url ``text_sha256`` that single-process
``extract_document`` under ``rule_for_url(default_rules())`` gives on the
latest-wins deduped rows: ``base`` for a backfill, ``merged`` (the
increment wins over the base) for a merge.

Each corpus is cached in ``<work>/cache/<kind>-s<seed>-n<size>-<code>/``,
where ``<code>`` digests the generator and extractor sources, so a cached
oracle is never checked against a different extractor.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass
from typing import Dict, List

import pyarrow as pa
import pyarrow.parquet as pq

from corsearch_project_spark.fixtures.gen_pages import (
    default_rules,
    gen_page_row,
    gen_pages,
    pages_to_pandas,
)
from corsearch_project_spark.webextract.extract import extract_document
from corsearch_project_spark.webextract.rules import rule_for_url
from corsearch_project_spark.webextract.sniff import sniff_kind

INCREMENT_FRAC = 0.05
FILES_PER_INPUT = 8
# doc_index ranges disjoint from gen_pages' (0..n-1 and 10_000_000+k)
_NEW_INDEX = 20_000_000
_RECRAWL_INDEX = 30_000_000
_ORACLE_SOURCES = ("fixtures", "webextract")


@dataclass
class Corpus:
    base_path: str
    increment_path: str
    base: Dict[str, str]  # url -> oracle text_sha256, deduped base
    increment: Dict[str, str]  # url -> oracle text_sha256, deduped increment

    @property
    def merged(self) -> Dict[str, str]:
        return {**self.base, **self.increment}


def latest_wins(rows: List[dict]) -> Dict[str, dict]:
    """The pipeline's dedupe order: latest warc_ts, then larger payload,
    then larger fallback text."""

    def key(r):
        return (r["warc_ts"], len(r["html"] or b""), r["text"] or "")

    out: Dict[str, dict] = {}
    for r in rows:
        cur = out.get(r["url"])
        if cur is None or key(r) > key(cur):
            out[r["url"]] = r
    return out


def pdf_rows(seed: int, n: int) -> List[dict]:
    rows: List[dict] = []
    i = 0
    while len(rows) < n:
        row = gen_page_row(seed, i, "heavy")
        if sniff_kind(row["html"] or b"") == "pdf":
            rows.append(row)
        i += 1
    return rows


def make_increment(seed: int, base_latest: Dict[str, dict], size: int) -> List[dict]:
    n_inc = max(4, int(size * INCREMENT_FRAC))
    n_new = n_inc // 2
    rows = [gen_page_row(seed, _NEW_INDEX + k) for k in range(n_new)]
    rng = random.Random((seed << 8) ^ 0x1AC)
    victims = rng.sample(sorted(base_latest), n_inc - n_new)
    for j, url in enumerate(victims):
        old = base_latest[url]
        if j % 3 == 0:
            row = dict(old)  # re-crawl with unchanged bytes
        else:
            row = dict(gen_page_row(seed, _RECRAWL_INDEX + j))
            row["url"] = url
        row["warc_ts"] = old["warc_ts"] + dt.timedelta(days=60)
        rows.append(row)
    return rows


def oracle_digests(latest: Dict[str, dict]) -> Dict[str, str]:
    rules = default_rules()
    return {
        url: extract_document(
            url, r["html"], r["text"], rule_for_url(url, rules)
        ).text_sha256
        for url, r in latest.items()
    }


def write_pages(rows: List[dict], path: str, n_files: int = FILES_PER_INPUT) -> None:
    os.makedirs(path)
    table = pa.Table.from_pandas(pages_to_pandas(rows), preserve_index=False)
    n = table.num_rows
    for i in range(n_files):
        lo, hi = i * n // n_files, (i + 1) * n // n_files
        pq.write_table(
            table.slice(lo, hi - lo),
            os.path.join(path, f"part-{i:05d}.parquet"),
            # Spark's vectorized reader rejects pyarrow's default ns stamps
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )


def read_pages(path: str) -> List[dict]:
    return pq.read_table(path).to_pylist()


def _code_digest(pkg_root: str) -> str:
    h = hashlib.sha256()
    for sub in _ORACLE_SOURCES:
        top = os.path.join(pkg_root, sub)
        for dirpath, dirnames, files in os.walk(top):
            dirnames.sort()
            for name in sorted(files):
                if name.endswith((".py", ".json")):
                    p = os.path.join(dirpath, name)
                    h.update(os.path.relpath(p, pkg_root).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:12]


def load_corpus(work: str, kind: str, seed: int, size: int) -> Corpus:
    """Generate (or reuse) the inputs and oracle for one (kind, seed, size)."""
    import corsearch_project_spark

    code = _code_digest(os.path.dirname(corsearch_project_spark.__file__))
    d = os.path.join(work, "cache", f"{kind}-s{seed}-n{size}-{code}")
    base_path = os.path.join(d, "base")
    inc_path = os.path.join(d, "increment")
    oracle_path = os.path.join(d, "oracle.json")
    if not os.path.exists(oracle_path):  # written last: its presence = complete
        shutil.rmtree(d, ignore_errors=True)
        base_rows = gen_pages(size, seed=seed) if kind == "crawl" else pdf_rows(seed, size)
        base_latest = latest_wins(base_rows)
        inc_rows = make_increment(seed, base_latest, size)
        write_pages(base_rows, base_path)
        write_pages(inc_rows, inc_path)
        oracle = {
            "base": oracle_digests(base_latest),
            "increment": oracle_digests(latest_wins(inc_rows)),
        }
        tmp = oracle_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(oracle, f)
        os.replace(tmp, oracle_path)
    with open(oracle_path) as f:
        oracle = json.load(f)
    return Corpus(base_path, inc_path, oracle["base"], oracle["increment"])
