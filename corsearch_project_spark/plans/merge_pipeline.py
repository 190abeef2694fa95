"""Incremental re-crawl merge: fold a pages increment into an existing
extracted table, rewriting ONLY the buckets the increment touches.

The recurring production workflow after the initial backfill: each new
crawl segment carries a mix of brand-new urls and re-crawls of known urls.
Re-extracting the whole table per segment is O(table); this job is
O(increment + touched buckets):

  1. dedupe + extract the increment through the SAME prelude as
     run_extract (extract_pipeline.extract_pages — per-url output provably
     byte-identical to a full run);
  2. classify each extracted row against the existing table by url —
     `new` (url absent) or `updated` (text_sha256 differs); rows whose
     digest is unchanged are dropped (a re-crawl of identical content
     must not dirty a bucket);
  3. rewrite only the buckets holding new/updated rows: per bucket,
     existing rows minus replaced urls, union the fresh rows — committed
     via dynamic partition overwrite, so untouched buckets are never
     rewritten (the manual copy-on-write MERGE an Iceberg deployment gets
     from `MERGE INTO` — same TableFormat seam, sources/io.py);
  4. recompute lineage rows for exactly the rewritten buckets and append
     a `merge-increment` snapshot (extract_pipeline.commit_run), keeping
     checkpoint/validate semantics: `jobs/validate_table.py --run-id
     <merge-run>` verifies the rewritten buckets (earlier runs' lineage
     rows for those buckets describe superseded snapshots, as in any
     versioned table).

At 10^12 docs: the existing-table read is partition-pruned to touched
buckets (url_bucket isin-filter on the partition column), the url
comparison joins the increment (small) against only those buckets, and
the rewrite shuffles only touched-bucket rows. Nothing scans the full
table.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass
from typing import Dict, Optional

from pyspark.sql import SparkSession, functions as F

from corsearch_project_spark.plans.extract_pipeline import (
    DEFAULT_BUCKETS,
    DEFAULT_SALT,
    Phases,
    TableRoot,
    check_ledger_root,
    commit_run,
    extract_pages,
    scan_input,
)
from corsearch_project_spark.sources.fs import LOCAL_FS
from corsearch_project_spark.sources.io import ParquetBucketedFormat
from corsearch_project_spark.webextract.rules import Rule

# Unused here, but perfbench/spans.py wraps these seven names on this module.
from corsearch_project_spark.operators.kernel import run_kernel  # noqa: F401
from corsearch_project_spark.operators.partitioning import (  # noqa: F401
    hot_hosts,
    with_salt,
    with_url_bucket,
)
from corsearch_project_spark.plans.extract_pipeline import dedupe_latest  # noqa: F401
from corsearch_project_spark.sources.io import scan_pages  # noqa: F401
from corsearch_project_spark.sources.lineage import lineage_rows  # noqa: F401


@dataclass
class MergeConfig(TableRoot):
    increment_path: str
    output_path: str  # existing table root (extracted/lineage/snapshots under it)
    run_id: str = ""
    input_format: str = "pages"  # 'pages' | 'warc'
    buckets: int = DEFAULT_BUCKETS
    salt: int = DEFAULT_SALT
    hot_frac: float = 0.05
    kernel_partitions: Optional[int] = None
    max_records_per_file: int = 50_000

    def __post_init__(self):
        if not self.run_id:
            self.run_id = "m" + uuid.uuid4().hex[:11]


_EXTRACTED_COLS = [
    "url",
    "doc_kind",
    "extracted_text",
    "spans",
    "text_sha256",
    "n_blocks",
    "n_chars",
    "bytes_in",
    "extract_us",
    "url_bucket",
]


def run_merge(
    spark: SparkSession,
    cfg: MergeConfig,
    rules: Optional[Dict[str, Rule]] = None,
    fs=LOCAL_FS,
) -> Dict[str, object]:
    check_ledger_root(cfg, fs)
    phases = Phases()
    fmt = ParquetBucketedFormat(cfg.max_records_per_file)
    inc = scan_input(spark, cfg.increment_path, cfg.input_format, cfg.buckets)
    new_ext = extract_pages(spark, inc, cfg, rules).extracted.persist()

    # Buckets the increment lands in — partition-prunes every read of the
    # existing table below. B is bounded, so a driver-side literal list
    # beats a join (same rationale as done_buckets).
    touched = sorted(
        r["url_bucket"] for r in new_ext.select("url_bucket").distinct().collect()
    )
    phases.mark("extract_increment")

    existing = fmt.read_extracted(spark, cfg.extracted_path)
    ex_touched = existing.where(F.col("url_bucket").isin(touched))
    changed = (
        new_ext.join(
            ex_touched.select("url", F.col("text_sha256").alias("_old_sha")),
            "url",
            "left",
        )
        .where(
            F.col("_old_sha").isNull()
            | (F.col("text_sha256") != F.col("_old_sha"))
        )
        .withColumn("_is_new", F.col("_old_sha").isNull())
        .drop("_old_sha")
        .persist()
    )
    n_new = changed.where(F.col("_is_new")).count()
    n_updated = changed.where(~F.col("_is_new")).count()
    n_unchanged = new_ext.count() - n_new - n_updated
    ch_buckets = sorted(
        r["url_bucket"] for r in changed.select("url_bucket").distinct().collect()
    )
    phases.mark("classify")

    if not ch_buckets:
        new_ext.unpersist()
        changed.unpersist()
        return {
            "run_id": cfg.run_id,
            "buckets_rewritten": [],
            "docs_added": 0,
            "docs_updated": 0,
            "docs_unchanged": n_unchanged,
            "phase_wall_s": phases,
            "extracted_path": cfg.extracted_path,
        }

    changed_rows = changed.select(*_EXTRACTED_COLS)
    keep = existing.where(F.col("url_bucket").isin(ch_buckets)).join(
        changed_rows.select("url"), "url", "left_anti"
    )
    merged = (
        keep.select(*_EXTRACTED_COLS)
        .unionByName(changed_rows)
        .repartition(max(len(ch_buckets), 1), "url_bucket")
    )
    # Dynamic partition overwrite: only the url_bucket partitions present
    # in `merged` (= ch_buckets) are replaced on disk.
    fmt.write_extracted(merged, cfg.extracted_path)
    phases.mark("rewrite_buckets")

    snap = commit_run(
        spark, fmt, cfg, "merge-increment", cfg.increment_path, buckets=ch_buckets,
        fs=fs,
    )[1]
    phases.mark("lineage_append")
    new_ext.unpersist()
    changed.unpersist()
    return {
        "run_id": cfg.run_id,
        "snapshot": snap,
        "buckets_rewritten": ch_buckets,
        "docs_added": n_new,
        "docs_updated": n_updated,
        "docs_unchanged": n_unchanged,
        "phase_wall_s": phases,
        "extracted_path": cfg.extracted_path,
        "lineage_path": cfg.lineage_path,
    }
