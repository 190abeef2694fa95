"""Incremental re-crawl merge: fold a pages increment into an existing
extracted table, rewriting ONLY the buckets the increment touches.

The recurring production workflow after the initial backfill: each new
crawl segment carries a mix of brand-new urls and re-crawls of known urls.
Re-extracting the whole table per segment is O(table); this job is
O(increment + touched buckets):

  1. dedupe + extract the increment through the SAME prelude as
     run_extract (extract_pipeline.extract_pages — per-url output provably
     byte-identical to a full run), with the markdown arm exactly when the
     existing table has its columns;
  2. classify: ONE join of the extracted rows against the touched buckets'
     (url, digests) tags each row `new` (url absent), `updated`
     (text_sha256, or md_sha256 when the table has it, differs) or
     `unchanged`, and ONE aggregate over (url_bucket, state) yields the
     three doc counts and the buckets to rewrite. Unchanged rows are
     dropped (a re-crawl of identical content must not dirty a bucket);
  3. rewrite only the buckets holding new/updated rows, in the table's
     own columns: per bucket, existing rows minus replaced urls, union
     the fresh rows — written by the table format's one writer
     (``write_extracted``), which replaces only the buckets it wrote, so
     untouched buckets are never rewritten (the manual copy-on-write
     MERGE an Iceberg deployment gets from `MERGE INTO` — same
     TableFormat seam, sources/io.py);
  4. commit the lineage rows of exactly the rewritten buckets, from the
     writer's per-bucket rows, and append a `merge-increment` snapshot
     (extract_pipeline.commit_run), keeping
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
from collections import Counter
from dataclasses import dataclass
from typing import Dict, Optional

from pyspark.sql import SparkSession, functions as F

from corsearch_project_spark.plans.extract_pipeline import (
    DEFAULT_BUCKETS,
    Phases,
    TableRoot,
    check_bucket_count,
    check_ledger_root,
    commit_run,
    extract_pages,
    scan_input,
)
from corsearch_project_spark.sources.fs import LOCAL_FS
from corsearch_project_spark.webextract.rules import Rule

# Never called here: re-imported only so that the seven names
# perfbench/spans.py wraps on this module resolve
# (tests/test_pipeline.py::test_bench_tracer_targets_resolve).
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
    kernel_partitions: Optional[int] = None
    max_records_per_file: int = 50_000

    def __post_init__(self):
        if not self.run_id:
            self.run_id = "m" + uuid.uuid4().hex[:11]


def run_merge(
    spark: SparkSession,
    cfg: MergeConfig,
    rules: Optional[Dict[str, Rule]] = None,
    fs=LOCAL_FS,
) -> Dict[str, object]:
    check_ledger_root(cfg, fs)
    phases = Phases()
    fmt = cfg.table_format()
    existing = fmt.read_extracted(spark, cfg.extracted_path)
    check_bucket_count(spark, cfg.extracted_path, cfg.buckets)
    inc = scan_input(spark, cfg.increment_path, cfg.input_format, cfg.buckets)
    # The increment is extracted into the table's own columns: with the
    # markdown arm exactly when the table carries it.
    ext = extract_pages(spark, inc, cfg, rules, "extracted_md" in existing.columns)
    new_ext = ext.extracted.persist()
    classified = None
    try:
        # Buckets the increment lands in — partition-prunes every read of
        # the existing table below. B is bounded, so a driver-side literal
        # list beats a join (same rationale as done_buckets).
        touched = sorted(
            r["url_bucket"] for r in new_ext.select("url_bucket").distinct().collect()
        )
        phases.mark("extract_increment")

        # A row is updated when any digest column the table has differs:
        # a re-crawl can change the markdown (a heading level) and keep
        # the text.
        digest = F.concat_ws(
            " ", *[c for c in ("text_sha256", "md_sha256") if c in existing.columns]
        )
        old = existing.where(F.col("url_bucket").isin(touched)).select(
            "url", digest.alias("_old_digest")
        )
        classified = (
            new_ext.join(old, "url", "left")
            .withColumn(
                "_state",
                F.when(F.col("_old_digest").isNull(), "new")
                .when(digest != F.col("_old_digest"), "updated")
                .otherwise("unchanged"),
            )
            .drop("_old_digest")
            .persist()
        )
        # ONE action: per (bucket, state) counts, at most 3·B rows, give
        # the three doc counts and the buckets to rewrite together.
        by_state = classified.groupBy("url_bucket", "_state").count().collect()
        counts = Counter()
        for r in by_state:
            counts[r["_state"]] += r["count"]
        ch_buckets = sorted({r["url_bucket"] for r in by_state if r["_state"] != "unchanged"})
        phases.mark("classify")

        snap = None
        if ch_buckets:
            changed = classified.where(F.col("_state") != "unchanged").select(
                *existing.columns
            )
            keep = existing.where(F.col("url_bucket").isin(ch_buckets)).join(
                changed.select("url"), "url", "left_anti"
            )
            # Only the url_bucket partitions present in the union
            # (= ch_buckets) are replaced on disk.
            written = fmt.write_extracted(keep.unionByName(changed), cfg.extracted_path)
            phases.mark("rewrite_buckets")

            snap = commit_run(
                fmt, cfg, "merge-increment", cfg.increment_path, written, fs=fs
            )[1]
            phases.mark("lineage_append")
        return {
            "run_id": cfg.run_id,
            "snapshot": snap,
            "buckets_rewritten": ch_buckets,
            "docs_added": counts["new"],
            "docs_updated": counts["updated"],
            "docs_unchanged": counts["unchanged"],
            "kernel_tasks": ext.kernel_tasks,
            "phase_wall_s": phases,
            "extracted_path": cfg.extracted_path,
            "lineage_path": cfg.lineage_path,
        }
    finally:
        new_ext.unpersist()
        if classified is not None:
            classified.unpersist()
