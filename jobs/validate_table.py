#!/usr/bin/env python3
"""Post-run table validation (SURVEY §3.3's final validation pass as a
standalone job): verify an extracted table against its lineage ledger.

Checks (each one aggregate job over pruned columns):
  1. bucket completeness — every bucket the lineage ledger recorded as
     done for this run is present in the data (NOT all of 0..B-1: a bucket
     no url hashes into — small runs, bucket_whitelist — is legitimate);
  2. url uniqueness — no url appears twice (dedupe + idempotent overwrite
     guarantee);
  3. lineage reconciliation — per-bucket doc_count AND the
     order-insensitive XOR-sha256 rollup recomputed from the data equal the
     LATEST lineage row per bucket, ordered by the snapshot ledger's seq
     (post-merge tables mix run_ids: the run that last rewrote a bucket
     describes its current contents — proves the ledger matches exactly
     the committed bytes);
  4. digest integrity — JVM-side sha2(extracted_text) equals the kernel's
     Python-side text_sha256 for every row (cross-runtime hash agreement).

Exit 0 with a JSON report when all pass; exit 2 listing failures.

    spark-submit --py-files csp.zip jobs/validate_table.py \
        --extracted /data/out/extracted --lineage /data/out/lineage \
        --run-id R1 --buckets 4096
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from corsearch_project_spark.plans.session import build_session
from corsearch_project_spark.sources.lineage import lineage_rows


def _latest_lineage(spark, lineage_path: str, snapshots_path: str | None):
    """Latest committed lineage row per bucket, ordered by the snapshot
    ledger's seq (the run that last rewrote a bucket describes its current
    contents — the merge-increment job rewrites buckets under new run_ids,
    so reconciliation can NOT assume one run owns the whole table). Falls
    back to the raw lineage rows when no snapshots table exists."""
    from pyspark.sql import Window

    lin = spark.read.parquet(lineage_path).where(F.col("status") == "done")
    seqs = None
    if snapshots_path:
        try:
            from corsearch_project_spark.sources.snapshots import read_snapshots

            snaps = read_snapshots(spark, snapshots_path)
            if snaps is not None:
                seqs = snaps.select("run_id", "seq").distinct()
        except Exception:
            seqs = None
    if seqs is None:
        return lin
    w = Window.partitionBy("url_bucket").orderBy(F.desc_nulls_last("seq"))
    return (
        lin.join(seqs, "run_id", "left")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "seq")
    )


def validate_table(spark, extracted_path: str, lineage_path: str, run_id: str,
                   buckets: int, snapshots_path: str | None = None) -> dict:
    ext = spark.read.parquet(extracted_path)
    lin_run = spark.read.parquet(lineage_path).where(
        (F.col("run_id") == run_id) & (F.col("status") == "done")
    )
    # Reconciliation target: the latest row per bucket across ALL runs
    # (post-merge tables mix run_ids); completeness stays per --run-id.
    lin = _latest_lineage(spark, lineage_path, snapshots_path)
    failures = []

    present = sorted(
        r["url_bucket"] for r in ext.select("url_bucket").distinct().collect()
    )
    expected = sorted(
        r["url_bucket"] for r in lin_run.select("url_bucket").distinct().collect()
    )
    # Completeness is judged against the ledger, not range(buckets): an
    # empty bucket is valid, but a ledger-done bucket absent from the data
    # means committed rows were lost.
    missing = sorted(set(expected) - set(present))
    if missing:
        failures.append({"check": "bucket_completeness", "missing_buckets": missing})

    dup_urls = (
        ext.groupBy("url").agg(F.count(F.lit(1)).alias("n")).where(F.col("n") > 1)
    )
    n_dups = dup_urls.count()
    if n_dups:
        failures.append({"check": "url_uniqueness", "duplicate_urls": n_dups})

    # the same per-bucket rollup the commit writes, recomputed from the data
    recomputed = lineage_rows(ext, run_id, "").select(
        "url_bucket", "doc_count", "sha256_rollup"
    )
    mismatch = (
        recomputed.alias("r")
        .join(lin.alias("l"), "url_bucket", "full")
        .where(
            F.col("r.doc_count").eqNullSafe(F.col("l.doc_count")) == F.lit(False)
        )
        .count()
    )
    rollup_mismatch = (
        recomputed.alias("r")
        .join(lin.alias("l"), "url_bucket", "inner")
        .where(F.col("r.sha256_rollup") != F.col("l.sha256_rollup"))
        .count()
    )
    if mismatch or rollup_mismatch:
        failures.append(
            {
                "check": "lineage_reconciliation",
                "count_mismatches": mismatch,
                "rollup_mismatches": rollup_mismatch,
            }
        )

    bad_digests = ext.where(
        F.sha2(F.col("extracted_text").cast("binary"), 256) != F.col("text_sha256")
    ).count()
    if bad_digests:
        failures.append({"check": "digest_integrity", "bad_rows": bad_digests})

    return {
        "run_id": run_id,
        "buckets_expected": buckets,
        "buckets_present": len(present),
        "docs": ext.count(),
        "ok": not failures,
        "failures": failures,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--extracted", required=True)
    ap.add_argument("--lineage", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--buckets", type=int, required=True)
    ap.add_argument("--snapshots", default=None,
                    help="snapshots table path (default: sibling of --lineage)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    snapshots = args.snapshots or os.path.join(
        os.path.dirname(args.lineage.rstrip("/")), "snapshots"
    )
    spark = build_session("validate_table", master=args.master)
    report = validate_table(spark, args.extracted, args.lineage, args.run_id,
                            args.buckets, snapshots_path=snapshots)
    print(json.dumps(report))
    return 0 if report["ok"] else 2


if __name__ == "__main__":
    sys.exit(main())
