#!/usr/bin/env python3
"""Post-run table validation (SURVEY §3.3's final validation pass as a
standalone job): verify an extracted table against its lineage ledger.

Both ledgers are read on the driver through the ``fs`` seam
(``snapshots.read_ledger``, no Spark job; a file that cannot be read
stops the validation). The table is read in two Spark actions, each over
declared columns, so no job infers the schema:

  1. one ``lineage_rows`` collect over the table's lineage columns
     recomputes each bucket's doc_count and order-insensitive XOR-sha256
     rollup, exactly as the commit does. From it, on the driver:
     * bucket completeness — every bucket the lineage ledger records as
       done for this run is present in the data (NOT all of 0..B-1: a
       bucket that no url of a small run hashes into is legitimate);
     * lineage reconciliation — each bucket's recomputed doc_count and
       rollup equal its current lineage rows
       (``maintenance.current_lineage``): the rows of the bucket's
       latest writer in snapshot order, since the run that last rewrote
       a bucket describes its contents, whatever run is validated
       (post-merge tables mix run_ids). A bucket no snapshot covers is
       checked against every done row it has. This proves the ledger
       matches exactly the committed bytes;
  2. one aggregate over url, extracted_text and text_sha256:
     * url uniqueness — no url appears twice (dedupe + idempotent
       overwrite guarantee);
     * digest integrity — JVM-side sha2(extracted_text) equals the
       kernel's Python-side text_sha256 for every row (cross-runtime
       hash agreement).

Exit 0 with a JSON report when all pass; exit 2 listing failures.

    spark-submit --py-files csp.zip jobs/validate_table.py \
        --extracted /data/out/extracted --lineage /data/out/lineage \
        --run-id R1
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F, types as T

from corsearch_project_spark.plans.session import build_session
from corsearch_project_spark.sources.fs import LOCAL_FS
from corsearch_project_spark.sources.lineage import LINEAGE_INPUT_SCHEMA, lineage_rows
from corsearch_project_spark.sources.maintenance import current_lineage
from corsearch_project_spark.sources.schemas import EXTRACTED_SCHEMA
from corsearch_project_spark.sources.snapshots import ledger_files, read_ledger

# The extracted-table columns the uniqueness and digest checks read.
CHECK_SCHEMA = T.StructType(
    [EXTRACTED_SCHEMA[c] for c in ("url", "extracted_text", "text_sha256")]
)


def _rows(path: str, columns, fs) -> list:
    """Every row (only ``columns``) of the ledger dir ``path``."""
    files = read_ledger(ledger_files(path, fs), columns, fs)
    return [r for rs in files.values() for r in rs]


def validate_table(spark, extracted_path: str, lineage_path: str, run_id: str,
                   snapshots_path: str | None = None, *, fs=LOCAL_FS) -> dict:
    lin = _rows(
        lineage_path,
        ("run_id", "url_bucket", "status", "doc_count", "sha256_rollup"),
        fs,
    )
    snaps = []
    if snapshots_path:
        snaps = _rows(snapshots_path, ("seq", "run_id", "buckets"), fs)
    current = current_lineage(snaps, lin)
    failures = []

    # the same per-bucket rollup the commit writes, recomputed from the data
    ext = spark.read.schema(LINEAGE_INPUT_SCHEMA).parquet(extracted_path)
    recomputed = {r["url_bucket"]: r for r in lineage_rows(ext, run_id, "").collect()}
    # Completeness is judged against the ledger, not every bucket id: an
    # empty bucket is valid, but a ledger-done bucket absent from the data
    # means committed rows were lost.
    expected = {
        r["url_bucket"] for r in lin if r["run_id"] == run_id and r["status"] == "done"
    }
    missing = sorted(expected - set(recomputed))
    if missing:
        failures.append({"check": "bucket_completeness", "missing_buckets": missing})

    checks = (
        spark.read.schema(CHECK_SCHEMA).parquet(extracted_path)
        .groupBy("url")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.sha2(F.col("extracted_text").cast("binary"), 256)
                 != F.col("text_sha256")).cast("int")
            ).alias("bad"),
        )
        .agg(
            F.count(F.when(F.col("n") > 1, 1)).alias("dup_urls"),
            F.coalesce(F.sum("bad"), F.lit(0)).alias("bad_digests"),
        )
        .first()
    )
    if checks["dup_urls"]:
        failures.append(
            {"check": "url_uniqueness", "duplicate_urls": checks["dup_urls"]}
        )

    # A bucket on one side only is one count mismatch per row it has there.
    count_mismatch = rollup_mismatch = 0
    for b in set(recomputed) | set(current):
        r, ledger = recomputed.get(b), current.get(b, [])
        if r is None or not ledger:
            count_mismatch += max(len(ledger), 1)
            continue
        for row in ledger:
            count_mismatch += row["doc_count"] != r["doc_count"]
            rollup_mismatch += row["sha256_rollup"] != r["sha256_rollup"]
    if count_mismatch or rollup_mismatch:
        failures.append(
            {
                "check": "lineage_reconciliation",
                "count_mismatches": count_mismatch,
                "rollup_mismatches": rollup_mismatch,
            }
        )

    if checks["bad_digests"]:
        failures.append(
            {"check": "digest_integrity", "bad_rows": checks["bad_digests"]}
        )

    return {
        "run_id": run_id,
        "buckets_present": len(recomputed),
        "docs": sum(r["doc_count"] for r in recomputed.values()),
        "ok": not failures,
        "failures": failures,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--extracted", required=True)
    ap.add_argument("--lineage", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--snapshots", default=None,
                    help="snapshots table path (default: sibling of --lineage)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    snapshots = args.snapshots or os.path.join(
        os.path.dirname(args.lineage.rstrip("/")), "snapshots"
    )
    spark = build_session("validate_table", master=args.master)
    report = validate_table(spark, args.extracted, args.lineage, args.run_id,
                            snapshots_path=snapshots)
    print(json.dumps(report))
    return 0 if report["ok"] else 2


if __name__ == "__main__":
    sys.exit(main())
