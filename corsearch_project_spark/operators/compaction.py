"""Target-file-size compaction (SURVEY §2.3 P4) — the Iceberg
``rewrite_data_files`` maintenance action emulated over the bucketed Parquet
layout.

Small files accumulate from the ``maxRecordsPerFile`` split, which leaves a
small remainder file per bucket, and in tables written before the bucketed
sink grouped each bucket into one task (a file per kernel task per bucket).
Compaction reads the table, regroups rows by bucket so each bucket lands in
exactly one task (→ one file per ``target_records`` rows), rewrites into a
fresh directory and atomically swaps it in. At cluster scale the same job
runs per-bucket (partition-pruned) rather than whole-table.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession, functions as F


def table_file_stats(path: str) -> dict:
    files = []
    for root, _, names in os.walk(path):
        files += [os.path.join(root, n) for n in names if n.endswith(".parquet")]
    sizes = [os.path.getsize(f) for f in files]
    return {
        "n_files": len(files),
        "bytes": sum(sizes),
        "max_file_bytes": max(sizes, default=0),
        "min_file_bytes": min(sizes, default=0),
    }


def compact_extracted(
    spark: SparkSession,
    path: str,
    buckets: int,
    target_records_per_file: int = 1_000_000,
    zorder: tuple = (),
) -> dict:
    """Rewrite the extracted table to ~one file per bucket (bounded by
    target_records_per_file) and swap directories. Returns before/after
    file stats. The swap keeps the old layout until the rewrite is fully
    committed (crash before the final rename leaves the table intact).

    ``zorder``: optional ((col, lo, hi), ...) spec — when given, rows
    within each bucket sort by the Morton interleave of the quantized
    columns instead of by url (Delta OPTIMIZE ZORDER BY as a compaction
    option), so per-file min/max bounds stay tight in EVERY listed column
    and the S15 manifest can prune multi-column probes. Bounds are the
    caller's deployment metadata (lineage ledger min/max); url lookups
    then go through the manifest rather than file-internal url order."""
    before = table_file_stats(path)
    tmp = path.rstrip("/") + "__compacting"
    old = path.rstrip("/") + "__precompact"
    shutil.rmtree(tmp, ignore_errors=True)

    df = spark.read.parquet(path).repartition(buckets, "url_bucket")
    if zorder:
        from corsearch_project_spark.operators.zorder import z_key

        cols = [c for c, _, _ in zorder]
        bounds = [(lo, hi) for _, lo, hi in zorder]
        # Lead the sort with url_bucket: the partitionBy writer requires
        # rows ordered by the partition column and would otherwise insert
        # its own sort AFTER ours, discarding the Morton order whenever a
        # task holds more than one bucket (hash collisions in the
        # repartition make that routine). With url_bucket first, the
        # writer sees its required ordering already satisfied.
        df = (
            df.withColumn("__z", z_key(cols, bounds))
            .sortWithinPartitions("url_bucket", "__z")
            .drop("__z")
        )
    else:
        # Same url_bucket-leads rule as the zorder branch and io.py's
        # write_extracted: a bare url sort would be displaced by the
        # writer's own partition-column sort whenever a task holds more
        # than one bucket, leaving per-file url order (and the S15
        # manifest's min/max tightness) to sort-stability luck.
        df = df.sortWithinPartitions("url_bucket", "url")
    (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", target_records_per_file)
        .partitionBy("url_bucket")
        .parquet(tmp)
    )

    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    after = table_file_stats(path)
    return {"before": before, "after": after}
