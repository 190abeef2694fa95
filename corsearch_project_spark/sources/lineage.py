"""Per-partition lineage rows + checkpoint-resume (BASELINE.json:6).

Lineage is computed BY THE WRITER from the rows it wrote
(``written_lineage`` over ``io.write_extracted``'s per-bucket rows) and
committed AFTER the data: a lineage row's existence proves its bucket's
data is fully visible — the commit-ordering guarantee that makes resume
safe (SURVEY §3.1 step 5) — and no job reads the table back.
``lineage_rows`` recomputes the same rows from a committed table:
``jobs/validate_table.py`` reconciles the ledger with it. The rollup digest
is the XOR-of-sha256 of the bucket's text_sha256 values, in eight 32-bit
chunks (functions.sql.digest_xor_chunks on the JVM,
snapshots.xor_chunks in the writer): order-insensitive, so it is invariant
under repartitioning, and scale-safe (no per-group collect).
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import DataFrame, functions as F, types as T

from corsearch_project_spark.functions.sql import (
    digest_xor_chunks,
    digest_xor_concat,
)
from corsearch_project_spark.sources.schemas import EXTRACTED_SCHEMA

# The extracted-table columns lineage_rows reads: a read schema for the
# committed table that prunes every other column (markdown ones included).
LINEAGE_INPUT_SCHEMA = T.StructType(
    [
        EXTRACTED_SCHEMA[c]
        for c in ("url_bucket", "bytes_in", "extract_us", "text_sha256")
    ]
)


def written_lineage(written: Sequence[dict], run_id: str, input_split: str) -> List[dict]:
    """The lineage rows (LINEAGE_SCHEMA, as dicts) of the buckets a write
    wrote, from its per-bucket rows (``io.WRITTEN_SCHEMA``): what
    ``lineage_rows`` computes over the same buckets of the committed
    table, with no Spark job."""
    return [
        {
            "run_id": run_id,
            "url_bucket": w["url_bucket"],
            "input_split": f"{input_split}#bucket={w['url_bucket']}",
            "doc_count": w["doc_count"],
            "sha256_rollup": w["sha256_rollup"],
            "status": "done",
            "wall_ms": int(w["extract_us"] / 1000),  # the JVM's double divide, cast
            "bytes_in": w["bytes_in"],
        }
        for w in written
    ]


def lineage_rows(extracted: DataFrame, run_id: str, input_split: str) -> DataFrame:
    """extracted (committed table incl. url_bucket, bytes_in, extract_us)
    -> one lineage row per bucket (LINEAGE_SCHEMA)."""
    agg = extracted.groupBy("url_bucket").agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.sum("bytes_in").alias("bytes_in"),
        (F.sum("extract_us") / F.lit(1000)).cast("long").alias("wall_ms"),
        *digest_xor_chunks("text_sha256"),
    )
    return agg.select(
        F.lit(run_id).alias("run_id"),
        F.col("url_bucket").cast("int"),
        F.concat(F.lit(input_split + "#bucket="), F.col("url_bucket")).alias(
            "input_split"
        ),
        F.col("doc_count").cast("long"),
        digest_xor_concat().alias("sha256_rollup"),
        F.lit("done").alias("status"),
        F.col("wall_ms").cast("long"),
        F.col("bytes_in").cast("long"),
    )
