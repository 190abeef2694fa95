"""Per-partition lineage rows + checkpoint-resume (BASELINE.json:6).

Lineage is computed FROM THE COMMITTED extracted table (not from the
in-flight DataFrame) so a lineage row's existence proves its bucket's data
is fully visible — the commit-ordering guarantee that makes resume safe
(SURVEY §3.1 step 5). The rollup digest is the JVM-side XOR-of-sha256
(functions.sql.digest_xor_chunks): order-insensitive, so it is invariant
under repartitioning/salting, and scale-safe (no per-group collect).
"""

from __future__ import annotations

from typing import Optional, Sequence

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


def lineage_rows(
    extracted: DataFrame,
    run_id: str,
    input_split: str,
    buckets: Optional[Sequence[int]] = None,
) -> DataFrame:
    """extracted (committed table incl. url_bucket, bytes_in, extract_us)
    -> one lineage row per bucket (LINEAGE_SCHEMA)."""
    df = extracted
    if buckets is not None:
        df = df.where(F.col("url_bucket").isin(list(buckets)))
    agg = df.groupBy("url_bucket").agg(
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
