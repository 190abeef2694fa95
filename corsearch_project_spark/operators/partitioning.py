"""URL-hash bucketing and skew-aware salted repartitioning (SURVEY §2.3).

P1: ``url_bucket = pmod(xxhash64(url), B)`` — the Iceberg ``bucket(B, url)``
transform emulated with Spark built-ins (no Iceberg jars offline, SURVEY
§0.1); swap-in point for real Iceberg DDL is sources.io.TableFormat.

P2: every url gets a salt ∈ [0, S) hashed from the full url, so one
mega-host fans out across S kernel tasks without first being found. AQE's
skew split only rebalances shuffle *reads*; compute skew inside the Python
kernel stage needs this explicit salt (BASELINE.json:6 "salted
repartitioning for skewed hosts"). No pipeline looks for hot hosts.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, functions as F

from corsearch_project_spark.functions.sql import host_of

DEFAULT_BUCKETS = 64
DEFAULT_SALT = 64  # kernel shuffle keys = B×S; keys ≫ partitions => balance


def with_url_bucket(df: DataFrame, b: int = DEFAULT_BUCKETS, url_col: str = "url") -> DataFrame:
    return df.withColumn(
        "url_bucket", F.pmod(F.xxhash64(F.col(url_col)), F.lit(b)).cast("int")
    )


# Called by no pipeline; kept because perfbench/layers.py imports it.
def hot_hosts(pages: DataFrame, hot_frac: float = 0.05, max_hosts: int = 64) -> List[str]:
    """Hosts owning more than ``hot_frac`` of rows. ONE job over the pruned
    url column: per-host counts plus the grand total via a window over the
    (tiny) aggregated relation — not a separate count() pass over the
    table, which would double the scan at 10^12 rows."""
    counts = (
        pages.select(host_of("url").alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql.window import Window

    rows = (
        counts.withColumn("total", F.sum("n").over(Window.partitionBy()))
        .where(F.col("n") > F.col("total") * hot_frac)
        .orderBy(F.desc("n"))
        .limit(max_hosts)
        .collect()
    )
    return [r["host"] for r in rows if r["host"]]


def with_salt(
    df: DataFrame,
    hot: Optional[List[str]] = None,  # unused; perfbench/layers.py passes it positionally
    s: int = DEFAULT_SALT,
    url_col: str = "url",
) -> DataFrame:
    """Universal url-derived salt ∈ [0, S) (deterministic, uniform per url).

    This generalizes hot-host-only salting (P2): any skewed host's pages
    spread across S salt values because the salt hashes the full url, AND
    the kernel shuffle gets B×S keys instead of B — with keys ≫ partitions,
    key→partition hash collisions average out (Poisson balance ±1/√(keys/P))
    instead of producing the 2-3×-loaded straggler partitions measured with
    keys == partitions. ``hot`` is ignored: every url is salted. s <= 1
    disables salting (the skew-equivalence test's control arm)."""
    if s <= 1:
        return df.withColumn("salt", F.lit(0))
    salt = F.pmod(F.xxhash64(F.col(url_col), F.lit("salt-seed-1")), F.lit(s)).cast("int")
    return df.withColumn("salt", salt)

