"""URL-hash bucketing (SURVEY §2.3), and the salt the pipelines no longer use.

P1: ``url_bucket = pmod(xxhash64(url), B)`` — the Iceberg ``bucket(B, url)``
transform emulated with Spark built-ins (no Iceberg jars offline, SURVEY
§0.1); swap-in point for real Iceberg DDL is sources.io.TableFormat.

P2: the kernel runs in the write stage, over the write's distribution:
each task owns whole buckets (``io.ParquetBucketedFormat.distribute``).
The url hash already spreads a mega-host over all B buckets, so the
buckets balance the kernel's compute as the url-derived salt did, and a
salted kernel exchange would only add a shuffle and a second Python→JVM
crossing of every output row. AQE's skew split rebalances shuffle reads
only, as before. No pipeline salts or looks for hot hosts: ``with_salt``
and ``hot_hosts`` stay for perfbench/layers.py.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, functions as F

from corsearch_project_spark.functions.sql import host_of

DEFAULT_BUCKETS = 64
DEFAULT_SALT = 64  # ExtractConfig.salt's default; read only by perfbench/layers.py


def with_url_bucket(df: DataFrame, b: int = DEFAULT_BUCKETS, url_col: str = "url") -> DataFrame:
    return df.withColumn("url_bucket", F.expr(f"CAST(pmod(xxhash64(`{url_col}`), {b}) AS INT)"))


# Called by no pipeline; kept because perfbench/layers.py calls it.
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


# Called by no pipeline; kept because perfbench/layers.py calls it.
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
    disables salting."""
    if s <= 1:
        return df.withColumn("salt", F.lit(0))
    salt = F.pmod(F.xxhash64(F.col(url_col), F.lit("salt-seed-1")), F.lit(s)).cast("int")
    return df.withColumn("salt", salt)

