"""File-level data-skipping manifest — Iceberg manifest-file emulation.

Iceberg tracks per-data-file column bounds in manifest files, letting a
point lookup open only the files whose [min, max] range can contain the
key. The emulated table already has the physical precondition: the sink
sorts rows by ``url`` within each bucket file (``io.write_extracted``), so
per-file url ranges are tight and disjoint-ish within a bucket. This
module materializes those bounds and uses them:

  * ``build_file_manifest`` — ONE aggregation job over (input_file_name,
    url_bucket): min/max url + row count per data file. Catalyst prunes
    the scan to the two columns (url is the sort key, so parquet
    row-group stats make even that scan cheap), and partial aggregation
    means each task emits one row per file it read — shuffle volume is
    #files, not #rows.
  * ``lookup_urls`` — prune the manifest to files whose range covers any
    probed url (a DataFrame filter over #files rows; only matched file
    paths are collected — bounded by the probe, not the table), then scan
    exactly those files. At 10^12 docs a url lookup drops from a
    750 MB bucket scan to 1–2 files.

The manifest is derivable at any time from the data (no write-path
coupling), so it can be rebuilt after merges/compaction. Staleness is a
correctness hazard, not just an efficiency one: after a later merge commit
adds data files, a stale manifest silently omits them from lookups. Guard:
``write_manifest`` can stamp the snapshot ledger's latest ``seq`` into the
manifest (``as_of_seq``), and ``lookup_urls``/``lookup_urls_df`` verify it
against the live ledger when given ``snapshots_path`` — a mismatch raises
``StaleManifestError`` instead of returning incomplete results.

Probe-set scaling: ``prune_files`` builds one OR-term pair per probed url
in the expression tree — right for point lookups (1-100 urls), an
anti-pattern beyond that (a 10k-term predicate bloats analysis/codegen).
Large probe sets go through ``prune_files_df``/``lookup_urls_df``: the
probe list becomes a DataFrame broadcast-joined against the manifest on
``min_url <= url <= max_url`` (a BroadcastNestedLoopJoin over #files
manifest rows — the manifest is metadata-small, the probe side is the
broadcast), so probe cardinality never touches the expression tree.
"""

from __future__ import annotations

from functools import reduce
from operator import or_
from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F


class StaleManifestError(RuntimeError):
    """The manifest was built against an older snapshot of the table; a
    lookup through it could silently miss rows in newer data files."""


def build_file_manifest(spark: SparkSession, extracted_path: str) -> DataFrame:
    df = spark.read.parquet(extracted_path)
    return (
        df.groupBy(
            F.input_file_name().alias("file"),
            F.col("url_bucket"),
        )
        .agg(
            F.min("url").alias("min_url"),
            F.max("url").alias("max_url"),
            F.count("*").alias("rows"),
        )
    )


def write_manifest(
    manifest: DataFrame, path: str, snapshots_path: Optional[str] = None
) -> None:
    """Manifest is #files rows — a driver-small metadata table like the
    lineage ledger; one parquet file keeps reads trivial. When
    ``snapshots_path`` is given, the ledger's latest ``seq`` is stamped
    into every row as ``as_of_seq`` so lookups can detect staleness."""
    if snapshots_path is not None:
        seq = _latest_seq(snapshots_path)
        manifest = manifest.withColumn(
            "as_of_seq", F.lit(seq).cast("long")
        )
    manifest.coalesce(1).write.mode("overwrite").parquet(path)


def _latest_seq(snapshots_path: str) -> int:
    """The ledger's latest seq, by the commit's own rule: the snapshot
    file listing (snapshots.latest_seq), no Spark job."""
    from corsearch_project_spark.sources.snapshots import latest_seq

    seq = latest_seq(snapshots_path)
    if seq is None:
        raise FileNotFoundError(f"no snapshots table at {snapshots_path!r}")
    return seq


def _check_fresh(
    spark: SparkSession, manifest: DataFrame, snapshots_path: Optional[str]
) -> None:
    """Cheap guard (one metadata-table agg + one ledger listing): the
    manifest must have been built at the ledger's CURRENT latest commit."""
    if snapshots_path is None:
        return
    if "as_of_seq" not in manifest.columns:
        raise StaleManifestError(
            "manifest carries no as_of_seq stamp; rebuild it with "
            "write_manifest(..., snapshots_path=...) to enable the "
            "freshness check"
        )
    man_seq = manifest.agg(F.max("as_of_seq")).first()[0]
    live_seq = _latest_seq(snapshots_path)
    if man_seq != live_seq:
        raise StaleManifestError(
            f"manifest built at snapshot seq {man_seq}, table is at "
            f"{live_seq}: lookups would miss files from newer commits — "
            "rebuild the manifest"
        )


def prune_files(manifest: DataFrame, urls: Sequence[str]) -> List[str]:
    """Data files whose [min_url, max_url] range can contain any probed
    url. The range test runs as a DataFrame filter over the manifest; only
    the matched paths come back to the driver.

    The predicate is one OR-term pair PER URL in the expression tree —
    point-lookup-sized probes only (the module docstring's scaling note);
    ``lookup_urls`` switches to ``prune_files_df`` past ``_PROBE_DF_MIN``.
    """
    if not urls:
        return []
    cond = reduce(
        or_,
        [
            (F.lit(u) >= F.col("min_url")) & (F.lit(u) <= F.col("max_url"))
            for u in urls
        ],
    )
    return [r["file"] for r in manifest.where(cond).select("file").distinct().collect()]


# Probe counts at or above this go through the DataFrame range join; below
# it the literal predicate is cheaper (no join stage to schedule).
_PROBE_DF_MIN = 64


def prune_files_df(manifest: DataFrame, probe_df: DataFrame) -> List[str]:
    """Covering files for an arbitrary-size probe set, as a broadcast
    range join: ``manifest ⋈ broadcast(probe) ON min_url <= url <=
    max_url``. Probe cardinality stays out of the expression tree —
    Catalyst plans a BroadcastNestedLoopJoin whose streamed side is the
    metadata-small manifest, so even a 10k-url probe list is one tiny
    join, not a 20k-term predicate. ``probe_df`` must have a ``url``
    string column. Only matched file paths (bounded by #files) are
    collected."""
    probe = probe_df.select(F.col("url").alias("__probe_url")).distinct()
    joined = manifest.join(
        F.broadcast(probe),
        (F.col("__probe_url") >= F.col("min_url"))
        & (F.col("__probe_url") <= F.col("max_url")),
        "left_semi",
    )
    return [r["file"] for r in joined.select("file").distinct().collect()]


def lookup_urls(
    spark: SparkSession,
    extracted_path: str,
    manifest_path: str,
    urls: Sequence[str],
    snapshots_path: Optional[str] = None,
) -> DataFrame:
    """Point lookup through the manifest: scan ONLY covering files.

    ``basePath`` keeps the directory-partition column (url_bucket) in the
    result even though specific files are addressed. Returns an empty
    (zero-file) relation when no file range covers any probed url — the
    common miss case costs one metadata-table filter and zero data IO.

    Pass ``snapshots_path`` to enable the staleness guard (raises
    ``StaleManifestError`` when the manifest predates the ledger's latest
    commit — a stale manifest returns INCOMPLETE results, silently).
    Probe sets >= ``_PROBE_DF_MIN`` urls are pruned via the broadcast
    range join instead of a literal predicate."""
    manifest = spark.read.parquet(manifest_path)
    _check_fresh(spark, manifest, snapshots_path)
    urls = list(urls)
    if len(urls) >= _PROBE_DF_MIN:
        probe = spark.createDataFrame([(u,) for u in urls], "url string")
        files = prune_files_df(manifest, probe)
    else:
        files = prune_files(manifest, urls)
    if not files:
        # no covering file: an empty relation with the extracted schema
        from corsearch_project_spark.sources.schemas import EXTRACTED_SCHEMA

        return spark.createDataFrame([], EXTRACTED_SCHEMA)
    return (
        spark.read.option("basePath", extracted_path)
        .parquet(*files)
        .where(F.col("url").isin(urls))
    )


def lookup_urls_df(
    spark: SparkSession,
    extracted_path: str,
    manifest_path: str,
    probe_df: DataFrame,
    snapshots_path: Optional[str] = None,
) -> DataFrame:
    """Bulk lookup: covering files via the broadcast range join
    (``prune_files_df``), then a broadcast semi-join of the pruned scan
    against the probe set — the whole path is two broadcast joins and a
    scan of only covering files, independent of probe cardinality in the
    expression tree. ``probe_df`` needs a ``url`` string column."""
    manifest = spark.read.parquet(manifest_path)
    _check_fresh(spark, manifest, snapshots_path)
    files = prune_files_df(manifest, probe_df)
    if not files:
        from corsearch_project_spark.sources.schemas import EXTRACTED_SCHEMA

        return spark.createDataFrame([], EXTRACTED_SCHEMA)
    return (
        spark.read.option("basePath", extracted_path)
        .parquet(*files)
        .join(F.broadcast(probe_df.select("url").distinct()), "url", "left_semi")
    )
