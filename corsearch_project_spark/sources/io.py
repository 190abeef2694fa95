"""Iceberg-style table IO over Parquet (SURVEY §2.1 S1–S5).

No Iceberg/Delta jars exist offline (SURVEY §0.1), so Iceberg semantics are
emulated and isolated behind ``TableFormat``: bucket-transform partitioning
(directory partition column ``url_bucket``), dynamic-overwrite idempotent
commits, target-file-size via maxRecordsPerFile, and a lineage/metrics table
standing in for snapshot metadata. On a cluster with Iceberg jars, swap
``ParquetBucketedFormat`` for a catalog-backed implementation
(``CREATE TABLE ... PARTITIONED BY (bucket(B, url))``) without touching the
pipeline.
"""

from __future__ import annotations

import os
import re
import uuid
from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from corsearch_project_spark.sources.fs import LOCAL_FS
from corsearch_project_spark.sources.schemas import (
    EXTRACTED_SCHEMA,
    LINEAGE_SCHEMA,
    PAGES_SCHEMA,
)
from corsearch_project_spark.sources.snapshots import (
    ledger_files,
    read_ledger,
    write_ledger_file,
)


def scan_pages(spark: SparkSession, path: str) -> DataFrame:
    """S1/S2: fixed-schema scan; predicate/partition pruning applies when the
    caller filters on url_bucket (bucketed layout) or lang/warc_ts (row-group
    min/max skip)."""
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


def _file_tag(tag: str) -> str:
    return re.sub(r"[^A-Za-z0-9_.-]", "_", tag)


_LINEAGE_NAME = re.compile(r"lin-(.*)-[0-9a-f]{12}\.parquet")


def lineage_file_name(tag: str) -> str:
    """Unique name for one lineage ledger file: ``lin-<tag>-<random>``.
    The prefix keeps a tag starting with ``_`` or ``.`` from hiding the
    file from readers."""
    return f"lin-{_file_tag(tag)}-{uuid.uuid4().hex[:12]}.parquet"


def run_lineage_files(path: str, run_id: str, fs=LOCAL_FS) -> List[str]:
    """The lineage files under ``path`` that can hold rows of ``run_id``:
    its own ``lin-<run_id>-*`` files, and the legacy files of older
    tables — the ``lin-compact-*`` file an older, rewriting
    ``expire_snapshots`` left (nothing writes one now) and files of any
    other name (Spark's ``part-*`` files of a table committed before
    per-commit files). Other runs' files are not read, so the cost
    follows the run, not the table's history."""
    tags = {_file_tag(run_id), "compact"}
    files = []
    for file in ledger_files(path, fs):
        m = _LINEAGE_NAME.fullmatch(file.rsplit("/", 1)[1])
        if m is None or m.group(1) in tags:
            files.append(file)
    return files


class ParquetBucketedFormat:
    """The TableFormat seam (SURVEY §7 hard-part 5)."""

    def __init__(self, max_records_per_file: int = 50_000):
        self.max_records_per_file = max_records_per_file

    def write_extracted(self, df: DataFrame, path: str) -> None:
        """S3: bucketed sink; callers pass rows in any partitioning. Like
        Iceberg's ``write.distribution-mode=hash``, it hashes rows on
        url_bucket into one task per slot (``defaultParallelism``: each
        task pays a fixed cost), so each bucket lands in one task → one
        file, not one per upstream task (the small-file explosion that
        made the lineage read-back the slowest stage).
        sortWithinPartitions('url') clusters files for url range-lookup;
        dynamic partition overwrite makes resume reruns idempotent (only
        pending buckets are replaced).

        partitionOverwriteMode is pinned HERE, writer-level (overrides any
        session conf): with the session default (static), mode('overwrite')
        .partitionBy(...) clears the whole table root, so calling run_merge
        from a default-conf SparkSession would silently delete every
        untouched bucket (round-2 ADVICE — data loss, not an error)."""
        # An explicit count: AQE may coalesce a column-only repartition.
        slots = df.sparkSession.sparkContext.defaultParallelism
        # url_bucket leads the sort so the partitionBy writer's required
        # ordering is already satisfied — otherwise it inserts its own
        # url_bucket sort AFTER this one and the per-file url clustering
        # (which the S15 manifest's min/max bounds rely on for tightness)
        # survives only by sort-stability luck whenever a task holds more
        # than one bucket.
        (
            df.repartition(slots, "url_bucket")
            .sortWithinPartitions("url_bucket", "url")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("maxRecordsPerFile", self.max_records_per_file)
            .partitionBy("url_bucket")
            .parquet(path)
        )

    def read_extracted(
        self, spark: SparkSession, path: str, schema: Optional[T.StructType] = None
    ) -> DataFrame:
        """The extracted table at ``path``. With a read ``schema`` (a subset
        of EXTRACTED_SCHEMA's columns) the scan reads only those columns
        and Spark runs no job to infer the schema from the file footers."""
        if schema is None:
            return spark.read.parquet(path)
        return spark.read.schema(schema).parquet(path)

    def append_lineage(self, rows, path: str, fs=LOCAL_FS) -> Optional[str]:
        """S4: append-only metrics table (small: B rows per run). ``rows``
        are the run's collected lineage rows (a DataFrame is collected
        first); they are committed from the driver as ONE Parquet file
        under a unique name (``lineage_file_name``), created exclusively
        through the ``fs`` seam — no Spark job. Returns the file's path,
        or None when there are no rows."""
        if isinstance(rows, DataFrame):
            rows = rows.collect()
        if not rows:
            return None
        return write_ledger_file(
            path, lineage_file_name(rows[0]["run_id"]), rows, LINEAGE_SCHEMA, fs
        )


# ---------------------------------------------------------------------------
# Schema evolution (S16): Iceberg add/rename/widen semantics over the
# Parquet emulation. Iceberg tracks columns by field ID in table metadata,
# so old data files remain readable after ADD COLUMN (missing -> NULL),
# RENAME (ID unchanged, name remapped), and type widening. Parquet alone
# matches by NAME, so a fixed-schema scan breaks on any layout change
# (round-3 verdict, "Next round" item 7). The emulation keeps a
# column-mapping descriptor — read-schema + rename lineage — persisted as
# an underscore-prefixed JSON at the table root (invisible to readers,
# like _SUCCESS), and resolves every read column as
# coalesce(first-present-of [current_name, *prior_names]) cast to the read
# type. Real Iceberg drops in at the TableFormat seam with none of this.
# ---------------------------------------------------------------------------

SCHEMA_DESCRIPTOR = "_schema.json"


def write_schema_descriptor(
    path: str, read_schema, renames: Optional[dict] = None
) -> None:
    """Persist the table's current read-schema + rename lineage.
    ``renames`` maps current column name -> list of PRIOR names still
    present in old data files (newest first)."""
    import json

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, SCHEMA_DESCRIPTOR), "w") as f:
        json.dump(
            {"read_schema_json": read_schema.jsonValue(), "renames": renames or {}},
            f,
        )


def read_schema_descriptor(path: str):
    """(read_schema, renames) from the table's descriptor, or None."""
    import json

    from pyspark.sql import types as T

    p = os.path.join(path, SCHEMA_DESCRIPTOR)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        d = json.load(f)
    return T.StructType.fromJson(d["read_schema_json"]), d["renames"]


def read_evolved(
    spark: SparkSession,
    path: str,
    read_schema=None,
    renames: Optional[dict] = None,
    union_schema=None,
) -> DataFrame:
    """Read a table whose data files span schema versions.

    * column ADD: files written before the add lack the column -> typed
      NULL (Iceberg's exact semantics);
    * column RENAME: old files carry a prior name -> resolved via the
      rename lineage, newest name wins when both exist (coalesce order);
    * type WIDENING (int->long, float->double): every candidate is cast to
      the read type before coalescing.

    ``union_schema`` (all names that appear in ANY file, old and new, at
    their WIDEST types) skips the mergeSchema footer sweep — at 10^6+
    files per table, footer merging is a driver-side metadata scan you
    don't want; the snapshot ledger can supply the union cheaply. It is
    also REQUIRED for type widening: Spark's parquet reader upcasts
    int->long / float->double under an explicit read schema, but footer
    merging refuses INT-vs-BIGINT merges (the reason Iceberg keeps schema
    in table metadata, not footers). Without it, mergeSchema=true
    discovers the union (fine for add/rename at test scale; documented
    cost at crawl scale). When ``read_schema``/``renames`` are omitted,
    the persisted descriptor at the table root supplies them."""
    if read_schema is None:
        desc = read_schema_descriptor(path)
        if desc is None:
            raise FileNotFoundError(
                f"no read_schema given and no {SCHEMA_DESCRIPTOR} under {path!r}"
            )
        read_schema, renames = desc[0], (renames or desc[1])
    renames = renames or {}
    if union_schema is not None:
        df = spark.read.schema(union_schema).parquet(path)
    else:
        df = spark.read.option("mergeSchema", True).parquet(path)
    have = set(df.columns)
    out = []
    for field in read_schema.fields:
        cands = [c for c in [field.name, *renames.get(field.name, [])] if c in have]
        if not cands:
            expr = F.lit(None).cast(field.dataType)  # column add
        else:
            expr = F.coalesce(*[F.col(c).cast(field.dataType) for c in cands])
        out.append(expr.alias(field.name))
    return df.select(*out)


def done_buckets(lineage_path: str, run_id: str, fs=LOCAL_FS) -> List[int]:
    """P5 resume input: buckets already committed for this run_id, read
    on the driver from the run's lineage files (``run_lineage_files``)
    with no Spark job. B is small (≤ thousands) so collecting to a literal
    list lets the scan-side filter prune partitions instead of joining."""
    files = read_ledger(
        run_lineage_files(lineage_path, run_id, fs), ("run_id", "url_bucket", "status"), fs
    )
    return sorted({
        r["url_bucket"] for rs in files.values() for r in rs
        if r["run_id"] == run_id and r["status"] == "done"
    })
