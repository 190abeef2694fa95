"""Iceberg-style table IO over Parquet (SURVEY §2.1 S1–S5).

No Iceberg/Delta jars exist offline (SURVEY §0.1), so Iceberg semantics are
emulated and isolated behind ``TableFormat``: bucket-transform partitioning
(directory partition column ``url_bucket``), per-bucket idempotent commits,
a target file size in records, and a lineage/metrics table standing in for
snapshot metadata. As in Iceberg's Spark writer, the tasks write the data
files and return their metrics, and the driver commits: no Spark write job
and no read-back of what was written. On a cluster with Iceberg jars, swap
``ParquetBucketedFormat`` for a catalog-backed implementation
(``CREATE TABLE ... PARTITIONED BY (bucket(B, url))``) without touching the
pipeline.
"""

from __future__ import annotations

import os
import re
import uuid
from typing import Dict, List, Optional, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from corsearch_project_spark.sources.fs import LOCAL_FS
from corsearch_project_spark.sources.schemas import (
    EXTRACTED_SCHEMA,
    LINEAGE_SCHEMA,
    PAGES_SCHEMA,
)
from corsearch_project_spark.sources.snapshots import (
    chunks_hex,
    ledger_files,
    read_ledger,
    write_ledger_file,
    xor_chunks,
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


# One row per bucket the write stage wrote: its staged directory and the
# files in it, with the lineage totals when the rows carry text_sha256,
# bytes_in and extract_us (null otherwise).
WRITTEN_SCHEMA = T.StructType(
    [
        T.StructField("url_bucket", T.IntegerType(), False),
        T.StructField("dir", T.StringType(), False),
        T.StructField("files", T.ArrayType(T.StringType(), False), False),
        T.StructField("doc_count", T.LongType(), False),
        T.StructField("bytes_in", T.LongType(), True),
        T.StructField("extract_us", T.LongType(), True),
        T.StructField("sha256_rollup", T.StringType(), True),
    ]
)

_LINEAGE_COLUMNS = {"text_sha256", "bytes_in", "extract_us"}

_URI = re.compile(r"[A-Za-z][A-Za-z0-9+.-]+:")


def _data_fs(path: str):
    """(pyarrow filesystem, path on it) of a table path: a URI's own
    filesystem (``file:`` is the local one), a plain path's local one."""
    if _URI.match(path):
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), os.path.abspath(path)


def _exists(filesystem, path: str) -> bool:
    return filesystem.get_file_info(path).type != pafs.FileType.NotFound


def _nullable_type(t: pa.DataType) -> pa.DataType:
    if pa.types.is_struct(t):
        return pa.struct([pa.field(f.name, _nullable_type(f.type)) for f in t])
    if pa.types.is_list(t):
        return pa.list_(pa.field(t.value_field.name, _nullable_type(t.value_type)))
    return t


def _nullable(schema: pa.Schema) -> pa.Schema:
    """``schema`` with every field nullable, nested ones too: the schema
    Spark's writer gives a file, so pyarrow reads a table of both
    writers' files as one."""
    return pa.schema([pa.field(f.name, _nullable_type(f.type)) for f in schema])


class _BucketFiles:
    """One bucket's rows in one task: streamed into zstd Parquet files
    under ``dir``, a new file every ``max_records`` rows; the lineage
    totals are folded as the rows pass."""

    def __init__(self, filesystem, staging: str, bucket: int, run: str, max_records: int):
        self.filesystem, self.run, self.max_records = filesystem, run, max_records
        self.bucket, self.dir = bucket, f"{staging}/url_bucket={bucket}"
        filesystem.create_dir(self.dir)
        self.files: List[str] = []
        self.writer, self.in_file, self.rows = None, 0, 0
        self.bytes_in = self.extract_us = 0
        self.rollup: Optional[List[int]] = None

    def write(self, data: pa.RecordBatch) -> None:
        if not self.rows and _LINEAGE_COLUMNS <= set(data.schema.names):
            self.rollup = [0] * 8
        if self.rollup is not None:
            self.bytes_in += pc.sum(data.column("bytes_in")).as_py() or 0
            self.extract_us += pc.sum(data.column("extract_us")).as_py() or 0
            xor_chunks(data.column("text_sha256").to_pylist(), self.rollup)
        self.rows += data.num_rows
        while data.num_rows:
            if self.writer is None or self.in_file == self.max_records:
                self._roll(data.schema)
            take = min(data.num_rows, self.max_records - self.in_file)
            self.writer.write_batch(data.slice(0, take))
            self.in_file += take
            data = data.slice(take)

    def _roll(self, schema: pa.Schema) -> None:
        if self.writer is not None:
            self.writer.close()
        name = f"part-{len(self.files):05d}-{self.run}.zstd.parquet"
        self.writer = pq.ParquetWriter(
            f"{self.dir}/{name}", schema, filesystem=self.filesystem,
            compression="zstd", compression_level=3, store_schema=False,
        )
        self.files.append(name)
        self.in_file = 0

    def close(self) -> dict:
        self.writer.close()
        lineage = self.rollup is not None
        return {
            "url_bucket": self.bucket,
            "dir": self.dir,
            "files": self.files,
            "doc_count": self.rows,
            "bytes_in": self.bytes_in if lineage else None,
            "extract_us": self.extract_us if lineage else None,
            "sha256_rollup": chunks_hex(self.rollup) if lineage else None,
        }


def _write_stage(filesystem, root: str, run: str, max_records: int, kernel):
    """The write stage's ``mapInArrow`` function. It runs ``kernel``
    (when given) over the task's batches, which arrive sorted by
    (url_bucket, url), and streams each bucket's rows into its files
    under ``<root>/_temporary/<run>/attempt-<task attempt id>/`` — one
    batch in memory, not one bucket. It yields one WRITTEN_SCHEMA row per
    bucket."""
    out_schema = to_arrow_schema(WRITTEN_SCHEMA)

    def write_buckets(batches):
        from pyspark import TaskContext

        staging = f"{root}/_temporary/{run}/attempt-{TaskContext.get().taskAttemptId()}"
        if kernel is not None:
            batches = kernel(batches)
        written: List[dict] = []
        current: Optional[_BucketFiles] = None
        try:
            for rb in batches:
                if not rb.num_rows:
                    continue
                buckets = rb.column("url_bucket").to_numpy(zero_copy_only=False)
                data = rb.drop_columns(["url_bucket"])
                data = data.cast(_nullable(data.schema))
                cuts = [0, *(np.flatnonzero(np.diff(buckets)) + 1).tolist(), rb.num_rows]
                for start, end in zip(cuts, cuts[1:]):
                    bucket = int(buckets[start])
                    if current is None or current.bucket != bucket:
                        if current is not None:
                            written.append(current.close())
                        if any(w["url_bucket"] == bucket for w in written):
                            raise RuntimeError(f"rows of bucket {bucket} arrived out of order")
                        current = _BucketFiles(filesystem, staging, bucket, run, max_records)
                    current.write(data.slice(start, end - start))
            if current is not None:
                written.append(current.close())
        except BaseException:
            # the attempt fails and is never committed; release its open file
            if current is not None and current.writer is not None:
                current.writer.close()
            raise
        yield pa.RecordBatch.from_pylist(written, schema=out_schema)

    return write_buckets


def commit_buckets(filesystem, root: str, run: str, written: Sequence[dict]) -> None:
    """Move each written bucket's staged directory into the table at
    ``root``: remove the committed directory, then rename the staged one
    in — the order of Spark's dynamic-overwrite job commit, so a crash
    between the two leaves the bucket absent (not mixed) until a rerun
    commits it; no lineage row names the new data before ``commit_run``.
    Buckets not in ``written`` are not touched, and attempts no row names
    (a failed or superseded task's) are never committed. The run's
    staging directory goes last, and ``_temporary`` with it once empty."""
    for w in written:
        final = f"{root}/url_bucket={w['url_bucket']}"
        if _exists(filesystem, final):
            filesystem.delete_dir(final)
        filesystem.move(w["dir"], final)
    staging = f"{root}/_temporary"
    if _exists(filesystem, f"{staging}/{run}"):
        filesystem.delete_dir(f"{staging}/{run}")
    if _exists(filesystem, staging) and not filesystem.get_file_info(pafs.FileSelector(staging)):
        filesystem.delete_dir(staging)


class ParquetBucketedFormat:
    """The TableFormat seam (SURVEY §7 hard-part 5). ``tasks`` is the
    number of tasks that own the buckets (``defaultParallelism`` when
    None)."""

    def __init__(self, max_records_per_file: int = 50_000, tasks: Optional[int] = None):
        self.max_records_per_file = max_records_per_file
        self.tasks = tasks

    def task_count(self, spark: SparkSession) -> int:
        return self.tasks or spark.sparkContext.defaultParallelism

    def distribute(self, df: DataFrame) -> DataFrame:
        """The write distribution, which the kernel shares: every bucket's
        rows in one task (``repartitionById`` on url_bucket: bucket b goes
        to task b mod N, an explicit count that AQE does not coalesce),
        sorted by (url_bucket, url) so each file is url-clustered for the
        S15 manifest's range lookups. One task per slot by default: every
        Python task pays a fixed cost (plans/session.py); on 4 vCPUs an
        8000-doc kernel stage took 1.5-1.7 s in 4 tasks and 2.6-2.7 s in
        16."""
        n = self.task_count(df.sparkSession)
        return df.repartitionById(n, "url_bucket").sortWithinPartitions("url_bucket", "url")

    def write_extracted(self, df: DataFrame, path: str, kernel=None) -> List[dict]:
        """S3: the bucketed sink, the one writer of bucketed tables. One
        Spark stage distributes ``df`` (``distribute``), runs ``kernel``
        over it when given — a ``mapInArrow`` function whose output rows
        carry url_bucket (operators/kernel.py) — and writes each bucket's
        rows from its task as Parquet files (``_write_stage``); no row
        crosses back to the JVM. The stage returns one row per bucket,
        collected on the driver, which then commits those buckets
        (``commit_buckets``). Only the buckets present in the rows are
        replaced — the dynamic partition overwrite that makes resume
        reruns idempotent and a merge's rewrite leave every other bucket
        alone, whatever the session's partitionOverwriteMode. Returns the
        rows (WRITTEN_SCHEMA, as dicts) by bucket: with the lineage totals
        when the written rows carry text_sha256, bytes_in and extract_us
        (sources/lineage.py ``written_lineage``)."""
        filesystem, root = _data_fs(path)
        run = uuid.uuid4().hex[:12]
        stage = _write_stage(filesystem, root, run, self.max_records_per_file, kernel)
        rows = self.distribute(df).mapInArrow(stage, WRITTEN_SCHEMA).collect()
        written = sorted((r.asDict() for r in rows), key=lambda w: w["url_bucket"])
        commit_buckets(filesystem, root, run, written)
        return written

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


def run_lineage(lineage_path: str, run_id: str, fs=LOCAL_FS) -> Dict[int, dict]:
    """The lineage rows of the buckets ``run_id`` committed, by bucket,
    read on the driver from the run's lineage files
    (``run_lineage_files``) with no Spark job. A bucket that several
    crashed attempts committed keeps one of their rows: the attempts
    extracted the same input, so their totals agree."""
    files = read_ledger(
        run_lineage_files(lineage_path, run_id, fs),
        ("run_id", "url_bucket", "status", "doc_count", "bytes_in", "sha256_rollup"),
        fs,
    )
    return {
        r["url_bucket"]: r for rs in files.values() for r in rs
        if r["run_id"] == run_id and r["status"] == "done"
    }


def done_buckets(lineage_path: str, run_id: str, fs=LOCAL_FS) -> List[int]:
    """P5 resume input: buckets already committed for this run_id
    (``run_lineage``). B is small (≤ thousands) so collecting to a literal
    list lets the scan-side filter prune partitions instead of joining."""
    return sorted(run_lineage(lineage_path, run_id, fs))
