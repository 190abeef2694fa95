"""The end-to-end extraction pipeline (SURVEY §3.1) as a library function.

Plan shape (one Python stage by design, SURVEY §4):

  scan(pages | WARC dumps via sources.warc) ──filter (pushed to Parquet)──▶
  bucket P1 ──▶ dedupe latest-wins (partial-agg max(struct)) ──▶
  repartitionById(url_bucket) + sort (url_bucket, url) ──▶ ONE mapInArrow
  stage: kernel E17 and the bucket's Parquet files S3, in the same task ──▶
  per-bucket rows (files, counts, lineage totals) collected ──▶ bucket
  directories committed on the driver ──▶ driver-written lineage S4 +
  snapshot files

A backfill is 3 Spark jobs: the dedupe's partial aggregate, its final
aggregate with the bucket exchange, and the fused kernel-and-write stage.
No row crosses back from Python to the JVM, and nothing reads the written
table back: the lineage rows come from the writer's per-bucket rows.

Resume (§3.3): completed buckets are read from lineage and excluded with a
literal NOT isin() filter, which prunes bucket directories at scan time when
the input is bucket-partitioned.

The incremental merge (plans/merge_pipeline.py) runs the same path: both
pipelines read their input with ``scan_input``, extract it with
``extract_pages`` and write their ledger with ``commit_run``. The three
live here, and call this module's imported names, so that anything wrapping
those names (perfbench/spans.py) sees the calls of both pipelines.
"""

from __future__ import annotations

import re
import time
import uuid
from dataclasses import dataclass
from functools import reduce
from math import gcd
from typing import Callable, Dict, List, NamedTuple, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from corsearch_project_spark.operators.kernel import (
    asset_rows,
    bucketed_kernel,
    document_rows,
    dual_rows,
    table_rows,
    text_rows,
)
from corsearch_project_spark.operators.partitioning import (
    DEFAULT_BUCKETS,
    DEFAULT_SALT,
    with_url_bucket,
)
from corsearch_project_spark.sources import snapshots
from corsearch_project_spark.sources.fs import LOCAL_FS
from corsearch_project_spark.sources.io import (
    ParquetBucketedFormat,
    done_buckets,
    run_lineage,
    scan_pages,
)
from corsearch_project_spark.sources.lineage import written_lineage
from corsearch_project_spark.sources.schemas import (
    DOC_ASSETS_SCHEMA,
    DOC_TABLES_SCHEMA,
    DUAL_KERNEL_SCHEMA,
    EXTRACTED_KERNEL_SCHEMA,
)
from corsearch_project_spark.webextract.rules import Rule, rules_to_plain

# Never called here: re-imported only so that the names perfbench/spans.py
# wraps resolve (tests/test_pipeline.py::test_bench_tracer_targets_resolve).
from corsearch_project_spark.operators.kernel import run_kernel  # noqa: F401
from corsearch_project_spark.operators.partitioning import hot_hosts  # noqa: F401
from corsearch_project_spark.operators.partitioning import with_salt  # noqa: F401
from corsearch_project_spark.sources.lineage import lineage_rows  # noqa: F401


_BUCKET_DIR = re.compile(r"/url_bucket=(\d+)/")


class TableRoot:
    """Relations under a table root, and the table's format (the
    ``output_path``, ``max_records_per_file`` and ``kernel_partitions``
    fields of the config dataclasses that derive from it)."""

    def _under(self, name: str) -> str:
        return self.output_path.rstrip("/") + "/" + name

    @property
    def extracted_path(self) -> str:
        return self._under("extracted")

    @property
    def lineage_path(self) -> str:
        return self._under("lineage")

    @property
    def snapshots_path(self) -> str:
        return self._under("snapshots")

    def table_format(self) -> ParquetBucketedFormat:
        """The table's format, with the config's file size and task count
        (``max_records_per_file``, ``kernel_partitions``)."""
        return ParquetBucketedFormat(self.max_records_per_file, self.kernel_partitions)


@dataclass
class ExtractConfig(TableRoot):
    input_path: str
    output_path: str  # root; extracted under <root>/extracted, lineage under <root>/lineage
    run_id: str = ""
    input_format: str = "pages"  # 'pages' (parquet table) | 'warc' (raw dumps)
    buckets: int = DEFAULT_BUCKETS
    salt: int = DEFAULT_SALT  # read only by perfbench/layers.py; no pipeline salts
    hot_frac: float = 0.05  # read only by perfbench/layers.py
    resume: bool = False
    kernel_partitions: Optional[int] = None
    max_records_per_file: int = 50_000
    # Opt-in markdown column: the fused dual-emit kernel parses each HTML
    # document ONCE and serializes twice, adding (extracted_md, md_sha256)
    # to the same bucketed table — Parquet is columnar, so text-only
    # readers prune the extra columns and pay nothing. Lineage/digest
    # contracts are unchanged (they roll up text_sha256 either way).
    with_markdown: bool = False
    # Opt-in document-assets catalog: a SECOND, dedicated relation under
    # <root>/doc_assets holding per-document metadata — PDF /Info fields,
    # link-annotation URIs and the flattened outline; DOCX Dublin-Core
    # core properties (operators/kernel.py run_doc_assets_kernel).
    # Deliberately a separate pass, not a wider kernel schema: (a) it
    # backfills over an EXISTING pages table without re-running text
    # extraction, and (b) only the document share of crawl rows (~15%)
    # carries any of this, so a dense url-keyed side table beats
    # mostly-empty columns on the hot table. Cost when run in-pipeline:
    # one extra (url, html) scan whose JVM pre-filter drops other rows
    # before the Python boundary — the scan re-reads the binary column,
    # the kernel only parses the document share.
    with_doc_assets: bool = False
    # Opt-in document-tables catalog (E24): <root>/doc_tables — PDF tables
    # via the ruling-free stream-mode detector, DOCX tables via exact
    # <w:tbl> walking, one row per table row (kernel-side explode). Same
    # separate-pass rationale as doc_assets: backfillable, and only the
    # document share carries tables.
    with_doc_tables: bool = False

    def __post_init__(self):
        if not self.run_id:
            self.run_id = uuid.uuid4().hex[:12]

    @property
    def doc_assets_path(self) -> str:
        return self._under("doc_assets")

    @property
    def doc_tables_path(self) -> str:
        return self._under("doc_tables")


def dedupe_latest(pages: DataFrame) -> DataFrame:
    """Common-Crawl re-crawls — latest warc_ts per url wins; ties broken
    deterministically by larger payload, then by the remaining columns'
    natural order (a strictly finer tiebreak than the window control arm).

    Implemented as ``max(struct(ordering keys…, payload…))`` in a
    groupBy(url): unlike the row_number window (dedupe_latest_window), a
    declarative max gets map-side PARTIAL aggregation — each input split
    reduces its local replicas before the shuffle and nothing is sorted —
    which at 10^12 rows means the exchange carries ~unique urls instead of
    every replica plus a full-partition sort. The struct packs each column
    once — (warc_ts, length(html), text, the other columns) — so the
    ordering keys warc_ts and text are not carried twice."""
    payload = [c for c in pages.columns if c != "url"]
    packed = F.struct(
        "warc_ts",
        F.length("html").alias("_k2"),
        "text",
        *[c for c in payload if c not in ("warc_ts", "text")],
    )
    picked = pages.groupBy("url").agg(F.max(packed).alias("_m"))
    return picked.select("url", *[F.col(f"_m.{c}").alias(c) for c in payload]).select(
        *pages.columns
    )


def dedupe_latest_window(pages: DataFrame) -> DataFrame:
    """W1 control arm (SURVEY §2.7): the same latest-wins relation via
    row_number over a (url, desc ordering) window. Kept for the
    plan-equivalence test; the pipeline uses the partial-agg form above."""
    w = Window.partitionBy("url").orderBy(
        F.desc("warc_ts"), F.desc(F.length("html")), F.desc("text")
    )
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


class Phases(dict):
    """Wall seconds per pipeline phase: ``mark(name)`` closes the phase that
    started at the previous mark (or at construction)."""

    def __init__(self) -> None:
        super().__init__()
        self._t = time.perf_counter()

    def mark(self, name: str) -> None:
        now = time.perf_counter()
        self[name] = round(now - self._t, 3)
        self._t = now


def scan_input(spark: SparkSession, path: str, input_format: str, buckets: int) -> DataFrame:
    """The input pages — a parquet table, or raw WARC dumps — with their
    url_bucket (P1)."""
    if input_format == "warc":
        from corsearch_project_spark.sources.warc import read_warc

        pages = read_warc(spark, path)
    else:
        pages = scan_pages(spark, path)
    return with_url_bucket(pages, buckets)


class Extraction(NamedTuple):
    pages: DataFrame  # the deduped pages (url, html, text, url_bucket): the kernel's input
    kernel: Callable  # the kernel's mapInArrow function; its rows carry url_bucket
    extracted: DataFrame  # pages through the write's distribution and the kernel
    kernel_tasks: int  # tasks of the kernel stage


def extract_pages(
    spark: SparkSession,
    pages: DataFrame,
    cfg,
    rules: Optional[Dict[str, Rule]],
    with_markdown: bool = False,
) -> Extraction:
    """The shared prelude: latest-wins dedupe over bucketed ``pages``, and
    the ONE Python stage's kernel. ``cfg`` supplies the table format
    (``TableRoot.table_format``). Spark runs no job here: it is plan
    construction only.

    A backfill passes ``pages`` and ``kernel`` to
    ``write_extracted``, which runs the kernel in its write stage;
    ``extracted`` is the same kernel over the same distribution as a
    DataFrame, which the merge classifies. The kernel stage runs one
    Python task per slot (``defaultParallelism``);
    ``cfg.kernel_partitions`` overrides it."""
    # Project BEFORE deduping: max(struct) packs every input column into the
    # aggregate, which defeats Catalyst's column pruning through the agg —
    # an explicit projection here is what keeps unused columns (lang) out of
    # the Parquet scan (asserted by test_plans' ReadSchema audit).
    pages = dedupe_latest(pages.select("url", "warc_ts", "html", "text", "url_bucket"))
    pages = pages.select("url", "html", "text", "url_bucket")
    rules_bc = spark.sparkContext.broadcast(rules_to_plain(rules or {}))
    arm = (dual_rows, DUAL_KERNEL_SCHEMA) if with_markdown else (text_rows, EXTRACTED_KERNEL_SCHEMA)
    kernel, schema = bucketed_kernel(*arm, rules_bc)
    fmt = cfg.table_format()
    extracted = fmt.distribute(pages).mapInArrow(kernel, schema)
    return Extraction(pages, kernel, extracted, fmt.task_count(spark))


def commit_run(
    fmt: ParquetBucketedFormat,
    cfg: TableRoot,
    operation: str,
    input_split: str,
    written: Sequence[dict],
    skip: Sequence[int] = (),
    fs=LOCAL_FS,
) -> Tuple[list, Optional[dict]]:
    """Commit the ledger of a run whose data write has landed, from the
    driver through the ``fs`` seam, with no Spark job.

    ``written`` is ``write_extracted``'s per-bucket rows; their lineage
    rows (``lineage.written_lineage``) go into one lineage file, then one
    snapshot file named by the next seq (sources/snapshots.py). Both are
    created exclusively. A concurrent commit that took the same seq makes
    ``append_snapshot`` raise ``SeqConflictError``; this run's lineage
    file is then removed, so a retry (``--resume``) of the run redoes its
    buckets instead of skipping them.

    ``skip`` lists the buckets an earlier attempt of the same run
    committed. An attempt that crashed between its lineage and snapshot
    files left ``skip`` buckets that no snapshot of the run covers
    (``snapshots.run_buckets``). The snapshot committed here covers them
    too, with their rows from the run's own lineage files
    (``io.run_lineage``) — one row per bucket, whatever number of crashed
    attempts wrote lineage for it — so a resume that skips every bucket
    still commits the run's snapshot. ``cfg`` supplies run_id and the
    table paths. Returns (lineage rows, snapshot); nothing is appended
    and the snapshot is None when no new or uncovered rows remain."""
    rows = written_lineage(written, cfg.run_id, input_split)
    orphans = []
    if skip:
        covered = snapshots.run_buckets(cfg.snapshots_path, cfg.run_id, fs)
        done = run_lineage(cfg.lineage_path, cfg.run_id, fs)
        orphans = [done[b] for b in sorted(set(skip) - covered) if b in done]
    if not rows and not orphans:
        return rows, None
    lin_file = fmt.append_lineage(rows, cfg.lineage_path, fs=fs)
    try:
        snap = snapshots.append_snapshot(
            None, cfg.snapshots_path, cfg.run_id, operation, rows + orphans, fs=fs
        )
    except snapshots.SeqConflictError:
        if lin_file is not None:
            fs.rmtree(lin_file)
        raise
    return rows, snap


def check_ledger_root(cfg: TableRoot, fs=LOCAL_FS) -> None:
    """Fail before the data job when the ledger commit cannot succeed:
    ``fs`` cannot reach the table root (LocalFS refuses an ``s3a://`` or
    ``hdfs://`` root — pass an adapter) or the snapshot files yield no
    seq. Raised after the data write, either would leave buckets
    overwritten with no lineage or snapshot recording it."""
    snapshots.latest_seq(cfg.snapshots_path, fs)


def check_bucket_count(spark: SparkSession, path: str, buckets: int) -> None:
    """Fail before the data job when the table at ``path`` was written
    with another bucket count than ``buckets``: a committed
    ``url_bucket=<k>`` has k >= ``buckets`` (from the read's file
    listing), or one of 64 sampled committed rows (one ``limit`` job) is
    not in bucket ``pmod(xxhash64(url), buckets)``. Written at another
    count, a url that the table holds would get a second row in another
    bucket. The ValueError names both counts: the table's is read as the
    gcd of (hash - bucket) over the sample, which every count that places
    those rows divides — at more than a few rows, the count itself."""
    existing = spark.read.schema("url string, url_bucket int").parquet(path)
    high = max(
        (int(m.group(1)) for m in map(_BUCKET_DIR.search, existing.inputFiles()) if m),
        default=-1,
    )
    sample = existing.select(F.xxhash64("url").alias("h"), "url_bucket").limit(64).collect()
    # Python's % of a positive divisor is Spark's pmod: buckets places
    # every sampled row iff it divides each h - k
    written = reduce(gcd, (h - k for h, k in sample), 0)
    if high < buckets and written % buckets == 0:
        return
    raise ValueError(
        f"table {path} was written with {written or 'another number of'} buckets; "
        f"the run was given buckets={buckets}"
    )


def run_extract(
    spark: SparkSession,
    cfg: ExtractConfig,
    rules: Optional[Dict[str, Rule]] = None,
    fs=LOCAL_FS,
) -> Dict[str, object]:
    """Extract ``cfg.input_path`` into the table at ``cfg.output_path``
    and commit its ledger; ``fs`` is the seam the ledger is written
    through (sources/fs.py)."""
    check_ledger_root(cfg, fs)
    phases = Phases()
    fmt = cfg.table_format()
    pages = scan_input(spark, cfg.input_path, cfg.input_format, cfg.buckets)

    skipped: List[int] = []
    if cfg.resume:
        skipped = done_buckets(cfg.lineage_path, cfg.run_id, fs)
        if fs.exists(cfg.extracted_path):
            check_bucket_count(spark, cfg.extracted_path, cfg.buckets)
    if skipped:
        pages = pages.where(~F.col("url_bucket").isin(skipped))

    ext = extract_pages(spark, pages, cfg, rules, cfg.with_markdown)
    written = fmt.write_extracted(ext.pages, cfg.extracted_path, ext.kernel)
    phases.mark("kernel_and_write")

    # over the deduped pages (the rows the main kernel saw); the JVM
    # pre-filter keeps non-document bytes out of the Python stage
    for enabled, doc_rows, schema, path, phase in (
        (cfg.with_doc_assets, asset_rows, DOC_ASSETS_SCHEMA, cfg.doc_assets_path, "doc_assets"),
        (cfg.with_doc_tables, table_rows, DOC_TABLES_SCHEMA, cfg.doc_tables_path, "doc_tables"),
    ):
        if enabled:
            kernel = bucketed_kernel(doc_rows, schema)[0]
            fmt.write_extracted(document_rows(ext.pages, "url_bucket"), path, kernel)
            phases.mark(phase)

    operation = "resume-append" if cfg.resume else "overwrite"
    new_rows, snap = commit_run(
        fmt, cfg, operation, cfg.input_path, written, skip=skipped, fs=fs
    )
    phases.mark("lineage_append")
    return {
        "run_id": cfg.run_id,
        "snapshot": snap,
        "phase_wall_s": phases,
        "buckets_written": sorted(r["url_bucket"] for r in new_rows),
        "buckets_skipped": skipped,
        "kernel_tasks": ext.kernel_tasks,
        "docs_out": sum(r["doc_count"] for r in new_rows),
        "extracted_path": cfg.extracted_path,
        "lineage_path": cfg.lineage_path,
    }
