"""The end-to-end extraction pipeline (SURVEY §3.1) as a library function.

Plan shape (one Python stage by design, SURVEY §4):

  scan(pages | WARC dumps via sources.warc) ──filter (pushed to Parquet)──▶
  dedupe latest-wins (partial-agg max(struct)) ──▶ bucket P1 + salt P2 ──▶
  shuffle on (url_bucket, salt) ──▶ mapInArrow kernel E17 ──▶
  re-derive url_bucket (JVM) ──▶ bucketed dynamic-overwrite write S3 ──▶
  lineage rollup from the committed table ──▶ driver-written lineage S4 +
  snapshot files

Resume (§3.3): completed buckets are read from lineage and excluded with a
literal NOT isin() filter, which prunes bucket directories at scan time when
the input is bucket-partitioned. The lineage rollup prunes the buckets a
snapshot of the run already covers from its scan the same way.

The incremental merge (plans/merge_pipeline.py) runs the same path: both
pipelines read their input with ``scan_input``, extract it with
``extract_pages`` and write their ledger with ``commit_run``. The three
live here, and call this module's imported names, so that anything wrapping
those names (perfbench/spans.py) sees the calls of both pipelines.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass
from typing import Dict, List, NamedTuple, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from corsearch_project_spark.operators.kernel import (
    run_doc_assets_kernel,
    run_doc_tables_kernel,
    run_dual_kernel,
    run_kernel,
)
from corsearch_project_spark.operators.partitioning import (
    DEFAULT_BUCKETS,
    DEFAULT_SALT,
    with_salt,
    with_url_bucket,
)
from corsearch_project_spark.sources import snapshots
from corsearch_project_spark.sources.fs import LOCAL_FS
from corsearch_project_spark.sources.io import (
    ParquetBucketedFormat,
    done_buckets,
    scan_pages,
)
from corsearch_project_spark.sources.lineage import LINEAGE_INPUT_SCHEMA, lineage_rows
from corsearch_project_spark.webextract.rules import Rule, rules_to_plain

# Never called here: re-imported only so that the name perfbench/spans.py
# wraps resolves (tests/test_pipeline.py::test_bench_tracer_targets_resolve).
from corsearch_project_spark.operators.partitioning import hot_hosts  # noqa: F401


class TableRoot:
    """Relations under a table root (the ``output_path`` field of the
    config dataclasses that derive from it)."""

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


@dataclass
class ExtractConfig(TableRoot):
    input_path: str
    output_path: str  # root; extracted under <root>/extracted, lineage under <root>/lineage
    run_id: str = ""
    input_format: str = "pages"  # 'pages' (parquet table) | 'warc' (raw dumps)
    buckets: int = DEFAULT_BUCKETS
    salt: int = DEFAULT_SALT
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
    extracted: DataFrame  # kernel output with url_bucket re-derived JVM-side
    pages: DataFrame  # the deduped, salted pages the kernel consumed
    kernel_tasks: int  # tasks of the kernel stage (n_kernel)


def extract_pages(
    spark: SparkSession,
    pages: DataFrame,
    cfg,
    rules: Optional[Dict[str, Rule]],
    with_markdown: bool = False,
) -> Extraction:
    """The shared prelude: latest-wins dedupe, salt, the kernel shuffle
    and the ONE Python stage, over bucketed ``pages``. ``cfg`` supplies
    buckets, salt and kernel_partitions. Spark runs no job here: it is
    plan construction only.

    The kernel stage runs one Python task per slot
    (``defaultParallelism``); ``cfg.kernel_partitions`` overrides it."""
    # Project BEFORE deduping: max(struct) packs every input column into the
    # aggregate, which defeats Catalyst's column pruning through the agg —
    # an explicit projection here is what keeps unused columns (lang) out of
    # the Parquet scan (asserted by test_plans' ReadSchema audit).
    pages = dedupe_latest(pages.select("url", "warc_ts", "html", "text", "url_bucket"))
    pages = with_salt(pages, s=cfg.salt)

    sel = pages.select("url", "html", "text", "url_bucket", "salt")
    part_cols = [F.col("url_bucket"), F.col("salt")]
    # ALWAYS pass an explicit partition count: a column-only repartition is
    # an AQE rebalance hint, and AQE coalesces it by shuffle BYTES — for a
    # CPU-bound Python kernel stage over small-but-expensive rows that
    # collapsed the stage to 1-2 tasks regardless of cores (measured: flat
    # scaling local[8]→local[32]). Bytes are the wrong currency here.
    # One task per slot: every Python task pays a fixed ~0.3-0.4 s
    # (plans/session.py), so each extra wave adds that cost. Measured on 4
    # vCPUs at local[4], crawl-mix backfills: 8000 docs took 1.5-1.7 s of
    # kernel stage in 4 tasks, 1.6-1.9 s in 8 and 2.6-2.7 s in 16; 24000
    # docs 3.4-4.2 s in 4 tasks, 3.8-4.9 s in 8 and 5.2-5.9 s in 24. The
    # bucket count is no lower bound: the salt already gives B×S shuffle
    # keys, and the write exchange regroups rows by bucket after the kernel.
    n_kernel = cfg.kernel_partitions or spark.sparkContext.defaultParallelism
    shuffled = sel.repartition(n_kernel, *part_cols)

    rules_bc = spark.sparkContext.broadcast(rules_to_plain(rules or {}))
    kernel = run_dual_kernel if with_markdown else run_kernel
    extracted = with_url_bucket(kernel(shuffled, rules_bc), cfg.buckets)
    return Extraction(extracted, pages, n_kernel)


def commit_run(
    spark: SparkSession,
    fmt: ParquetBucketedFormat,
    cfg: TableRoot,
    operation: str,
    input_split: str,
    buckets: Optional[Sequence[int]] = None,
    skip: Sequence[int] = (),
    fs=LOCAL_FS,
) -> Tuple[list, Optional[dict]]:
    """Commit the ledger of a run whose data write has landed.

    ONE job over the committed table (only ``buckets`` of it when given)
    computes the per-bucket lineage rows (B rows — tiny, collected); the
    scan reads only the columns lineage_rows needs, under a declared
    schema, so no job infers the schema from the file footers. Rows of
    ``skip`` buckets, committed by an earlier attempt of the same run,
    are dropped. The rest are written from the driver through the ``fs``
    seam, with no Spark job: one lineage file, then one snapshot file
    named by the next seq (sources/snapshots.py). Both are created
    exclusively. A concurrent commit that took the same seq makes
    ``append_snapshot`` raise ``SeqConflictError``; this run's lineage
    file is then removed, so a retry (``--resume``) of the run redoes its
    buckets instead of skipping them.

    ``skip`` buckets that a snapshot of the run covers
    (``snapshots.run_buckets``, read on the driver) are pruned from the
    scan, so a resume reads only the buckets it commits. An earlier
    attempt that crashed between its lineage and snapshot files left
    ``skip`` buckets that no snapshot of the run covers. The snapshot
    committed here covers them too, with their rows from the same job
    over the committed table — one row per bucket, whatever number of
    crashed attempts wrote lineage for it — so a resume that skips every
    bucket still commits the run's snapshot. ``cfg`` supplies run_id and
    the table paths. Returns (lineage rows, snapshot); nothing is
    appended and the snapshot is None when no new or uncovered rows
    remain."""
    skipped = set(skip)
    covered = snapshots.run_buckets(cfg.snapshots_path, cfg.run_id, fs) if skipped else set()
    committed = fmt.read_extracted(spark, cfg.extracted_path, LINEAGE_INPUT_SCHEMA)
    done = skipped & covered
    if done:
        committed = committed.where(~F.col("url_bucket").isin(sorted(done)))
    lin = lineage_rows(committed, cfg.run_id, input_split, buckets=buckets).collect()
    rows = [r for r in lin if r["url_bucket"] not in skipped]
    orphans = [r for r in lin if r["url_bucket"] in skipped]
    if not rows and not orphans:
        return rows, None
    lin_file = fmt.append_lineage(rows, cfg.lineage_path, fs=fs)
    try:
        snap = snapshots.append_snapshot(
            spark, cfg.snapshots_path, cfg.run_id, operation,
            [r.asDict() for r in rows + orphans], fs=fs,
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
    fmt = ParquetBucketedFormat(cfg.max_records_per_file)
    pages = scan_input(spark, cfg.input_path, cfg.input_format, cfg.buckets)

    skipped: List[int] = []
    if cfg.resume:
        skipped = done_buckets(cfg.lineage_path, cfg.run_id, fs)
    if skipped:
        pages = pages.where(~F.col("url_bucket").isin(skipped))

    ext = extract_pages(spark, pages, cfg, rules, cfg.with_markdown)
    fmt.write_extracted(ext.extracted, cfg.extracted_path)
    phases.mark("kernel_and_write")

    # over the deduped pages (the rows the main kernel saw); the JVM
    # pre-filter keeps non-document bytes out of the Python stage
    if cfg.with_doc_assets:
        assets = run_doc_assets_kernel(ext.pages.select("url", "html"))
        fmt.write_extracted(with_url_bucket(assets, cfg.buckets), cfg.doc_assets_path)
        phases.mark("doc_assets")

    if cfg.with_doc_tables:
        tables = run_doc_tables_kernel(ext.pages.select("url", "html"))
        fmt.write_extracted(with_url_bucket(tables, cfg.buckets), cfg.doc_tables_path)
        phases.mark("doc_tables")

    operation = "resume-append" if cfg.resume else "overwrite"
    new_rows, snap = commit_run(
        spark, fmt, cfg, operation, cfg.input_path, skip=skipped, fs=fs
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
