"""Per-layer measurements taken outside the pipeline call.

``stage_metrics`` rebuilds the pipeline's plan one layer at a time over the
workload's input and times each layer's public function on a materialised
input, so each number covers that layer alone. ``webextract_metrics`` times
the extraction core on one core in the bench process.
"""

from __future__ import annotations

import math
import statistics
import time
from dataclasses import dataclass
from typing import Dict, List

from pyspark.sql import SparkSession, functions as F

from corsearch_project_spark.operators.kernel import run_kernel
from corsearch_project_spark.operators.partitioning import (
    hot_hosts,
    with_salt,
    with_url_bucket,
)
from corsearch_project_spark.plans.extract_pipeline import ExtractConfig, dedupe_latest
from corsearch_project_spark.sources.io import ParquetBucketedFormat, scan_pages
from corsearch_project_spark.sources.lineage import lineage_rows
from corsearch_project_spark.sources.schemas import LINEAGE_SCHEMA
from corsearch_project_spark.sources.snapshots import append_snapshot
from corsearch_project_spark.webextract.extract import extract_document
from corsearch_project_spark.webextract.htmlx import (
    build_dom,
    extract_html_from_dom,
    tokenize,
)
from corsearch_project_spark.webextract.pdfx import PdfDoc, extract_pdf
from corsearch_project_spark.webextract.rules import rule_for_url, rules_to_plain
from corsearch_project_spark.webextract.sniff import sniff_kind
from corsearch_project_spark.webextract.textnorm import decode_bytes


def percentile(values: List[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(1, math.ceil(q / 100 * len(s))) - 1]


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def stage_metrics(spark: SparkSession, cfg: ExtractConfig, rules) -> Dict[str, float]:
    """Time ``run_extract``'s stages one at a time, with its plan and
    ``cfg``'s settings. The plan is a copy of ``run_extract``'s as of this
    benchmark's commit; a change to that plan must be copied here."""
    buckets = cfg.buckets
    fmt = ParquetBucketedFormat(cfg.max_records_per_file)
    slots = spark.sparkContext.defaultParallelism
    m: Dict[str, float] = {}

    pages = with_url_bucket(scan_pages(spark, cfg.input_path), buckets)
    hot, m["partitioning.hot_hosts_s"] = _timed(hot_hosts, pages.select("url"), cfg.hot_frac)

    n_kernel = cfg.kernel_partitions or max(buckets, 2 * slots)
    deduped = dedupe_latest(pages.select("url", "warc_ts", "html", "text", "url_bucket"))
    shuffled = (
        with_salt(deduped, hot, cfg.salt)
        .select("url", "html", "text", "url_bucket", "salt")
        .repartition(n_kernel, "url_bucket", "salt")
        .persist()
    )
    _, m["extract_pipeline.dedupe_shuffle_s"] = _timed(shuffled.count)

    rules_bc = spark.sparkContext.broadcast(rules_to_plain(rules))
    noop = run_kernel(shuffled, rules_bc).write.format("noop").mode("overwrite")
    _, m["kernel.stage_s"] = _timed(noop.save)

    kout = run_kernel(shuffled, rules_bc).withColumn("_pid", F.spark_partition_id()).persist()
    per_part = [
        r["us"]
        for r in kout.groupBy("_pid").agg(F.sum("extract_us").alias("us")).collect()
    ]
    m["kernel.busy_frac"] = sum(per_part) / 1e6 / (m["kernel.stage_s"] * slots)
    m["kernel.partition_cost_skew"] = max(per_part) / statistics.median(per_part)
    m["kernel.error_docs"] = kout.where(F.col("doc_kind") == "error").count()

    written = (
        with_url_bucket(kout.drop("_pid"), buckets)
        .repartition(buckets, "url_bucket")
        .persist()
    )
    written.count()
    _, m["io.write_s"] = _timed(fmt.write_extracted, written, cfg.extracted_path)

    committed = fmt.read_extracted(spark, cfg.extracted_path)
    lin, m["lineage.rollup_s"] = _timed(
        lambda: lineage_rows(committed, cfg.run_id, cfg.input_path).collect()
    )

    def append() -> None:
        fmt.append_lineage(
            spark.createDataFrame(lin, LINEAGE_SCHEMA).coalesce(1),
            cfg.lineage_path,
        )
        append_snapshot(
            spark,
            cfg.snapshots_path,
            cfg.run_id,
            "overwrite",
            [r.asDict() for r in lin],
        )

    _, m["lineage.append_s"] = _timed(append)
    for df in (written, kout, shuffled):
        df.unpersist()
    rules_bc.destroy()
    return m


@dataclass
class WebextractSample:
    html_docs: int
    pdf_docs: int
    timings: Dict[str, float]


def webextract_metrics(docs: List[dict], rules) -> WebextractSample:
    """Single-core per-document timings over ``docs`` (url, html, text)."""
    t: Dict[str, List[float]] = {
        k: [] for k in ("html", "tokenize", "build_dom", "select", "pdf", "parse", "extract")
    }
    for d in docs:
        data = d["html"] or b""
        rule = rule_for_url(d["url"], rules)
        kind = sniff_kind(data)
        if kind == "html":
            _, dt = _timed(extract_document, d["url"], data, d["text"], rule)
            t["html"].append(dt)
            src = decode_bytes(data, rule.charset_override)
            toks, dt = _timed(tokenize, src)
            t["tokenize"].append(dt)
            dom, dt = _timed(build_dom, toks)
            t["build_dom"].append(dt)
            _, dt = _timed(extract_html_from_dom, dom, rule)
            t["select"].append(dt)
        elif kind == "pdf":
            _, dt = _timed(extract_document, d["url"], data, d["text"], rule)
            t["pdf"].append(dt)
            _, dt = _timed(PdfDoc, data)
            t["parse"].append(dt)
            _, dt = _timed(extract_pdf, data, rule)
            t["extract"].append(dt)
    us = {k: [v * 1e6 for v in vs] for k, vs in t.items()}
    return WebextractSample(
        len(us["html"]),
        len(us["pdf"]),
        {
            "webextract.html_us_p50": percentile(us["html"], 50),
            "webextract.html_us_p99": percentile(us["html"], 99),
            "webextract.pdf_us_p50": percentile(us["pdf"], 50),
            "webextract.pdf_us_p99": percentile(us["pdf"], 99),
            "htmlx.tokenize_us_p50": percentile(us["tokenize"], 50),
            "htmlx.build_dom_us_p50": percentile(us["build_dom"], 50),
            "htmlx.select_us_p50": percentile(us["select"], 50),
            "pdfx.parse_us_p50": percentile(us["parse"], 50),
            "pdfx.extract_us_p50": percentile(us["extract"], 50),
        },
    )
