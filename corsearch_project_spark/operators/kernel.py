"""The extraction kernel (SURVEY.md §2.2 E17): ONE vectorized Arrow stage.

Every Python stage of the engine is a ``mapInArrow`` in its
iterator-of-batches form, so per-task setup (broadcast rule decode, module
import) happens once per task, then every batch crosses the JVM→Python
boundary as a single Arrow RecordBatch (BASELINE.json:15: "vectorized
pandas/Arrow UDFs with zero per-row Python" — zero per-row *boundary
crossings*; the per-document parse loop inside the batch is the
irreducible row-oriented part of extraction, SURVEY.md §1.2).
``arrow_kernel`` is that loop, written once: it hands each document to a
per-doc function returning the document's output rows, and derives the
batch's Arrow schema from the declared Spark schema (sources/schemas.py).
The per-doc functions:

* ``text_rows`` — the text arm;
* ``dual_rows`` — text plus markdown from one parse;
* ``asset_rows`` / ``table_rows`` — document catalogs over the rows that
  pass the JVM document pre-filter (``document_rows``).

The pipelines run the kernel inside the write stage
(``io.ParquetBucketedFormat.write_extracted`` with ``bucketed_kernel``'s
function): the kernel's output batches go straight into the bucket's
Parquet files and never cross back to the JVM. ``run_kernel``,
``run_dual_kernel``, ``run_doc_assets_kernel`` and
``run_doc_tables_kernel`` are the same kernels as DataFrames, for queries,
the streaming ingest and the benchmarks.

The per-url digest used by the byte-identity pytest gate is computed here in
Python (hashlib) AND re-derivable JVM-side via F.sha2 (E18) — the test suite
checks both agree.
"""

from __future__ import annotations

import time
from typing import Callable, List, Optional

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from corsearch_project_spark.sources.schemas import (
    DOC_ASSETS_SCHEMA,
    DOC_TABLES_SCHEMA,
    DUAL_KERNEL_SCHEMA,
    EXTRACTED_KERNEL_SCHEMA,
    EXTRACTED_SCHEMA,
)
from corsearch_project_spark.webextract.docxx import docx_assets_probe, docx_tables
from corsearch_project_spark.webextract.extract import (
    ExtractResult,
    _digest,
    extract_document,
    extract_document_both,
)
from corsearch_project_spark.webextract.pdfx import extract_pdf_assets, pdf_tables
from corsearch_project_spark.webextract.rules import Rule, rule_for_url, rules_from_plain
from corsearch_project_spark.webextract.sniff import sniff_kind

KERNEL_INPUT_COLS = ("url", "html", "text")

# (url, bytes, fallback text, rule) -> the document's output rows, as tuples
# in the output schema's field order
DocRows = Callable[[str, bytes, Optional[str], Rule], List[tuple]]

# JVM-side document pre-filter of the catalog kernels, on the binary column:
# ``%PDF-`` anywhere in the first 2 KiB (sniff_kind's head window — a 1 KiB
# window silently dropped PDFs behind leading whitespace/BOM padding) or the
# zip magic at offset 0 (OOXML packages). A deliberate superset of the sniff
# rules: the kernels re-sniff and DROP false positives (an HTML page quoting
# "%PDF-", a non-DOCX zip), so only the document share of bytes crosses the
# Arrow boundary and Parquet scans prune every other column.
_DOCUMENT_ROWS = (
    "contains(substring(html, 1, 2048), X'255044462D')"
    " OR startswith(html, X'504B0304')"
)


def arrow_kernel(doc_rows: DocRows, schema: StructType, rules_bc=None):
    """The one per-document loop, as a ``mapInArrow`` function.

    Input batches carry ``url`` and ``html`` (and ``text`` when present);
    each output batch holds the rows ``doc_rows`` returned for the input
    batch's documents — none, one or many per document. When ``schema``
    has a url_bucket field (``bucketed_kernel``), every output row carries
    its document's url_bucket from the input batch, so no bucket is
    re-derived downstream. rules_bc is a SparkContext.broadcast of the
    plain-dict rules config (E5), a plain dict (single-process mode) or
    None."""
    arrow_schema = to_arrow_schema(schema)
    carry = "url_bucket" in schema.fieldNames()

    def kernel(batches):
        plain = rules_bc.value if hasattr(rules_bc, "value") else (rules_bc or {})
        rules = rules_from_plain(plain)
        for rb in batches:
            urls = rb.column("url").to_pylist()
            datas = rb.column("html").to_pylist()
            texts = (
                rb.column("text").to_pylist()
                if "text" in rb.schema.names
                else [None] * rb.num_rows
            )
            buckets = rb.column("url_bucket").to_pylist() if carry else None
            cols: List[list] = [[] for _ in arrow_schema]
            for i, (url, data, fb) in enumerate(zip(urls, datas, texts)):
                for row in doc_rows(url, data or b"", fb, rule_for_url(url, rules)):
                    if carry:
                        row = (*row, buckets[i])
                    for col, value in zip(cols, row):
                        col.append(value)
            yield pa.RecordBatch.from_arrays(
                [pa.array(col, type=f.type) for col, f in zip(cols, arrow_schema)],
                schema=arrow_schema,
            )

    return kernel


def bucketed_kernel(doc_rows: DocRows, schema: StructType, rules_bc=None):
    """``arrow_kernel`` over bucketed pages, as the pipelines run it inside
    the write stage (``io.ParquetBucketedFormat.write_extracted``): its
    function and its output schema, ``schema`` plus the url_bucket
    carried from the input."""
    schema = StructType(schema.fields + [EXTRACTED_SCHEMA["url_bucket"]])
    return arrow_kernel(doc_rows, schema, rules_bc), schema


def _map_docs(pages: DataFrame, doc_rows: DocRows, schema: StructType, rules_bc=None):
    return pages.mapInArrow(arrow_kernel(doc_rows, schema, rules_bc), schema)


def _error_result(url: str, data: bytes) -> ExtractResult:
    """Poison-doc guard's row: the core is designed never to raise
    (fuzz-tested), but at 10^12 docs one pathological payload must not fail
    a multi-million-doc task and poison its bucket through every retry. A
    raising document degrades to a deterministic empty 'error' row (URL and
    bytes_in kept, digest of the empty string) so counts and lineage still
    reconcile."""
    return ExtractResult(
        url=url, doc_kind="error", text="", spans=[], text_sha256=_digest(""),
        n_blocks=0, n_chars=0, bytes_in=len(data),
    )


def _result_row(r: ExtractResult, t0: float) -> tuple:
    extract_us = int((time.perf_counter() - t0) * 1e6)
    spans = [{"start": int(s), "end": int(e), "kind": k} for (s, e, k) in r.spans]
    return (
        r.url, r.doc_kind, r.text, spans, r.text_sha256,
        r.n_blocks, r.n_chars, r.bytes_in, extract_us,
    )


def text_rows(url: str, data: bytes, fb: Optional[str], rule: Rule) -> List[tuple]:
    """Text arm: one EXTRACTED_KERNEL_SCHEMA row per document."""
    t0 = time.perf_counter()
    try:
        r = extract_document(url, data, fb, rule)
    except Exception:
        r = _error_result(url, data)
    return [_result_row(r, t0)]


def dual_rows(url: str, data: bytes, fb: Optional[str], rule: Rule) -> List[tuple]:
    """Fused dual emit: ONE tokenize+DOM per document feeds both the
    plain-text and markdown serializations (extract_document_both), so the
    markdown column costs one extra tree walk — not a second parse — on top
    of the text arm. A raising document degrades to the empty row in BOTH
    arms."""
    t0 = time.perf_counter()
    try:
        r, md, md_sha = extract_document_both(url, data, fb, rule)
    except Exception:
        r = _error_result(url, data)
        md, md_sha = r.text, r.text_sha256
    return [(*_result_row(r, t0), md, md_sha)]


def run_kernel(pages: DataFrame, rules_bc) -> DataFrame:
    """pages(url, html, text, ...) -> extracted columns (kernel schema).

    Selects only the three kernel input columns first so Parquet column
    pruning keeps warc_ts/lang out of the Arrow transfer."""
    inp = pages.select(*KERNEL_INPUT_COLS)
    return _map_docs(inp, text_rows, EXTRACTED_KERNEL_SCHEMA, rules_bc)


def run_dual_kernel(pages: DataFrame, rules_bc) -> DataFrame:
    """pages -> plain kernel schema + (extracted_md, md_sha256) in ONE
    mapInArrow stage; the --with-markdown kernel as a DataFrame."""
    inp = pages.select(*KERNEL_INPUT_COLS)
    return _map_docs(inp, dual_rows, DUAL_KERNEL_SCHEMA, rules_bc)


# ---------------------------------------------------------------------------
# Document catalogs (opt-in): PDF/DOCX assets and tables
# ---------------------------------------------------------------------------


def document_rows(pages: DataFrame, *carry: str) -> DataFrame:
    """The rows that pass the JVM document pre-filter: url and html, plus
    the ``carry`` columns."""
    return pages.select("url", "html", *carry).where(F.expr(_DOCUMENT_ROWS))


def asset_rows(url: str, data: bytes, fb, rule) -> List[tuple]:
    """PDF rows run ``pdfx.extract_pdf_assets`` (Info + links + outline);
    DOCX rows run ``docxx.docx_assets_probe`` (Dublin-Core core.xml;
    links/outline empty). Total over its input — parse failures and
    encrypted docs emit the deterministic empty shape, never raise."""
    kind = sniff_kind(data)
    if kind == "pdf":
        a = extract_pdf_assets(data)
    elif kind == "zip":
        # one zip open answers membership AND core props
        cp = docx_assets_probe(data)
        if cp is None:
            return []  # non-DOCX zip: pre-filter false positive
        kind = "docx"
        a = {**cp, "producer": None, "links": [], "outline": []}
    else:
        return []  # loose JVM pre-filter false positive
    return [(
        url, kind, a["title"], a["author"], a["subject"], a["producer"], a["created"],
        [{"page": int(p), "uri": u} for (p, u) in a["links"]],
        [{"depth": int(d), "title": t} for (d, t) in a["outline"]],
    )]


def run_doc_assets_kernel(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) -> DOC_ASSETS_SCHEMA rows for document rows
    (PDF + DOCX), so the assets table holds exactly the document rows."""
    return _map_docs(document_rows(pages), asset_rows, DOC_ASSETS_SCHEMA)


def table_rows(url: str, data: bytes, fb, rule) -> List[tuple]:
    # re-sniff before parsing (same discipline as the assets kernel): the
    # loose JVM pre-filter passes e.g. an HTML page QUOTING "%PDF-", and
    # running the full PdfDoc parse-and-fail on every such false positive
    # is wasted work at crawl scale — sniff_kind is a head check.
    kind = sniff_kind(data)
    if kind == "zip":
        kind, tables = "docx", docx_tables(data)
    elif kind == "pdf":
        tables = pdf_tables(data)
    else:
        return []
    return [
        (url, kind, tab["page"], t_i, r_i, tab["n_cols"], "|".join(row))
        for t_i, tab in enumerate(tables)
        for r_i, row in enumerate(tab["rows"])
    ]


def run_doc_tables_kernel(pages: DataFrame) -> DataFrame:
    """E24: document table recovery as one Arrow-batched Python stage —
    PDF rows via the ruling-free stream-mode detector
    (webextract/pdfx.py:pdf_tables), DOCX rows via exact <w:tbl> markup
    walking (webextract/docxx.py:docx_tables; page = 0, DOCX has no page
    concept).

    pages(url, html, ...) -> DOC_TABLES_SCHEMA with cells '|'-joined in
    column order — one output row per table row, already exploded
    kernel-side so no second shuffle or generator stage is needed. Both
    extractors re-validate and return [] on non-document bytes, unsupported
    encryption, or non-DOCX zips. Table-less documents emit nothing — at
    crawl mix the relation is far smaller than its input, which is why the
    explode happens inside the kernel instead of as an ARRAY column.

    Kind policy: a payload is what ``sniff_kind`` says it is — the ONE
    classification the whole engine shares (extraction kernel, assets
    kernel, doc-kind census). A %PDF- header behind non-whitespace junk
    bytes classifies as text/html and is skipped HERE TOO, even though
    the recovery-oriented PdfDoc scan could parse it: a table catalog
    must not disagree with the extracted table about what a url is
    (cross-kernel agreement pinned in tests/test_pdftables.py)."""
    return _map_docs(document_rows(pages), table_rows, DOC_TABLES_SCHEMA)
