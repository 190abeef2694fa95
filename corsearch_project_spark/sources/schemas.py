"""Fixed, declared schemas (never inferred — SURVEY.md §1.2: inference at
10^12 rows is a full scan). Column shapes per BASELINE.json:15 (pages) and
FIXTURES.md (extracted, lineage)."""

from __future__ import annotations

from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

SPAN_TYPE = T.StructType(
    [
        T.StructField("start", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
    ]
)

# Kernel output (pre-write). url_bucket is appended JVM-side (P1) and used as
# the partition column; bytes_in/extract_us feed the lineage rollup (S4).
EXTRACTED_KERNEL_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("doc_kind", T.StringType(), False),
        T.StructField("extracted_text", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_TYPE), False),
        T.StructField("text_sha256", T.StringType(), False),
        T.StructField("n_blocks", T.LongType(), False),
        T.StructField("n_chars", T.LongType(), False),
        T.StructField("bytes_in", T.LongType(), False),
        T.StructField("extract_us", T.LongType(), False),
    ]
)

EXTRACTED_SCHEMA = T.StructType(
    list(EXTRACTED_KERNEL_SCHEMA.fields)
    + [T.StructField("url_bucket", T.IntegerType(), False)]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("url_bucket", T.IntegerType(), False),
        T.StructField("input_split", T.StringType(), True),
        T.StructField("doc_count", T.LongType(), False),
        T.StructField("sha256_rollup", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("wall_ms", T.LongType(), False),
        T.StructField("bytes_in", T.LongType(), False),
    ]
)

PAGES_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


# Dual-emit kernel (opt-in --with-markdown): the plain schema plus the
# markdown serialization and its own digest. Written into the SAME bucketed
# table — Parquet is columnar, so text-only readers prune the md columns
# and pay nothing for their presence.
DUAL_KERNEL_SCHEMA = T.StructType(
    list(EXTRACTED_KERNEL_SCHEMA.fields)
    + [
        T.StructField("extracted_md", T.StringType(), False),
        T.StructField("md_sha256", T.StringType(), False),
    ]
)


# Document-assets kernel (opt-in --with-doc-assets): catalog-level
# metadata the extraction tier emits BESIDE body text — PDF /Info fields,
# link annotation URIs (the PDF analogue of <a href>, feeding the same
# host-graph/frontier relations), the flattened /Outlines bookmark tree,
# and DOCX Dublin-Core core properties (docProps/core.xml). Its own
# table, not extra kernel columns: only the document share of crawl rows
# (~15%) carries any of this, so a dedicated relation keyed by url stays
# dense while the main extracted table stays narrow. ``kind`` says which
# format arm produced the row (links/outline are empty for docx).
DOC_ASSETS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("author", T.StringType(), True),
        T.StructField("subject", T.StringType(), True),
        T.StructField("producer", T.StringType(), True),
        T.StructField("created", T.StringType(), True),
        T.StructField(
            "links",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("page", T.IntegerType(), False),
                        T.StructField("uri", T.StringType(), False),
                    ]
                )
            ),
            False,
        ),
        T.StructField(
            "outline",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("depth", T.IntegerType(), False),
                        T.StructField("title", T.StringType(), False),
                    ]
                )
            ),
            False,
        ),
    ]
)


# Document-tables kernel (opt-in --with-doc-tables, E24): one row per table
# row, cells '|'-joined in column order; page is 0 for DOCX.
DOC_TABLES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("kind", T.StringType(), True),
        T.StructField("page", T.IntegerType(), True),
        T.StructField("table_idx", T.IntegerType(), True),
        T.StructField("row_idx", T.IntegerType(), True),
        T.StructField("n_cols", T.IntegerType(), True),
        T.StructField("cells", T.StringType(), True),
    ]
)
