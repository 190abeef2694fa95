"""UDF-surface and map-function queries (SURVEY §2.8 O10, §2.10 U1/U4/U5).

These exist to pin the Python-extension surfaces with oracle parity; the
engine's rule stands: Python UDFs are NOT used on any hot path (the bench's
throughput queries are all JVM-only) — these demonstrate that when Python
is needed, it enters as vectorized pandas/Arrow, never row-at-a-time.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from corsearch_project_spark.queries.base import query, t


@query(
    "q_map_fns",
    """
    SELECT o_orderkey,
           array_to_string(map_keys(MAP {'status': o_orderstatus, 'prio': o_orderpriority}), ',') AS keys_csv,
           element_at(MAP {'status': o_orderstatus, 'prio': o_orderpriority}, 'status')[1] AS status_val,
           array_to_string(map_values(MAP {'status': o_orderstatus, 'prio': o_orderpriority}), ',') AS vals_csv
    FROM orders
    """,
    doc="O10: map construction, map_keys/map_values, element_at lookup "
    "(both engines preserve literal key order).",
)
def q_map_fns(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    m = F.map_from_arrays(
        F.array(F.lit("status"), F.lit("prio")),
        F.array(F.col("o_orderstatus"), F.col("o_orderpriority")),
    )
    return o.select(
        "o_orderkey",
        F.concat_ws(",", F.map_keys(m)).alias("keys_csv"),
        F.element_at(m, F.lit("status")).alias("status_val"),
        F.concat_ws(",", F.map_values(m)).alias("vals_csv"),
    )


@query(
    "q_udf_scalar_pandas",
    """
    SELECT c_custkey, upper(c_mktsegment) || ':' || CAST(c_nationkey AS VARCHAR) AS seg_tag
    FROM customer
    """,
    doc="U1: scalar pandas UDF (Series→Series, Arrow-batched) — parity with "
    "the pure-SQL expression proves the vectorized path is lossless.",
)
def q_udf_scalar_pandas(spark, sf_dir):
    @pandas_udf("string")
    def seg_tag(seg: pd.Series, nat: pd.Series) -> pd.Series:
        return seg.str.upper() + ":" + nat.astype("string")

    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey", seg_tag(F.col("c_mktsegment"), F.col("c_nationkey")).alias("seg_tag")
    )


@query(
    "q_udaf_grouped_pandas",
    """
    SELECT event_type,
           CAST(SUM(CAST(round(value * 100.0, 0) AS BIGINT)) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS qmean
    FROM events GROUP BY event_type
    """,
    doc="U4/A8: grouped-aggregate pandas UDAF — exact int64 sum inside "
    "pandas, one double division, bit-equal to the SQL twin.",
)
def q_udaf_grouped_pandas(spark, sf_dir):
    @pandas_udf("double")
    def qmean(v: pd.Series) -> float:
        return float(v.sum()) / float(len(v))

    e = t(spark, sf_dir, "events")
    q = F.round(F.col("value") * 100.0, 0).cast("long")
    return e.select("event_type", q.alias("qv")).groupBy("event_type").agg(
        qmean(F.col("qv")).alias("qmean")
    )


@query(
    "q_udtf_explode",
    """
    SELECT r.r_name, g.i
    FROM region r CROSS JOIN (SELECT CAST(unnest(generate_series(1, 3)) AS INTEGER) AS i) g
    """,
    doc="U5: Python UDTF (table function) emitting N rows per input row, "
    "matched against a generate_series cross join.",
)
def q_udtf_explode(spark, sf_dir):
    from pyspark.sql.functions import lit, udtf

    # useArrow: Spark 4 Arrow-optimized UDTF evaluation
    # (ArrowEvalPythonUDTF) — without it the UDTF plans as BatchEvalPython,
    # the row-at-a-time path the engine bans (found by jobs/audit_plans.py)
    @udtf(returnType="r_name string, i int", useArrow=True)
    class RepeatRegion:
        def eval(self, r_name: str, n: int):
            for i in range(1, n + 1):
                yield (r_name, i)

    spark.udtf.register("repeat_region", RepeatRegion)
    t(spark, sf_dir, "region").createOrReplaceTempView("region_v")
    return spark.sql(
        "SELECT t.r_name, t.i FROM region_v r, "
        "LATERAL repeat_region(r.r_name, 3) t"
    )


@query(
    "q_udf_grouped_map",
    """
    SELECT c_custkey, c_mktsegment,
           CASE WHEN max(c_acctbal) OVER w = min(c_acctbal) OVER w THEN 0.5
                ELSE (c_acctbal - min(c_acctbal) OVER w)
                     / (max(c_acctbal) OVER w - min(c_acctbal) OVER w)
           END AS scaled
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment)
    """,
    doc="U3: grouped-map applyInPandas — per-group min-max scaling done in "
    "pandas per segment group. min/max/sub/div are single IEEE ops in a "
    "fixed order, so the doubles are bit-identical to the window-SQL twin. "
    "(The pipeline's lineage rollup deliberately does NOT use this surface "
    "anymore — it is pure-JVM bit_xor; this query pins the API.)",
)
def q_udf_grouped_map(spark, sf_dir):
    def scale(pdf: pd.DataFrame) -> pd.DataFrame:
        lo = pdf["c_acctbal"].min()
        hi = pdf["c_acctbal"].max()
        if hi == lo:
            scaled = pd.Series(0.5, index=pdf.index)
        else:
            scaled = (pdf["c_acctbal"] - lo) / (hi - lo)
        return pd.DataFrame(
            {
                "c_custkey": pdf["c_custkey"],
                "c_mktsegment": pdf["c_mktsegment"],
                "scaled": scaled,
            }
        )

    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    return c.groupBy("c_mktsegment").applyInPandas(
        scale, "c_custkey long, c_mktsegment string, scaled double"
    )


def _multimodal_expected_values(n: int = 60, seed: int = 99) -> str:
    """Pure-Python replay of gen_media_fixture's image rows + the stub
    header decode — an independent recomputation (no Spark, no Arrow) that
    becomes a VALUES-literal oracle. Must draw from random.Random in the
    exact order the fixture generator does."""
    import random

    rows = []
    for i in range(n):
        rng = random.Random(seed ^ i)
        kind = rng.choice(["image", "image", "audio", "video"])
        if kind != "image":
            continue
        w = rng.randint(16, 512)
        h = rng.randint(16, 512)
        c = rng.choice([1, 3, 4])
        rows.append(f"({i}, {w}, {h}, {c}, TRUE, 'stub')")
    head = (
        "SELECT CAST(media_id AS BIGINT) AS media_id, "
        "CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height, "
        "CAST(channels AS INTEGER) AS channels, decode_ok, decoder FROM "
    )
    return (
        head
        + "(VALUES "
        + ", ".join(rows)
        + ") AS t(media_id, width, height, channels, decode_ok, decoder)"
    )


@query(
    "q_multimodal_meta",
    _multimodal_expected_values(),
    doc="Multimodal columns: opaque binary payloads + typed metadata, decoded "
    "by an Arrow-batched mapInPandas stage with the decoder seam pinned to "
    "'stub' (operators/multimodal.py) so the output is deterministic and "
    "codec-independent; the oracle is a pure-Python replay of the seeded "
    "fixture + stub header decode as a VALUES literal. Input is the "
    "deterministic seeded media fixture (no external data).",
)
def q_multimodal_meta(spark, sf_dir):
    from corsearch_project_spark.operators.multimodal import (
        decode_image_meta,
        gen_media_fixture,
    )

    media = gen_media_fixture(spark, n=60, seed=99)
    return decode_image_meta(media.where(F.col("kind") == "image"), decoder="stub")


def _multimodal_png_expected_values(n: int = 40, seed: int = 71) -> str:
    """Replay of gen_png_fixture's seeded dimensions (png_fixture_dims) —
    but the SPARK side earns them by actually parsing the PNG IHDR of a
    real encoded payload, so the parity is codec-vs-replay, not
    replay-vs-replay."""
    from corsearch_project_spark.operators.multimodal import png_fixture_dims

    rows = []
    for i in range(n):
        w, h, c = png_fixture_dims(i, seed)
        rows.append(f"({i}, {w}, {h}, {c}, TRUE, 'png')")
    head = (
        "SELECT CAST(media_id AS BIGINT) AS media_id, "
        "CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height, "
        "CAST(channels AS INTEGER) AS channels, decode_ok, decoder FROM "
    )
    return (
        head
        + "(VALUES "
        + ", ".join(rows)
        + ") AS t(media_id, width, height, channels, decode_ok, decoder)"
    )


@query(
    "q_multimodal_png",
    _multimodal_png_expected_values(),
    doc="Multimodal REAL-codec arm (round-4): every payload is a genuine "
    "PNG file; the mapInPandas stage decodes its IHDR with the pure-stdlib "
    "codec (webextract/pngx.py, decoder='png') — zlib/struct only, so the "
    "real-codec path executes in this codec-less sandbox. Oracle replays "
    "the seeded fixture dimensions as a VALUES literal; the Spark side "
    "earns them by parsing actual PNG bytes (CRC-verified).",
)
def q_multimodal_png(spark, sf_dir):
    from corsearch_project_spark.operators.multimodal import (
        decode_image_meta,
        gen_png_fixture,
    )

    media = gen_png_fixture(spark, n=40, seed=71)
    return decode_image_meta(media, decoder="png")


def _multimodal_wav_expected_values(n: int = 30, seed: int = 83) -> str:
    from corsearch_project_spark.operators.multimodal import wav_fixture_params

    rows = []
    for i in range(n):
        rate, ch, nf = wav_fixture_params(i, seed)
        rows.append(f"({i}, {rate}, {ch}, 2, {nf}, TRUE, 'wav')")
    head = (
        "SELECT CAST(media_id AS BIGINT) AS media_id, "
        "CAST(sample_rate AS INTEGER) AS sample_rate, "
        "CAST(channels AS INTEGER) AS channels, "
        "CAST(sample_width AS INTEGER) AS sample_width, "
        "CAST(n_frames AS BIGINT) AS n_frames, decode_ok, decoder FROM "
    )
    return (
        head
        + "(VALUES "
        + ", ".join(rows)
        + ") AS t(media_id, sample_rate, channels, sample_width, n_frames,"
        " decode_ok, decoder)"
    )


@query(
    "q_multimodal_wav",
    _multimodal_wav_expected_values(),
    doc="Multimodal audio REAL-codec arm (round-4): every payload is a "
    "genuine RIFF/PCM-16 WAV; the mapInPandas stage parses it with stdlib "
    "`wave` (decoder='wav', operators/multimodal.py) — like the PNG arm, "
    "the real-codec path executes in this codec-less sandbox. Oracle "
    "replays the seeded fixture params as a VALUES literal; the Spark side "
    "earns them by parsing actual WAV containers.",
)
def q_multimodal_wav(spark, sf_dir):
    from corsearch_project_spark.operators.multimodal import (
        decode_audio_meta,
        gen_wav_fixture,
    )

    media = gen_wav_fixture(spark, n=30, seed=83)
    return decode_audio_meta(media, decoder="wav")


def _manifest_lookup_expected_values() -> str:
    probes = (5, 23, 44)
    rows = [f"('https://t{i:03d}.example.com/p', {100 + i})" for i in probes]
    return (
        "SELECT url, CAST(n_chars AS BIGINT) AS n_chars FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(url, n_chars)"
    )


@query(
    "q_manifest_lookup",
    _manifest_lookup_expected_values(),
    doc="S15 data-skipping manifest as a driver-gated query (round-4): a "
    "deterministic 60-row bucketed table is written through the S3 sink "
    "(url-sorted files), a per-file min/max-url manifest is built with one "
    "partial aggregation, and a 3-url point lookup scans ONLY covering "
    "files (sources/manifest.py). The result must equal the VALUES replay "
    "— i.e. data skipping returns exactly the full-scan answer.",
)
def q_manifest_lookup(spark, sf_dir):
    import os
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from corsearch_project_spark.sources.io import ParquetBucketedFormat
    from corsearch_project_spark.sources.manifest import (
        build_file_manifest,
        lookup_urls,
        write_manifest,
    )
    from corsearch_project_spark.sources.schemas import EXTRACTED_SCHEMA

    root = os.path.join(tempfile.gettempdir(), "csp_q_manifest")
    shutil.rmtree(root, ignore_errors=True)
    ext = os.path.join(root, "extracted")
    rows = [
        (
            f"https://t{i:03d}.example.com/p",  # url
            "html",                             # doc_kind
            "x" * (100 + i),                    # extracted_text
            [],                                 # spans
            "",                                 # text_sha256
            1,                                  # n_blocks
            100 + i,                            # n_chars
            100 + i,                            # bytes_in
            1,                                  # extract_us
            i % 8,                              # url_bucket
        )
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, EXTRACTED_SCHEMA)
    ParquetBucketedFormat(max_records_per_file=4).write_extracted(df, ext)
    man = os.path.join(root, "manifest")
    write_manifest(build_file_manifest(spark, ext), man)
    probes = [f"https://t{i:03d}.example.com/p" for i in (5, 23, 44)]
    return lookup_urls(spark, ext, man, probes).select("url", "n_chars")


def _schema_evo_expected_values() -> str:
    rows = [
        f"('https://old.example.com/{i}', CAST(NULL AS VARCHAR), {len(f'<p>old {i}</p>')})"
        for i in range(5)
    ] + [
        f"('https://new.example.com/{i}', 'en', {len(f'<p>new {i}</p>')})"
        for i in range(3)
    ]
    return (
        "SELECT url, lang, CAST(html_len AS INTEGER) AS html_len FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(url, lang, html_len)"
    )


@query(
    "q_schema_evolution",
    _schema_evo_expected_values(),
    doc="S16 schema evolution (round-4): a table whose data files span two "
    "layouts — v1 has a 'body' column and no 'lang'; v2 is the current "
    "pages schema — read through io.read_evolved with the rename lineage "
    "{html: [body]}. Old rows resolve html via coalesce-over-lineage and "
    "surface lang as a typed NULL (Iceberg ADD/RENAME semantics); the "
    "projection stays pure JVM so parquet pushdown survives. Input is a "
    "deterministic two-layout table written to a temp dir (no external "
    "data); oracle is the VALUES-literal replay.",
)
def q_schema_evolution(spark, sf_dir):
    import datetime as dt
    import os
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from corsearch_project_spark.sources.io import read_evolved
    from corsearch_project_spark.sources.schemas import PAGES_SCHEMA

    v1 = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("body", T.BinaryType()),
            T.StructField("text", T.StringType()),
        ]
    )
    root = os.path.join(tempfile.gettempdir(), "csp_q_schema_evo")
    shutil.rmtree(root, ignore_errors=True)
    ts = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(f"https://old.example.com/{i}", ts, f"<p>old {i}</p>".encode(), "t")
         for i in range(5)],
        v1,
    ).coalesce(1).write.mode("append").parquet(root)
    spark.createDataFrame(
        [(f"https://new.example.com/{i}", ts, f"<p>new {i}</p>".encode(), "t", "en")
         for i in range(3)],
        PAGES_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(root)
    return read_evolved(spark, root, PAGES_SCHEMA, {"html": ["body"]}).select(
        "url", "lang", F.length(F.col("html")).alias("html_len")
    )


def _multimodal_mp4_expected_values(n: int = 30, seed: int = 67) -> str:
    from corsearch_project_spark.operators.multimodal import mp4_fixture_params

    rows = []
    for i in range(n):
        ts, dur, w, h, ha = mp4_fixture_params(i, seed)
        dur_ms = (dur * 1000) // ts
        rows.append(
            f"({i}, 'isom', {dur_ms}, {2 if ha else 1}, {w}, {h},"
            f" {'TRUE' if ha else 'FALSE'}, TRUE, 'mp4')"
        )
    head = (
        "SELECT CAST(media_id AS BIGINT) AS media_id, major_brand, "
        "CAST(duration_ms AS BIGINT) AS duration_ms, "
        "CAST(n_tracks AS INTEGER) AS n_tracks, "
        "CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height, "
        "has_audio, decode_ok, decoder FROM "
    )
    return (
        head
        + "(VALUES "
        + ", ".join(rows)
        + ") AS t(media_id, major_brand, duration_ms, n_tracks, width,"
        " height, has_audio, decode_ok, decoder)"
    )


@query(
    "q_multimodal_mp4",
    _multimodal_mp4_expected_values(),
    doc="Multimodal video REAL-container arm (round-4): every payload is "
    "a genuine ISO-BMFF box tree (ftyp + moov/mvhd/trak/tkhd/hdlr); the "
    "mapInPandas stage parses it with the stdlib box walker "
    "(webextract/mp4x.py, decoder='mp4') — brand, duration, track "
    "layout, frame size, all a crawl-scale media-metadata pass needs; "
    "SAMPLE decode stays behind the ffmpeg seam. Oracle replays the "
    "seeded fixture params as a VALUES literal; the Spark side earns "
    "them by walking actual MP4 boxes. n_tracks counts trak boxes "
    "(video + optional audio).",
)
def q_multimodal_mp4(spark, sf_dir):
    from corsearch_project_spark.operators.multimodal import (
        decode_video_meta,
        gen_mp4_fixture,
    )

    media = gen_mp4_fixture(spark, n=30, seed=67)
    return decode_video_meta(media, decoder="mp4")


def _image_neardup_expected_values(n_clusters: int = 12) -> str:
    from corsearch_project_spark.operators.multimodal import (
        png_neardup_expected_pairs,
    )

    rows = ", ".join(
        f"({a}, {b}, {h})" for a, b, h in png_neardup_expected_pairs(n_clusters)
    )
    return (
        "SELECT CAST(media_a AS BIGINT) AS media_a, "
        "CAST(media_b AS BIGINT) AS media_b, "
        "CAST(hamming AS INTEGER) AS hamming FROM "
        f"(VALUES {rows}) AS t(media_a, media_b, hamming)"
    )


@query(
    "q_image_neardup",
    _image_neardup_expected_values(),
    doc="Image near-dup via 64-bit dHash (Krawetz) over REAL 9x8 "
    "grayscale PNGs decoded by the stdlib codec, paired with the "
    "SimHash pigeonhole chunk-banding join (operators/dedup.py "
    "simhash_pairs, bits=64, max_hamming=3) — image dedup rides the "
    "exact linear-shuffle plan shape proven for text. The fixture's "
    "cluster patterns make the full pair relation computable from the "
    "CONSTRUCTION (staircase luma rows realize chosen gradient bits; "
    "re-encode -> distance 0, two flipped cells -> distance exactly 2, "
    "cross-cluster >= 21 bits); the oracle replays that as VALUES while "
    "Spark earns it by decoding PNG bytes "
    "(operators/multimodal.py image_dhash).",
)
def q_image_neardup(spark, sf_dir):
    from corsearch_project_spark.operators.dedup import simhash_pairs
    from corsearch_project_spark.operators.multimodal import (
        gen_png_neardup_fixture,
        image_dhash,
    )

    hashes = image_dhash(
        gen_png_neardup_fixture(spark), decoder="png"
    ).select(
        F.col("media_id").alias("doc_id"), F.col("dhash").alias("simhash")
    )
    return simhash_pairs(hashes, max_hamming=3, bits=64).select(
        F.col("doc_a").alias("media_a"),
        F.col("doc_b").alias("media_b"),
        F.col("hamming").cast("int").alias("hamming"),
    )


# E24: PDF table extraction — the fixture PDFs cycle through every reader
# arm (classic/objstm layouts, simple/composite/diffs fonts, RC4/AES-256
# encryption, Form-XObject indirection) so the driver row certifies table
# recovery through the full lexer/decrypt/interpret/layout stack, not one
# happy path.
_PDF_TABLE_ARMS = (
    {},
    {"force_layout": "objstm"},
    {"force_font": "type0"},
    {"force_encrypt": "rc4"},
    {"force_encrypt": "aes256"},
    {"force_form": True},
    {"force_font": "diffs"},
    {"force_layout": "objstm", "force_font": "tounicode"},
)


def _pdf_tables_expected_values(n: int = 8, seed0: int = 1000) -> str:
    """Pure-Python replay of the table fixture's GENERATOR ground truth
    (the grid make_pdf drew, not a parse) as a VALUES literal; the Spark
    side earns the same rows by running the stream-mode detector
    (pdfx.pdf_tables) over the real PDF bytes."""
    import random

    from corsearch_project_spark.fixtures.gen_pages import make_pdf

    rows = []
    for i in range(n):
        gt: list = []
        make_pdf(
            random.Random(seed0 + i),
            force_table=True,
            _tables_out=gt,
            **_PDF_TABLE_ARMS[i % len(_PDF_TABLE_ARMS)],
        )
        for t_i, tab in enumerate(gt):
            for r_i, row in enumerate(tab["rows"]):
                cells = "|".join(row).replace("'", "''")
                rows.append(
                    f"({i}, {tab['page']}, {t_i}, {r_i}, {tab['n_cols']},"
                    f" '{cells}')"
                )
    head = (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id,"
        " CAST(page AS INTEGER) AS page,"
        " CAST(table_idx AS INTEGER) AS table_idx,"
        " CAST(row_idx AS INTEGER) AS row_idx,"
        " CAST(n_cols AS INTEGER) AS n_cols, cells FROM "
    )
    return (
        head
        + "(VALUES "
        + ", ".join(rows)
        + ") AS t(doc_id, page, table_idx, row_idx, n_cols, cells)"
    )


@query(
    "q_pdf_tables",
    _pdf_tables_expected_values(),
    doc="E24 ruling-free PDF table recovery (Tabula/Camelot stream-mode "
    "heuristic: >=3 consecutive lines of short fragments left-aligned into "
    ">=3 uniform-pitch columns) as one Arrow-batched kernel stage with a "
    "JVM document pre-filter (operators/kernel.py:run_doc_tables_kernel, "
    "webextract/pdfx.py:pdf_tables). Fixture PDFs cycle through layout/"
    "font/encryption/form arms; oracle replays the generator's grid as a "
    "VALUES literal while Spark re-derives it from the raw bytes.",
)
def q_pdf_tables(spark, sf_dir):
    import random

    from corsearch_project_spark.fixtures.gen_pages import make_pdf
    from corsearch_project_spark.operators.kernel import run_doc_tables_kernel

    rows = [
        (
            f"pdf://{i}",
            bytearray(
                make_pdf(
                    random.Random(1000 + i),
                    force_table=True,
                    **_PDF_TABLE_ARMS[i % len(_PDF_TABLE_ARMS)],
                )
            ),
        )
        for i in range(8)
    ]
    docs = spark.createDataFrame(rows, "url string, html binary")
    return run_doc_tables_kernel(docs).select(
        F.expr("CAST(substring(url, 7) AS BIGINT)").alias("doc_id"),
        "page",
        "table_idx",
        "row_idx",
        "n_cols",
        "cells",
    )


def _docx_tables_expected_values(n: int = 10, seed0: int = 500) -> str:
    """Generator-truth replay for the DOCX arm (make_docx's 2x2 grid)."""
    import random

    from corsearch_project_spark.fixtures.gen_pages import make_docx

    rows = []
    for i in range(n):
        gt: list = []
        make_docx(random.Random(seed0 + i), force_table=True, _tables_out=gt)
        for tab in gt:
            for r_i, row in enumerate(tab["rows"]):
                cells = "|".join(row).replace("'", "''")
                rows.append(f"({i}, {r_i}, {tab['n_cols']}, '{cells}')")
    head = (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id,"
        " CAST(row_idx AS INTEGER) AS row_idx,"
        " CAST(n_cols AS INTEGER) AS n_cols, cells FROM "
    )
    return (
        head
        + "(VALUES "
        + ", ".join(rows)
        + ") AS t(doc_id, row_idx, n_cols, cells)"
    )


@query(
    "q_docx_tables",
    _docx_tables_expected_values(),
    doc="E24 DOCX arm: tables are explicit WordprocessingML markup "
    "(<w:tbl>/<w:tr>/<w:tc>), recovered by exact markup walking with run "
    "unescaping (webextract/docxx.py:docx_tables) through the same "
    "document-tables Arrow kernel as the PDF stream-mode detector. Oracle "
    "replays the generator's grid; Spark re-derives it from real OOXML "
    "zip bytes.",
)
def q_docx_tables(spark, sf_dir):
    import random

    from corsearch_project_spark.fixtures.gen_pages import make_docx
    from corsearch_project_spark.operators.kernel import run_doc_tables_kernel

    rows = [
        (
            f"dcx://{i}",
            bytearray(make_docx(random.Random(500 + i), force_table=True)),
        )
        for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "url string, html binary")
    return run_doc_tables_kernel(docs).select(
        F.expr("CAST(substring(url, 7) AS BIGINT)").alias("doc_id"),
        "row_idx",
        "n_cols",
        "cells",
    )
