#!/usr/bin/env python3
"""Bench harness (driver contract): run the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` plus the extraction-kernel throughput bench on
a seeded synthetic pages corpus, and print ONE JSON line:

  {"metric": "total_query_wall_sec", "value": N, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ...,
   "extract": {"docs": n, "sec": s, "docs_per_sec": r}}

Scaling-evidence mode (the north rule's two-cluster-size criterion, measured
as two parallelism levels on one host per the task brief) lives in
``jobs/bench_scaling.py``; its results are written to BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import pandas as pd  # module-level: pandas_udf type hints resolve against module globals

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline queries: one per operator family, all runnable at sf0.1 in
# seconds. (q_dedup_jaccard is excluded: its exact self-join is the
# quadratic baseline the LSH variants exist to replace.)
BENCH_QUERIES = [
    "q_pricing_summary",
    "q_shipping_priority",
    "q_local_supplier_volume",
    "q_join_broadcast",
    "q_join_smj",
    "q_join_asof",
    "q_join_interval",
    "q_agg_distinct",
    "q_agg_rollup",
    "q_agg_cube",
    "q_dedupe_latest_agg",
    "q_window_rownum",
    "q_window_frame",
    "q_window_tumbling",
    "q_session_window",
    "q_json_fns",
    "q_dedup_exact",
    "q_dedup_minhash_lsh",
    "q_dedup_components",  # most iteration-heavy operator: keep it visible
    "q_dedup_simhash",
    "q_dedup_embed_lsh",
    "q_sim_topk",
    "q_sim_lsh_ann",
    "q_sim_lsh_multiprobe",
    "q_sim_ivf_ann",
    "q_text_quality",
    "q_text_langid",
    "q_text_repetition",
    "q_url_canonical",
    "q_ngram_topk",
    "q_boilerplate_lines",  # round 4: CCNet-style line dedup
    "q_pii_scrub",  # round 4: codegen regex redaction
    "q_decontaminate",  # round 4: broadcast eval-shingle join
    "q_link_hostgraph",  # round 4: host link-graph degrees
    "q_dedup_canonical",  # round 4: per-cluster keep/drop argmax
    "q_link_pagerank",  # round 4: integer PageRank, 4 rounds
    "q_quality_classifier",  # round 4: hashed linear model scoring
    "q_dedup_substring",  # round 4: Lee-et-al exact-substring dedup
    "q_crawl_frontier",  # round 4: sitemap frontier anti-join
    "q_robots_politeness",  # round 4: RFC 9309 longest-match fold
    "q_page_metadata",  # round 4: scan-fused head-field projection
    "q_canonical_groups",  # round 4: rel=canonical consolidation
    "q_search_conjunctive",  # round 4: inverted-index AND search
    "q_fetch_plan",  # round 4: frontier x Crawl-delay scheduling
    "q_anchor_text",  # round 4: per-target-host top-k link texts
    "q_lang_mismatch",  # round 4: declared-vs-detected lang audit
    "q_hreflang_reciprocity",  # round 4: reversed-pair semi-join audit
    "q_template_census",  # round 4: tag-sequence fingerprint rollup
    "q_search_snippets",  # round 4: broadcast top-k snippet join
    "q_link_hits",  # round 4: integer hubs/authorities, 3 rounds
    "q_resolve_redirects",  # round 4: pointer-doubling chains
    "q_url_surt",  # round 4: SURT/CDX capture-index key
    "q_recrawl_schedule",  # round 4: change-rate revisit tiers
    "q_domain_quality",  # round 4: registrable-domain (PSL) rollup
    "q_mixture_sample",  # round 4: deterministic mixture sampling
    "q_domain_cap",  # round 4: per-domain cap window
    "q_meta_robots",  # round 4: page-level robots census
    "q_snapshot_diff",  # round 4: full-outer crawl delta
    "q_token_rarity",  # round 4: doc-corpus df join quality
    "q_crawl_traps",  # round 4: url-template trap census
    "q_jsonld_types",  # round 4: JSON-LD entity census per host
    "q_nofollow_edges",  # round 4: rel=nofollow-gated host edges
    "q_html_tables",  # round 4: in-projection table stats fold
    "q_mojibake",  # round 4: double-encoding QA census
    "q_soft404",  # round 4: error-shell phrase+length audit
    "q_image_assets",  # round 4: srcset-aware asset footprint
    "q_publish_dates",  # round 4: freshness source-priority census
    "q_pagination_chains",  # round 4: distance-carrying pointer doubling
    "q_mirror_hosts",  # round 4: capped digest self-join mirror census
    "q_link_spam",  # round 4: nepotistic-link features + reciprocity
    "q_blocklist",  # round 4: alternation-regex badwords + host suffix
    "q_image_neardup",  # round 4: PNG dHash through the simhash banding
    "q_script_census",  # round 4: nine-range Unicode script profile
    "q_search_bm25",  # round 4: exact-integer BM25 disjunctive top-k
    "q_search_phrase",  # round 4: positional anchor-group phrase search
    "q_search_proximity",  # round 4: adjacent-pair min-distance window
    "q_more_like_this",  # round 4: broadcast query-vector TF-IDF join
    "q_bpe_merges",  # round 4: 6-round BPE merge training, 1-row argmax/round
    "q_bpe_census",  # round 4: post-merge subword token census top-k
    "q_bpe_fertility",  # round 4: per-lang tokens-per-word dict join
    "q_cms_heavy_hitters",  # round 4: count-min cells + min-estimate probe
    "q_bloom_membership",  # round 4: bloom build + broadcast probe census
    "q_kmeans_cells",  # round 4: 3-round integer Lloyd over embeddings
    "q_semdedup",  # round 4: within-cell cosine dedup census
    "q_passage_chunks",  # round 4: shuffle-free sliding RAG windows
    "q_token_drift",  # round 4: integer-exact chi-square snapshot drift
    "q_length_hist",  # round 4: mergeable equi-width histogram sketch
    "q_zorder_key",  # round 4: Morton key projection for 2-D data skipping
    "q_feed_discovery",  # round 4: advertised-feed head-tag census
    "q_feed_entries",  # round 4: RSS/Atom block parse, one projection
    "q_filter_cascade",  # round 4: rule-cascade verdict, pure projection
    "q_lm_perplexity",  # round 4: bigram-LM NLL scoring + terciles
    "q_bitext_mine",  # round 4: margin-based mutual-NN pair mining
    "q_bitext_mine_lsh",  # round 5: the banded-LSH scale arm (2.3x the
    # control arm at sf0.1 — the candidate join beats the broadcast cross)
    "q_dsir_weights",  # round 4: hashed-ngram importance-ratio selection
    "q_cdc_chunks",  # round 4: content-defined chunk dedup census
    "q_hll_distinct",  # round 4: HLL register sketch vs exact distinct
    "q_winnow_spans",  # round 4: MOSS winnowing fingerprint census
    "q_readability",  # round 4 cont.: Flesch/FK codegen projection
    "q_pdf_tables",  # round 4 cont.: stream-mode table recovery kernel
    "q_embed_pca",  # round 4 cont.: one-pass PCA sufficient statistics
    "q_char_entropy",  # round 4 cont.: micro-nat character entropy
    "q_change_rate",  # round 4 cont.: CDC-chunk snapshot change grading
    "q_host_scorecard",  # round 4 cont.: multi-signal host reputation join
    "q_html_outline",  # round 4 cont.: section-skeleton pull, one projection
]

EXTRACT_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "20000"))


def _time_query(spark, fn, sf_dir: str) -> float:
    t0 = time.perf_counter()
    # count() forces full execution of every operator without collecting
    # result payloads to the driver.
    fn(spark, sf_dir).count()
    dt = time.perf_counter() - t0
    # Isolate queries from each other: operators that persist() internal
    # relations (LSH signature tables) must not leave cached partitions
    # competing for executor memory in later queries' measurements.
    spark.catalog.clearCache()
    return dt


def _time_queries(spark, registry, sf_dir: str, reps: int = 3) -> dict:
    """Median-of-``reps`` INTERLEAVED executions per query.

    One pass per rep over the whole list (q1..qN, q1..qN, ...), not
    back-to-back reps of each query: on this burstable-vCPU host a single
    multi-second stall inflates whatever happens to be running, and
    back-to-back reps would put all three samples of one query inside the
    stall window. Interleaving spreads each query's samples ~a full pass
    apart so the median rejects the stall (round-3 verdict: two consecutive
    queries were flagged as 2.47x regressions by a single-execution bench;
    both re-measured at normal times). Same pattern as
    jobs/bench_scaling.py's median-of-reps legs.
    """
    samples = {name: [] for name in BENCH_QUERIES}
    for _ in range(reps):
        for name in BENCH_QUERIES:
            samples[name].append(_time_query(spark, registry[name].fn, sf_dir))
    return {
        name: round(sorted(s)[len(s) // 2], 3) for name, s in samples.items()
    }


def _extract_bench(spark, n_docs: int, workdir: str) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from corsearch_project_spark.fixtures.gen_pages import gen_pages, pages_to_pandas
    from corsearch_project_spark.plans.extract_pipeline import (
        ExtractConfig,
        extract_pages,
        run_extract,
        scan_input,
    )
    from corsearch_project_spark.sources.io import scan_pages

    src = os.path.join(workdir, "pages.parquet")
    pq.write_table(
        pa.Table.from_pandas(pages_to_pandas(gen_pages(n_docs, seed=1234))),
        src,
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    out = os.path.join(workdir, "out")
    t0 = time.perf_counter()
    run_extract(
        spark,
        ExtractConfig(input_path=src, output_path=out, run_id="bench", buckets=32),
    )
    dt = time.perf_counter() - t0
    n_out = spark.read.parquet(os.path.join(out, "extracted")).count()

    # Steady-state kernel throughput: re-run just the engine's prelude
    # (scan → dedupe → salt → kernel, extract_pages) with warm Python
    # workers (no write/lineage) — the per-doc cost a long-running cluster
    # job converges to once fixed job overhead is amortized.
    # BENCH/BASELINE.md carries the N-vs-4N scaling evidence.
    cfg = ExtractConfig(src, out, buckets=32, kernel_partitions=128)
    ext = extract_pages(spark, scan_input(spark, src, "pages", cfg.buckets), cfg, {})
    t0 = time.perf_counter()
    n_k = ext.extracted.count()
    kdt = time.perf_counter() - t0

    # Document-assets pass (E23/C75): the --with-doc-assets catalog over
    # the same corpus — the JVM pre-filter admits only the document share
    # (~15% of rows), so docs_per_sec here is per INPUT page, the number
    # that adds onto a pipeline run enabling the flag.
    from corsearch_project_spark.operators.kernel import run_doc_assets_kernel

    t0 = time.perf_counter()
    n_assets = run_doc_assets_kernel(scan_pages(spark, src)).count()
    adt = time.perf_counter() - t0
    return {
        "docs": n_out,
        "sec": round(dt, 3),
        "docs_per_sec": round(n_out / dt, 1),
        "kernel_docs_per_sec": round(n_k / kdt, 1),
        "doc_assets": {
            "rows": n_assets,
            "sec": round(adt, 3),
            "pages_per_sec": round(n_docs / adt, 1),
        },
    }


def _warc_bench(spark, n_docs: int, workdir: str) -> dict:
    """WARC→pages scan throughput (round-2 verdict item 10: this surface
    had no BENCH row). A member-gzipped synthetic segment read through the
    splittable range scan (sources/warc.read_warc_ranges) at sub-file
    split granularity — the 100-TB path."""
    import datetime as dt

    from corsearch_project_spark.fixtures.gen_pages import gen_pages
    from corsearch_project_spark.sources.warc import build_warc, read_warc_ranges

    rows = gen_pages(n_docs, seed=4321)
    base = dt.datetime(2024, 1, 1)
    recs = [
        (r["url"], r["warc_ts"] or base, r["html"] or (r["text"] or "").encode())
        for r in rows
    ]
    path = os.path.join(workdir, "seg.warc.gz")
    with open(path, "wb") as f:
        f.write(build_warc(recs, gzip_members=True))
    t0 = time.perf_counter()
    n = read_warc_ranges(spark, path, split_bytes=1 << 20).count()
    sec = time.perf_counter() - t0
    return {"docs": n, "sec": round(sec, 3), "docs_per_sec": round(n / sec, 1)}


def _manifest_bench_at(spark, table_path: str, man_path: str) -> dict:
    """One (lookup vs fullscan) measurement over a laid-out table: build
    the manifest, probe 3 urls, time both paths as interleaved
    medians-of-3 (point lookups are sub-second; single shots jitter with
    host load)."""
    from pyspark.sql import functions as F

    from corsearch_project_spark.sources.manifest import (
        build_file_manifest,
        lookup_urls,
        prune_files,
        write_manifest,
    )

    t0 = time.perf_counter()
    write_manifest(build_file_manifest(spark, table_path), man_path)
    build_s = time.perf_counter() - t0

    data = spark.read.parquet(table_path)
    urls = [r["url"] for r in data.select("url").orderBy("url").limit(3).collect()]

    lookup_ts, full_ts = [], []
    n_hit = n_full = 0
    for _ in range(3):
        t0 = time.perf_counter()
        n_hit = lookup_urls(spark, table_path, man_path, urls).count()
        lookup_ts.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        n_full = data.where(F.col("url").isin(urls)).count()
        full_ts.append(time.perf_counter() - t0)
    lookup_s = sorted(lookup_ts)[1]
    fullscan_s = sorted(full_ts)[1]

    man = spark.read.parquet(man_path)
    # one manifest row per (file, url_bucket) — a range-partitioned file
    # spans many hash buckets, so count distinct files, not rows
    total_files = man.select("file").distinct().count()
    opened = len(prune_files(man, urls))
    assert n_hit == n_full
    return {
        "build_sec": round(build_s, 3),
        "lookup_sec": round(lookup_s, 3),
        "fullscan_sec": round(fullscan_s, 3),
        "files_opened": opened,
        "files_total": total_files,
        "rows": n_hit,
        "speedup": round(fullscan_s / max(lookup_s, 1e-9), 2),
    }


def _manifest_bench(spark, extracted_path: str, workdir: str) -> dict:
    """S15 data-skipping row (round-3 verdict item 9, round-4 verdict
    item 3): time a point lookup through the file manifest vs the same
    predicate as a full-table scan, at SEVERAL file counts.

    The r4 measurement ran only at the extract fixture's native ~32
    files, where the lookup's fixed cost (manifest read + driver
    file-list collect + second job) outweighs skipping 29 file opens —
    the committed row contradicted the data-skipping claim it existed to
    support. Skipping is a big-table feature: this bench now ALSO lays
    the same rows out at 512 and 2048 files (repartitionByRange on url +
    in-file url sort — the write_extracted layout contract) and reports
    the speedup at each point plus the measured crossover file count, so
    the artifact states exactly where pruning starts to pay. At 10^12
    docs the table is O(10^6) files and the fullscan side is not
    runnable at all — the asymptote the crossover row points at.

    Measured shape on this host: the lookup side is FLAT in file count
    (three fixed driver jobs — manifest read, prune collect, covering
    scan — ~0.35 s total) while the fullscan side grows linearly with
    scheduling + footer opens, so the points must bracket the crossover:
    512 is below it, 2048 above."""
    native = _manifest_bench_at(
        spark, extracted_path, os.path.join(workdir, "manifest_native")
    )

    data = spark.read.parquet(extracted_path)
    points = {"native": native}
    for n_files in (512, 2048):
        probe_path = os.path.join(workdir, f"man_probe_{n_files}")
        (
            data.repartitionByRange(n_files, "url")
            .sortWithinPartitions("url")
            .write.mode("overwrite")
            .parquet(probe_path)
        )
        points[f"files_{n_files}"] = _manifest_bench_at(
            spark, probe_path, os.path.join(workdir, f"manifest_{n_files}")
        )

    # Linear-interpolate the file count where lookup == fullscan from the
    # two points bracketing speedup 1.0 (None when pruning already pays —
    # or still loses — at every measured point).
    xs = sorted(
        ((p["files_total"], p["speedup"]) for p in points.values()),
        key=lambda t: t[0],
    )
    crossover = None
    for (x0, s0), (x1, s1) in zip(xs, xs[1:]):
        if s0 < 1.0 <= s1:
            crossover = round(x0 + (1.0 - s0) * (x1 - x0) / (s1 - s0))
            break
    points["crossover_files"] = crossover
    return points


def _udf_boundary_bench(spark, sf_dir: str) -> dict:
    """U6 (SURVEY §2.10): measure the same expression three ways — JVM
    builtin, Arrow-batched pandas UDF, row-at-a-time Python UDF — to
    justify the engine's zero-per-row-Python rule with numbers."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf, udf

    import math

    import numpy as np

    base = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("x")
    )
    base = base.persist()
    base.count()

    # A logistic score: enough FLOPs per value that the three tiers measure
    # execution strategy (codegen vs numpy-vectorized vs per-row interpreter
    # dispatch), not just serialization overhead.
    @pandas_udf("double")
    def p_score(x: pd.Series) -> pd.Series:
        v = x.to_numpy()
        return pd.Series(1.0 / (1.0 + np.exp(-(np.log1p(np.abs(v)) - 7.5))))

    r_score = udf(
        lambda v: 1.0 / (1.0 + math.exp(-(math.log1p(abs(v)) - 7.5))), "double"
    )

    out = {}
    for name, col in (
        ("builtin", 1.0 / (1.0 + F.exp(-(F.log1p(F.abs(F.col("x"))) - 7.5)))),
        ("pandas_udf", p_score(F.col("x"))),
        ("row_udf", r_score(F.col("x"))),
    ):
        t0 = time.perf_counter()
        base.select(col.alias("u")).where(F.col("u") > 0.5).count()
        out[name] = round(time.perf_counter() - t0, 3)
    base.unpersist()
    out["row_vs_pandas_slowdown"] = round(out["row_udf"] / max(out["pandas_udf"], 1e-9), 1)
    return out


def _regression_check(timings: dict, sf: str) -> dict:
    """Round-over-round comparator: against the latest BENCH_r{N}.json the
    driver recorded, flag any query slower than 1.3× its previous time —
    perf regressions become visible the way correctness already is. New
    queries (no previous row) are reported but never flagged. Only compares
    same-scale-factor runs: an sf0.01 dev run vs the driver's sf0.1 record
    would flag meaningless 'regressions'."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = {}
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            rounds[int(m.group(1))] = p
    if not rounds:
        return {"vs_round": None, "flagged": {}}
    latest = max(rounds)
    try:
        with open(rounds[latest]) as f:
            parsed = json.load(f).get("parsed", {})
        prev = parsed.get("queries", {})
        prev_sf = str(parsed.get("sf", ""))
    except Exception:
        return {"vs_round": f"r{latest:02d}", "flagged": {}, "err": "unreadable"}
    if prev_sf != str(sf):
        return {"vs_round": f"r{latest:02d}", "flagged": {},
                "skipped": f"sf mismatch (prev {prev_sf}, now {sf})"}
    # Host-speed normalization: this burstable VM throttles under sustained
    # load, slowing EVERY query by the same factor — that is environment,
    # not regression. A genuine regression is an OUTLIER against the run's
    # own median ratio, so the flag threshold scales with it.
    ratios = sorted(
        now / prev[name] for name, now in timings.items() if prev.get(name)
    )
    med = ratios[len(ratios) // 2] if ratios else 1.0
    threshold = 1.3 * max(1.0, med)
    flagged = {}
    for name, now in timings.items():
        was = prev.get(name)
        # threshold ratio AND >0.5 s absolute: sub-second queries jitter
        # ±0.2 s with host load, which is noise, not regression
        if was and now > threshold * was and now - was > 0.5:
            flagged[name] = {"prev": was, "now": now, "ratio": round(now / was, 2)}
    return {
        "vs_round": f"r{latest:02d}",
        "median_ratio": round(med, 3),
        "flagged": flagged,
        "new_queries": sorted(set(timings) - set(prev)),
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from corsearch_project_spark.plans.session import build_session
    from corsearch_project_spark.queries import REGISTRY

    spark = build_session("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the session (JVM JIT, parquet footer cache) outside the timings.
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    timings = _time_queries(spark, REGISTRY, sf_dir, reps=reps)

    workdir = tempfile.mkdtemp(prefix="csp_bench_")
    try:
        extract = _extract_bench(spark, EXTRACT_DOCS, workdir)
        warc = _warc_bench(spark, min(EXTRACT_DOCS, 8000), workdir)
        manifest = _manifest_bench(
            spark, os.path.join(workdir, "out", "extracted"), workdir
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    udf_boundary = _udf_boundary_bench(spark, sf_dir)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "total_query_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "extract": extract,
                "warc": warc,
                "manifest_lookup": manifest,
                "udf_boundary": udf_boundary,
                "regression_check": _regression_check(timings, sf),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
