"""Integration tests: golden byte-identity, lineage, resume, skew
(SURVEY §5.2 layers 2–4). The single-process pure-Python core is the
operational definition of the reference scripts' output (BASELINE.json:6)."""

import os

import pytest
from pyspark.sql import functions as F

from corsearch_project_spark.fixtures.gen_pages import (
    default_rules,
    gen_pages,
    pages_to_pandas,
)
from corsearch_project_spark.plans.extract_pipeline import ExtractConfig, run_extract
from corsearch_project_spark.webextract.extract import extract_document
from corsearch_project_spark.webextract.rules import rule_for_url

from test_merge import _in_buckets, _record_write_tasks


def _golden_digests(rows, rules):
    """Single-process oracle: latest-wins dedupe then extract per url."""
    best = {}
    for r in rows:
        key = r["url"]
        rank = (r["warc_ts"], len(r["html"] or b""), r["text"] or "")
        if key not in best or rank > best[key][0]:
            best[key] = (rank, r)
    out = {}
    for url, (_, r) in best.items():
        res = extract_document(url, r["html"], r["text"], rule_for_url(url, rules))
        out[url] = res.text_sha256
    return out


def _write_pages(spark, tmp_path, rows, name="pages"):
    path = os.path.join(str(tmp_path), name)
    pdf = pages_to_pandas(rows)
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
    return path


@pytest.fixture(scope="module")
def smoke_corpus():
    return gen_pages(200, seed=42, skew="mild", dup_frac=0.05)


def test_golden_byte_identity(spark, tmp_path, smoke_corpus):
    rules = default_rules()
    inp = _write_pages(spark, tmp_path, smoke_corpus)
    out = os.path.join(str(tmp_path), "out")
    cfg = ExtractConfig(input_path=inp, output_path=out, run_id="golden", buckets=16)
    run_extract(spark, cfg, rules)

    got = {
        r["url"]: r["text_sha256"]
        for r in spark.read.parquet(cfg.extracted_path)
        .select("url", "text_sha256")
        .collect()
    }
    want = _golden_digests(smoke_corpus, rules)
    assert set(got) == set(want), "url set mismatch"
    mismatches = {u for u in want if got[u] != want[u]}
    assert not mismatches, f"{len(mismatches)} digest mismatches, e.g. {sorted(mismatches)[:3]}"

    # each url exactly once (dedupe) and JVM sha2 == python hashlib digest
    ext = spark.read.parquet(cfg.extracted_path)
    assert ext.count() == ext.select("url").distinct().count()
    bad = ext.where(
        F.sha2(F.col("extracted_text").cast("binary"), 256) != F.col("text_sha256")
    ).count()
    assert bad == 0


def test_lineage_rows(spark, tmp_path, smoke_corpus):
    rules = default_rules()
    inp = _write_pages(spark, tmp_path, smoke_corpus)
    out = os.path.join(str(tmp_path), "out_lin")
    cfg = ExtractConfig(input_path=inp, output_path=out, run_id="lin1", buckets=8)
    run_extract(spark, cfg, rules)

    lin = spark.read.parquet(cfg.lineage_path)
    ext = spark.read.parquet(cfg.extracted_path)
    assert lin.count() == ext.select("url_bucket").distinct().count()
    assert lin.agg(F.sum("doc_count")).first()[0] == ext.count()
    row = lin.first()
    assert row["status"] == "done" and len(row["sha256_rollup"]) == 64
    assert row["input_split"].startswith(inp)


def test_resume_skips_done_buckets_and_matches_full_run(spark, tmp_path, smoke_corpus):
    rules = default_rules()
    inp = _write_pages(spark, tmp_path, smoke_corpus)

    # uninterrupted reference run
    full = ExtractConfig(input_path=inp, output_path=os.path.join(str(tmp_path), "full"),
                         run_id="R", buckets=8)
    run_extract(spark, full, rules)
    want = {
        r["url"]: r["text_sha256"]
        for r in spark.read.parquet(full.extracted_path).select("url", "text_sha256").collect()
    }

    # interrupted run: only buckets 0..3 complete
    out = os.path.join(str(tmp_path), "resumed")
    part = _write_pages(
        spark, tmp_path, _in_buckets(spark, smoke_corpus, 8, {0, 1, 2, 3}), "pages_part"
    )
    part1 = ExtractConfig(input_path=part, output_path=out, run_id="R", buckets=8)
    rep1 = run_extract(spark, part1, rules)
    assert set(rep1["buckets_written"]) <= {0, 1, 2, 3}
    lin1 = {r["url_bucket"]: r["wall_ms"] for r in spark.read.parquet(part1.lineage_path).collect()}

    # resume: must skip completed buckets and finish the rest
    part2 = ExtractConfig(input_path=inp, output_path=out, run_id="R", buckets=8, resume=True)
    rep2 = run_extract(spark, part2, rules)
    assert set(rep2["buckets_skipped"]) == set(rep1["buckets_written"])
    assert not (set(rep2["buckets_written"]) & set(rep1["buckets_written"]))

    got = {
        r["url"]: r["text_sha256"]
        for r in spark.read.parquet(part2.extracted_path).select("url", "text_sha256").collect()
    }
    assert got == want, "resumed table differs from uninterrupted run"

    # completed buckets were not recomputed: their lineage rows are unchanged
    lin2 = spark.read.parquet(part2.lineage_path)
    for b in rep1["buckets_written"]:
        rows = lin2.where(F.col("url_bucket") == b).collect()
        assert len(rows) == 1 and rows[0]["wall_ms"] == lin1[b]


def test_task_layout_preserves_output(spark, tmp_path):
    """A heavily skewed input extracted in 3 tasks and in one per slot
    gives the same per-url digests and per-bucket rollups."""
    rules = default_rules()
    rows = gen_pages(300, seed=7, skew="heavy", dup_frac=0.0)
    inp = _write_pages(spark, tmp_path, rows, "pages_skew")

    three = ExtractConfig(input_path=inp, output_path=os.path.join(str(tmp_path), "s1"),
                          run_id="s1", buckets=8, kernel_partitions=3)
    per_slot = ExtractConfig(input_path=inp, output_path=os.path.join(str(tmp_path), "s2"),
                             run_id="s2", buckets=8)
    run_extract(spark, three, rules)
    run_extract(spark, per_slot, rules)

    a = {(r["url"], r["text_sha256"])
         for r in spark.read.parquet(three.extracted_path).select("url", "text_sha256").collect()}
    b = {(r["url"], r["text_sha256"])
         for r in spark.read.parquet(per_slot.extracted_path).select("url", "text_sha256").collect()}
    assert a == b

    # rollup digest is order-insensitive: per-bucket rollups match across layouts
    la = {(r["url_bucket"], r["sha256_rollup"])
          for r in spark.read.parquet(three.lineage_path).collect()}
    lb = {(r["url_bucket"], r["sha256_rollup"])
          for r in spark.read.parquet(per_slot.lineage_path).collect()}
    assert la == lb


def _backfill_jobs(spark, cfg):
    sc = spark.sparkContext
    group = f"backfill-jobs-{cfg.run_id}"
    sc.setJobGroup(group, "run_extract")
    try:
        run_extract(spark, cfg, default_rules())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_backfill_runs_six_spark_jobs(spark, tmp_path):
    """A backfill is the dedupe (2 jobs), the kernel, the bucketed write
    and the lineage rollup (2 jobs): at most 6 Spark jobs."""
    inp = _write_pages(spark, tmp_path, gen_pages(60, seed=98), "pages_jobs")
    cfg = ExtractConfig(input_path=inp, output_path=os.path.join(str(tmp_path), "jobs"),
                        run_id="R-jobs", buckets=8)
    jobs = _backfill_jobs(spark, cfg)
    assert 0 < len(jobs) <= 6, len(jobs)


def test_backfill_runs_three_spark_jobs(spark, tmp_path):
    """The kernel and the bucketed write share one stage and the lineage
    comes from the writer's rows: a backfill is the dedupe's two
    aggregate jobs and the fused kernel-and-write job."""
    inp = _write_pages(spark, tmp_path, gen_pages(60, seed=98), "pages_jobs3")
    cfg = ExtractConfig(input_path=inp, output_path=os.path.join(str(tmp_path), "jobs3"),
                        run_id="R-jobs3", buckets=8)
    assert len(_backfill_jobs(spark, cfg)) == 3


def test_backfill_builds_one_python_plan(spark, tmp_path, monkeypatch):
    """A backfill builds one ``mapInArrow`` plan, its fused kernel-and-write
    stage, and no kernel DataFrame that it would not run; the merge still
    classifies the increment through ``Extraction.extracted``."""
    from corsearch_project_spark.plans import extract_pipeline as X
    from corsearch_project_spark.plans.merge_pipeline import MergeConfig, run_merge
    from corsearch_project_spark.sources.io import WRITTEN_SCHEMA

    frame = type(spark.range(0))
    real_map, real_extracted, schemas, asked = frame.mapInArrow, X.Extraction.extracted, [], []

    def recording_map(self, func, schema, *args, **kwargs):
        schemas.append(schema)
        return real_map(self, func, schema, *args, **kwargs)

    def recording_extracted(self):
        asked.append(self)
        return real_extracted.fget(self)

    monkeypatch.setattr(frame, "mapInArrow", recording_map)
    monkeypatch.setattr(X.Extraction, "extracted", property(recording_extracted))

    inp = _write_pages(spark, tmp_path, gen_pages(60, seed=98), "pages_plan")
    out = os.path.join(str(tmp_path), "plan")
    run_extract(spark, ExtractConfig(inp, out, run_id="R-plan", buckets=8), default_rules())
    assert schemas == [WRITTEN_SCHEMA] and asked == []

    inc = gen_pages(20, seed=96, dup_frac=0.0)
    for r in inc:
        r["url"] = r["url"].replace("https://", "https://inc-")
    inc_path = _write_pages(spark, tmp_path, inc, "inc_plan")
    rep = run_merge(spark, MergeConfig(inc_path, out, run_id="M-plan", buckets=8), default_rules())
    assert rep["docs_added"] == len(inc)
    assert len(asked) == 1 and schemas[1] != WRITTEN_SCHEMA and schemas[2] == WRITTEN_SCHEMA


def test_backfill_writes_one_task_per_slot_and_one_file_per_bucket(
    spark, tmp_path, monkeypatch
):
    """write_extracted owns the write distribution: a 16-bucket backfill
    writes in defaultParallelism tasks (8 on the test session), through
    exactly one url_bucket exchange, and leaves one file per non-empty
    bucket with its rows sorted by url."""
    import re

    import pyarrow.parquet as pq

    inp = _write_pages(spark, tmp_path, gen_pages(200, seed=97), "pages_slots")
    cfg = ExtractConfig(input_path=inp, output_path=os.path.join(str(tmp_path), "slots"),
                        run_id="R-slots", buckets=16)
    tasks = _record_write_tasks(spark, monkeypatch)
    mode = spark.conf.get("spark.sql.ui.explainMode")
    spark.conf.set("spark.sql.ui.explainMode", "simple")
    try:
        rep = run_extract(spark, cfg, default_rules())
    finally:
        spark.conf.set("spark.sql.ui.explainMode", mode)
    assert tasks == [spark.sparkContext.defaultParallelism] == [8]

    # the final plan of the write stage, the last one in the SQL status store
    runs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plan = [
        p for p in (runs.apply(i).physicalPlanDescription() for i in range(runs.size()))
        if "MapInArrow write_buckets(" in p
    ][-1]
    final = plan.split("== Initial Plan ==")[0]
    exchanges = re.findall(r"Exchange (\w+)\((?:direct_shuffle_partition_id\()?url_bucket#", final)
    assert exchanges == ["shufflepartitionidpassthrough"], plan

    buckets = [n for n in os.listdir(cfg.extracted_path) if n.startswith("url_bucket=")]
    assert sorted(buckets) == sorted(f"url_bucket={b}" for b in rep["buckets_written"])
    for b in buckets:
        files = [n for n in os.listdir(os.path.join(cfg.extracted_path, b))
                 if n.endswith(".parquet")]
        assert len(files) == 1, (b, files)
        urls = pq.read_table(os.path.join(cfg.extracted_path, b, files[0])).column("url")
        assert urls.to_pylist() == sorted(urls.to_pylist())


@pytest.mark.parametrize(
    "arm, doc_rows, schema, core",
    [
        pytest.param("text", "text_rows", "EXTRACTED_KERNEL_SCHEMA", "extract_document", id="text"),
        pytest.param("dual", "dual_rows", "DUAL_KERNEL_SCHEMA", "extract_document_both", id="dual"),
    ],
)
def test_kernel_poison_doc_degrades_to_error_row(monkeypatch, arm, doc_rows, schema, core):
    """A document that makes the core raise must become a deterministic
    'error' row, not a task failure (10^12-doc poison-doc guard) — in the
    text kernel and in the dual (markdown) kernel."""
    import pyarrow as pa

    from corsearch_project_spark.operators import kernel as K
    from corsearch_project_spark.sources import schemas

    real = getattr(K, core)

    def exploding(url, data, fb, rule):
        if url.endswith("/poison"):
            raise ValueError("boom")
        return real(url, data, fb, rule)

    monkeypatch.setattr(K, core, exploding)
    rb = pa.RecordBatch.from_pydict(
        {
            "url": ["http://x.example/ok", "http://x.example/poison"],
            "html": [b"<html><body><p>fine body text that scores well enough to keep.</p></body></html>", b"<p>x</p>"],
            "text": pa.array([None, None], type=pa.string()),
        }
    )
    kernel = K.arrow_kernel(getattr(K, doc_rows), getattr(schemas, schema), {})
    by_url = {r["url"]: r for b in kernel(iter([rb])) for r in b.to_pylist()}
    poison = by_url["http://x.example/poison"]
    assert poison["doc_kind"] == "error"
    assert poison["extracted_text"] == ""
    assert poison["bytes_in"] == len(b"<p>x</p>")
    assert by_url["http://x.example/ok"]["doc_kind"] == "html"
    if arm == "dual":
        assert poison["extracted_md"] == ""
        assert poison["md_sha256"] == poison["text_sha256"]
        assert by_url["http://x.example/ok"]["extracted_md"]


def test_dedupe_tiebreak_is_warc_ts_then_length_then_text(spark):
    """On a warc_ts tie the longer html wins even when its text sorts
    lower; on a length tie the larger text wins."""
    import datetime as dt

    from corsearch_project_spark.plans.extract_pipeline import dedupe_latest

    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("u1", ts, b"<p>longer body</p>", "a", 1),
        ("u1", ts, b"<p>x</p>", "z", 2),
        ("u2", ts, b"<p>x</p>", "a", 3),
        ("u2", ts, b"<p>y</p>", "b", 4),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, url_bucket int"
    )
    got = {r["url"]: r["url_bucket"] for r in dedupe_latest(pages).collect()}
    assert got == {"u1": 1, "u2": 4}


def test_bench_tracer_targets_resolve():
    """perfbench/spans.py wraps (owner, attr) pairs on the pipeline modules;
    a refactor that drops one of those names must fail here, not turn
    `--trace 1` into a silent no-op."""
    import importlib.util

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench", "spans.py")
    spec = importlib.util.spec_from_file_location("perfbench_spans", path)
    spans = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(spans)
    assert spans._TARGETS
    missing = [
        (getattr(owner, "__name__", owner), attr)
        for owner, attr, _ in spans._TARGETS
        if not callable(getattr(owner, attr, None))
    ]
    assert not missing, missing


def test_snapshot_ledger_grows_and_reconciles(spark, tmp_path, pages_parquet=None):
    """Every commit appends one snapshot row; resume reruns that skip all
    buckets append none; totals reconcile with lineage."""
    import os as _os

    import pyarrow as pa, pyarrow.parquet as pq

    from corsearch_project_spark.fixtures.gen_pages import gen_pages, pages_to_pandas
    from corsearch_project_spark.plans.extract_pipeline import ExtractConfig, run_extract
    from test_ledger import _history

    src = _os.path.join(str(tmp_path), "p.parquet")
    pq.write_table(
        pa.Table.from_pandas(pages_to_pandas(gen_pages(120, seed=77))),
        src, coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    out = _os.path.join(str(tmp_path), "out")
    rep1 = run_extract(spark, ExtractConfig(input_path=src, output_path=out, run_id="S1", buckets=8))
    assert rep1["snapshot"]["seq"] == 0
    assert rep1["snapshot"]["operation"] == "overwrite"
    assert rep1["snapshot"]["doc_count"] == rep1["docs_out"]

    # full resume: all buckets done -> no new lineage rows -> no snapshot
    rep2 = run_extract(
        spark, ExtractConfig(input_path=src, output_path=out, run_id="S1", buckets=8, resume=True)
    )
    assert rep2["snapshot"] is None

    # fresh run id overwrites everything again -> seq 1
    rep3 = run_extract(spark, ExtractConfig(input_path=src, output_path=out, run_id="S2", buckets=8))
    assert rep3["snapshot"]["seq"] == 1

    hist = _history(_os.path.join(out, "snapshots"))
    assert [r["seq"] for r in hist] == [0, 1]
    assert all(r["n_buckets"] == 8 for r in hist)

