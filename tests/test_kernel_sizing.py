"""Kernel-stage sizing (plans/extract_pipeline.py ``n_kernel``): one
Python task per slot (``defaultParallelism``) and an explicit ``kernel_partitions`` always wins. Backfill and merge
share the rule and report it as ``kernel_tasks``."""

import re

import pytest

from corsearch_project_spark.fixtures.gen_pages import default_rules, gen_pages
from corsearch_project_spark.plans import extract_pipeline as X
from corsearch_project_spark.plans.merge_pipeline import MergeConfig, run_merge

from test_merge import BUCKETS, _write_pages


def _kernel_exchange_n(df) -> int:
    """N of the kernel shuffle's hashpartitioning(url_bucket, salt, N)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    found = set(re.findall(r"hashpartitioning\(url_bucket#\d+, salt#\d+, (\d+)\)", plan))
    assert len(found) == 1, plan
    return int(found.pop())


def _extraction(spark, src, **cfg):
    cfg = X.ExtractConfig(src, "unused", buckets=BUCKETS, **cfg)
    pages = X.scan_input(spark, src, cfg.input_format, cfg.buckets)
    return X.extract_pages(spark, pages, cfg, default_rules())


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    rows = gen_pages(200, seed=61, skew="heavy")
    src = str(tmp_path_factory.mktemp("sizing") / "pages.parquet")
    _write_pages(rows, src)
    return rows, src


def test_small_backfill_and_merge_get_one_task_per_slot(spark, corpus, tmp_path):
    _, src = corpus
    slots = spark.sparkContext.defaultParallelism
    ext = _extraction(spark, src)
    assert ext.kernel_tasks == slots
    assert _kernel_exchange_n(ext.extracted) == slots

    out = str(tmp_path / "out")
    rep = X.run_extract(spark, X.ExtractConfig(src, out, run_id="K1", buckets=BUCKETS))
    assert rep["kernel_tasks"] == slots

    inc = gen_pages(30, seed=62, dup_frac=0.0)
    for r in inc:
        r["url"] = r["url"].replace("https://", "https://inc-")
    inc_src = str(tmp_path / "inc.parquet")
    _write_pages(inc, inc_src)
    rep = run_merge(
        spark, MergeConfig(inc_src, out, run_id="M1", buckets=BUCKETS), default_rules()
    )
    assert rep["docs_added"] == len(inc)
    assert rep["kernel_tasks"] == slots


def test_explicit_kernel_partitions_wins(spark, corpus):
    _, src = corpus
    for n in (5, 128):
        ext = _extraction(spark, src, kernel_partitions=n)
        assert ext.kernel_tasks == n
        assert _kernel_exchange_n(ext.extracted) == n
