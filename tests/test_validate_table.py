"""jobs/validate_table.py reconciles a table against the ledger that
``commit_run`` writes, reading both ledgers on the driver: each bucket
against its latest writer in snapshot order (``maintenance.latest_writers``),
in a fixed handful of Spark jobs, and never without a ledger file it cannot
read."""

import os
import shutil
import sys

import pytest

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"),
)

from validate_table import validate_table

from corsearch_project_spark.fixtures.gen_pages import default_rules, gen_pages
from corsearch_project_spark.plans.extract_pipeline import ExtractConfig, run_extract
from corsearch_project_spark.plans.merge_pipeline import MergeConfig, run_merge
from corsearch_project_spark.sources.maintenance import latest_writers

from test_ledger import _history
from test_merge import BUCKETS, _in_buckets, _write_pages


def _validate(spark, out, run_id):
    return validate_table(
        spark,
        os.path.join(out, "extracted"),
        os.path.join(out, "lineage"),
        run_id,
        snapshots_path=os.path.join(out, "snapshots"),
    )


@pytest.fixture(scope="module")
def resumed_after_merge(spark, tmp_path_factory):
    """A partial backfill R over the base urls of buckets 0-3 (seq 0), a
    merge M of new urls that rewrites buckets 0-2 (seq 1), then R's
    --resume over all of base, which writes buckets 4-7 (seq 2): R has
    two snapshots, and M is the latest writer of buckets 0-2."""
    tmp = tmp_path_factory.mktemp("resume_after_merge")
    base = gen_pages(60, seed=71, dup_frac=0.0)
    src = str(tmp / "base.parquet")
    _write_pages(base, src)
    out = str(tmp / "table")
    part = str(tmp / "part.parquet")
    _write_pages(_in_buckets(spark, base, BUCKETS, {0, 1, 2, 3}), part)
    cfg = ExtractConfig(part, out, run_id="R", buckets=BUCKETS)
    assert run_extract(spark, cfg, default_rules())["buckets_written"] == [0, 1, 2, 3]

    fresh = gen_pages(40, seed=72, dup_frac=0.0)
    for r in fresh:
        r["url"] = r["url"].replace("https://", "https://inc-")
    inc = _in_buckets(spark, fresh, BUCKETS, {0, 1, 2})
    inc_src = str(tmp / "inc.parquet")
    _write_pages(inc, inc_src)
    rep = run_merge(
        spark, MergeConfig(inc_src, out, run_id="M", buckets=BUCKETS), default_rules()
    )
    assert rep["buckets_rewritten"] == [0, 1, 2]

    cfg.input_path, cfg.resume = src, True
    assert run_extract(spark, cfg, default_rules())["buckets_written"] == [4, 5, 6, 7]
    hist = _history(os.path.join(out, "snapshots"))
    assert [(h["seq"], h["run_id"]) for h in hist] == [(0, "R"), (1, "M"), (2, "R")]
    assert latest_writers(hist) == {0: "M", 1: "M", 2: "M", 3: "R",
                                    4: "R", 5: "R", 6: "R", 7: "R"}
    return out, len(base) + len(inc)


def test_resume_after_merge_validates(spark, resumed_after_merge):
    """R's rows for buckets 0-2 are stale once M rewrote them; R's later
    snapshot (the resume's) must not make them current again."""
    out, docs = resumed_after_merge
    for run_id in ("R", "M"):
        rep = _validate(spark, out, run_id)
        assert rep["ok"], (run_id, rep["failures"])
        assert (rep["buckets_present"], rep["docs"]) == (BUCKETS, docs)


def test_validation_runs_few_spark_jobs(spark, resumed_after_merge):
    """Both ledgers are read on the driver; the table takes one lineage
    rollup collect and one uniqueness/digest aggregate."""
    sc = spark.sparkContext
    sc.setJobGroup("validate-table-jobs", "validate_table")
    try:
        rep = _validate(spark, resumed_after_merge[0], "M")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rep["ok"], rep["failures"]
    jobs = sc.statusTracker().getJobIdsForGroup("validate-table-jobs")
    assert 0 < len(jobs) <= 6, len(jobs)


@pytest.mark.parametrize("ledger", ["snapshots", "lineage"])
def test_unreadable_ledger_file_stops_validation(
    spark, resumed_after_merge, tmp_path, ledger
):
    """A ledger file that cannot be read raises: validating without it
    would judge the table against part of its commits."""
    out = str(tmp_path / "table")
    shutil.copytree(resumed_after_merge[0], out)
    assert _validate(spark, out, "M")["ok"]
    with open(os.path.join(out, ledger, "part-00000-c000.snappy.parquet"), "wb"):
        pass
    with pytest.raises(ValueError, match="cannot be read"):
        _validate(spark, out, "M")
