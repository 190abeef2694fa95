"""Incremental merge job (plans/merge_pipeline.py): copy-on-write MERGE
semantics over the bucketed table — full-run equivalence, no-op increments,
untouched buckets physically preserved, post-merge validation."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from corsearch_project_spark.fixtures.gen_pages import (
    default_rules,
    gen_pages,
    pages_to_pandas,
)
from corsearch_project_spark.operators.partitioning import with_url_bucket
from corsearch_project_spark.plans.extract_pipeline import ExtractConfig, run_extract
from corsearch_project_spark.plans.merge_pipeline import MergeConfig, run_merge

BUCKETS = 8


def _write_pages(rows, path):
    pq.write_table(
        pa.Table.from_pandas(pages_to_pandas(rows)),
        path,
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )


def _in_buckets(spark, rows, buckets, keep):
    """The ``rows`` whose url hashes into one of the ``keep`` buckets."""
    urls = spark.createDataFrame([(r["url"],) for r in rows], "url string")
    bucket = {r["url"]: r["url_bucket"] for r in with_url_bucket(urls, buckets).collect()}
    return [r for r in rows if bucket[r["url"]] in keep]


def _record_write_tasks(spark, monkeypatch):
    """Patch ``ParquetBucketedFormat.write_extracted`` to record, per
    call, the tasks of its write stage: the last Spark job of the call
    (with AQE every shuffle stage before it runs as its own job)."""
    from corsearch_project_spark.sources.io import ParquetBucketedFormat

    real, sc, tasks = ParquetBucketedFormat.write_extracted, spark.sparkContext, []

    def recording(self, df, path, kernel=None):
        group = f"write-extracted-{len(tasks)}"
        sc.setJobGroup(group, path)
        try:
            written = real(self, df, path, kernel)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        last = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
        stages = [tracker.getStageInfo(s) for s in last.stageIds]
        tasks.append(sum(s.numCompletedTasks for s in stages if s is not None))
        return written

    monkeypatch.setattr(ParquetBucketedFormat, "write_extracted", recording)
    return tasks


def _table_state(spark, root):
    """(url -> sha) map + per-bucket rollups of an extracted table."""
    df = spark.read.parquet(os.path.join(root, "extracted"))
    rows = df.select("url", "text_sha256", "url_bucket").collect()
    return {r["url"]: (r["text_sha256"], r["url_bucket"]) for r in rows}


def _extract_all(spark, tmp_path, rows, name, **cfg):
    src = str(tmp_path / f"{name}.parquet")
    _write_pages(rows, src)
    out = str(tmp_path / name)
    run_extract(
        spark,
        ExtractConfig(input_path=src, output_path=out, run_id=f"R-{name}",
                      buckets=BUCKETS, **cfg),
        default_rules(),
    )
    return out


def _new_and_updated(base, n_new, seed):
    """An increment of ``n_new`` brand-new urls plus re-crawls of
    ``base[:10]`` whose body is another base doc's (so the text differs)."""
    inc = gen_pages(n_new, seed=seed, dup_frac=0.0)
    for r in inc:
        r["url"] = r["url"].replace("https://", "https://inc-")
    for r, donor in zip(base[:10], base[30:40]):
        inc.append(dict(r, html=donor["html"], text=donor["text"]))
    return inc


def test_merge_equals_full_run(spark, tmp_path):
    """extract(A) + merge(B) must equal extract(A ∪ latest-wins(B)) in
    (url, digest) content — the merge path is provably the same extraction."""
    base = gen_pages(60, seed=91, dup_frac=0.0)
    # increment: 20 new urls + re-crawls of 10 existing with CHANGED html
    inc_new = gen_pages(20, seed=92, dup_frac=0.0)
    for i, r in enumerate(inc_new):
        r["url"] = r["url"].replace("https://", "https://inc-")
    # changed re-crawls: swap in ANOTHER doc's body so the extracted text
    # is guaranteed to differ (appending bytes is not reliable: trailing
    # bytes after %%EOF / </html> can be ignored or boilerplate-stripped)
    changed = []
    for r, donor in zip(base[:10], base[30:40]):
        r2 = dict(r)
        r2["html"] = donor["html"]
        r2["text"] = donor["text"]
        changed.append(r2)
    increment = inc_new + changed

    out_a = _extract_all(spark, tmp_path, base, "base")
    inc_src = str(tmp_path / "inc.parquet")
    _write_pages(increment, inc_src)
    rep = run_merge(
        spark,
        MergeConfig(increment_path=inc_src, output_path=out_a, run_id="M1",
                    buckets=BUCKETS),
        default_rules(),
    )
    assert rep["docs_added"] == 20
    assert rep["docs_updated"] == 10
    assert rep["docs_unchanged"] == 0

    # reference: one full run over the merged logical input
    merged_rows = {r["url"]: r for r in base}
    for r in increment:
        merged_rows[r["url"]] = r
    out_full = _extract_all(spark, tmp_path, list(merged_rows.values()), "full")

    assert _table_state(spark, out_a) == _table_state(spark, out_full)


def test_merge_keeps_markdown_columns(spark, tmp_path):
    """A table backfilled with_markdown keeps (extracted_md, md_sha256)
    through a merge, and every url's markdown equals a full with_markdown
    run over base + increment — also for re-crawls whose markup change
    moves only the markdown (h2 -> h3 keeps the text)."""
    base = gen_pages(60, seed=96, dup_frac=0.0)
    restyled = [
        dict(r, html=r["html"].replace(b"<h2>", b"<h3>").replace(b"</h2>", b"</h3>"))
        for r in base[40:]
        if b"<h2>" in r["html"]
    ]
    assert restyled
    increment = _new_and_updated(base, 15, seed=97) + restyled
    out = _extract_all(spark, tmp_path, base, "md", with_markdown=True)
    inc_src = str(tmp_path / "md_inc.parquet")
    _write_pages(increment, inc_src)
    rep = run_merge(
        spark,
        MergeConfig(increment_path=inc_src, output_path=out, run_id="M-md",
                    buckets=BUCKETS),
        default_rules(),
    )
    assert (rep["docs_added"], rep["docs_updated"]) == (15, 10 + len(restyled))

    merged_rows = {r["url"]: r for r in base}
    merged_rows.update((r["url"], r) for r in increment)
    full = _extract_all(spark, tmp_path, list(merged_rows.values()), "md_full",
                        with_markdown=True)

    def markdown(root):
        df = spark.read.parquet(os.path.join(root, "extracted"))
        assert {"extracted_md", "md_sha256"} <= set(df.columns), df.columns
        return {r["url"]: (r["extracted_md"], r["md_sha256"])
                for r in df.select("url", "extracted_md", "md_sha256").collect()}

    got = markdown(out)
    assert len(got) == len(merged_rows)
    assert got == markdown(full)


def test_merge_computes_no_hot_hosts(spark, tmp_path, monkeypatch):
    """Neither the backfill nor the merge asks for hot hosts: with
    hot_hosts raising, each commits the same table (the backfill the same
    lineage rollups, the merge the same counts) as an unpatched run."""
    from corsearch_project_spark.operators import partitioning
    from corsearch_project_spark.plans import extract_pipeline, merge_pipeline

    base = gen_pages(60, seed=98, dup_frac=0.0)
    inc_src = str(tmp_path / "hot_inc.parquet")
    _write_pages(_new_and_updated(base, 20, seed=99), inc_src)

    def backfill(name):
        root = _extract_all(spark, tmp_path, base, name)
        lin = spark.read.parquet(os.path.join(root, "lineage")).collect()
        rollups = {(r["url_bucket"], r["doc_count"], r["sha256_rollup"]) for r in lin}
        return root, (_table_state(spark, root), rollups)

    def merge(root):
        return run_merge(
            spark,
            MergeConfig(increment_path=inc_src, output_path=root, run_id="M-hot",
                        buckets=BUCKETS),
            default_rules(),
        )

    out, backfilled = backfill("hot")
    plain = merge(out)

    def refuse(*args, **kwargs):
        raise AssertionError("no pipeline may compute hot hosts")

    for mod in (partitioning, extract_pipeline, merge_pipeline):
        monkeypatch.setattr(mod, "hot_hosts", refuse)
    out_patched, backfilled_patched = backfill("hot_patched")
    assert backfilled_patched == backfilled
    patched = merge(out_patched)
    keys = ("docs_added", "docs_updated", "docs_unchanged", "buckets_rewritten")
    assert [patched[k] for k in keys] == [plain[k] for k in keys]
    assert (plain["docs_added"], plain["docs_updated"]) == (20, 10)
    assert patched["snapshot"] is not None
    assert _table_state(spark, out_patched) == _table_state(spark, out)


def test_merge_unchanged_increment_is_noop(spark, tmp_path):
    """Re-crawling identical content must rewrite ZERO buckets and leave
    every data file untouched on disk."""
    base = gen_pages(40, seed=93, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "noop")
    ext_dir = os.path.join(out, "extracted")

    def file_state(d):
        out_files = {}
        for dirpath, _, files in os.walk(d):
            for f in files:
                p = os.path.join(dirpath, f)
                out_files[p] = os.path.getmtime(p)
        return out_files

    before = file_state(ext_dir)
    inc_src = str(tmp_path / "same.parquet")
    _write_pages(base, inc_src)
    rep = run_merge(
        spark,
        MergeConfig(increment_path=inc_src, output_path=out, run_id="M0",
                    buckets=BUCKETS),
        default_rules(),
    )
    assert rep["buckets_rewritten"] == []
    assert rep["docs_added"] == 0 and rep["docs_updated"] == 0
    assert rep["docs_unchanged"] == 40
    assert file_state(ext_dir) == before


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """Dynamic partition overwrite: bucket directories the increment does
    not touch keep their exact files (mtimes unchanged)."""
    base = gen_pages(60, seed=94, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "cow")
    ext_dir = os.path.join(out, "extracted")

    # single-url increment -> exactly one touched bucket
    one = [dict(base[0])]
    one[0]["html"] = base[10]["html"]
    one[0]["text"] = base[10]["text"]
    inc_src = str(tmp_path / "one.parquet")
    _write_pages(one, inc_src)

    def mtimes_by_bucket(d):
        m = {}
        for dirpath, _, files in os.walk(d):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                p = os.path.join(dirpath, f)
                b = [seg for seg in dirpath.split(os.sep) if seg.startswith("url_bucket=")]
                m.setdefault(b[0] if b else "?", {})[p] = os.path.getmtime(p)
        return m

    before = mtimes_by_bucket(ext_dir)
    rep = run_merge(
        spark,
        MergeConfig(increment_path=inc_src, output_path=out, run_id="M2",
                    buckets=BUCKETS),
        default_rules(),
    )
    assert len(rep["buckets_rewritten"]) == 1
    touched = f"url_bucket={rep['buckets_rewritten'][0]}"
    after = mtimes_by_bucket(ext_dir)
    for bucket, files in before.items():
        if bucket != touched:
            assert after[bucket] == files, f"untouched {bucket} was rewritten"
    assert after[touched] != before[touched]


def test_validate_table_passes_after_merge(spark, tmp_path):
    """Post-merge, the table mixes run_ids; validate_table must reconcile
    each bucket against its LATEST (snapshot-ordered) lineage row and pass
    for the merge run-id."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "jobs"))
    from validate_table import validate_table

    base = gen_pages(50, seed=95, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "val")
    inc = []
    for r, donor in zip(base[:5], base[20:25]):
        r2 = dict(r)
        r2["html"] = donor["html"]
        r2["text"] = donor["text"]
        inc.append(r2)
    inc_src = str(tmp_path / "vinc.parquet")
    _write_pages(inc, inc_src)
    rep = run_merge(
        spark,
        MergeConfig(increment_path=inc_src, output_path=out, run_id="M3",
                    buckets=BUCKETS),
        default_rules(),
    )
    assert rep["buckets_rewritten"]
    report = validate_table(
        spark,
        os.path.join(out, "extracted"),
        os.path.join(out, "lineage"),
        "M3",
        snapshots_path=os.path.join(out, "snapshots"),
    )
    assert report["ok"], report["failures"]
    # and the ORIGINAL run-id still validates (its completeness buckets are
    # all present; reconciliation is latest-row-based)
    report0 = validate_table(
        spark,
        os.path.join(out, "extracted"),
        os.path.join(out, "lineage"),
        "R-val",
        snapshots_path=os.path.join(out, "snapshots"),
    )
    assert report0["ok"], report0["failures"]


def test_write_extracted_dynamic_overwrite_is_config_independent(spark, tmp_path):
    """Writer-level partitionOverwriteMode pin: even when the SESSION conf is
    static (any default-conf caller), overwriting one bucket must not wipe
    the others (round-2 ADVICE — silent data loss in run_merge)."""
    from corsearch_project_spark.sources.io import ParquetBucketedFormat

    fmt = ParquetBucketedFormat()
    path = str(tmp_path / "tbl")
    full = spark.createDataFrame(
        [("u0", 0, "a"), ("u1", 1, "b")], "url string, url_bucket int, text string"
    )
    fmt.write_extracted(full, path)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        only_b1 = spark.createDataFrame(
            [("u1", 1, "b2")], "url string, url_bucket int, text string"
        )
        fmt.write_extracted(only_b1, path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    got = {
        (r.url, r.url_bucket, r.text)
        for r in spark.read.parquet(path).collect()
    }
    assert got == {("u0", 0, "a"), ("u1", 1, "b2")}


def test_merge_rewrite_runs_one_write_task_per_slot(spark, tmp_path, monkeypatch):
    """The rewrite of the changed buckets runs defaultParallelism write
    tasks, whatever the number of buckets it rewrites."""
    base = gen_pages(60, seed=90, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "slots")
    inc_src = str(tmp_path / "slots_inc.parquet")
    _write_pages(_new_and_updated(base, 5, seed=89), inc_src)
    tasks = _record_write_tasks(spark, monkeypatch)
    rep = run_merge(
        spark,
        MergeConfig(increment_path=inc_src, output_path=out, run_id="M-slots",
                    buckets=BUCKETS),
        default_rules(),
    )
    assert rep["buckets_rewritten"]
    assert tasks == [spark.sparkContext.defaultParallelism]


def _files(root):
    """{relative path: mtime_ns} of every file under the table root."""
    return {
        os.path.relpath(os.path.join(d, n), root): os.stat(os.path.join(d, n)).st_mtime_ns
        for d, _, names in os.walk(root)
        for n in names
    }


@pytest.mark.parametrize("table_buckets, merge_buckets", [(16, 8), (8, 16)])
def test_merge_refuses_another_bucket_count(spark, tmp_path, table_buckets, merge_buckets):
    """A merge at a bucket count the table was not written with would
    place re-crawled urls under another bucket than their committed rows
    (16 -> 8 left 70 rows for 65 urls). It raises, naming both counts,
    before anything is written: (16, 8) from a committed bucket >= 8,
    (8, 16) from committed rows that 16 buckets place elsewhere."""
    base = gen_pages(60, seed=88, dup_frac=0.0)
    src = str(tmp_path / "base.parquet")
    _write_pages(base, src)
    out = str(tmp_path / "table")
    run_extract(
        spark, ExtractConfig(src, out, run_id="R-b", buckets=table_buckets), default_rules()
    )
    inc_src = str(tmp_path / "inc.parquet")
    _write_pages(_new_and_updated(base, 5, seed=87), inc_src)
    before = _files(out)
    with pytest.raises(ValueError) as err:
        run_merge(
            spark, MergeConfig(inc_src, out, run_id="M-b", buckets=merge_buckets),
            default_rules(),
        )
    assert f"written with {table_buckets} buckets" in str(err.value)
    assert f"buckets={merge_buckets}" in str(err.value)
    assert _files(out) == before


def test_resume_refuses_another_bucket_count(spark, tmp_path):
    """A --resume at another bucket count than its first attempt would
    write the urls of the buckets it skips a second time, under other
    buckets. The first attempt wrote buckets 0-3 of 8; the resume at 16
    raises, naming both counts, before anything is written."""
    base = gen_pages(60, seed=86, dup_frac=0.0)
    src, part = str(tmp_path / "base.parquet"), str(tmp_path / "part.parquet")
    _write_pages(base, src)
    _write_pages(_in_buckets(spark, base, 8, {0, 1, 2, 3}), part)
    out = str(tmp_path / "table")
    first = run_extract(
        spark, ExtractConfig(part, out, run_id="R-rb", buckets=8), default_rules()
    )
    assert first["buckets_written"] == [0, 1, 2, 3]
    before = _files(out)
    with pytest.raises(ValueError) as err:
        run_extract(
            spark, ExtractConfig(src, out, run_id="R-rb", buckets=16, resume=True),
            default_rules(),
        )
    assert "written with 8 buckets" in str(err.value)
    assert "buckets=16" in str(err.value)
    assert _files(out) == before
