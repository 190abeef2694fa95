"""The driver-written lineage and snapshot ledger (sources/snapshots.py,
sources/io.py ``append_lineage``): one exclusively created file per commit,
snapshot seq taken from the file listing. Two writers never share a seq
(and a loser leaves no lineage), a crash between the lineage and snapshot
files leaves a committable table, a writer killed inside
``create_exclusive`` leaves nothing a reader sees, tables with Spark-named
ledger files keep committing, and a root the ledger cannot reach fails
before the data job."""

import os
import shutil
import subprocess
import sys
import threading

import pyarrow.parquet as pq
import pytest

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"),
)

from corsearch_project_spark.fixtures.gen_pages import gen_pages
from corsearch_project_spark.plans.extract_pipeline import (
    ExtractConfig,
    commit_run,
    run_extract,
)
from corsearch_project_spark.plans.merge_pipeline import MergeConfig, run_merge
from corsearch_project_spark.sources.fs import LOCAL_FS
from corsearch_project_spark.sources import snapshots as S
from corsearch_project_spark.sources.io import (
    ParquetBucketedFormat,
    done_buckets,
    lineage_file_name,
    run_lineage_files,
)
from corsearch_project_spark.sources.lineage import LINEAGE_INPUT_SCHEMA, lineage_rows
from corsearch_project_spark.sources.maintenance import vacuum_staging
from corsearch_project_spark.sources.schemas import LINEAGE_SCHEMA

from test_merge import BUCKETS, _extract_all, _in_buckets, _table_state, _write_pages

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _history(snap_path):
    """The snapshot rows under ``snap_path`` in seq order, read on the
    driver as every program read of the ledger is."""
    files = S.read_ledger(S.ledger_files(snap_path), S.SNAPSHOT_SCHEMA.fieldNames())
    return sorted((r for rs in files.values() for r in rs), key=lambda r: r["seq"])


def _written_rows(spark, out):
    """``write_extracted``'s per-bucket rows for the table committed at
    ``out``, recomputed from its files."""
    ext = spark.read.schema(LINEAGE_INPUT_SCHEMA).parquet(os.path.join(out, "extracted"))
    return [
        {"url_bucket": r["url_bucket"], "doc_count": r["doc_count"],
         "bytes_in": r["bytes_in"], "extract_us": 1000 * r["wall_ms"],
         "sha256_rollup": r["sha256_rollup"]}
        for r in lineage_rows(ext, "", "").collect()
    ]


def _lineage(run_id, k):
    """Two lineage rows whose totals identify ``run_id``'s commit."""
    return [
        {"url_bucket": b, "doc_count": 10 * k + b, "bytes_in": 1000 * k + b,
         "sha256_rollup": f"{k:08x}" * 7 + f"{b:08x}"}
        for b in (1, 5)
    ]


def test_racing_writers_never_share_a_seq(spark, tmp_path, monkeypatch):
    """Writers that all read the same next seq race for it: exactly one
    commits it, every other append_snapshot raises SeqConflictError, and
    the ledger keeps one intact row per seq."""
    snap = str(tmp_path / "snapshots")
    first = S.append_snapshot(spark, snap, "A", "overwrite", _lineage("A", 0))
    assert first["seq"] == 0

    n = 8
    barrier = threading.Barrier(n, timeout=60)
    real_latest = S.latest_seq

    def racing_latest(path, fs=S.LOCAL_FS):
        seq = real_latest(path, fs)
        barrier.wait()  # every writer has read the same latest seq
        return seq

    monkeypatch.setattr(S, "latest_seq", racing_latest)
    results = {}

    def commit(k):
        try:
            results[k] = S.append_snapshot(
                spark, snap, f"W{k}", "merge-increment", _lineage(f"W{k}", k + 1)
            )
        except S.SeqConflictError as e:
            results[k] = e

    threads = [threading.Thread(target=commit, args=(k,)) for k in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert len(results) == n
    won = [v for v in results.values() if isinstance(v, dict)]
    assert len(won) == 1, results
    assert won[0]["seq"] == 1

    rows = _history(snap)
    assert [r["seq"] for r in rows] == [0, 1]
    assert rows == [first, won[0]]
    assert sorted(pq.read_table(snap).column("seq").to_pylist()) == [0, 1]


def test_crash_between_lineage_and_snapshot_file_leaves_committable_table(
    spark, tmp_path, monkeypatch
):
    """A commit that dies after its lineage file landed and before its
    snapshot file: the next run on the same root commits with a fresh seq,
    and the ledgers stay readable."""
    from validate_table import validate_table

    base = gen_pages(40, seed=91, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "crash")
    src = str(tmp_path / "crash.parquet")

    class _Crash(Exception):
        pass

    def crash(*args, **kwargs):
        raise _Crash("killed before the snapshot file")

    monkeypatch.setattr(S, "append_snapshot", crash)
    with pytest.raises(_Crash):
        run_extract(spark, ExtractConfig(src, out, run_id="R-dead", buckets=BUCKETS))
    monkeypatch.undo()

    lin_path, snap_path = os.path.join(out, "lineage"), os.path.join(out, "snapshots")
    written = done_buckets(lin_path, "R-crash")
    assert written
    assert done_buckets(lin_path, "R-dead") == written  # lineage landed
    hist = _history(snap_path)
    assert [r["run_id"] for r in hist] == ["R-crash"]

    rep = run_extract(spark, ExtractConfig(src, out, run_id="R-next", buckets=BUCKETS))
    assert rep["snapshot"]["seq"] == 1
    hist = _history(snap_path)
    assert [(r["seq"], r["run_id"]) for r in hist] == [(0, "R-crash"), (1, "R-next")]
    assert done_buckets(lin_path, "R-next") == written
    v = validate_table(
        spark, os.path.join(out, "extracted"), lin_path, "R-next",
        snapshots_path=snap_path,
    )
    assert v["ok"], v


def test_resume_commits_the_snapshot_a_crash_left_out(spark, tmp_path, monkeypatch):
    """A commit that dies between its lineage and snapshot files leaves
    lineage rows that count as done buckets. Here the run dies there
    twice (the second attempt without --resume), so lineage holds two
    rows per bucket. A --resume of that run skips every bucket and still
    commits exactly one snapshot for it, one row per bucket, with the
    lineage totals; a further resume appends nothing."""
    from validate_table import validate_table

    base = gen_pages(40, seed=97, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "orphan")
    src = str(tmp_path / "orphan.parquet")
    lin_path, snap_path = os.path.join(out, "lineage"), os.path.join(out, "snapshots")

    class _Crash(Exception):
        pass

    real = S.append_snapshot
    crashes = []

    def crash_twice(*args, **kwargs):
        if len(crashes) < 2:
            crashes.append(1)
            raise _Crash("killed before the snapshot file")
        return real(*args, **kwargs)

    monkeypatch.setattr(S, "append_snapshot", crash_twice)
    cfg = ExtractConfig(src, out, run_id="R-torn", buckets=BUCKETS)
    for _ in range(2):
        with pytest.raises(_Crash):
            run_extract(spark, cfg)
    assert [r["run_id"] for r in _history(snap_path)] == ["R-orphan"]
    lin_rows = (
        spark.read.schema(LINEAGE_SCHEMA).parquet(lin_path)
        .where("run_id = 'R-torn'").collect()
    )
    by_bucket = {}
    for r in lin_rows:
        by_bucket.setdefault(r["url_bucket"], set()).add(
            (r["doc_count"], r["bytes_in"], r["sha256_rollup"])
        )
    assert len(lin_rows) == 2 * len(by_bucket)
    assert all(len(v) == 1 for v in by_bucket.values())  # both attempts agree
    lin = [v.pop() for _, v in sorted(by_bucket.items())]

    cfg.resume = True
    rep = run_extract(spark, cfg)
    assert rep["buckets_written"] == []
    assert rep["buckets_skipped"] == sorted(by_bucket)
    snap = rep["snapshot"]
    assert (snap["seq"], snap["run_id"], snap["operation"]) == (1, "R-torn", "resume-append")
    assert snap["buckets"] == rep["buckets_skipped"]
    assert snap["n_buckets"] == len(lin)
    assert snap["doc_count"] == sum(d for d, _, _ in lin) == len(base)
    assert snap["bytes_in"] == sum(b for _, b, _ in lin)
    assert snap["rollup_xor"] == S._xor_hex([h for _, _, h in lin])
    hist = _history(snap_path)
    assert [h for h in hist if h["run_id"] == "R-torn"] == [snap]
    v = validate_table(
        spark, os.path.join(out, "extracted"), lin_path, "R-torn",
        snapshots_path=snap_path,
    )
    assert v["ok"], v

    assert run_extract(spark, cfg)["snapshot"] is None
    assert len(_history(snap_path)) == 2


def test_done_buckets_reads_only_the_runs_lineage_files(tmp_path):
    """done_buckets reads, on the driver, the run's own lin-<run_id>-*
    files, the lin-compact-* file of expiry and Spark-named part-* files
    of older tables; other runs' files are not opened."""
    from corsearch_project_spark.sources.fs import LocalFS
    from corsearch_project_spark.sources.schemas import LINEAGE_SCHEMA

    lin = str(tmp_path / "lineage")

    def row(run_id, b, status="done"):
        return {"run_id": run_id, "url_bucket": b, "input_split": "x",
                "doc_count": 1, "sha256_rollup": "0" * 64, "status": status,
                "wall_ms": 0, "bytes_in": 1}

    fmt = ParquetBucketedFormat()
    fmt.append_lineage([row("R-a", 1), row("R-a", 2)], lin)
    fmt.append_lineage([row("R-a", 2), row("R-a", 9, "failed")], lin)
    fmt.append_lineage([row("R-ab", 3)], lin)
    fmt.append_lineage([row("R", 4)], lin)
    S.write_ledger_file(
        lin, lineage_file_name("compact"), [row("R-a", 5), row("R", 6)], LINEAGE_SCHEMA
    )
    S.write_ledger_file(
        lin, "part-00000-x.snappy.parquet", [row("R-a", 7), row("Z", 8)], LINEAGE_SCHEMA
    )

    class Recording(LocalFS):
        def __init__(self):
            self.read = []

        def read_bytes(self, path):
            self.read.append(os.path.basename(path))
            return super().read_bytes(path)

    fs = Recording()
    assert done_buckets(lin, "R-a", fs) == [1, 2, 5, 7]
    assert len(fs.read) == 4, fs.read  # 2 own files, compact, part
    assert all(n.startswith(("lin-R-a-", "lin-compact-", "part-")) for n in fs.read)
    assert done_buckets(lin, "R", LocalFS()) == [4, 6]
    assert done_buckets(str(tmp_path / "missing"), "R-a") == []


def _record_commit_runs(spark, monkeypatch):
    """Run every commit_run of the pipelines in a job group of its own;
    returns the list of (group, lineage rows, snapshot) it fills."""
    from corsearch_project_spark.plans import extract_pipeline, merge_pipeline

    sc = spark.sparkContext
    commits = []

    def recording(real):
        def commit(*args, **kwargs):
            group = f"commit-run-{len(commits)}"
            sc.setJobGroup(group, "commit_run")
            try:
                rows, snap = real(*args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            commits.append((group, rows, snap))
            return rows, snap

        return commit

    for mod in (extract_pipeline, merge_pipeline):
        monkeypatch.setattr(mod, "commit_run", recording(mod.commit_run))
    return commits


def _jobs(spark, group):
    return spark.sparkContext.statusTracker().getJobIdsForGroup(group)


def test_resume_lineage_reads_only_the_buckets_it_commits(spark, tmp_path, monkeypatch):
    """A --resume's commit takes its lineage from the writer's per-bucket
    rows: it reads nothing of the table (no Spark job), and its lineage
    rows and snapshot cover exactly the buckets it wrote, not the ones the
    first attempt committed."""
    src = str(tmp_path / "part.parquet")
    base = gen_pages(60, seed=96, dup_frac=0.0)
    _write_pages(base, src)
    out = str(tmp_path / "part")
    part = str(tmp_path / "part0-3.parquet")
    _write_pages(_in_buckets(spark, base, BUCKETS, {0, 1, 2, 3}), part)
    cfg = ExtractConfig(part, out, run_id="R-part", buckets=BUCKETS)
    assert run_extract(spark, cfg)["buckets_written"] == [0, 1, 2, 3]

    commits = _record_commit_runs(spark, monkeypatch)
    cfg.input_path, cfg.resume = src, True
    rep = run_extract(spark, cfg)
    assert rep["buckets_skipped"] == [0, 1, 2, 3]
    assert rep["buckets_written"] == [4, 5, 6, 7]
    assert rep["snapshot"]["buckets"] == [4, 5, 6, 7]
    ((group, rows, snap),) = commits
    assert _jobs(spark, group) == []
    assert sorted(r["url_bucket"] for r in rows) == [4, 5, 6, 7]
    assert snap["buckets"] == [4, 5, 6, 7]


def test_commit_read_back_runs_no_schema_inference_job(spark, tmp_path, monkeypatch):
    """commit_run builds its lineage from the writer's per-bucket rows and
    does not read the committed table back, so neither a backfill's nor a
    merge's commit runs a Spark job -- in particular not the footer
    inference job of a schema-less read ("parquet at ...")."""
    commits = _record_commit_runs(spark, monkeypatch)
    base = gen_pages(30, seed=98, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "readback")
    inc = str(tmp_path / "inc.parquet")
    _write_pages([dict(base[0], html=base[1]["html"], text=base[1]["text"])], inc)
    rep = run_merge(spark, MergeConfig(inc, out, run_id="M-rb", buckets=BUCKETS))
    assert len(rep["buckets_rewritten"]) == 1

    assert len(commits) == 2
    assert commits[0][2]["doc_count"] == len(base)
    assert [_jobs(spark, group) for group, _, _ in commits] == [[], []]


def test_killed_writer_leftover_is_invisible_and_vacuumed(spark, tmp_path):
    """A writer killed inside create_exclusive, after its temp file and
    before the link, leaves a dot-prefixed .tmp file: Spark, pyarrow and the
    seq listing ignore it, vacuum_staging reaps it, and commits go on."""
    base = gen_pages(30, seed=92, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "kill")
    snap = os.path.join(out, "snapshots")
    code = (
        "import os, sys\n"
        "os.link = lambda *a: os._exit(3)\n"
        "from corsearch_project_spark.sources.snapshots import append_snapshot\n"
        "append_snapshot(None, sys.argv[1], 'R-killed', 'overwrite', [])\n"
    )
    proc = subprocess.run([sys.executable, "-c", code, snap], cwd=REPO, timeout=300)
    assert proc.returncode == 3
    tmp = [n for n in os.listdir(snap) if n.endswith(".tmp")]
    assert len(tmp) == 1 and tmp[0].startswith(".seq-000000000001.parquet.")

    assert [r["run_id"] for r in _history(snap)] == ["R-kill"]
    assert pq.read_table(snap).column("run_id").to_pylist() == ["R-kill"]
    assert S.latest_seq(snap) == 0

    rep = vacuum_staging(out)
    assert rep["staging_dirs_removed"] == ["snapshots/" + tmp[0]]
    assert rep["bytes_freed"] > 0
    assert not any(n.endswith(".tmp") for n in os.listdir(snap))

    src = str(tmp_path / "kill.parquet")
    nxt = run_extract(spark, ExtractConfig(src, out, run_id="R-after", buckets=BUCKETS))
    assert nxt["snapshot"]["seq"] == 1


_LINEAGE_KEYS = ("doc_count", "sha256_rollup", "bytes_in", "wall_ms")


def _assert_lineage_is_read_back(spark, out, run_id):
    """Every lineage row ``run_id`` committed equals ``lineage_rows`` over
    its bucket of the committed table."""
    ext = ParquetBucketedFormat().read_extracted(
        spark, os.path.join(out, "extracted"), LINEAGE_INPUT_SCHEMA
    )
    want = {
        r["url_bucket"]: tuple(r[k] for k in _LINEAGE_KEYS)
        for r in lineage_rows(ext, run_id, "").collect()
    }
    files = S.read_ledger(
        run_lineage_files(os.path.join(out, "lineage"), run_id), LINEAGE_SCHEMA.fieldNames()
    )
    got = {}
    for r in (r for rs in files.values() for r in rs if r["run_id"] == run_id):
        got.setdefault(r["url_bucket"], set()).add(tuple(r[k] for k in _LINEAGE_KEYS))
    assert got
    assert got == {b: {want[b]} for b in got}


def test_writer_lineage_equals_read_back(spark, tmp_path):
    """The lineage rows commit_run writes from the writer's per-bucket
    rows equal lineage_rows over the committed table, bucket by bucket:
    after a backfill, a with_markdown backfill, a merge and a --resume."""
    base = gen_pages(60, seed=81, dup_frac=0.1)
    out = _extract_all(spark, tmp_path, base, "wl")
    _assert_lineage_is_read_back(spark, out, "R-wl")

    out_md = _extract_all(spark, tmp_path, base, "wlmd", with_markdown=True)
    _assert_lineage_is_read_back(spark, out_md, "R-wlmd")

    inc = gen_pages(10, seed=82, dup_frac=0.0)
    for r in inc:
        r["url"] = r["url"].replace("https://", "https://inc-")
    inc += [dict(r, html=d["html"], text=d["text"]) for r, d in zip(base[:5], base[30:35])]
    inc_src = str(tmp_path / "wl_inc.parquet")
    _write_pages(inc, inc_src)
    rep = run_merge(spark, MergeConfig(inc_src, out, run_id="M-wl", buckets=BUCKETS))
    assert rep["buckets_rewritten"]
    _assert_lineage_is_read_back(spark, out, "M-wl")

    src, part = str(tmp_path / "wl_full.parquet"), str(tmp_path / "wl_part.parquet")
    _write_pages(base, src)
    _write_pages(_in_buckets(spark, base, BUCKETS, {0, 1, 2}), part)
    cfg = ExtractConfig(part, str(tmp_path / "wl_resume"), run_id="R-res", buckets=BUCKETS)
    run_extract(spark, cfg)
    cfg.input_path, cfg.resume = src, True
    assert run_extract(spark, cfg)["buckets_skipped"] == [0, 1, 2]
    _assert_lineage_is_read_back(spark, cfg.output_path, "R-res")


def test_max_records_per_file_rolls_files_and_the_rollup_covers_them(spark, tmp_path):
    """At max_records_per_file=4 each bucket's rows roll over files of 4
    rows (the last one shorter), url-sorted across the files, and the
    bucket's lineage rollup covers every file."""
    from validate_table import validate_table

    base = gen_pages(60, seed=83, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "roll", max_records_per_file=4)
    ext = os.path.join(out, "extracted")
    total, most = 0, 0
    for bucket in sorted(n for n in os.listdir(ext) if n.startswith("url_bucket=")):
        files = sorted(os.listdir(os.path.join(ext, bucket)))
        urls = [pq.read_table(os.path.join(ext, bucket, f)).column("url").to_pylist() for f in files]
        assert [len(u) for u in urls[:-1]] == [4] * (len(urls) - 1), (bucket, urls)
        assert 0 < len(urls[-1]) <= 4
        flat = [u for us in urls for u in us]
        assert flat == sorted(flat)
        total += len(flat)
        most = max(most, len(files))
    assert total == len(base)
    assert most > 1
    _assert_lineage_is_read_back(spark, out, "R-roll")
    v = validate_table(
        spark, ext, os.path.join(out, "lineage"), "R-roll",
        snapshots_path=os.path.join(out, "snapshots"),
    )
    assert v["ok"], v


def _data_files(out):
    """``_bucket_files`` without the staging leftovers readers skip."""
    return {p: m for p, m in _bucket_files(out).items() if not p.startswith("_")}


def test_bucket_commit_crash_keeps_the_old_table_and_resume_converges(
    spark, tmp_path, monkeypatch
):
    """A backfill whose bucket commit raises after the fused write stage
    leaves the old table as Spark, pyarrow and validate_table see it (the
    new files sit under _temporary); a --resume of the run commits it,
    and vacuum_staging reaps the dead staging directory."""
    from validate_table import validate_table

    from corsearch_project_spark.sources import io

    base = gen_pages(40, seed=84, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "cc")
    ext, lin, snap = (os.path.join(out, d) for d in ("extracted", "lineage", "snapshots"))
    before = _table_state(spark, out)
    arrow_before = sorted(map(tuple, pq.read_table(ext, columns=["url", "text_sha256"]).to_pylist()))
    files = _data_files(out)
    new = [dict(r, html=d["html"], text=d["text"]) for r, d in zip(base, base[20:] + base[:20])]
    src = str(tmp_path / "cc_new.parquet")
    _write_pages(new, src)

    class _Crash(Exception):
        pass

    def crash(*args, **kwargs):
        raise _Crash("killed before the bucket commit")

    monkeypatch.setattr(io, "commit_buckets", crash)
    cfg = ExtractConfig(src, out, run_id="R-cc2", buckets=BUCKETS)
    with pytest.raises(_Crash):
        run_extract(spark, cfg)
    monkeypatch.undo()

    assert os.listdir(os.path.join(ext, "_temporary"))
    assert _data_files(out) == files
    assert _table_state(spark, out) == before
    arrow = pq.read_table(ext, columns=["url", "text_sha256"]).to_pylist()
    assert sorted(map(tuple, arrow)) == arrow_before
    v = validate_table(spark, ext, lin, "R-cc", snapshots_path=snap)
    assert v["ok"], v
    assert [r["run_id"] for r in _history(snap)] == ["R-cc"]

    cfg.resume = True
    rep = run_extract(spark, cfg)
    assert rep["buckets_skipped"] == []
    assert rep["buckets_written"] == done_buckets(lin, "R-cc")
    v = validate_table(spark, ext, lin, "R-cc2", snapshots_path=snap)
    assert v["ok"], v
    assert _table_state(spark, out) == _table_state(
        spark, _extract_all(spark, tmp_path, new, "cc_clean")
    )
    rep = vacuum_staging(out)
    assert rep["staging_dirs_removed"] == ["extracted/_temporary"]
    assert not os.path.exists(os.path.join(ext, "_temporary"))


def test_dead_attempt_under_temporary_is_never_committed(spark, tmp_path, monkeypatch):
    """Only the task attempts whose rows the write stage returned are
    committed: a dead attempt's directory planted under the run's own
    staging directory, and one of an older dead run, never reach the
    table; the older one stays for vacuum_staging."""
    import pyarrow as pa

    from corsearch_project_spark.sources import io

    base = gen_pages(40, seed=85, dup_frac=0.0)
    src = str(tmp_path / "att.parquet")
    _write_pages(base, src)
    out = str(tmp_path / "att")
    ext = os.path.join(out, "extracted")
    dead = pa.table({"url": ["https://dead.example/"]})
    older = os.path.join(ext, "_temporary", "deadrun", "attempt-7", "url_bucket=0")
    os.makedirs(older)
    pq.write_table(dead, os.path.join(older, "part-00000-deadrun.zstd.parquet"))

    real, committed = io.commit_buckets, {}

    def plant_then_commit(filesystem, root, run, written):
        for w in written:
            d = f"{root}/_temporary/{run}/attempt-999999/url_bucket={w['url_bucket']}"
            os.makedirs(d)
            pq.write_table(dead, os.path.join(d, f"part-00000-{run}.zstd.parquet"))
            committed[w["url_bucket"]] = w["files"]
        return real(filesystem, root, run, written)

    monkeypatch.setattr(io, "commit_buckets", plant_then_commit)
    rep = run_extract(spark, ExtractConfig(src, out, run_id="R-att", buckets=BUCKETS))
    monkeypatch.undo()

    assert sorted(committed) == rep["buckets_written"]
    for b, names in committed.items():
        assert sorted(os.listdir(os.path.join(ext, f"url_bucket={b}"))) == sorted(names)
    urls = {r["url"] for r in spark.read.parquet(ext).select("url").collect()}
    assert urls == {r["url"] for r in base}
    assert os.listdir(os.path.join(ext, "_temporary")) == ["deadrun"]
    assert vacuum_staging(out)["staging_dirs_removed"] == ["extracted/_temporary"]


def _bucket_files(out):
    """{relative path: mtime_ns} of every data file under extracted/."""
    ext = os.path.join(out, "extracted")
    return {
        os.path.relpath(os.path.join(d, n), ext): os.stat(os.path.join(d, n)).st_mtime_ns
        for d, _, names in os.walk(ext)
        for n in names
    }


def _to_spark_layout(spark, path, schema):
    """Rewrite a driver-written ledger dir in the layout Spark's writer
    left before seq-named files: part-*.parquet plus _SUCCESS."""
    rows = spark.read.schema(schema).parquet(path).collect()
    shutil.rmtree(path)
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
    assert not any(n.startswith(("seq-", "lin-")) for n in os.listdir(path))


def test_legacy_spark_named_ledger_keeps_committing(spark, tmp_path):
    """A table committed before seq-named files holds Spark-named
    part-*.parquet ledger files. Their committed seq is read from the
    file, so the next run_extract commits the next seq, and the manifest
    guard sees it."""
    from corsearch_project_spark.sources.manifest import _latest_seq
    from corsearch_project_spark.sources.schemas import LINEAGE_SCHEMA

    base = gen_pages(30, seed=93, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "legacy")
    snap, lin = os.path.join(out, "snapshots"), os.path.join(out, "lineage")
    S.append_snapshot(spark, snap, "R-legacy-2", "merge-increment", _lineage("L", 2))
    _to_spark_layout(spark, snap, S.SNAPSHOT_SCHEMA)
    _to_spark_layout(spark, lin, LINEAGE_SCHEMA)
    assert S.latest_seq(snap) == 1
    assert _latest_seq(snap) == 1

    src = str(tmp_path / "legacy.parquet")
    rep = run_extract(spark, ExtractConfig(src, out, run_id="R-new", buckets=BUCKETS))
    assert rep["snapshot"]["seq"] == 2
    assert "seq-000000000002.parquet" in os.listdir(snap)
    hist = _history(snap)
    assert [(r["seq"], r["run_id"]) for r in hist] == [
        (0, "R-legacy"), (1, "R-legacy-2"), (2, "R-new")
    ]
    assert done_buckets(lin, "R-new") == done_buckets(lin, "R-legacy")
    assert S.latest_seq(snap) == _latest_seq(snap) == 2


def test_unreadable_unnamed_snapshot_file_stops_before_the_data_job(spark, tmp_path):
    """A Parquet file in snapshots/ whose name carries no seq and whose
    contents cannot be read stops the commit rather than letting it guess
    the next seq — and run_extract stops before it rewrites any bucket."""
    base = gen_pages(30, seed=94, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "torn")
    snap = os.path.join(out, "snapshots")
    with open(os.path.join(snap, "part-00000-c000.snappy.parquet"), "wb"):
        pass
    before = sorted(os.listdir(snap))
    with pytest.raises(ValueError, match="cannot be read"):
        S.latest_seq(snap)
    with pytest.raises(ValueError, match="cannot be read"):
        S.append_snapshot(None, snap, "X", "overwrite", _lineage("X", 1))
    assert sorted(os.listdir(snap)) == before

    files = _bucket_files(out)
    src = str(tmp_path / "torn.parquet")
    with pytest.raises(ValueError, match="cannot be read"):
        run_extract(spark, ExtractConfig(src, out, run_id="R-no", buckets=BUCKETS))
    assert _bucket_files(out) == files
    assert sorted(os.listdir(snap)) == before


def test_uri_table_root_commits_or_fails_before_the_data_job(
    spark, tmp_path, monkeypatch
):
    """A file: URI root commits its ledger like a plain path. A root the
    ledger's fs cannot reach (s3a:// on LocalFS) fails before any data
    is written."""
    src = str(tmp_path / "uri.parquet")
    _write_pages(gen_pages(30, seed=95, dup_frac=0.0), src)
    out = str(tmp_path / "uri")
    rep = run_extract(
        spark, ExtractConfig(src, "file://" + out, run_id="R-uri", buckets=BUCKETS)
    )
    assert rep["snapshot"]["seq"] == 0
    assert [r["run_id"] for r in _history(out + "/snapshots")] == ["R-uri"]
    for d, schema in (("lineage", LINEAGE_SCHEMA), ("snapshots", S.SNAPSHOT_SCHEMA)):
        (name,) = os.listdir(os.path.join(out, d))
        rows = spark.read.schema(schema).parquet(os.path.join(out, d, name)).collect()
        assert {r["run_id"] for r in rows} == {"R-uri"}
    rep = run_extract(
        spark, ExtractConfig(src, "file:" + out, run_id="R-uri2", buckets=BUCKETS)
    )
    assert rep["snapshot"]["seq"] == 1

    writes = []
    monkeypatch.setattr(
        ParquetBucketedFormat, "write_extracted",
        lambda self, df, path, kernel=None: writes.append(path),
    )
    with pytest.raises(ValueError, match="pass an fs adapter"):
        run_extract(
            spark, ExtractConfig(src, "s3a://bucket/table", run_id="R-s3", buckets=BUCKETS)
        )
    with pytest.raises(ValueError, match="pass an fs adapter"):
        run_merge(
            spark, MergeConfig(src, "s3a://bucket/table", run_id="M-s3", buckets=BUCKETS)
        )
    assert writes == []


def test_seq_race_loser_removes_its_lineage_file(spark, tmp_path, monkeypatch):
    """Whole commits racing for one seq: the winner's lineage and
    snapshot land; each loser raises SeqConflictError and removes its own
    lineage file, so lineage holds only the winner's rows and a --resume
    of a losing run redoes its buckets."""
    base = gen_pages(30, seed=96, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "race")
    src = str(tmp_path / "race.parquet")
    lin = os.path.join(out, "lineage")
    fmt = ParquetBucketedFormat()
    written = done_buckets(lin, "R-race")
    rows = _written_rows(spark, out)

    n = 3
    barrier = threading.Barrier(n, timeout=120)
    real_latest = S.latest_seq

    def racing_latest(path, fs=S.LOCAL_FS):
        seq = real_latest(path, fs)
        barrier.wait()  # every writer's lineage file landed, same seq read
        return seq

    monkeypatch.setattr(S, "latest_seq", racing_latest)
    results = {}

    def commit(k):
        cfg = ExtractConfig(src, out, run_id=f"W{k}", buckets=BUCKETS)
        try:
            results[k] = commit_run(fmt, cfg, "overwrite", src, rows)[1]
        except S.SeqConflictError as e:
            results[k] = e

    threads = [threading.Thread(target=commit, args=(k,)) for k in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    monkeypatch.undo()
    assert not any(t.is_alive() for t in threads)
    won = [k for k, v in results.items() if isinstance(v, dict)]
    assert len(won) == 1, results
    assert all(isinstance(results[k], S.SeqConflictError) for k in results if k not in won)
    assert results[won[0]]["seq"] == 1

    runs = {r["run_id"] for r in spark.read.parquet(lin).select("run_id").collect()}
    assert runs == {"R-race", f"W{won[0]}"}
    assert len([n for n in os.listdir(lin) if n.endswith(".parquet")]) == 2
    assert done_buckets(lin, f"W{won[0]}") == written
    for k in results:
        if k not in won:
            assert done_buckets(lin, f"W{k}") == []
    hist = _history(os.path.join(out, "snapshots"))
    assert [(r["seq"], r["run_id"]) for r in hist] == [(0, "R-race"), (1, f"W{won[0]}")]


def test_create_exclusive_syncs_data_before_linking_it(tmp_path, monkeypatch):
    """The file's bytes reach the disk before its name does, and the name
    is synced after: a power loss leaves no file or all of it."""
    events = []
    real_fsync, real_link = os.fsync, os.link
    monkeypatch.setattr(os, "fsync", lambda fd: (events.append("fsync"), real_fsync(fd)))
    monkeypatch.setattr(os, "link", lambda a, b: (events.append("link"), real_link(a, b)))
    LOCAL_FS.create_exclusive(str(tmp_path / "d" / "f.bin"), b"abc")
    assert events == ["fsync", "link", "fsync"]
    assert (tmp_path / "d" / "f.bin").read_bytes() == b"abc"
    assert os.listdir(tmp_path / "d") == ["f.bin"]
    with pytest.raises(FileExistsError):
        LOCAL_FS.create_exclusive("file://" + str(tmp_path / "d" / "f.bin"), b"x")
    assert (tmp_path / "d" / "f.bin").read_bytes() == b"abc"
