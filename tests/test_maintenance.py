"""Snapshot expiration + staging vacuum (sources/maintenance.py,
jobs/expire_table.py): the retention invariant is that expiry NEVER touches
data files and never expires the latest writer of any bucket, so
validate_table reconciles identically before and after. Expiry only
deletes whole ledger files: a crash leaves a subset of the deletions, a
racing commit survives, and a file that mixes a kept run's rows stays."""

import itertools
import json
import os
import shutil
import sys

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"),
)

import pytest

from corsearch_project_spark.fixtures.gen_pages import default_rules, gen_pages
from corsearch_project_spark.plans.extract_pipeline import ExtractConfig, run_extract
from corsearch_project_spark.plans.merge_pipeline import MergeConfig, run_merge
from corsearch_project_spark.sources.fs import LOCAL_FS
from corsearch_project_spark.sources.io import ParquetBucketedFormat
from corsearch_project_spark.sources.maintenance import (
    expire_snapshots,
    latest_writers,
    vacuum_staging,
)
from corsearch_project_spark.sources.schemas import LINEAGE_SCHEMA
from corsearch_project_spark.sources.snapshots import append_snapshot

from test_ledger import _history
from test_merge import BUCKETS, _extract_all, _table_state, _write_pages


def _merge(spark, out, tmp_path, rows, run_id):
    src = str(tmp_path / f"{run_id}.parquet")
    _write_pages(rows, src)
    return run_merge(
        spark,
        MergeConfig(increment_path=src, output_path=out, run_id=run_id,
                    buckets=BUCKETS),
        default_rules(),
    )


def _swap_body(r, donor):
    r2 = dict(r)
    r2["html"] = donor["html"]
    r2["text"] = donor["text"]
    return r2


def _three_commit_table(spark, tmp_path):
    """extract R-base (all buckets) + merge M1 (some buckets) + merge M2
    (a different bucket) — a history where R-base is outside any small
    keep window but remains latest writer of untouched buckets."""
    base = gen_pages(60, seed=95, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "exp")
    m1 = [_swap_body(base[0], base[20]), _swap_body(base[1], base[21])]
    rep1 = _merge(spark, out, tmp_path, m1, "M1")
    m2 = [_swap_body(base[5], base[30])]
    rep2 = _merge(spark, out, tmp_path, m2, "M2")
    assert rep1["buckets_rewritten"] and rep2["buckets_rewritten"]
    return out


def _ledger_files(root):
    """{ledger dir/name: (mtime_ns, bytes)} of every file in lineage/ and
    snapshots/."""
    state = {}
    for d in ("lineage", "snapshots"):
        for n in os.listdir(os.path.join(root, d)):
            p = os.path.join(root, d, n)
            with open(p, "rb") as f:
                state[f"{d}/{n}"] = (os.stat(p).st_mtime_ns, f.read())
    return state


def _validate(spark, out, run_id):
    from validate_table import validate_table

    return validate_table(
        spark,
        os.path.join(out, "extracted"),
        os.path.join(out, "lineage"),
        run_id,
        snapshots_path=os.path.join(out, "snapshots"),
    )


def _runs(spark, out):
    return {r["run_id"] for r in _history(os.path.join(out, "snapshots"))}


def test_expire_preserves_validation_and_data(spark, tmp_path):
    from validate_table import validate_table

    out = _three_commit_table(spark, tmp_path)
    state_before = _table_state(spark, out)

    report = expire_snapshots(out, keep_last=1)
    # R-base is latest writer of every bucket M1/M2 didn't rewrite -> kept
    # even though only M2 is inside the window; M1's buckets may or may not
    # all be superseded by M2 (different urls -> different buckets), so only
    # assert the invariants, not the exact expiry set.
    assert "R-exp" in report["kept_runs"]
    assert "M2" in report["kept_runs"]
    assert report["snapshots_after"] <= report["snapshots_before"]

    # data files untouched, latest-per-bucket reconciliation still green
    assert _table_state(spark, out) == state_before
    v = validate_table(
        spark,
        os.path.join(out, "extracted"),
        os.path.join(out, "lineage"),
        "M2",
        snapshots_path=os.path.join(out, "snapshots"),
    )
    assert v["ok"], v


def test_expire_drops_fully_superseded_run(spark, tmp_path):
    """A run whose every bucket was later rewritten and that is outside the
    window must actually be expired (rows gone from both ledgers)."""
    base = gen_pages(40, seed=96, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "sup")
    # M-all rewrites EVERY bucket (body swap for every url), then M-last
    # rewrites every bucket again -> M-all is fully superseded
    donors = base[20:] + base[:20]
    rep_a = _merge(spark, out, tmp_path,
                   [_swap_body(r, d) for r, d in zip(base, donors)], "M-all")
    assert set(rep_a["buckets_rewritten"]) == set(
        r.url_bucket for r in spark.read.parquet(
            os.path.join(out, "extracted")).select("url_bucket").distinct().collect()
    )
    donors2 = base[10:] + base[:10]
    _merge(spark, out, tmp_path,
           [_swap_body(r, d) for r, d in zip(base, donors2)], "M-last")

    before = _ledger_files(out)
    report = expire_snapshots(out, keep_last=1)
    assert "M-all" in report["expired_runs"]
    snaps = _history(os.path.join(out, "snapshots"))
    assert "M-all" not in {r["run_id"] for r in snaps}
    lin = spark.read.parquet(os.path.join(out, "lineage"))
    assert lin.where(lin.run_id == "M-all").count() == 0
    # kept seqs unchanged (no renumbering): next commit continues the chain
    kept_seqs = [r["seq"] for r in snaps]
    assert kept_seqs == sorted(set(kept_seqs))
    assert max(kept_seqs) == 2
    # each ledger dir holds exactly the kept run's own files, untouched
    assert report["kept_runs"] == ["M-last"]
    kept = {n: st for n, st in before.items()
            if n == "snapshots/seq-000000000002.parquet"
            or n.startswith("lineage/lin-M-last-")}
    assert len(kept) == 2 and _ledger_files(out) == kept
    rep = _merge(spark, out, tmp_path, [_swap_body(base[3], base[33])], "M-next")
    assert rep["snapshot"]["seq"] == 3


def test_expire_noop_when_window_covers_all(spark, tmp_path):
    out = _three_commit_table(spark, tmp_path)

    def file_state(d):
        fs = {}
        for dirpath, _, files in os.walk(d):
            for f in files:
                p = os.path.join(dirpath, f)
                fs[p] = os.path.getmtime(p)
        return fs

    before = file_state(out)
    report = expire_snapshots(out, keep_last=10)
    assert report["expired_runs"] == []
    assert report["lineage_rows_expired"] == 0
    assert file_state(out) == before  # ledgers not even rewritten


def test_latest_writers_replay():
    rows = [
        {"seq": 0, "run_id": "A", "buckets": [0, 1, 2]},
        {"seq": 1, "run_id": "B", "buckets": [1]},
        {"seq": 2, "run_id": "C", "buckets": [2]},
    ]
    assert latest_writers(rows) == {0: "A", 1: "B", 2: "C"}


def test_vacuum_removes_staging_only(spark, tmp_path):
    base = gen_pages(30, seed=97, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "vac")
    ext = os.path.join(out, "extracted")
    junk = os.path.join(ext, "url_bucket=0", "_temporary", "0", "task_1")
    os.makedirs(junk)
    with open(os.path.join(junk, "part-stale.parquet"), "wb") as f:
        f.write(b"x" * 1234)

    state_before = _table_state(spark, out)
    rep = vacuum_staging(ext)
    assert rep["bytes_freed"] >= 1234
    assert len(rep["staging_dirs_removed"]) == 1
    assert not os.path.exists(os.path.join(ext, "url_bucket=0", "_temporary"))
    assert _table_state(spark, out) == state_before




class _RecordingFS:
    """Object-store-shaped FS: the seam's calls (fs.LocalFS's, no more),
    with every mutation recorded. Running the full expiry through it
    proves maintenance never bypasses the seam with a raw os call (the
    round-3 'local-FS-only' finding)."""

    def __init__(self):
        self.ops = []

    def exists(self, p):
        return os.path.exists(p)

    def rmtree(self, p):
        self.ops.append(("rmtree", p))
        LOCAL_FS.rmtree(p)

    def create_exclusive(self, p, data):
        self.ops.append(("create", p))
        LOCAL_FS.create_exclusive(p, data)

    def read_bytes(self, p):
        return LOCAL_FS.read_bytes(p)

    def listdir(self, p):
        return os.listdir(p)

    def isdir(self, p):
        return os.path.isdir(p)

    def getsize(self, p):
        return os.path.getsize(p)


def _all_files(root):
    return {os.path.join(d, n): os.stat(os.path.join(d, n)).st_mtime_ns
            for d, _, names in os.walk(root) for n in names}


def test_expire_through_injected_object_store_fs(spark, tmp_path):
    """Expiry must work end-to-end through an injected FS object — i.e.
    driver-side maintenance has no hidden os dependence: every file it
    removes is an rmtree on the seam, it creates and moves nothing, and
    every other file keeps its mtime."""
    from validate_table import validate_table

    base = gen_pages(40, seed=98, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "ofs")
    donors = base[20:] + base[:20]
    _merge(spark, out, tmp_path,
           [_swap_body(r, d) for r, d in zip(base, donors)], "O1")
    _merge(spark, out, tmp_path,
           [_swap_body(r, d) for r, d in zip(base, donors[5:] + donors[:5])],
           "O2")

    before = _all_files(out)
    fs = _RecordingFS()
    report = expire_snapshots(out, keep_last=1, fs=fs)
    assert report["expired_runs"]  # something actually got expired
    after = _all_files(out)
    assert fs.ops and all(op == "rmtree" for op, _ in fs.ops)
    assert {p for _, p in fs.ops} == set(before) - set(after)
    assert after == {p: t for p, t in before.items() if p in after}
    v = validate_table(
        spark,
        os.path.join(out, "extracted"),
        os.path.join(out, "lineage"),
        "O2",
        snapshots_path=os.path.join(out, "snapshots"),
    )
    assert v["ok"], v


def test_expire_refuses_old_swap_leftover(spark, tmp_path):
    """A directory the older swap-based expiry left after a crash stops
    expiry before it deletes anything, with the manual fix in the error:
    move the aside back when the live ledger is missing, else delete the
    leftover."""
    out = _three_commit_table(spark, tmp_path)
    snap, lin = os.path.join(out, "snapshots"), os.path.join(out, "lineage")

    def refused(match):
        before = _all_files(out)
        with pytest.raises(ValueError, match=match):
            expire_snapshots(out, keep_last=1)
        assert _all_files(out) == before

    shutil.copytree(lin, lin + ".__compact__")
    refused(r"lineage\.__compact__ was left .*: delete it, then rerun")
    shutil.rmtree(lin + ".__compact__")
    shutil.copytree(snap, snap + ".__expired__")
    refused(r"snapshots\.__expired__ was left .*: delete it, then rerun")
    shutil.rmtree(snap)
    refused(r"snapshots\.__expired__ was left .*: move it back to .*/snapshots,")

    os.rename(snap + ".__expired__", snap)
    assert "M2" in expire_snapshots(out, keep_last=1)["kept_runs"]


def test_expire_cli(spark, tmp_path, capsys):
    import expire_table as J

    out = _three_commit_table(spark, tmp_path)
    torn = os.path.join(out, "snapshots", ".seq-000000000003.parquet.0a1b.tmp")
    with open(torn, "wb") as f:
        f.write(b"torn")
    rc = J.main(["--output", out, "--keep-last", "1"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "vacuum" in rep and rep["kept_runs"]
    assert rep["vacuum"]["staging_dirs_removed"] == [
        "snapshots/.seq-000000000003.parquet.0a1b.tmp"
    ]
    assert not os.path.exists(torn)

    rc = J.main(["--output", str(tmp_path / "nope"), "--keep-last", "1"])
    assert rc == 1


def test_concurrent_commit_survives_expiry(spark, tmp_path):
    """A writer that commits a new run while expiry runs — just before
    expiry's first deletion — keeps both of its ledger files: expiry
    deletes only files of the listing it decided on, and never replaces a
    ledger directory."""
    base = gen_pages(30, seed=91, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "1")
    src = str(tmp_path / "1.parquet")
    run_extract(spark, ExtractConfig(src, out, run_id="R-2", buckets=BUCKETS),
                default_rules())
    snap, lin = os.path.join(out, "snapshots"), os.path.join(out, "lineage")
    # the racing run re-commits R-2's buckets, as a re-extraction would
    rows = [dict(r.asDict(), run_id="R-3") for r in
            spark.read.schema(LINEAGE_SCHEMA).parquet(lin)
            .where("run_id = 'R-2'").collect()]
    committed = []

    class _RacingFS(_RecordingFS):
        def rmtree(self, p):
            if not committed:
                committed.append(
                    ParquetBucketedFormat().append_lineage(rows, lin))
                committed.append(
                    append_snapshot(None, snap, "R-3", "overwrite", rows)["seq"])
            super().rmtree(p)

    report = expire_snapshots(out, keep_last=1, fs=_RacingFS())
    assert report["expired_runs"] == ["R-1"]
    lin_file, seq = committed
    assert seq == 2
    assert os.path.exists(lin_file)
    assert os.path.exists(os.path.join(snap, "seq-000000000002.parquet"))
    assert sorted(os.listdir(snap)) == [
        "seq-000000000001.parquet", "seq-000000000002.parquet"
    ]
    assert _runs(spark, out) == {"R-2", "R-3"}
    v = _validate(spark, out, "R-3")
    assert v["ok"], v


class _InjectedCrash(Exception):
    pass


class _CrashableObjectStoreFS(_RecordingFS):
    """Object-store double with fault injection: the seam's calls and no
    rename; every create_exclusive (a conditional put) and rmtree ticks a
    fuse that raises after ``fail_after`` mutations."""

    def __init__(self, fail_after=None):
        super().__init__()
        self.fail_after = fail_after

    def _tick(self):
        if self.fail_after is not None and len(self.ops) >= self.fail_after:
            raise _InjectedCrash(f"injected crash at mutation {len(self.ops) + 1}")

    def create_exclusive(self, p, data):
        self._tick()
        super().create_exclusive(p, data)

    def rmtree(self, p):
        self._tick()
        super().rmtree(p)


def test_crash_anywhere_in_expiry_converges(spark, tmp_path):
    """Fault-injection sweep: run expiry through the crashing object-store
    double, crashing after the k-th mutation for every k until a run
    finishes without a crash. Every crash leaves a table that validates
    for its latest run and no run with lineage but no snapshot, and a
    crash-free rerun reaches exactly the state of an expiry that never
    crashed."""
    # M1..M3 rewrite the same urls and M-last rewrites them again, so
    # keep_last=1 expires M1, M2 and M3 (R-exp stays: latest writer of the
    # buckets no merge touched).
    base = gen_pages(40, seed=96, dup_frac=0.0)
    src_table = _extract_all(spark, tmp_path, base, "exp")
    for run_id, d in (("M1", 20), ("M2", 25), ("M3", 30), ("M-last", 35)):
        _merge(spark, src_table, tmp_path,
               [_swap_body(base[0], base[d]), _swap_body(base[1], base[d + 1])],
               run_id)

    def state(root):
        return (_runs(spark, root),
                {d: sorted(os.listdir(os.path.join(root, d)))
                 for d in ("lineage", "snapshots")},
                _table_state(spark, root))

    ref = str(tmp_path / "ref")
    shutil.copytree(src_table, ref)
    rep = expire_snapshots(ref, keep_last=1, fs=_CrashableObjectStoreFS())
    assert rep["expired_runs"] == ["M1", "M2", "M3"]
    want = state(ref)

    for k in itertools.count(1):
        root = str(tmp_path / f"crash{k}")
        shutil.copytree(src_table, root)
        try:
            expire_snapshots(root, keep_last=1, fs=_CrashableObjectStoreFS(k))
            break
        except _InjectedCrash:
            pass
        v = _validate(spark, root, "M-last")
        assert v["ok"], (k, v)
        # lineage goes first: no run is left with lineage but no snapshot,
        # the state --resume reads as a commit to finish
        lin = spark.read.schema(LINEAGE_SCHEMA).parquet(os.path.join(root, "lineage"))
        assert {r["run_id"] for r in lin.collect()} <= _runs(spark, root), k
        expire_snapshots(root, keep_last=1, fs=_CrashableObjectStoreFS())
        assert state(root) == want, k
        shutil.rmtree(root)
    assert state(root) == want
    assert k == 6  # one lineage and one snapshot file per expired run


def test_mixed_legacy_lineage_file_is_kept(spark, tmp_path):
    """A Spark-named part-* lineage file (the layout of tables committed
    before per-commit files) holding rows of a kept run and of an expired
    run stays byte-identical, while the expired run's own seq-* and lin-*
    files go."""
    base = gen_pages(40, seed=96, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "mix")
    m1 = [_swap_body(base[0], base[20]), _swap_body(base[1], base[21])]
    _merge(spark, out, tmp_path, m1, "M1")
    m2 = [_swap_body(base[0], base[25]), _swap_body(base[1], base[26])]
    _merge(spark, out, tmp_path, m2, "M2")
    snap, lin = os.path.join(out, "snapshots"), os.path.join(out, "lineage")

    own = {run: n for run in ("R-mix", "M1", "M2")
           for n in os.listdir(lin) if n.startswith(f"lin-{run}-")}
    # R-mix's rows move into a legacy file that also holds a copy of M1's
    rows = spark.read.schema(LINEAGE_SCHEMA).parquet(lin).where(
        "run_id IN ('R-mix', 'M1')").collect()
    os.remove(os.path.join(lin, own["R-mix"]))
    spark.createDataFrame(rows, LINEAGE_SCHEMA).coalesce(1).write.mode(
        "append").parquet(lin)
    (legacy,) = [n for n in os.listdir(lin) if n.startswith("part-")]
    with open(os.path.join(lin, legacy), "rb") as f:
        legacy_bytes = f.read()

    report = expire_snapshots(out, keep_last=1)
    assert report["expired_runs"] == ["M1"]
    with open(os.path.join(lin, legacy), "rb") as f:
        assert f.read() == legacy_bytes
    assert "seq-000000000001.parquet" not in os.listdir(snap)
    assert not os.path.exists(os.path.join(lin, own["M1"]))
    assert os.path.exists(os.path.join(lin, own["M2"]))
    assert _runs(spark, out) == {"R-mix", "M2"}
    v = _validate(spark, out, "M2")
    assert v["ok"], v
