"""Workloads, session lifecycle and the measurement loop.

One run = one workload at one seed in one fresh driver process:

1. load (or generate and cache) the seeded inputs and their oracle;
2. set-up, timed as ``setup_s``: ``build_session`` at ``local[nproc]`` plus
   one cold warm-up backfill of the base input;
3. a closed loop of pipeline calls, one at a time, until ``seconds`` have
   passed and at least ``MIN_CALLS`` calls ran, each into a fresh output
   root;
4. every call's committed table, lineage and snapshot are checked against
   the oracle (``oracle_check``) outside the timed region;
5. with ``trace`` on, a traced backfill, a traced merge of the increment
   into it, and the per-layer measurements.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import tempfile
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence, Set

from pyspark import SparkContext

from corsearch_project_spark.fixtures.gen_pages import default_rules
from corsearch_project_spark.plans import extract_pipeline, merge_pipeline
from corsearch_project_spark.plans.session import build_session

import corpus
import layers
import oracle_check
import procwatch
import spans

BUCKETS = 16
# The timed loop runs at least this many calls. With a run_seconds shorter
# than two calls, every run times exactly two, so a faster host does not
# also add a third, warmer call to the median (README.md, "A run").
MIN_CALLS = 2
MASTER = f"local[{len(os.sched_getaffinity(0))}]"


@dataclass
class Call:
    run_id: str
    root: str
    wall_s: float
    docs: int  # docs the call commits (merge: deduped increment)
    bad: int
    checked: int
    result: dict
    written: Dict[str, int] = field(default_factory=dict)  # relpath -> bytes
    peak_rss: int = 0


def _data_files(root: str) -> Dict[str, tuple]:
    ext = os.path.join(root, "extracted")
    out = {}
    for dirpath, _, files in os.walk(ext):
        for name in files:
            if name.endswith(".parquet"):
                p = os.path.join(dirpath, name)
                st = os.stat(p)
                out[os.path.relpath(p, ext)] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


class Bench:
    """A live session plus the workload's corpus and output area."""

    def __init__(self, work: str, kind: str, seed: int, size: int, corrupt: bool):
        t0 = time.perf_counter()
        self.corpus = corpus.load_corpus(work, kind, seed, size)
        self.load_s = time.perf_counter() - t0
        self.rules = default_rules()
        self.run_dir = tempfile.mkdtemp(prefix="run-", dir=work)
        self.spark = None
        self.jvm = None
        self.build_s = 0.0
        self.seen_pids: Set[int] = set()
        self.corrupt = corrupt  # self-test: alter one committed digest per call

    def __enter__(self) -> "Bench":
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp)
        # keep Spark's scratch and every JVM's and Python's temp files in the
        # run dir (spark-submit starts a launcher JVM before the driver JVM)
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["TMPDIR"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        tempfile.tempdir = None
        t0 = time.perf_counter()
        self.spark = build_session(
            app="perfbench",
            master=MASTER,
            extra={
                "spark.driver.memory": "2g",
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            },
        )
        self.build_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = SparkContext._gateway.proc
        return self

    def __exit__(self, *exc) -> None:
        try:
            if self.jvm is not None:
                pids = set(procwatch.tree(self.jvm.pid)) | self.seen_pids
                self.spark.stop()
                SparkContext._gateway.shutdown()
                self.jvm.stdin.close()
                try:
                    self.jvm.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    self.jvm.kill()
                    self.jvm.wait()
                procwatch.wait_gone(pids, timeout_s=30)
        finally:
            shutil.rmtree(self.run_dir, ignore_errors=True)

    def root(self, name: str) -> str:
        return os.path.join(self.run_dir, "out", name)

    def _call(self, run_id, root, fn, docs, expected, run_ids, tracer) -> Call:
        before = _data_files(root)
        sampler = procwatch.RssSampler(self.jvm.pid)
        with sampler:
            t0 = time.perf_counter()
            if tracer is None:
                result = fn()
            else:
                tracer.run_id = run_id
                with tracer.span(f"plans.{fn.__name__}", "plans"):
                    result = fn()
            wall = time.perf_counter() - t0
        self.seen_pids |= sampler.seen
        after = _data_files(root)
        written = {p: v[2] for p, v in after.items() if before.get(p) != v}
        if self.corrupt:
            oracle_check.corrupt_one_digest(root)
        bad = oracle_check.count_bad(root, expected, run_ids)
        return Call(run_id, root, wall, docs, bad, len(expected), result, written, sampler.peak)

    def extract_config(self, root: str, run_id: str):
        return extract_pipeline.ExtractConfig(
            self.corpus.base_path, root, run_id=run_id, buckets=BUCKETS
        )

    def extract(self, root: str, run_id: str, tracer=None) -> Call:
        """A backfill of the base input."""
        cfg = self.extract_config(root, run_id)

        def run_extract():
            return extract_pipeline.run_extract(self.spark, cfg, self.rules)

        expected = self.corpus.base
        return self._call(run_id, root, run_extract, len(expected), expected, [run_id], tracer)

    def merge(self, root: str, run_id: str, prior: Sequence[str], tracer=None) -> Call:
        cfg = merge_pipeline.MergeConfig(
            self.corpus.increment_path, root, run_id=run_id, buckets=BUCKETS
        )

        def run_merge():
            return merge_pipeline.run_merge(self.spark, cfg, self.rules)

        c = self.corpus
        return self._call(
            run_id, root, run_merge, len(c.increment), c.merged, [*prior, run_id], tracer
        )


# workload -> (corpus kind, base size). Both are backfills; the merge of
# the increment is measured by every traced run. The sizes make one call
# 3.4-10 s on a 4-vCPU host, as its speed swings, so that a cold warm-up
# and two timed calls fit in about a minute (README.md, "Sizes").
WORKLOADS = {"crawl_mix": ("crawl", 2500), "pdf_docs": ("pdf", 750)}


def backfill(b: Bench, tag: str, tracer=None, keep: bool = False) -> Call:
    c = b.extract(b.root(tag), tag, tracer)
    if not keep:
        shutil.rmtree(c.root)
    return c


@dataclass
class Outcome:
    values: Dict[str, float]  # metric name -> value
    checked: int
    bad: int
    notes: List[str]


def _job_counts(spark, group: str) -> Dict[str, int]:
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [st.getStageInfo(s) for j in jobs for s in st.getJobInfo(j).stageIds]
    ran = [s for s in stages if s is not None and s.numCompletedTasks > 0]
    return {
        "extract_pipeline.spark_jobs": len(jobs),
        "extract_pipeline.spark_stages": len(ran),
        "extract_pipeline.spark_tasks": sum(s.numCompletedTasks for s in ran),
    }


def _traced(b: Bench, job_s: float, trace_path: str, m: Dict[str, float]):
    """Add the per-layer metrics to ``m``; return the traced calls (for the
    correctness tally) and notes.

    The traced backfill is followed by a traced merge of the increment into
    the table it committed, for the merge and rewrite metrics."""
    tracer = spans.Tracer()
    sc = b.spark.sparkContext
    with spans.instrument(tracer):
        sc.setJobGroup("perfbench-traced", "traced pipeline call")
        own = backfill(b, "t", tracer=tracer, keep=True)
        m.update(_job_counts(b.spark, "perfbench-traced"))
        sc.setJobGroup("perfbench-other", "per-layer measurements")
        merged = b.merge(own.root, "tm", [own.run_id], tracer)

    m["io.files_written"] = len(own.written)
    m["io.bytes_written_per_doc"] = sum(own.written.values()) / own.docs
    rewritten = {p.split(os.sep)[0] for p in merged.written}
    m["io.buckets_rewritten"] = len(rewritten)
    rows = sum(
        1
        for _, bucket, _, _ in oracle_check.read_committed(merged.root)
        if f"url_bucket={bucket}" in rewritten
    )
    res = merged.result
    m["io.rows_rewritten_per_row_changed"] = rows / (res["docs_added"] + res["docs_updated"])
    phases = res["phase_wall_s"]
    m["merge.extract_increment_s"] = phases["extract_increment"]
    m["merge.classify_s"] = phases["classify"]
    m["merge.rewrite_s"] = phases["rewrite_buckets"]
    m["merge.lineage_s"] = phases["lineage_append"]
    for layer, s in tracer.self_time_by_layer(own.run_id).items():
        m[f"self.{layer}_s"] = s
    # The difference is mostly run-to-run noise; the cost of the spans
    # themselves is their count times a measured per-span cost.
    m["trace.overhead_s"] = own.wall_s - job_s
    own_spans = sum(1 for s in tracer.spans if s["run"] == own.run_id)
    m["trace.span_cost_s"] = own_spans * spans.span_cost_s()
    shutil.rmtree(own.root)

    m.update(layers.stage_metrics(
        b.spark, b.extract_config(b.root("layers"), "layers"), b.rules
    ))
    # shares of one untraced call: the kernel stage's wall time, and the
    # slot time spent inside webextract (sum of extract_us over all slots)
    m["kernel.job_share"] = m["kernel.stage_s"] / job_s
    m["webextract.job_share"] = m["kernel.busy_frac"] * m["kernel.stage_s"] / job_s
    docs = {
        **corpus.latest_wins(corpus.read_pages(b.corpus.base_path)),
        **corpus.latest_wins(corpus.read_pages(b.corpus.increment_path)),
    }
    sample = layers.webextract_metrics(list(docs.values()), b.rules)
    m.update(sample.timings)
    tracer.dump(trace_path)
    notes = [
        f"traced call {own.run_id}: {own.wall_s:.3f} s against untraced job_s {job_s:.3f} s; "
        f"its {own_spans} spans cost {m['trace.span_cost_s']:.6f} s",
        f"{len(tracer.spans)} spans written to {trace_path}",
        f"webextract sample: {sample.html_docs} HTML docs, {sample.pdf_docs} PDF docs",
    ]
    return [own, merged], notes


def run(work: str, workload: str, seed: int, seconds: float, trace: bool,
        size: Optional[int] = None, corrupt: bool = False) -> Outcome:
    kind, default_size = WORKLOADS[workload]
    with Bench(work, kind, seed, size or default_size, corrupt) as b:
        # The first call in a fresh JVM costs 13-30 s at any input size, so
        # one full-size cold call is the whole warm-up. The calls after it
        # still speed up a little; every run times the same number of
        # calls, so the slower first one weighs the same in each run.
        warm = [backfill(b, "w0")]
        setup_s = b.build_s + sum(c.wall_s for c in warm)
        timed: List[Call] = []
        t0 = time.perf_counter()
        while len(timed) < MIN_CALLS or time.perf_counter() - t0 < seconds:
            timed.append(backfill(b, f"c{len(timed)}"))
        job_s = statistics.median(c.wall_s for c in timed)
        values = {
            "job_s": job_s,
            "docs_per_s": statistics.median(c.docs / c.wall_s for c in timed),
            "setup_s": setup_s,
            "peak_rss_mb": max(c.peak_rss for c in timed) / 2**20,
        }
        notes = [
            f"{label} call {c.run_id}: {c.wall_s:.3f} s, bad rows {c.bad}, "
            f"phases {c.result['phase_wall_s']}"
            for label, calls in (("warm-up", warm), ("timed", timed))
            for c in calls
        ]
        notes.append(f"job_s samples: {len(timed)}")
        notes.append(f"inputs and oracle loaded in {b.load_s:.3f} s (not timed)")
        checked = warm + timed
        if trace:
            trace_dir = os.path.join(work, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            path = os.path.join(trace_dir, f"{workload}-seed{seed}-{os.getpid()}.json")
            traced, more = _traced(b, job_s, path, values)
            checked += traced
            notes += more
    bad = sum(c.bad for c in checked)
    n = sum(c.checked for c in checked)
    notes.append(f"failed_frac = {bad / n} ratio ({bad} bad of {n} rows checked)")
    return Outcome(values, n, bad, notes)
