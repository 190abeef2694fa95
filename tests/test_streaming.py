"""Streaming surface tests (SURVEY §5.2 'Streaming' layer): batch-vs-stream
equivalence for windowed aggregations, the extraction kernel under
readStream, watermark late-data drop, streaming dedupe, and the custom
stateful counter. All triggers are availableNow (drain-and-stop)."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from corsearch_project_spark.fixtures.gen_pages import default_rules, gen_pages, pages_to_pandas
from corsearch_project_spark.streaming import ingest as S
from corsearch_project_spark.webextract.rules import rules_to_plain

from conftest import SF_SMOKE


def _drain(q):
    q.awaitTermination(120)
    assert not q.isActive


def _run_to_memory(df, name):
    q = (
        df.writeStream.trigger(availableNow=True)
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    _drain(q)
    return name


def _events_stream(spark, tmp_path):
    src = os.path.join(str(tmp_path), "events_src")
    spark.read.parquet(f"{SF_SMOKE}/events.parquet").write.mode("overwrite").parquet(src)
    from corsearch_project_spark.sources.schemas import PAGES_SCHEMA  # noqa: F401

    schema = spark.read.parquet(src).schema
    return spark.readStream.schema(schema).parquet(src)


def test_tumbling_stream_equals_batch(spark, tmp_path):
    stream = S.tumbling_counts(_events_stream(spark, tmp_path))
    name = _run_to_memory(stream, "t_tumbling")
    got = {
        (r["w_start"], r["n_events"]) for r in spark.table(name).collect()
    }
    batch = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("w_start"), "n_events")
    )
    want = {(r["w_start"], r["n_events"]) for r in batch.collect()}
    # availableNow append-mode emits only watermark-closed windows; the final
    # (unclosed) window may be withheld — require everything emitted to match
    # and ≥ all-but-the-tail coverage.
    assert got <= want
    assert len(got) >= len(want) - 2


def test_session_stream_equals_batch(spark, tmp_path):
    stream = S.session_counts(_events_stream(spark, tmp_path))
    name = _run_to_memory(stream, "t_session")
    got = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in spark.table(name).collect()
    }
    batch = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
    want = {
        (r["user_id"], r["session_start"], r["n_events"]) for r in batch.collect()
    }
    assert got <= want
    assert len(got) >= len(want) - 30  # per-user tail sessions may be unclosed


def test_stream_extraction_matches_batch_digests(spark, tmp_path):
    rows = gen_pages(60, seed=321, dup_frac=0.0)
    src = os.path.join(str(tmp_path), "pages_src")
    spark.createDataFrame(pages_to_pandas(rows)).write.mode("overwrite").parquet(src)

    rules_bc = spark.sparkContext.broadcast(rules_to_plain(default_rules()))
    stream = S.stream_extract(S.stream_pages(spark, src), rules_bc, buckets=8)
    out = os.path.join(str(tmp_path), "stream_out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    _drain(S.write_extracted_stream(stream, out, ckpt))

    got = {
        r["url"]: r["text_sha256"]
        for r in spark.read.parquet(out).select("url", "text_sha256").collect()
    }
    batch = S.stream_extract.__wrapped__ if hasattr(S.stream_extract, "__wrapped__") else None
    from corsearch_project_spark.operators.kernel import run_kernel

    want = {
        r["url"]: r["text_sha256"]
        for r in run_kernel(
            spark.read.parquet(src).select("url", "html", "text"), rules_bc
        ).select("url", "text_sha256").collect()
    }
    assert got == want


def test_watermark_finalizes_windows_against_late_data(spark, tmp_path):
    """T1/T5 append-mode guarantee: once the watermark closes a window and
    it is emitted, late rows can never update or re-emit it. (Dropping
    too-late INPUT rows is best-effort per the watermark contract; finality
    of emitted windows is the hard guarantee, so that is what we assert.)

    Three ordered micro-batches: f1 fills window W=[12:00,12:05) with 5
    rows; f2 jumps event time 2h ahead, pushing the watermark past W's end
    so W emits with n=5; f3 delivers a late row inside W."""
    src = os.path.join(str(tmp_path), "late_src")
    os.makedirs(src)
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp"
    batches = [
        [(i, base + dt.timedelta(minutes=i)) for i in range(5)],          # W rows
        [(50, base + dt.timedelta(hours=2))],       # advances max event time
        [(51, base + dt.timedelta(hours=2, minutes=5))],  # wm passes W.end
        [(52, base + dt.timedelta(hours=2, minutes=10))],  # W evicted+emitted
        [(99, base + dt.timedelta(minutes=1))],                            # late
    ]
    import glob as _glob
    import time as _time

    now = _time.time()
    for k, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{src}/f{k}")
        for f in _glob.glob(f"{src}/f{k}/*.parquet"):
            os.utime(f, (now - 300 + 100 * k, now - 300 + 100 * k))

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        src + "/*"
    )
    agg = S.tumbling_counts(stream, window="5 minutes", watermark="10 minutes")
    name = _run_to_memory(agg, "t_late")
    w_rows = [r for r in spark.table(name).collect() if r["w_start"] == base]
    counts = sorted(r["n_events"] for r in w_rows)
    # The finalized on-time emission (n=5) must exist and must NOT include
    # the late row (n=6 would mean late data mutated a closed window).
    assert 5 in counts, f"window not finalized with on-time rows: {counts}"
    assert 6 not in counts, f"late row mutated a finalized window: {counts}"


def test_dedup_within_watermark(spark, tmp_path):
    src = os.path.join(str(tmp_path), "dd_src")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(1, base), (1, base + dt.timedelta(seconds=30)), (2, base)]
    schema = "event_id long, ts timestamp"
    spark.createDataFrame(rows, schema).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    name = _run_to_memory(S.dedup_within_watermark(stream), "t_dedup")
    got = spark.table(name).groupBy("event_id").count().collect()
    assert {r["event_id"]: r["count"] for r in got} == {1: 1, 2: 1}


def test_stateful_running_counts(spark, tmp_path):
    src = os.path.join(str(tmp_path), "st_src")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(u, base + dt.timedelta(minutes=i)) for i, u in enumerate([1, 1, 2, 1, 2])]
    spark.createDataFrame(rows, "user_id long, ts timestamp").write.parquet(src)
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    out = S.running_counts_stateful(stream)
    q = (
        out.writeStream.trigger(availableNow=True)
        .format("memory")
        .queryName("t_state")
        .outputMode("update")
        .start()
    )
    _drain(q)
    # final state per key: user 1 → 3 events, user 2 → 2
    final = {
        r["key"]: r["total"]
        for r in spark.sql(
            "SELECT key, max(total) AS total FROM t_state GROUP BY key"
        ).collect()
    }
    assert final == {1: 3, 2: 2}


@pytest.mark.skipif(
    not S.HAS_TWS,
    reason="transformWithStateInPandas needs google.protobuf (absent in sandbox)",
)
def test_stateful_running_counts_tws(spark, tmp_path):
    """Spark 4 transformWithStateInPandas twin of the applyInPandasWithState
    counter — runs wherever the image ships protobuf + RocksDB provider."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    src = os.path.join(str(tmp_path), "tws_src")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(u, base + dt.timedelta(minutes=i)) for i, u in enumerate([1, 1, 2, 1, 2])]
    spark.createDataFrame(rows, "user_id long, ts timestamp").write.parquet(src)
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    out = S.running_counts_tws(stream)
    q = (
        out.writeStream.trigger(availableNow=True)
        .format("memory")
        .queryName("t_tws")
        .outputMode("update")
        .start()
    )
    _drain(q)
    final = {
        r["key"]: r["total"]
        for r in spark.sql(
            "SELECT key, max(total) AS total FROM t_tws GROUP BY key"
        ).collect()
    }
    assert final == {1: 3, 2: 2}


def test_streaming_crawl_frontier_equals_batch(spark, tmp_path):
    """Sitemap discoveries arriving as a STREAM maintain the same frontier
    a batch pass computes: each foreachBatch increment anti-joins its locs
    against the crawled table plus everything already discovered, so
    re-discoveries across micro-batches never duplicate. The per-batch
    work is exactly operators/linkgraph.frontier_urls — the batch
    operator IS the streaming increment (same pattern as the extraction
    stream's batch-kernel reuse)."""
    from corsearch_project_spark.operators import linkgraph as L

    src = os.path.join(str(tmp_path), "sm_src")
    out = os.path.join(str(tmp_path), "frontier_out")
    os.makedirs(src, exist_ok=True)

    def sm(urls):
        return "<urlset>" + "".join(f"<loc>{u}</loc>" for u in urls) + "</urlset>"

    # three micro-batches; /b/1 re-discovered in batch 2, /old crawled
    batches = [
        [sm(["https://a.com/1", "https://a.com/old"])],
        [sm(["https://b.com/1", "https://a.com/1"])],   # /1 re-discovered
        [sm(["https://b.com/2"])],
    ]
    crawled = spark.createDataFrame([("https://a.com/old",)], "url string")

    schema = "xml string"
    for k, rows in enumerate(batches):
        spark.createDataFrame([(x,) for x in rows], schema).write.mode(
            "append"
        ).parquet(src)
        stream = (
            spark.readStream.schema("xml string").option(
                "maxFilesPerTrigger", 1
            ).parquet(src)
        )

    def handle(batch_df, batch_id):
        known = crawled
        if os.path.exists(os.path.join(out, "_SUCCESS")) or (
            os.path.isdir(out) and os.listdir(out)
        ):
            known = known.unionByName(spark.read.parquet(out))
        fresh = L.frontier_urls(batch_df, known)
        if fresh.take(1):
            fresh.write.mode("append").parquet(out)

    q = (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .foreachBatch(handle)
        .start()
    )
    _drain(q)

    got = sorted(r["url"] for r in spark.read.parquet(out).collect())
    # batch reference: one pass over ALL sitemaps
    all_sm = spark.createDataFrame(
        [(x,) for b in batches for x in b], schema
    )
    want = sorted(
        r["url"] for r in L.frontier_urls(all_sm, crawled).collect()
    )
    assert got == want == [
        "https://a.com/1", "https://b.com/1", "https://b.com/2",
    ]
