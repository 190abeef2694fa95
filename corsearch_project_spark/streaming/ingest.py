"""Structured Streaming surface (SURVEY §2.9 T1–T7) — the optional ingest
path. The batch pipeline is the north rule's target; this module shows the
SAME extraction kernel and window aggregations running under readStream,
which is the point of the DataFrame abstraction: one logical program, two
execution modes.

All sinks here use ``trigger(availableNow=True)`` + a checkpoint dir —
the batch-like drain mode that still exercises watermarks, state stores,
and exactly-once file sinks.

Nothing here writes the lineage or snapshot ledger: ``commit_run``
(plans/extract_pipeline.py) is the engine's one ledger writer, and
``write_extracted_stream`` is a plain exactly-once file sink whose output
``validate_table``, ``--resume`` and the merge do not see as a commit. A
streaming ledger would commit each micro-batch as a merge
(plans/merge_pipeline.py), so it waits on a merge that survives a crash
between its data write and its ledger commit.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from corsearch_project_spark.operators.kernel import run_kernel
from corsearch_project_spark.operators.partitioning import with_url_bucket
from corsearch_project_spark.sources.schemas import PAGES_SCHEMA


def stream_pages(spark: SparkSession, path: str, max_files_per_trigger: Optional[int] = None) -> DataFrame:
    """S7: file-based streaming source over the pages layout (fixed schema —
    streaming sources REQUIRE a declared schema, conveniently matching the
    no-inference rule)."""
    r = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(path)


def stream_extract(pages_stream: DataFrame, rules_bc, buckets: int = 64) -> DataFrame:
    """The batch kernel (E17) unchanged under streaming — mapInPandas is
    micro-batch-safe because extraction is stateless per row."""
    extracted = run_kernel(pages_stream.select("url", "html", "text"), rules_bc)
    return with_url_bucket(extracted, buckets)


def write_extracted_stream(extracted: DataFrame, path: str, checkpoint: str):
    """T7: exactly-once bucketed file sink; availableNow drains all pending
    input then stops (the batch-parity trigger)."""
    return (
        extracted.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .partitionBy("url_bucket")
        .format("parquet")
        .option("path", path)
        .start()
    )


def tumbling_counts(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """T1+T2: watermarked tumbling-window counts. In append mode a window
    finalizes once the watermark passes its end — late rows beyond the
    watermark are dropped (tested in tests/test_streaming.py)."""
    # watermark requires TIMESTAMP; parquet NTZ is cast under the UTC session
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("w_start"), "n_events")
    )


def sliding_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """T3: sliding windows — each event lands in window/slide instances."""
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("w_start"), "n_events")
    )


def session_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "60 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """T4: session windows (state-store-merged under streaming)."""
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), F.session_window(ts_col, gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(key_col, F.col("w.start").alias("session_start"), "n_events")
    )


def dedup_within_watermark(
    events: DataFrame, watermark: str = "10 minutes", ts_col: str = "ts"
) -> DataFrame:
    """T5: streaming dedupe with bounded state — duplicates arriving within
    the watermark horizon are dropped, state is purged beyond it."""
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def running_counts_stateful(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """T6: custom stateful operator — a per-key running event counter via
    applyInPandasWithState (state survives across micro-batches)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "key bigint, total bigint"
    state_schema = "total bigint"

    def update(key, pdf_iter, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"key": [key[0]], "total": [total]})

    return events.groupBy(F.col(key_col)).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def _has_tws_runtime() -> bool:
    """transformWithStateInPandas drives a long-lived Python state server
    over a protobuf protocol; the sandbox image ships no google.protobuf,
    so the API is environment-gated (task brief: gate missing deps behind
    an import-try). On a real cluster image with protobuf this path runs
    as-is."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


HAS_TWS = _has_tws_runtime()


def running_counts_tws(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """T6, Spark 4 API: the same per-key running counter as
    running_counts_stateful, expressed as a StatefulProcessor for
    transformWithStateInPandas (ValueState survives across micro-batches;
    requires the RocksDB state store provider). Guard calls with HAS_TWS."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState("count", "total bigint")

        def handleInputRows(self, key, rows, timerValues):
            total = self._count.get()[0] if self._count.exists() else 0
            for pdf in rows:
                total += len(pdf)
            self._count.update((total,))
            yield pd.DataFrame({"key": [key[0]], "total": [total]})

        def close(self) -> None:
            pass

    return events.groupBy(F.col(key_col)).transformWithStateInPandas(
        statefulProcessor=RunningCount(),
        outputStructType="key bigint, total bigint",
        outputMode="Update",
        timeMode="None",
    )
