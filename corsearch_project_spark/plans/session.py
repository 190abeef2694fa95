"""SparkSession builder with the scale-tuned confs this engine relies on.

Every conf here is a deliberate 100-TB design decision (SURVEY.md §4):

- AQE on + skew split (BASELINE.json:6 mandates "explicit AQE skew-split"):
  at cluster scale one hot host can make a single shuffle partition 100×
  median; AQE splits the read side, and the url-hash buckets (P2) split
  the kernel's compute.
- arrow.maxRecordsPerBatch sized for fat binary rows: a CC page averages
  ~50-100 KB, so 1024-row batches keep Arrow buffers ~64-100 MB — large
  enough to amortize the JVM↔Python hop, small enough not to blow executor
  memory when a batch holds multi-MB PDFs.
- shuffle.partitions defaults to a multiple of local cores here; on a real
  cluster set ~2-3× total executor cores (AQE coalesces the excess).
- python.worker.reuse keeps the forked Python workers (and their imported
  extraction core) warm across tasks — worker startup would otherwise
  dominate small tasks. A reused worker still starts every task with
  ``importlib.invalidate_caches()`` (pyspark's ``setup_spark_files``), and
  on Python 3.11 (3.13 re-reads lazily) that makes each cached
  ``zipimporter`` re-read its whole zip directory: about 16 importers over pyspark.zip (1328
  files) and the py4j zip, 0.2-0.4 s of every task. The engine's
  ``mapInArrow`` functions drop those importers when their partition is
  done (operators/kernel.py ``release_zip_importers``), so only the first
  task of a new worker pays the read. On PySpark 4.1, Python 3.11, 4
  vCPUs, an identity mapInArrow over 8000 rows of 2 KB took 0.45-0.55 s
  in 4 tasks, 1.2-1.4 s in 16 and 4.5-4.8 s in 64 without the release,
  and 0.16-0.24 s, 0.28-0.33 s and 0.69-0.80 s with it.
- partitionOverwriteMode=dynamic and the v2 file committer serve the
  Spark writers: curation, search, streaming and compaction. The
  extracted table's own writer (sources/io.py ``write_extracted``) writes
  its files from the kernel's tasks and commits them on the driver, so
  neither conf applies to it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _export_pkg_to_workers() -> None:
    """Executor Python workers import the extraction core by name; ensure the
    package root (dir or --py-files zip) is on PYTHONPATH before the JVM
    forks them. No-op when already present."""
    pkg_root = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))
    current = os.environ.get("PYTHONPATH", "")
    if pkg_root not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + current if current else "")
        )


def build_session(
    app: str = "corsearch_project_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch: int = 1024,
    extra: dict | None = None,
) -> SparkSession:
    _export_pkg_to_workers()
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "*")
    )
    if shuffle_partitions is None:
        cores = os.cpu_count() or 8
        if master.startswith("local["):
            inner = master[6:-1]
            if inner.isdigit():
                cores = int(inner)
        shuffle_partitions = max(2 * cores, 8)
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        # Byte cap pairs with the row cap: 1024 fat rows (multi-MB PDFs up
        # to rule.max_doc_bytes) could otherwise build a multi-GB Arrow
        # batch; Spark 4 flushes a batch when EITHER limit is hit.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "64m")
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Commit algorithm v2: task outputs move to the destination at task
        # commit instead of a sequential driver-side rename of every bucket
        # directory at job commit — with thousands of bucket partitions the
        # v1 rename loop is minutes of driver serial time. Safe here because
        # run atomicity/visibility is provided by the lineage gate (a bucket
        # is only 'done' once its lineage row commits, written after the
        # data job), not by the file committer.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
