"""corsearch_project_spark — a PySpark-native web-text extraction engine.

A from-scratch rebuild of the capabilities of ``ids-infotech/corsearch_project``
(reference snapshot: /root/reference/README.md:1-2 — "config & pdf-extraction"),
re-architected for Spark (spec: /root/repo/BASELINE.json:6,14,15):

- ``webextract/``  pure-Python, dependency-free, deterministic extraction core
  (HTML tokenizer + DOM + Arc90/readability-style block scoring; pdfminer-style
  PDF layout analysis). This core is the operational definition of the
  reference scripts' output: it runs single-process to produce golden digests
  and executor-side inside the Arrow kernel, and the two must be byte-identical.
- ``operators/``   Spark-side operators: the mapInArrow extraction kernel,
  url-hash bucketing, dedup / similarity / text-stats.
- ``sources/``     schemas and Iceberg-style bucketed Parquet IO (scan, sink,
  lineage, resume).
- ``functions/``   reusable Column expression helpers (JVM-side, no Python UDFs).
- ``plans/``       session builder with scale-tuned confs + the query registry
  backing ``__spark_entry__.queries()`` / ``oracle_sql()``.
- ``streaming/``   Structured Streaming ingest surface (secondary; the batch
  pipeline is the north rule's target).
- ``fixtures/``    deterministic synthetic ``pages`` corpus generator
  (HTML + PDF writers), seeded — no external data.
"""

__version__ = "0.1.0"
