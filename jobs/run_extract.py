#!/usr/bin/env python3
"""North-rule entry point (BASELINE.json:14):

    spark-submit --py-files corsearch_project_spark.zip jobs/run_extract.py \
        --input /data/pages --output /data/out --buckets 4096 \
        --run-id R1 [--resume]

On a real multi-executor cluster the same program runs unchanged; only
--master / executor confs differ (the pipeline contains no local-mode
assumptions: all parallelism flows from partitioning on (url_bucket, salt)).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# Self-locate when run from a repo checkout without --py-files; on a cluster
# the zip from --py-files takes precedence on sys.path anyway.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from corsearch_project_spark.fixtures.gen_pages import default_rules
from corsearch_project_spark.plans.extract_pipeline import ExtractConfig, run_extract
from corsearch_project_spark.plans.session import build_session


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default="")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--with-markdown", action="store_true",
                    help="also emit (extracted_md, md_sha256) columns via "
                         "the fused dual-emit kernel (one parse, two "
                         "serializations); text columns stay byte-identical")
    ap.add_argument("--with-doc-assets", action="store_true",
                    help="also write the <output>/doc_assets catalog table "
                         "(PDF /Info metadata + link URIs + outline; DOCX "
                         "core properties) via a document-filtered second "
                         "kernel pass")
    ap.add_argument("--with-doc-tables", action="store_true",
                    help="also write the <output>/doc_tables catalog table "
                         "(PDF stream-mode table recovery + DOCX <w:tbl> "
                         "rows) via a document-filtered second kernel pass")
    ap.add_argument("--kernel-partitions", type=int, default=None)
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--rules-json", default=None, help="path to rules config json")
    ap.add_argument("--input-format", choices=("pages", "warc"), default="pages",
                    help="'pages' = parquet pages table; 'warc' = raw "
                    "Common-Crawl WARC file(s), parsed inline")
    args = ap.parse_args(argv)

    spark = build_session("run_extract", master=args.master,
                          shuffle_partitions=args.shuffle_partitions)
    rules = default_rules()
    if args.rules_json:
        from corsearch_project_spark.webextract.rules import rules_from_plain

        with open(args.rules_json) as f:
            rules = rules_from_plain(json.load(f))

    cfg = ExtractConfig(
        input_path=args.input,
        input_format=args.input_format,
        output_path=args.output,
        run_id=args.run_id,
        buckets=args.buckets,
        resume=args.resume,
        kernel_partitions=args.kernel_partitions,
        with_markdown=args.with_markdown,
        with_doc_assets=args.with_doc_assets,
        with_doc_tables=args.with_doc_tables,
    )
    import time

    if not os.path.exists(args.input):
        print(f"error: input path does not exist: {args.input}", file=sys.stderr)
        return 1

    t0 = time.perf_counter()
    report = run_extract(spark, cfg, rules)
    report["pipeline_wall_s"] = round(time.perf_counter() - t0, 3)
    print(json.dumps(report, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
