#!/usr/bin/env python3
"""Incremental re-crawl merge (copy-on-write MERGE over the bucketed table):

    spark-submit --py-files corsearch_project_spark.zip jobs/merge_increment.py \
        --increment /data/crawl_seg42 --output /data/out --buckets 4096 \
        --run-id M42

Extracts only the increment, then rewrites only the buckets holding new or
changed urls (digest-compared against the existing table). Unchanged
re-crawls never dirty a bucket. See plans/merge_pipeline.py for the scale
analysis; verify rewritten buckets with
`jobs/validate_table.py --run-id M42`.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from corsearch_project_spark.fixtures.gen_pages import default_rules
from corsearch_project_spark.plans.merge_pipeline import MergeConfig, run_merge
from corsearch_project_spark.plans.session import build_session


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--increment", required=True, help="pages increment path")
    ap.add_argument("--output", required=True, help="existing table root")
    ap.add_argument("--run-id", default="")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--kernel-partitions", type=int, default=None)
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--rules-json", default=None)
    ap.add_argument("--input-format", choices=("pages", "warc"), default="pages")
    args = ap.parse_args(argv)

    if not os.path.exists(args.increment):
        print(f"error: increment path does not exist: {args.increment}",
              file=sys.stderr)
        return 1
    if not os.path.exists(os.path.join(args.output, "extracted")):
        print(f"error: no existing extracted table under: {args.output} "
              "(run jobs/run_extract.py first)", file=sys.stderr)
        return 1

    spark = build_session("merge_increment", master=args.master,
                          shuffle_partitions=args.shuffle_partitions)
    rules = default_rules()
    if args.rules_json:
        from corsearch_project_spark.webextract.rules import rules_from_plain

        with open(args.rules_json) as f:
            rules = rules_from_plain(json.load(f))

    cfg = MergeConfig(
        increment_path=args.increment,
        output_path=args.output,
        run_id=args.run_id,
        input_format=args.input_format,
        buckets=args.buckets,
        kernel_partitions=args.kernel_partitions,
    )
    import time

    t0 = time.perf_counter()
    report = run_merge(spark, cfg, rules)
    report["merge_wall_s"] = round(time.perf_counter() - t0, 3)
    print(json.dumps(report, default=str))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
