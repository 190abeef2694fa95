#!/usr/bin/env python3
"""Extraction-engine benchmark: one workload, one seed, one driver process.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 5 --trace 0

Workloads and metrics are declared in ``BENCHMARK.json`` (the units
printed are read from it); the layer map is in ``perfbench/README.md``.
Every measured metric is printed first, one per line; the last line of
standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones. Inputs, oracle digests and span dumps live under ``.perfbench/`` in
the repository root; table outputs are removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["crawl_mix", "pdf_docs"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", type=int, default=None, help="base docs (default per workload)")
    p.add_argument(
        "--corrupt",
        action="store_true",
        help="self-test: alter one committed digest per call before checking",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "corsearch_project_spark")):
        print(f"perfbench: no corsearch_project_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import harness

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    declared = spec["per_layer" if args.trace else "end_to_end"]
    os.makedirs(WORK, exist_ok=True)
    out = harness.run(
        WORK, args.workload, args.seed, args.seconds, bool(args.trace),
        size=args.size, corrupt=args.corrupt,
    )
    for line in out.notes:
        print(f"perfbench: {line}")
    for name, value in out.values.items():
        print(f"perfbench: {name} = {value} {units[name]}")
    metrics = {m["name"]: {"value": out.values[m["name"]], "unit": m["unit"]} for m in declared}
    print(json.dumps({
        "correct": out.bad == 0,
        "attempted": out.checked,
        "failed": out.bad,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
