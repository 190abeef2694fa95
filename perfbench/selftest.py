#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size (about five minutes).

    python3 perfbench/selftest.py

For every workload, in both modes, checks that the last output line is the
result object, that it names every declared metric with its declared unit,
and that no row failed the oracle. Then checks that altering one committed
digest makes the run report failed rows.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SIZE = 60


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", str(SIZE),
        *extra,
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(wl, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{wl} trace={trace}: metrics/units {got} != {want}")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"{wl} trace={trace}: failed {res['failed']} of {res['attempted']}")
            print(f"{wl} trace={trace}: {len(got)} metrics, failed_frac "
                  f"{res['failed'] / res['attempted']}", flush=True)
    res = run(spec["workloads"][0]["name"], 0, "--corrupt")
    if res["correct"] or res["failed"] == 0:
        problems.append(f"altered digest not detected: {res}")
    print(f"altered digest: failed_frac {res['failed'] / res['attempted']}")
    for p in problems:
        print("FAIL:", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
