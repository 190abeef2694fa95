#!/usr/bin/env python3
"""Table maintenance CLI: expire old snapshots + vacuum crash leftovers.

The Iceberg ``expireSnapshots``/``removeOrphanFiles`` maintenance actions
for the emulated bucketed table (sources/maintenance.py — the retention
rules and the latest-writer preservation invariant are documented there).
Both run on the driver without Spark: expiry deletes whole ledger files,
and the vacuum reaps crash leftovers anywhere under the table root (Spark
``_temporary`` dirs, a killed ledger commit's ``.tmp`` file in
``lineage/`` or ``snapshots/``).

    python jobs/expire_table.py --output /data/out --keep-last 3

Prints one JSON report line. Exit 0 on success (including the no-op case),
1 when --output has no snapshots table; a crashed older expiry's leftover
under --output raises ValueError with the manual fix.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from corsearch_project_spark.sources.maintenance import (
    expire_snapshots,
    vacuum_staging,
)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--output", required=True, help="table root (the "
                    "run_extract --output dir: extracted/lineage/snapshots "
                    "live under it)")
    ap.add_argument("--keep-last", type=int, default=3)
    ap.add_argument("--skip-vacuum", action="store_true")
    args = ap.parse_args(argv)

    report = expire_snapshots(args.output, keep_last=args.keep_last)
    if report is None:
        print(json.dumps({"error": f"no snapshots table under {args.output}"}))
        return 1
    if not args.skip_vacuum:
        report["vacuum"] = vacuum_staging(args.output)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
