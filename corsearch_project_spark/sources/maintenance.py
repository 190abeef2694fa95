"""Table maintenance: snapshot expiration + crash-leftover vacuum (the
Iceberg ``expireSnapshots`` / ``removeOrphanFiles`` actions for the emulated
table format).

A 10^12-doc table re-crawled incrementally accumulates one snapshot row and
B lineage rows per commit forever; after 10^5 merge commits the metadata
tables dwarf their purpose and every ``validate_table`` reconciliation
reads an ever-growing ledger. Iceberg bounds this with
``expireSnapshots`` — history older than a retention window is dropped,
EXCEPT state still referenced by live data. The emulation has the same
invariant, at run granularity:

  a run (its snapshot rows + its lineage rows) may be expired only when it
  is (1) outside the keep-last window AND (2) not the LATEST writer of any
  bucket — the latest writer's lineage row is what ``validate_table``
  reconciles the bucket's bytes against and what the merge pipeline treats
  as current, so expiring it would orphan the bucket's provenance.

Consequences, both documented Iceberg behaviors too: an expired run can no
longer be ``--resume``d (its per-bucket done markers are gone — except rows
a mixed legacy file, below, still holds), and history queries can't see
expired commits.

Every commit writes one snapshot file (``seq-<N>.parquet``) and one lineage
file (``lin-<run_id>-<hex>.parquet``), so expiring a run is deleting files,
as Iceberg deletes the metadata files no live snapshot references: expiry
lists both ledgers, reads them on the driver through the ``fs`` seam (they
are driver-small: one row per commit, B rows per run), and deletes every
listed file whose rows all belong to expired runs — lineage files first,
then snapshot files. It never creates, moves or rewrites a file. A file
that also holds rows of a kept run (a Spark-named ``part-*`` file of a
table committed before per-commit files, or a ``lin-compact-*`` file of
the older rewriting expiry) stays whole until every run in it has expired.
So:

* a crash leaves a subset of the deletions done, and a rerun finishes
  them (the decision depends only on the surviving rows);
* a commit racing the expiry survives: its files are not in the listing
  the decision was taken from, and its run is newer than every run the
  decision expires;
* deleting lineage before snapshots never leaves a run's lineage without
  its snapshot — the state of a commit that crashed between its two files,
  which ``--resume`` would commit again.

The older expiry compacted each ledger into a ``*.__compact__`` directory
and swapped it in through a ``*.__expired__`` aside. A crash inside that
swap can leave either directory behind; expiry refuses to run until an
operator has resolved it (``_refuse_swap_leftovers``).

Vacuum: Spark's dynamic partition overwrite stages output under
``_temporary`` and removes it on job commit; a killed job leaves the
directory behind. A ledger writer killed inside ``create_exclusive`` leaves
a dot-prefixed ``.tmp`` file. Readers ignore underscore- and dot-prefixed
paths, so the leftovers are invisible but billable — at crawl scale,
terabytes. ``vacuum_staging`` removes them.
"""

from __future__ import annotations

from typing import Dict, List, Optional

from corsearch_project_spark.sources.fs import LOCAL_FS, TMP_SUFFIX
from corsearch_project_spark.sources.snapshots import ledger_files, read_ledger

# Sibling directories the older swap-based expiry staged its rewrite in.
ASIDE_SUFFIX = ".__expired__"
COMPACT_SUFFIX = ".__compact__"


def latest_writers(snap_rows: List[dict]) -> Dict[int, str]:
    """bucket -> run_id of the run that last rewrote it, replayed from the
    snapshot ledger's commit order (each row records the buckets it
    touched)."""
    latest: Dict[int, str] = {}
    for r in sorted(snap_rows, key=lambda r: r["seq"]):
        for b in r["buckets"]:
            latest[int(b)] = r["run_id"]
    return latest


def current_lineage(
    snap_rows: List[dict], lin_rows: List[dict]
) -> Dict[int, List[dict]]:
    """bucket -> the done lineage rows that describe its current contents:
    for a bucket a snapshot covers, the rows of its latest writer
    (`latest_writers`); for a bucket no snapshot covers (a table without
    snapshots), every done row it has."""
    writers = latest_writers(snap_rows)
    current: Dict[int, List[dict]] = {}
    for r in lin_rows:
        b = int(r["url_bucket"])
        if r["status"] == "done" and writers.get(b, r["run_id"]) == r["run_id"]:
            current.setdefault(b, []).append(r)
    return current


def _refuse_swap_leftovers(root: str, fs) -> None:
    """Raise ValueError when ``root`` holds a directory the older swap-based
    expiry left after a crash: deleting files next to it could lose the
    only whole copy of a ledger. The error gives the manual fix."""
    if not fs.exists(root):
        return
    for name in sorted(fs.listdir(root)):
        if name.endswith((ASIDE_SUFFIX, COMPACT_SUFFIX)):
            live = f"{root}/{name.rsplit('.__', 1)[0]}"
            fix = (
                f"move it back to {live}"
                if name.endswith(ASIDE_SUFFIX) and not fs.exists(live)
                else "delete it"
            )
            raise ValueError(
                f"{root}/{name} was left by a crashed snapshot expiry of an "
                f"older version: {fix}, then rerun"
            )


def expire_snapshots(
    output_path: str, keep_last: int = 3, fs=LOCAL_FS
) -> Optional[dict]:
    """Expire runs outside the keep-last window that are not latest writer
    of any bucket, by deleting the ledger files that hold only their rows.
    Returns a report dict, or None when there is no snapshot row. ``fs``
    is the driver-side filesystem seam (``sources/fs.py``) every read and
    deletion goes through; no Spark job runs."""
    root = output_path.rstrip("/")
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    _refuse_swap_leftovers(root, fs)
    snap_files = read_ledger(
        ledger_files(root + "/snapshots", fs), ["seq", "run_id", "buckets"], fs
    )
    lin_files = read_ledger(ledger_files(root + "/lineage", fs), ["run_id"], fs)
    rows = [r for rs in snap_files.values() for r in rs]  # one row per commit
    if not rows:
        return None
    seqs = sorted(r["seq"] for r in rows)
    cutoff = seqs[-keep_last] if keep_last <= len(seqs) else seqs[0]
    window_runs = {r["run_id"] for r in rows if r["seq"] >= cutoff}
    writer_runs = set(latest_writers(rows).values())
    keep_runs = window_runs | writer_runs
    expired_runs = {r["run_id"] for r in rows} - keep_runs

    # A file goes only when every row in it belongs to an expired run.
    # keep_last >= 1 keeps the highest seq's file, so the next commit
    # still continues the chain.
    def doomed(files):
        return [
            f for f, rs in sorted(files.items())
            if rs and {r["run_id"] for r in rs} <= expired_runs
        ]

    lin_doomed, snap_doomed = doomed(lin_files), doomed(snap_files)
    for f in lin_doomed + snap_doomed:
        fs.rmtree(f)

    return {
        "snapshots_before": len(rows),
        "keep_last": keep_last,
        "kept_runs": sorted(keep_runs),
        "expired_runs": sorted(expired_runs),
        "kept_for_latest_writer": sorted(writer_runs - window_runs),
        "snapshots_after": len(rows) - sum(len(snap_files[f]) for f in snap_doomed),
        "lineage_rows_expired": sum(len(lin_files[f]) for f in lin_doomed),
    }


def _tree_bytes(path: str, fs) -> int:
    total = 0
    stack = [path]
    while stack:
        d = stack.pop()
        for name in fs.listdir(d):
            p = d.rstrip("/") + "/" + name
            if fs.isdir(p):
                stack.append(p)
            else:
                try:
                    total += fs.getsize(p)
                except OSError:
                    pass
    return total


def vacuum_staging(output_path: str, fs=LOCAL_FS) -> dict:
    """Remove crash leftovers under ``output_path``: Spark staging dirs
    (``_temporary``) and ``create_exclusive`` temp files (``.*.tmp``).
    Underscore/dotted staging paths are invisible to readers, so this
    never changes query results — it reclaims storage after killed jobs.
    Run it while no writer commits to the table: a live writer's temp
    file looks the same as a dead one's. Runs on the ``fs`` seam, so it
    works against object-store prefixes as well as local dirs."""
    removed, freed = [], 0
    stack = [output_path.rstrip("/")]
    while stack:
        d = stack.pop()
        for name in sorted(fs.listdir(d)):
            p = d + "/" + name
            if name == "_temporary":
                freed += _tree_bytes(p, fs)
                fs.rmtree(p)
                removed.append(p[len(output_path.rstrip("/")) + 1 :])
            elif name.startswith(".") and name.endswith(TMP_SUFFIX):
                freed += fs.getsize(p)
                fs.rmtree(p)
                removed.append(p[len(output_path.rstrip("/")) + 1 :])
            elif fs.isdir(p):
                stack.append(p)
    return {"staging_dirs_removed": removed, "bytes_freed": freed}
