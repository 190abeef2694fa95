"""Snapshot metadata table — the Iceberg commit-ledger emulation.

Iceberg tracks table state as an ordered chain of snapshots, each recording
the operation and aggregate stats (`snapshots` metadata table). The driver
spec calls for a "snapshot/lineage metadata table" standing in for that
(SURVEY §0.1); lineage.py is the per-bucket ledger, this module is the
per-COMMIT ledger on top of it:

  * one row per run_extract commit: run_id, sequence number, operation
    (append | overwrite | resume-append), buckets touched, doc/byte totals
    and the order-insensitive digest-of-digests across those buckets;
  * `read_snapshots` lists table history in sequence order (the
    `SELECT * FROM db.tbl.snapshots` analogue);
  * each commit is ONE Parquet file named by its sequence number,
    ``seq-<012d>.parquet``, written from the driver (`write_ledger_file`,
    no Spark job). The next seq is 1 + the highest seq among the file
    names under ``snapshots/`` (`latest_seq`: a listing, no read of the
    files). The file is created with the fs seam's ``create_exclusive``,
    so of two writers that read the same next seq exactly one commits and
    the other raises `SeqConflictError` — the optimistic commit Iceberg
    makes with its catalog CAS, with the file name as the pointer;
  * tables committed before that naming hold Spark-named snapshot files
    (``part-*.parquet``). `latest_seq` reads the max seq stored in such a
    file (it is committed data, not a guess), so those tables keep
    committing; ``maintenance.expire_snapshots`` rewrites them into one
    seq-named file. Only an unreadable unnamed file stops a commit.

The lineage ledger (sources/io.py ``append_lineage``) is written by the
same `write_ledger_file`, one uniquely named file per commit. On real
Iceberg these rows come for free from the catalog; the seam is the same as
sources/io.py's TableFormat.
"""

from __future__ import annotations

import re
from typing import List, Optional

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from corsearch_project_spark.sources.fs import COMPLETE_MARKER, LOCAL_FS

SNAPSHOT_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("run_id", T.StringType(), False),
        T.StructField("operation", T.StringType(), False),
        T.StructField("n_buckets", T.LongType(), False),
        T.StructField("buckets", T.ArrayType(T.IntegerType()), False),
        T.StructField("doc_count", T.LongType(), False),
        T.StructField("bytes_in", T.LongType(), False),
        T.StructField("rollup_xor", T.StringType(), False),
    ]
)


SEQ_FILE = "seq-{:012d}.parquet"
_SEQ_NAME = re.compile(r"seq-(\d+)\.parquet")


class SeqConflictError(FileExistsError):
    """Another writer committed the snapshot seq this commit took as next."""


def write_ledger_file(
    path: str, name: str, rows, schema: T.StructType, fs=LOCAL_FS
) -> str:
    """Commit ``rows`` (dicts or Rows) as ONE Parquet file ``path/name``
    with the column types of the Spark ``schema``, created exclusively
    through the ``fs`` seam (raises ``FileExistsError`` if the name is
    taken), then mark ``path`` complete for maintenance.recover_swap.
    Returns the file's path."""
    table = pa.Table.from_pylist(
        [r if isinstance(r, dict) else r.asDict() for r in rows],
        schema=to_arrow_schema(schema),
    )
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    path = path.rstrip("/")
    file = f"{path}/{name}"
    fs.create_exclusive(file, sink.getvalue().to_pybytes())
    marker = f"{path}/{COMPLETE_MARKER}"
    if not fs.exists(marker):
        try:
            fs.create_exclusive(marker, b"")
        except FileExistsError:
            pass
    return file


def latest_seq(path: str, fs=LOCAL_FS) -> Optional[int]:
    """Highest snapshot seq committed under ``path``; None when there is
    no snapshot row. A ``seq-<N>.parquet`` file counts by its name; any
    other Parquet file (the Spark-written ``part-*`` files of a table
    committed before seq-named files) counts by the max seq stored in it.
    An unnamed file that cannot be read raises ValueError: guessing a seq
    could reuse a committed one."""
    if not fs.exists(path):
        return None
    path = path.rstrip("/")
    seqs = []
    for name in fs.listdir(path):
        if name.startswith((".", "_")) or not name.endswith(".parquet"):
            continue
        m = _SEQ_NAME.fullmatch(name)
        if m is not None:
            seqs.append(int(m.group(1)))
            continue
        stored = _stored_max_seq(f"{path}/{name}", fs)
        if stored is not None:
            seqs.append(stored)
    return max(seqs, default=None)


def _stored_max_seq(file: str, fs) -> Optional[int]:
    """max(seq) of the rows in a snapshot file; None for a file of no
    rows."""
    try:
        table = pq.read_table(pa.BufferReader(fs.read_bytes(file)), columns=["seq"])
    except (OSError, pa.ArrowException) as e:
        raise ValueError(
            f"snapshot file {file} carries no seq in its name and cannot be "
            f"read: {e}"
        ) from e
    return pc.max(table.column("seq")).as_py()


def _xor_hex(digests: List[str]) -> str:
    """Order-insensitive combination of the per-bucket sha256 rollups —
    the same XOR-chunks construction lineage uses per bucket."""
    acc = [0] * 8
    for d in digests:
        for k in range(8):
            acc[k] ^= int(d[k * 8 : k * 8 + 8], 16)
    return "".join(f"{x:08x}" for x in acc)


def append_snapshot(
    spark: SparkSession,
    path: str,
    run_id: str,
    operation: str,
    lineage_rows: List[dict],
    fs=LOCAL_FS,
) -> dict:
    """Commit one snapshot row computed from the run's (already collected)
    lineage rows as file ``seq-<seq>.parquet``, seq = 1 + `latest_seq`,
    through the ``fs`` seam. Raises SeqConflictError when another writer
    committed that seq first. ``spark`` is unused: the row is written from
    the driver. Returns the row as a dict."""
    last = latest_seq(path, fs)
    seq = 0 if last is None else last + 1
    snap = {
        "seq": seq,
        "run_id": run_id,
        "operation": operation,
        "n_buckets": len(lineage_rows),
        "buckets": sorted(int(r["url_bucket"]) for r in lineage_rows),
        "doc_count": sum(int(r["doc_count"]) for r in lineage_rows),
        "bytes_in": sum(int(r["bytes_in"]) for r in lineage_rows),
        "rollup_xor": _xor_hex([r["sha256_rollup"] for r in lineage_rows]),
    }
    try:
        write_ledger_file(path, SEQ_FILE.format(seq), [snap], SNAPSHOT_SCHEMA, fs)
    except FileExistsError as e:
        raise SeqConflictError(
            f"snapshot seq {seq} under {path} was committed by another writer"
        ) from e
    return snap


def read_snapshots(spark: SparkSession, path: str) -> Optional[DataFrame]:
    """Table history in commit order, or None when no snapshot exists.

    Only the missing-path case maps to None (first commit of a fresh
    table); a corrupted or unreadable snapshots table must PROPAGATE —
    swallowing it would silently restart seq at 0 and write a conflicting
    ledger row."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(SNAPSHOT_SCHEMA).parquet(path).orderBy("seq")
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise
