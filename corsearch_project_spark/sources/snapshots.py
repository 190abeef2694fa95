"""Snapshot metadata table — the Iceberg commit-ledger emulation.

Iceberg tracks table state as an ordered chain of snapshots, each recording
the operation and aggregate stats (`snapshots` metadata table). The driver
spec calls for a "snapshot/lineage metadata table" standing in for that
(SURVEY §0.1); lineage.py is the per-bucket ledger, this module is the
per-COMMIT ledger on top of it:

  * one row per run_extract commit: run_id, sequence number, operation
    (append | overwrite | resume-append), buckets touched, doc/byte totals
    and the order-insensitive digest-of-digests across those buckets;
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
    committing. ``maintenance.expire_snapshots`` deletes such a file only
    once every run in it has expired. Only an unreadable unnamed file
    stops a commit.

The lineage ledger (sources/io.py ``append_lineage``) is written by the
same `write_ledger_file`, one uniquely named file per commit. Every
driver-side read of either ledger — the seq of a commit, ``--resume``'s
done buckets, snapshot expiry, ``jobs/validate_table.py`` — goes through
`read_ledger`, which raises on a file it cannot read. On real
Iceberg these rows come for free from the catalog; the seam is the same as
sources/io.py's TableFormat.
"""

from __future__ import annotations

import re
from typing import Dict, Iterable, List, Optional, Sequence, Set

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from corsearch_project_spark.sources.fs import LOCAL_FS

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
    taken). Returns the file's path."""
    table = pa.Table.from_pylist(
        [r if isinstance(r, dict) else r.asDict() for r in rows],
        schema=to_arrow_schema(schema),
    )
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    file = f"{path.rstrip('/')}/{name}"
    fs.create_exclusive(file, sink.getvalue().to_pybytes())
    return file


def ledger_files(path: str, fs=LOCAL_FS) -> List[str]:
    """Paths of the Parquet files under ledger dir ``path`` (none when it
    does not exist). Hidden files — the ``_SUCCESS`` of a Spark-written
    ledger, a torn ``.tmp`` — are skipped, as Spark skips them."""
    if not fs.exists(path):
        return []
    path = path.rstrip("/")
    return [
        f"{path}/{name}"
        for name in fs.listdir(path)
        if not name.startswith((".", "_")) and name.endswith(".parquet")
    ]


def read_ledger(
    files: Sequence[str], columns: Sequence[str], fs=LOCAL_FS
) -> Dict[str, List[dict]]:
    """file -> its rows (only ``columns``) for each of the ledger
    ``files`` (lineage or snapshots), read on the driver through the
    ``fs`` seam with no Spark job. A file that cannot be read raises
    ValueError: a reader that skipped it would judge the table without
    the commits it holds."""
    out: Dict[str, List[dict]] = {}
    for file in files:
        try:
            table = pq.read_table(
                pa.BufferReader(fs.read_bytes(file)), columns=list(columns)
            )
        except (OSError, pa.ArrowException) as e:
            raise ValueError(f"ledger file {file} cannot be read: {e}") from e
        out[file] = table.to_pylist()
    return out


def run_buckets(path: str, run_id: str, fs=LOCAL_FS) -> Set[int]:
    """The buckets that snapshots of ``run_id`` under ``path`` cover.
    Snapshot files are named by seq, not run, so every one is read —
    only its run_id and buckets columns; expire_snapshots bounds their
    number."""
    files = read_ledger(ledger_files(path, fs), ("run_id", "buckets"), fs)
    return {
        b for rs in files.values() for r in rs if r["run_id"] == run_id
        for b in r["buckets"]
    }


def latest_seq(path: str, fs=LOCAL_FS) -> Optional[int]:
    """Highest snapshot seq committed under ``path``; None when there is
    no snapshot row. A ``seq-<N>.parquet`` file counts by its name; any
    other Parquet file (the Spark-written ``part-*`` files of a table
    committed before seq-named files) counts by the max seq stored in it.
    An unnamed file that cannot be read raises ValueError: guessing a seq
    could reuse a committed one."""
    seqs = []
    for file in ledger_files(path, fs):
        m = _SEQ_NAME.fullmatch(file.rsplit("/", 1)[1])
        if m is not None:
            seqs.append(int(m.group(1)))
            continue
        seqs += [r["seq"] for r in read_ledger([file], ("seq",), fs)[file]]
    return max(seqs, default=None)


def xor_chunks(digests: Iterable[str], acc: Optional[List[int]] = None) -> List[int]:
    """Fold sha256 hex digests into ``acc``, their eight 32-bit chunks
    XOR'd (updated in place; a new accumulator when None) — the JVM
    rollup's construction (functions.sql.digest_xor_chunks), which skips
    an empty chunk as it skips a null one."""
    acc = [0] * 8 if acc is None else acc
    for d in digests:
        for k in range(8):
            chunk = d[k * 8 : k * 8 + 8]
            if chunk:
                acc[k] ^= int(chunk, 16)
    return acc


def chunks_hex(acc: List[int]) -> str:
    """The 64-hex-char rollup string of ``xor_chunks``' accumulator."""
    return "".join(f"{x:08x}" for x in acc)


def _xor_hex(digests: List[str]) -> str:
    """Order-insensitive combination of the per-bucket sha256 rollups —
    the same XOR-chunks construction lineage uses per bucket."""
    return chunks_hex(xor_chunks(digests))


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

