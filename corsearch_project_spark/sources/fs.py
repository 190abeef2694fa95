"""Injectable filesystem seam for driver-side metadata operations.

The table emulation keeps its data I/O inside Spark (the JVM resolves
``s3a://``/``hdfs://`` through Hadoop filesystems), but the lineage and
snapshot ledgers are written and maintained from the driver in Python:
each commit is one driver-written Parquet file, created with
``create_exclusive`` (``sources/snapshots.write_ledger_file``);
``maintenance.expire_snapshots`` deletes whole ledger files and
``maintenance.vacuum_staging`` reaps crash leftovers. Hard-coding the os
calls would make those local-only.

This module is the seam: the ledger writer and maintenance take an ``fs``
object implementing the calls below (duck-typed, like the ``open()`` seam
in ``sources/warc.read_warc_ranges``). ``LOCAL_FS`` is the default; a
cluster deployment passes a thin adapter over ``pyarrow.fs.S3FileSystem``
/ ``fsspec`` with the same methods. No call moves a file, so an object
store needs no copy+delete emulation.

Semantics the implementations must provide:

* ``create_exclusive(path, data)`` writes one whole file atomically and
  raises ``FileExistsError`` if ``path`` already exists — readers see
  either no file or all of ``data``, also after a crash or power loss,
  and of two writers racing for one name exactly one succeeds. This is
  the ledger's commit primitive: the snapshot ``seq`` is the file name,
  so the loser of a race for a ``seq`` fails instead of duplicating it.
  POSIX: write a dot-prefixed temp file and fsync it, hard-link it to
  the final name (``link`` refuses an existing name), unlink the temp,
  fsync the directory. Object store: a conditional put
  (``If-None-Match: *``). A writer killed mid-call may leave the temp
  file (``.<name>.<hex>.tmp``); readers skip dot-prefixed names and
  ``maintenance.vacuum_staging`` reaps it.
* ``read_bytes(path)`` returns a whole (small) file — ledger files are
  read through it on the driver.
* ``rmtree`` removes a directory tree / prefix, or a single file,
  idempotently.
* ``exists``, ``listdir``, ``isdir``, ``getsize`` are the obvious
  metadata probes.

``LocalFS`` takes plain paths and ``file:`` URIs, and raises ValueError
for any other scheme (``s3a://``, ``hdfs://``...): a caller that must not
act before its ledger commit can succeed probes its paths first
(``extract_pipeline.check_ledger_root``).
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from typing import List

# Suffix of create_exclusive's dot-prefixed temp files.
TMP_SUFFIX = ".tmp"

# A Hadoop-style URI scheme prefix ("s3a:", "hdfs:", "file:").
_SCHEME = re.compile(r"[A-Za-z][A-Za-z0-9+.-]+:")


def _local(path: str) -> str:
    """The POSIX path of ``path``: a ``file:`` URI loses its scheme (and
    an empty or ``localhost`` authority), any other scheme raises
    ValueError."""
    m = _SCHEME.match(path)
    if m is None:
        return path
    rest = path[m.end():]
    if m.group(0).lower() == "file:":
        if not rest.startswith("//"):
            return rest
        host, _, tail = rest[2:].partition("/")
        if host in ("", "localhost"):
            return "/" + tail
    raise ValueError(
        f"LocalFS cannot reach {path!r}: pass an fs adapter for that scheme"
    )


class LocalFS:
    """POSIX implementation — the sandbox / fuse-mount / NFS default."""

    def exists(self, path: str) -> bool:
        return os.path.exists(_local(path))

    def rmtree(self, path: str) -> None:
        path = _local(path)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            try:
                os.remove(path)
            except FileNotFoundError:
                pass

    def create_exclusive(self, path: str, data: bytes) -> None:
        parent, name = os.path.split(_local(path))
        os.makedirs(parent, exist_ok=True)
        tmp = os.path.join(parent, f".{name}.{uuid.uuid4().hex}{TMP_SUFFIX}")
        try:
            with open(tmp, "wb") as f:
                f.write(data)
                f.flush()
                os.fsync(f.fileno())
            os.link(tmp, os.path.join(parent, name))
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass
        dirfd = os.open(parent, os.O_RDONLY)
        try:
            os.fsync(dirfd)
        finally:
            os.close(dirfd)

    def read_bytes(self, path: str) -> bytes:
        with open(_local(path), "rb") as f:
            return f.read()

    def listdir(self, path: str) -> List[str]:
        return os.listdir(_local(path))

    def isdir(self, path: str) -> bool:
        return os.path.isdir(_local(path))

    def getsize(self, path: str) -> int:
        return os.path.getsize(_local(path))


LOCAL_FS = LocalFS()
