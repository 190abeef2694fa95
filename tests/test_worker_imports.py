"""The engine's ``mapInArrow`` functions leave no ``zipimporter`` in
``sys.path_importer_cache`` when their partition is done
(``kernel.release_zip_importers``), so the next task's
``importlib.invalidate_caches()`` has no zip directory to re-read. Runs
in-process, with no Spark."""

import importlib
import pkgutil
import sys
import zipfile
import zipimport

import pyarrow as pa
import pyarrow.fs as pafs
import pyspark

from corsearch_project_spark.operators import kernel as K
from corsearch_project_spark.sources import io as IO
from corsearch_project_spark.sources.schemas import EXTRACTED_KERNEL_SCHEMA


def _zip_importers():
    return [p for p, f in sys.path_importer_cache.items() if isinstance(f, zipimport.zipimporter)]


class _Task:
    @staticmethod
    def taskAttemptId():
        return 7


def test_mapinarrow_functions_release_zip_importers(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipped_mod_a.py", "A = 1\n")
        z.writestr("zipped_mod_b.py", "B = 2\n")
    monkeypatch.syspath_prepend(archive)
    for name in ("zipped_mod_a", "zipped_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zipped_mod_a").A == 1
    assert archive in _zip_importers()

    rb = pa.RecordBatch.from_pydict(
        {
            "url": ["http://x.example/a", "http://x.example/b"],
            "html": [b"<html><body><p>a body of text that is long enough.</p></body></html>"] * 2,
            "text": pa.array([None, None], type=pa.string()),
            "url_bucket": pa.array([3, 3], type=pa.int32()),
        }
    )
    kernel, _ = K.bucketed_kernel(K.text_rows, EXTRACTED_KERNEL_SCHEMA, {})
    assert sum(b.num_rows for b in kernel(iter([rb]))) == 2
    assert _zip_importers() == []

    pkgutil.get_importer(archive)  # cached again, as a later import would
    assert archive in _zip_importers()
    monkeypatch.setattr(pyspark.TaskContext, "get", lambda: _Task())
    # no kernel, as in a merge's rewrite: the write stage releases on its own
    stage = IO._write_stage(pafs.LocalFileSystem(), str(tmp_path / "t"), "r1", 100, None)
    written = [r for b in stage(iter([rb])) for r in b.to_pylist()]
    assert [(w["url_bucket"], w["doc_count"]) for w in written] == [(3, 2)]
    assert _zip_importers() == []

    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda path: reads.append(path) or real(path))
    importlib.invalidate_caches()
    assert importlib.import_module("zipped_mod_b").B == 2
    assert sys.modules["zipped_mod_b"].__file__.startswith(archive)
    assert reads == []
