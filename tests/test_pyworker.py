"""The stat guard on ``zipimporter.invalidate_caches`` (``_pyworker``).

The first three tests need no Spark: they drive a ``zipimporter`` over a zip
built in ``tmp_path``. The last one checks that PySpark's own workers, which
import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``, run with the
guard once they have imported the package.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from openllm_ocr_annotator_spark import _pyworker

GUARDED = sys.version_info < (3, 13)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path):
    path = str(tmp_path / "probe.zip")
    names = ("_pyworker_probe_a", "_pyworker_probe_b")
    _write_zip(path, names[:1])
    sys.path.insert(0, path)
    try:
        yield path
    finally:
        sys.path.remove(path)
        sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)
        for name in names:
            sys.modules.pop(name, None)


def test_unchanged_archive_is_not_reread(zip_on_path):
    assert importlib.import_module("_pyworker_probe_a").NAME == "_pyworker_probe_a"
    importer = sys.path_importer_cache[zip_on_path]
    assert isinstance(importer, zipimport.zipimporter)
    importlib.invalidate_caches()  # an importer's first call reads and records the stat
    files = importer._files
    importlib.invalidate_caches()
    if GUARDED:
        assert importer._files is files


def test_changed_or_removed_archive_is_reread(zip_on_path):
    importlib.import_module("_pyworker_probe_a")
    importer = sys.path_importer_cache[zip_on_path]
    importlib.invalidate_caches()
    _write_zip(zip_on_path, ("_pyworker_probe_a", "_pyworker_probe_b"))
    importlib.invalidate_caches()
    assert importlib.import_module("_pyworker_probe_b").NAME == "_pyworker_probe_b"
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    if GUARDED:
        assert importer._files == {}


def test_install_twice_wraps_once():
    _pyworker.install()
    _pyworker.install()
    method = zipimport.zipimporter.invalidate_caches
    if not GUARDED:
        assert not hasattr(method, "_stat_guarded")
        return
    assert method._stat_guarded
    assert not hasattr(method.__wrapped__, "_stat_guarded")


def test_spark_workers_run_with_the_guard(spark):
    from pyspark.sql import functions as F

    from openllm_ocr_annotator_spark.functions.json_extract import parse_result

    texts = spark.createDataFrame([(f'{{"a": {i}}}',) for i in range(8)], ["t"]).repartition(4)
    parsed = texts.select(parse_result(F.col("t"), "a bigint").a.alias("a"))
    assert sorted(r.a for r in parsed.collect()) == list(range(8))

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        import openllm_ocr_annotator_spark  # noqa: F401  (installs the guard)

        n = sum(b.num_rows for b in batches)
        zips = [i for i in sys.path_importer_cache.values() if isinstance(i, zipimport.zipimporter)]
        importlib.invalidate_caches()
        before = [i._files for i in zips]
        importlib.invalidate_caches()
        yield pa.RecordBatch.from_pydict({
            "n": [n],
            "guarded": [getattr(zipimport.zipimporter.invalidate_caches, "_stat_guarded", False)],
            "zips": [len(zips)],
            "kept": [all(i._files is f for i, f in zip(zips, before))],
        })

    rows = texts.mapInArrow(probe, "n long, guarded boolean, zips long, kept boolean").collect()
    assert len(rows) == 4 and sum(r.n for r in rows) == 8
    assert all(r.zips > 0 for r in rows)  # the workers import pyspark from pyspark.zip
    assert all(r.guarded == GUARDED for r in rows)
    if GUARDED:
        assert all(r.kept for r in rows)
