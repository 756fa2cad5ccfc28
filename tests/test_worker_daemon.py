"""The Python-worker daemon's zip-directory invalidation: re-read an
archive's central directory only when the file changed, fall back to the
stock reload otherwise, and keep imports from changed archives correct —
first on a bare ``zipimporter``, then inside real Spark workers."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from otus_cpp_11_spark.worker_daemon import install


def _write_zip(path, module: str, value: int) -> None:
    # write beside the target and rename over it, as a file fetch does
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr(f"{module}.py", f"VALUE = {value}\n")
    os.replace(tmp, path)


@pytest.fixture
def reads(monkeypatch):
    """Counts central-directory reads made through ``zipimport``."""
    calls: list[str] = []
    stock = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def patched():
    undo = install()
    yield
    undo()


def test_import_alone_leaves_zipimport_stock():
    assert zipimport.zipimporter.invalidate_caches.__qualname__ == (
        "zipimporter.invalidate_caches"
    )


def test_unchanged_archive_is_not_reread(tmp_path, reads, patched):
    archive = str(tmp_path / "a.zip")
    _write_zip(archive, "sg_zip_unchanged", 1)
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()  # first sight in this process: stock re-read
    assert len(reads) == 2  # the constructor's read + that re-read
    for _ in range(3):
        imp.invalidate_caches()
    assert len(reads) == 2
    assert imp._files is zipimport._zip_directory_cache[archive]
    assert "sg_zip_unchanged.py" in imp._files


def test_rewritten_archive_is_reread_and_imports_new_content(
    tmp_path, reads, patched
):
    name = "sg_zip_rewritten"
    archive = str(tmp_path / "b.zip")
    _write_zip(archive, name, 1)
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module(name).VALUE == 1
        importlib.invalidate_caches()
        before = reads.count(archive)
        importlib.invalidate_caches()
        assert reads.count(archive) == before
        _write_zip(archive, name, 2)
        del sys.modules[name]
        importlib.invalidate_caches()
        assert reads.count(archive) == before + 1
        assert importlib.import_module(name).VALUE == 2
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        sys.modules.pop(name, None)


def test_missing_archive_falls_back_to_stock(tmp_path, reads, patched):
    archive = str(tmp_path / "c.zip")
    _write_zip(archive, "sg_zip_missing", 1)
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()
    os.remove(archive)
    imp.invalidate_caches()
    assert reads.count(archive) == 3  # the stock reload was attempted
    assert imp._files == {}
    assert archive not in zipimport._zip_directory_cache


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 is lazy; no patch")
def test_spark_worker_runs_patched_invalidation(spark):
    # nested so cloudpickle ships it by value (tests/ is not on the worker path)
    def _worker_invalidation(_):
        import importlib
        import sys
        import zipimport

        calls = []
        stock = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return stock(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        zips = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        yield len(calls), zips, zipimport.zipimporter.invalidate_caches.__qualname__

    rows = (
        spark.sparkContext.parallelize(range(2), 2)
        .mapPartitions(_worker_invalidation)
        .collect()
    )
    assert len(rows) == 2
    for n_reads, n_zip_importers, qualname in rows:
        assert qualname == "install.<locals>.invalidate_caches"
        assert n_zip_importers > 0  # pyspark.zip et al. are on the worker path
        assert n_reads == 0


def test_py_file_added_mid_session_imports_in_later_task(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.parallelize(range(2), 2).map(lambda x: x + 1).sum() == 3
    archive = str(tmp_path / "sg_added_mid_session.zip")
    _write_zip(archive, "sg_added_mid_session", 7)
    sc.addPyFile(archive)
    got = (
        sc.parallelize(range(2), 2)
        .map(lambda _: __import__("sg_added_mid_session").VALUE)
        .collect()
    )
    assert got == [7, 7]
