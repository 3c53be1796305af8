"""The zip re-read guard installed at package import.

``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` before every Python task; before
CPython 3.13 every ``zipimporter`` re-reads its whole archive directory
on that call. The package installs a guard that skips the re-read of an
archive whose inode, size, mtime and ctime are unchanged. These tests
count ``zipimport._read_directory`` calls across ``invalidate_caches()``
and re-imports."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import neurostore_text_extraction_spark  # noqa: F401  (installs the guard)

MOD = "nse_zip_guard_probe"


def _write_zip(path, source):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{MOD}.py", source)


def _reads_during(monkeypatch, archive, action):
    reads = []
    read = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    action()
    monkeypatch.setattr(zipimport, "_read_directory", read)
    return len(reads)


def _reimport():
    """``invalidate_caches()`` then a fresh import of the probe module.
    The archive is read once across the two on every CPython version:
    eagerly by the call before 3.13, lazily by the import from 3.13."""
    importlib.invalidate_caches()
    del sys.modules[MOD]
    return importlib.import_module(MOD).VALUE


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "probe.zip")
    _write_zip(path, "VALUE = 1\n")
    monkeypatch.syspath_prepend(path)
    monkeypatch.delitem(sys.modules, MOD, raising=False)
    assert importlib.import_module(MOD).VALUE == 1
    # the first call may read the archive once: nothing has stamped it yet
    importlib.invalidate_caches()
    return path


def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(archive, monkeypatch):
    assert _reads_during(monkeypatch, archive, importlib.invalidate_caches) == 0

    # a re-shipped archive (new size) is re-read and its new code imports
    _write_zip(archive, "VALUE = 22  # rewritten\n")
    values = []
    assert _reads_during(monkeypatch, archive, lambda: values.append(_reimport())) == 1
    assert values == [22]


def test_rewrite_with_same_size_and_mtime_is_reread(archive, monkeypatch):
    """A copy that keeps size and mtime (``cp -p``, ``rsync -t``) still
    changes the ctime, so the archive is re-read."""
    st = os.stat(archive)
    _write_zip(archive, "VALUE = 2\n")
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(archive).st_size == st.st_size
    values = []
    assert _reads_during(monkeypatch, archive, lambda: values.append(_reimport())) == 1
    assert values == [2]


def test_guard_reaches_python_workers(spark):
    """Inside a Spark Python worker, where ``pyspark.zip`` is on the
    path, an ``invalidate_caches()`` after the package import reads no
    archive directory."""
    import pyarrow as pa

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import neurostore_text_extraction_spark  # noqa: F401

        for _ in batches:
            pass
        importlib.invalidate_caches()
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or read(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pylist([{"zips": zips, "reads": len(reads)}])

    row = spark.range(1, numPartitions=1).mapInArrow(probe, "zips long, reads long").first()
    if row["zips"] == 0:
        pytest.skip("the Python workers import from no zip archive: nothing to guard")
    assert row["reads"] == 0
