"""The Python worker daemon (``impala_hashset_count_spark.worker_daemon``):
an unchanged zip archive on the import path is not re-read by
``importlib.invalidate_caches()``, a changed one is, and Spark's workers
run with the patch."""

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from impala_hashset_count_spark import worker_daemon

lazy_zipimport = sys.version_info >= (3, 13)


def _write_zip(path, modules):
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)
    os.replace(tmp, path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding one imported module, the daemon's patch
    installed, and a count of directory reads per archive."""
    name = f"wd_{uuid.uuid4().hex}"
    path = str(tmp_path / f"{name}.zip")
    _write_zip(path, {f"{name}_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(path)
    importlib.import_module(f"{name}_a")
    # Undone on teardown: the stock method and an empty stamp table.
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    worker_daemon.install()
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive_path):
        reads.append(archive_path)
        return stock_read(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield name, path, reads
    for mod in (f"{name}_a", f"{name}_b"):
        sys.modules.pop(mod, None)
    sys.path_importer_cache.pop(path, None)


@pytest.mark.skipif(lazy_zipimport, reason="Python >= 3.13 re-reads lazily")
def test_unchanged_archive_is_not_reread(archive):
    _, path, reads = archive
    for _ in range(3):
        importlib.invalidate_caches()
    assert path not in reads


@pytest.mark.skipif(lazy_zipimport, reason="Python >= 3.13 re-reads lazily")
def test_rewritten_archive_is_reread_and_new_module_imports(archive):
    name, path, reads = archive
    _write_zip(path, {f"{name}_a": "VALUE = 'a'\n", f"{name}_b": "VALUE = 'b'\n"})
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    assert importlib.import_module(f"{name}_b").VALUE == "b"
    importlib.invalidate_caches()
    assert reads.count(path) == 1


def test_pyfile_added_after_workers_are_warm_imports(spark, tmp_path):
    sc = spark.sparkContext
    sc.parallelize(range(4), 4).map(lambda x: x).collect()  # warm the workers
    name = f"wd_{uuid.uuid4().hex}"
    path = str(tmp_path / f"{name}.zip")
    _write_zip(path, {name: "VALUE = 42\n"})
    sc.addPyFile(path)

    def load(_):
        return importlib.import_module(name).VALUE

    assert sc.parallelize(range(4), 4).map(load).collect() == [42] * 4


def test_workers_run_the_patched_invalidate_caches(spark):
    def probe(_):
        method = zipimport.zipimporter.invalidate_caches
        return sys.version_info >= (3, 13), method.__code__.co_filename

    for lazy, filename in spark.sparkContext.parallelize(range(4), 4).map(probe).collect():
        patched = os.path.basename(filename) == "worker_daemon.py"
        assert patched != lazy, filename
