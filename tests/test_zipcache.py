"""``_zipcache``: ``importlib.invalidate_caches()`` re-reads a zip archive's
directory only when the archive changed on disk."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import picsure_dictionary_etl_spark  # noqa: F401  (installs the patch)

needs_patch = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython >= 3.12 invalidates zip importers lazily; nothing is installed",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip archive on ``sys.path``; removed with its modules afterwards."""
    path = str(tmp_path / "mods.zip")
    sys.path.insert(0, path)
    before = set(sys.modules)
    try:
        yield path
    finally:
        sys.path.remove(path)
        sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)
        for name in set(sys.modules) - before:
            if name.startswith("zc_"):
                del sys.modules[name]


@pytest.fixture
def directory_reads(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def spy(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    return calls


@needs_patch
def test_unchanged_archives_are_not_reread(zip_on_path, directory_reads):
    _write_zip(zip_on_path, {"zc_a": 1})
    assert importlib.import_module("zc_a").VALUE == 1
    importlib.invalidate_caches()  # the first invalidation reads and stamps
    directory_reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert directory_reads == []


@pytest.mark.parametrize("change", ["size", "mtime"])
def test_rewritten_archive_is_reread(zip_on_path, directory_reads, change):
    _write_zip(zip_on_path, {"zc_b1": 1})
    assert importlib.import_module("zc_b1").VALUE == 1
    importlib.invalidate_caches()
    size = os.path.getsize(zip_on_path)
    if change == "size":
        _write_zip(zip_on_path, {"zc_b1": 1, "zc_b2": 2})
    else:
        # the same entry lengths give the same archive size; only the
        # stamp's mtime tells the rewrite apart
        _write_zip(zip_on_path, {"zc_b2": 2})
        assert os.path.getsize(zip_on_path) == size
        st = os.stat(zip_on_path)
        os.utime(zip_on_path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    directory_reads.clear()
    importlib.invalidate_caches()
    if sys.version_info < (3, 12):  # later versions read on the next lookup
        assert directory_reads.count(zip_on_path) == 1
    assert importlib.import_module("zc_b2").VALUE == 2


def test_deleted_archive_imports_nothing(zip_on_path):
    _write_zip(zip_on_path, {"zc_c1": 1, "zc_c2": 2})
    assert importlib.import_module("zc_c1").VALUE == 1
    importlib.invalidate_caches()
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zc_c2")


@needs_patch
def test_reused_spark_worker_skips_directory_reads(spark):
    """Each task reports, from inside its Python worker, whether the
    installed ``invalidate_caches`` is the package's and how many zip
    directories the worker read since its first probe task. The worker
    invalidates before every task, so a second task on the same worker
    that reads nothing shows the cache at work."""

    def probe(batches):
        import importlib
        import os
        import zipimport

        import pyarrow as pa

        from picsure_dictionary_etl_spark import _zipcache
        from picsure_dictionary_etl_spark.streaming.xxhash_vec import (
            spark_xxhash64_vec,
        )

        for _ in batches:
            pass
        spark_xxhash64_vec([pa.array([1, 2])], ["bigint"])
        if not hasattr(zipimport, "_probe_reads"):
            # stamp every archive before counting: a worker's first task
            # can run its invalidation before the package is imported
            importlib.invalidate_caches()
            zipimport._probe_reads = reads = []
            real = zipimport._read_directory

            def spy(archive):
                reads.append(archive)
                return real(archive)

            zipimport._read_directory = spy
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "patched": [
                zipimport.zipimporter.invalidate_caches is _zipcache._invalidate_caches
            ],
            "reads": [len(zipimport._probe_reads)],
        })

    schema = "pid long, patched boolean, reads long"
    seen = {}
    repeats = []
    # idle workers are taken in turn, so a pid repeats within a few jobs
    for _ in range(12):
        row = spark.range(1, numPartitions=1).mapInArrow(probe, schema).collect()[0]
        assert row.patched
        if row.pid in seen:
            repeats.append(row)
            if len(repeats) >= 2:
                break
        seen[row.pid] = row
    assert repeats, "no Python worker ran two tasks"
    assert all(r.reads == 0 for r in repeats), repeats
