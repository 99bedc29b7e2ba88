"""The stat-checked zip directory cache (``sptag_spark._zipcache``).

Before Python 3.13 ``importlib.invalidate_caches()`` re-parses every zip
archive on ``sys.path``; PySpark's worker calls it at every task start.
Importing ``sptag_spark`` makes the call re-read an archive only when the
archive changed on disk.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from sptag_spark import _zipcache

lazy_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches is lazy from 3.13 on")


@pytest.fixture
def reads(monkeypatch):
    """Counts ``zipimport._read_directory`` calls while the test runs."""
    calls = []
    original = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def zip_on_path(tmp_path):
    path = str(tmp_path / "mods.zip")
    sys.path.insert(0, path)
    yield path
    sys.path.remove(path)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)
    for mod in ("m_a", "m_b"):
        sys.modules.pop(mod, None)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@lazy_zipimport
def test_unchanged_archive_is_not_reread(zip_on_path, reads):
    _write_zip(zip_on_path, ["m_a"])
    assert importlib.import_module("m_a").NAME == "m_a"
    importlib.invalidate_caches()
    del reads[:]
    importlib.invalidate_caches()
    assert reads == []


@lazy_zipimport
def test_rewritten_archive_is_reread(zip_on_path, reads):
    _write_zip(zip_on_path, ["m_a"])
    importlib.import_module("m_a")
    importlib.invalidate_caches()
    before = os.stat(zip_on_path)
    _write_zip(zip_on_path, ["m_a", "m_b"])
    os.utime(zip_on_path, ns=(before.st_atime_ns,
                              before.st_mtime_ns + 1_000_000_000))
    after = os.stat(zip_on_path)
    assert after.st_size != before.st_size
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1
    assert importlib.import_module("m_b").NAME == "m_b"


def test_install_is_idempotent():
    _zipcache.install()
    _zipcache.install()
    fn = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13):
        assert not hasattr(fn, "__wrapped__")
    else:
        assert hasattr(fn, "__wrapped__")
        assert not hasattr(fn.__wrapped__, "__wrapped__")


@lazy_zipimport
def test_reused_worker_skips_archive_rereads(spark):
    """A task in a reused Python worker that already imported the package
    sees the wrapper installed and re-reads no archive. One-partition
    jobs are repeated until such a task shows up (workers are reused, so
    the second job normally lands on the first job's worker)."""
    def report(batches):
        # nested, so cloudpickle ships it by value: the worker imports
        # nothing of the package before the body runs
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        later_task = "sptag_spark" in sys.modules
        import sptag_spark  # noqa: F401

        calls = []
        original = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return original(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        wrapped = hasattr(zipimport.zipimporter.invalidate_caches,
                          "__wrapped__")
        for _ in batches:
            pass
        yield pa.record_batch(
            [pa.array([later_task]), pa.array([wrapped]),
             pa.array([len(calls)])],
            names=["later_task", "wrapped", "reads"])

    schema = "later_task boolean, wrapped boolean, reads long"
    later = []
    for _ in range(8):
        rows = spark.range(1, numPartitions=1).mapInArrow(
            report, schema).collect()
        later += [r for r in rows if r["later_task"]]
        if later:
            break
    assert later, "no task ran in a worker that had imported sptag_spark"
    for r in later:
        assert r["wrapped"] and r["reads"] == 0, r
