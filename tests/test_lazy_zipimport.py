"""Lazy zip-directory reload (`_zipimport`): in a Spark Python worker on
CPython < 3.13, ``importlib.invalidate_caches()`` drops each archive's shared
directory instead of re-reading it, a later lookup still sees an archive
rewritten in place, and the driver's import system is left alone.

No timings: every check reads the importer objects and
``zipimport._zip_directory_cache``."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest
from pyspark.taskcontext import TaskContext

from pandora_apache_avro_idl_to_apache_parquet_spark import _zipimport
from pandora_apache_avro_idl_to_apache_parquet_spark._zipimport import LazyZipImporter

BACKPORTED = sys.version_info < (3, 13)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def worker_like(monkeypatch):
    """This process posing as a Spark worker mid-task, with import-system
    state of its own: path hooks and a finder cache without any of the
    process's zip importers, all restored afterwards."""
    monkeypatch.setattr(TaskContext, "_taskContext", object.__new__(TaskContext))
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache", {
        k: v for k, v in sys.path_importer_cache.items()
        if not isinstance(v, zipimport.zipimporter)})


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(not BACKPORTED, reason="CPython >= 3.13 reloads lazily itself")
def test_zip_rewritten_in_place_is_seen_after_invalidate(worker_like, tmp_path,
                                                         monkeypatch):
    lib = str(tmp_path / "lib.zip")
    _write_zip(lib, {"lzi_mod_a": "V = 1\n"})
    _zipimport.install()
    monkeypatch.syspath_prepend(lib)
    try:
        assert importlib.import_module("lzi_mod_a").V == 1
        assert type(sys.path_importer_cache[lib]) is LazyZipImporter

        # new contents at new offsets: a stale directory would miss the new
        # module and read the changed one from the wrong bytes
        _write_zip(lib, {"lzi_mod_b": "V = 2\n", "lzi_mod_a": "V = 'a' * 3\n"})
        importlib.invalidate_caches()
        assert lib not in zipimport._zip_directory_cache
        assert importlib.import_module("lzi_mod_b").V == 2
        assert lib in zipimport._zip_directory_cache
        del sys.modules["lzi_mod_a"]
        assert importlib.import_module("lzi_mod_a").V == "aaa"
    finally:
        for m in ("lzi_mod_a", "lzi_mod_b"):
            sys.modules.pop(m, None)
        zipimport._zip_directory_cache.pop(lib, None)


def test_install_is_a_no_op_on_the_driver(tmp_path, monkeypatch):
    """Without a TaskContext nothing changes: not the path hooks, and no
    zip importer in the finder cache."""
    assert TaskContext.get() is None
    lib = str(tmp_path / "drv.zip")
    _write_zip(lib, {"lzi_drv": "V = 1\n"})
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    sys.path_importer_cache[lib] = finder = zipimport.zipimporter(lib)
    hooks = list(sys.path_hooks)
    _zipimport.install()
    assert sys.path_hooks == hooks
    assert type(finder) is zipimport.zipimporter
    assert not any(isinstance(f, LazyZipImporter)
                   for f in sys.path_importer_cache.values())


def test_install_is_idempotent_and_version_gated(worker_like, tmp_path,
                                                  monkeypatch):
    lib = str(tmp_path / "idem.zip")
    _write_zip(lib, {"lzi_idem": "V = 1\n"})
    sys.path_importer_cache[lib] = finder = zipimport.zipimporter(lib)

    real = sys.version_info
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    _zipimport.install()
    monkeypatch.setattr(sys, "version_info", real)
    assert type(finder) is zipimport.zipimporter
    assert zipimport.zipimporter in sys.path_hooks
    if not BACKPORTED:
        return

    _zipimport.install()
    hooks = list(sys.path_hooks)
    _zipimport.install()
    assert sys.path_hooks == hooks
    assert hooks.count(LazyZipImporter) == 1
    assert zipimport.zipimporter not in hooks
    assert sys.path_importer_cache[lib] is finder
    assert type(finder) is LazyZipImporter
    assert "_files" not in vars(finder)
    assert "lzi_idem.py" in finder._files


def test_driver_import_system_untouched_by_package_import(tmp_path):
    """A fresh interpreter with a zip importer in use imports the package:
    the path hooks stay the same objects and every cached finder keeps its
    identity and type."""
    lib = str(tmp_path / "fresh.zip")
    _write_zip(lib, {"lzi_fresh": "V = 1\n"})
    code = textwrap.dedent(f"""
        import sys, zipimport
        sys.path.insert(0, {lib!r})
        import lzi_fresh
        hooks = list(sys.path_hooks)
        before = dict(sys.path_importer_cache)
        import pandora_apache_avro_idl_to_apache_parquet_spark
        assert sys.path_hooks == hooks, sys.path_hooks
        for k, f in before.items():
            assert sys.path_importer_cache.get(k) is f, k
            assert type(f).__name__ != "LazyZipImporter", k
        assert type(before[{lib!r}]) is zipimport.zipimporter
        print("ok")
    """)
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=120, cwd=ROOT)
    assert out.stdout.strip() == "ok", out.stderr


def test_spark_worker_reloads_zip_directories_lazily(spark):
    """Inside a task: once the engine is imported, every zip importer on
    the worker is the lazy one (the plain one from CPython 3.13 on), one
    ``importlib.invalidate_caches()`` leaves none of their archives in the
    directory cache, and the next lookup reads them back."""

    def probe(_):
        import importlib.util
        import sys
        import zipimport

        import pandora_apache_avro_idl_to_apache_parquet_spark  # noqa: F401

        zips = [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]
        archives = sorted({f.archive for f in zips})
        kinds = sorted({type(f).__name__ for f in zips})
        importlib.invalidate_caches()
        dropped = [a for a in archives if a not in zipimport._zip_directory_cache]
        # a miss walks every sys.path entry, so every archive is read again
        importlib.util.find_spec("lzi_no_such_module")
        back = [a for a in archives if a in zipimport._zip_directory_cache]
        yield archives, kinds, dropped, back

    ((archives, kinds, dropped, back),) = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect())
    if not archives:
        pytest.skip("no zip archive on the worker's sys.path")
    assert any(a.endswith("pyspark.zip") for a in archives), archives
    assert kinds == ["LazyZipImporter" if BACKPORTED else "zipimporter"]
    assert dropped == archives
    assert back == archives
