"""The Python-worker zip re-read fix (htmlparser_spark._pyworker).

The unit tests put a zip of their own on sys.path, fake a Spark task
context, and count zipimport's central-directory reads of that zip."""
import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import SparkSession
from pyspark.taskcontext import TaskContext

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from htmlparser_spark import _pyworker

LAZY = (3, 10) <= sys.version_info[:2] < (3, 13)
MODULES = ("pyworker_zmod_a", "pyworker_zmod_b")


def _write_zip(path, sources):
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in sources.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding one module, on sys.path and imported from, so
    sys.path_importer_cache holds a zipimporter for it. The stock
    invalidate_caches is restored afterwards."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {MODULES[0]: "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    assert importlib.import_module(MODULES[0]).X == 1
    assert isinstance(sys.path_importer_cache[path], zipimport.zipimporter)
    yield path
    sys.path_importer_cache.pop(path, None)
    for name in MODULES:
        sys.modules.pop(name, None)


@pytest.fixture
def in_task(monkeypatch):
    monkeypatch.setattr(TaskContext, "_taskContext", object())


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory, in call order."""
    seen = []
    read = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.mark.skipif(not LAZY, reason="the re-read is eager only on 3.10-3.12")
def test_unchanged_zip_is_not_reread(zip_on_path, in_task, reads):
    importlib.invalidate_caches()  # stock: re-reads the unchanged zip
    assert reads.count(zip_on_path) == 1
    assert _pyworker.install() and _pyworker.active()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1
    assert importlib.import_module(MODULES[0]).X == 1


@pytest.mark.skipif(not LAZY, reason="the re-read is eager only on 3.10-3.12")
def test_rewritten_zip_is_reread(zip_on_path, in_task, reads):
    assert _pyworker.install()
    _write_zip(zip_on_path, {MODULES[0]: "X = 1\n", MODULES[1]: "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1
    assert importlib.import_module(MODULES[1]).Y == 2
    importlib.invalidate_caches()  # unchanged since that read
    assert reads.count(zip_on_path) == 1


def test_no_patch_outside_a_task(zip_on_path, reads):
    assert TaskContext.get() is None
    stock = zipimport.zipimporter.invalidate_caches
    assert not _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is stock
    assert not _pyworker.active()


def test_no_patch_on_lazy_pythons(zip_on_path, in_task, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    stock = zipimport.zipimporter.invalidate_caches
    assert not _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is stock


@pytest.fixture(scope="module")
def spark():
    s = (SparkSession.builder.master("local[2]")
         .appName("htmlparser-pyworker-tests")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.python.worker.reuse", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.executorEnv.PYTHONPATH", REPO)
         .getOrCreate())
    yield s
    s.stop()


def test_package_stage_loads_fix_in_its_worker(spark):
    """A stage whose function pickles by reference to the package imports
    it on the worker; its second run reports from inside its tasks that
    the fix is active (on CPython 3.10-3.12; elsewhere it stays off)."""
    df = spark.range(0, 2, 1, 2)
    for _ in range(2):
        rows = df.mapInArrow(_pyworker.report, "active boolean").collect()
    assert [r.active for r in rows] == [LAZY, LAZY]
    assert not _pyworker.active()  # the driver is never patched
