"""The engine's PySpark worker daemon (``rechercheinfoweb_spark.daemon``).

The guard tests run in-process with no Spark: an unchanged zip on
``sys.path`` is not re-read by ``importlib.invalidate_caches()``, a
replaced zip is, and a new file in a plain directory still becomes
importable.  The session tests check that the suite's ``local[4]``
session runs its Python tasks under the daemon, and which sessions
``get_spark`` gives it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest
from pyspark import SparkContext

from rechercheinfoweb_spark import daemon, session


@pytest.fixture
def guarded(monkeypatch):
    """The guard installed with no stamps; the real
    ``importlib.invalidate_caches`` is put back afterwards."""
    real = importlib.invalidate_caches
    monkeypatch.setattr(daemon, "_stamps", {})
    daemon.install()
    yield
    importlib.invalidate_caches = real


@pytest.fixture
def directory_reads(monkeypatch):
    """``reads(path)``: how many times ``zipimport`` read the directory
    of the archive at *path* so far."""
    seen: list[str] = []
    read = zipimport._read_directory

    def counted(archive):
        seen.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return lambda path: seen.count(path)


def _write_zip(path: str, name: str, source: str) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr(f"{name}.py", source)
    os.replace(tmp, path)  # a new inode, as a redeployed archive has


def _import_from(monkeypatch, entry: str, name: str):
    monkeypatch.syspath_prepend(entry)
    monkeypatch.setitem(sys.modules, name, None)  # dropped on teardown
    del sys.modules[name]
    return importlib.import_module(name)


def test_unchanged_zip_is_not_reread(guarded, directory_reads,
                                     monkeypatch, tmp_path):
    path = str(tmp_path / "unchanged.zip")
    _write_zip(path, "riw_zip_unchanged", "VALUE = 1\n")
    mod = _import_from(monkeypatch, path, "riw_zip_unchanged")
    assert isinstance(sys.path_importer_cache[path], zipimport.zipimporter)
    before = directory_reads(path)
    daemon._invalidate_caches()
    assert directory_reads(path) == before + 1  # stock: re-read
    importlib.invalidate_caches()  # first guarded call stamps it
    before = directory_reads(path)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert directory_reads(path) == before
    assert sys.path_importer_cache[path].archive == path
    assert importlib.reload(mod).VALUE == 1


def test_changed_zip_is_reread(guarded, monkeypatch, tmp_path):
    path = str(tmp_path / "changed.zip")
    _write_zip(path, "riw_zip_changed", "VALUE = 1\n")
    mod = _import_from(monkeypatch, path, "riw_zip_changed")
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    _write_zip(path, "riw_zip_changed", "VALUE = 2\nNEW = 'code'\n")
    importlib.invalidate_caches()
    mod = importlib.reload(mod)
    assert (mod.VALUE, mod.NEW) == (2, "code")


def test_new_file_in_plain_directory_is_importable(guarded, monkeypatch,
                                                   tmp_path):
    (tmp_path / "riw_plain_old.py").write_text("VALUE = 1\n")
    _import_from(monkeypatch, str(tmp_path), "riw_plain_old")
    importlib.invalidate_caches()
    (tmp_path / "riw_plain_new.py").write_text("VALUE = 2\n")
    importlib.invalidate_caches()
    assert _import_from(monkeypatch, str(tmp_path),
                        "riw_plain_new").VALUE == 2


def test_session_tasks_run_under_the_daemon(spark):
    def kernel(batches):
        import importlib

        for _ in batches:
            yield pa.RecordBatch.from_pydict(
                {"m": [importlib.invalidate_caches.__module__]})

    rows = spark.range(1, numPartitions=1).mapInArrow(
        kernel, "m string").collect()
    assert [r["m"] for r in rows] == ["rechercheinfoweb_spark.daemon"]
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == \
        "rechercheinfoweb_spark.daemon"
    assert session._PACKAGE_ROOT in conf.get(
        "spark.executorEnv.PYTHONPATH").split(os.pathsep)
    assert os.path.isfile(os.path.join(
        session._PACKAGE_ROOT, "rechercheinfoweb_spark", "daemon.py"))


def test_which_sessions_get_the_daemon(spark, monkeypatch):
    key, path = "spark.python.daemon.module", "spark.executorEnv.PYTHONPATH"
    # a session already exists: its daemon is already chosen
    assert session._with_daemon("local[2]", None) == {}
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    for master in ("local", "local[2]", "local[*]"):
        conf = session._with_daemon(master, {path: "/extra.zip"})
        assert conf == {key: "rechercheinfoweb_spark.daemon",
                        path: os.pathsep.join([session._PACKAGE_ROOT,
                                               "/extra.zip"])}
    for master in ("local-cluster[2,1,1024]", "spark://host:7077", "yarn"):
        assert session._with_daemon(master, {path: "/x.zip"}) == \
            {path: "/x.zip"}
    explicit = {key: "worker_daemon"}
    assert session._with_daemon("local[2]", explicit) == explicit
