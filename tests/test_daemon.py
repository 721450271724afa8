"""The engine's PySpark worker daemon (``rechercheinfoweb_spark.daemon``).

The guard tests run in-process with no Spark: an unchanged zip on
``sys.path`` is not re-read by ``importlib.invalidate_caches()``, a
replaced zip is, and a new file in a plain directory still becomes
importable.  The session tests check that the suite's ``local[4]``
session runs its Python tasks under the daemon over a Unix domain
socket in a private directory, and which sessions ``get_spark`` gives
them."""

from __future__ import annotations

import importlib
import os
import shutil
import stat
import subprocess
import sys
import tempfile
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


def test_session_tasks_talk_over_the_private_socket_dir(spark):
    def kernel(batches):
        import os

        for _ in batches:
            yield pa.RecordBatch.from_pydict({
                "uds": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED")],
                "dir": [os.environ.get("PYTHON_WORKER_FACTORY_SOCK_DIR")]})

    rows = spark.range(1, numPartitions=1).mapInArrow(
        kernel, "uds string, dir string").collect()
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    sock_dir = conf.get("spark.python.unix.domain.socket.dir")
    # the JVM writes "True"; PySpark compares it lower-cased
    assert [(r["uds"].lower(), r["dir"]) for r in rows] == \
        [("true", sock_dir)]
    st = os.stat(sock_dir)
    assert stat.S_IMODE(st.st_mode) == 0o700
    assert st.st_uid == os.getuid()


def test_which_sessions_get_the_daemon(spark, monkeypatch):
    key, path = "spark.python.daemon.module", "spark.executorEnv.PYTHONPATH"
    uds, uds_dir = ("spark.python.unix.domain.socket.enabled",
                    "spark.python.unix.domain.socket.dir")
    monkeypatch.setattr(session, "_socket_dir", lambda: "/sock")
    # a session already exists: its daemon is already chosen
    assert session._with_daemon("local[2]", None) == {}
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    for master in ("local", "local[2]", "local[*]"):
        conf = session._with_daemon(master, {path: "/extra.zip"})
        assert conf == {key: "rechercheinfoweb_spark.daemon",
                        path: os.pathsep.join([session._PACKAGE_ROOT,
                                               "/extra.zip"]),
                        uds: "true", uds_dir: "/sock"}
    for master in ("local-cluster[2,1,1024]", "spark://host:7077", "yarn"):
        assert session._with_daemon(master, {path: "/x.zip"}) == \
            {path: "/x.zip"}
    # an explicit daemon (perfbench's traced one) still gets the socket
    explicit = {key: "worker_daemon"}
    assert session._with_daemon("local[2]", explicit) == \
        {**explicit, uds: "true", uds_dir: "/sock"}
    # an explicit transport wins, and so does an explicit socket dir
    assert session._with_daemon("local[2]", {uds: "false"})[uds] == "false"
    assert uds_dir not in session._with_daemon("local[2]", {uds: "false"})
    assert session._with_daemon("local[2]", {uds_dir: "/mine"})[uds_dir] \
        == "/mine"


@pytest.fixture
def short_tmp():
    """An empty directory with a path short enough for a socket dir
    (pytest's ``tmp_path`` can be too long for Spark's limit)."""
    d = tempfile.mkdtemp(prefix="riw-t-", dir="/tmp")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _socket_dir_in(tmp_dir, monkeypatch) -> str:
    """``session._socket_dir()`` with ``TMPDIR`` set to *tmp_dir*."""
    monkeypatch.setenv("TMPDIR", tmp_dir)
    monkeypatch.setattr(tempfile, "tempdir", None)  # re-read TMPDIR
    return session._socket_dir()


def test_socket_dir_is_private(short_tmp, monkeypatch):
    d = _socket_dir_in(short_tmp, monkeypatch)
    assert os.path.dirname(d) == short_tmp
    st = os.stat(d)
    assert stat.S_ISDIR(st.st_mode) and stat.S_IMODE(st.st_mode) == 0o700
    assert st.st_uid == os.getuid()
    os.rmdir(d)


@pytest.mark.parametrize("tmpdir_len,fits", [(44, True), (45, False),
                                              (100, False)])
def test_long_tmpdir_falls_back_to_tmp(short_tmp, monkeypatch,
                                       tmpdir_len, fits):
    """Spark takes a socket dir of at most 61 characters; under a
    longer ``TMPDIR`` (a "riw-uds-XXXXXXXX" dir adds 17) the dir goes
    under ``/tmp``, and its socket paths fit ``sun_path``."""
    base = os.path.join(short_tmp, "t" * (tmpdir_len - len(short_tmp) - 1))
    os.mkdir(base)
    assert len(base) == tmpdir_len
    d = _socket_dir_in(base, monkeypatch)
    try:
        assert os.path.dirname(d) == (base if fits else "/tmp")
        assert stat.S_IMODE(os.stat(d).st_mode) == 0o700
        assert len(d) <= session._SOCKET_DIR_MAX == 61
        sock = os.path.join(d, ".00000000-0000-0000-0000-000000000000.sock")
        assert len(sock) < 108  # AF_UNIX sun_path, NUL included
    finally:
        os.rmdir(d)
    if not fits:
        assert os.listdir(base) == []  # the too-long try is gone


def test_socket_dir_is_removed_at_exit(short_tmp):
    env = {**os.environ, "TMPDIR": short_tmp,
           "PYTHONPATH": session._PACKAGE_ROOT}
    out = subprocess.run(
        [sys.executable, "-c",
         "import os\n"
         "from rechercheinfoweb_spark import session\n"
         "d = session._socket_dir()\n"
         "open(os.path.join(d, '.x.sock'), 'w').close()\n"
         "print(d)\n"],
        env=env, capture_output=True, text=True, check=True)
    d = out.stdout.strip()
    assert os.path.dirname(d) == short_tmp
    assert not os.path.exists(d)


def test_session_under_long_tmpdir_runs_python_tasks(short_tmp):
    """A new session under a ``TMPDIR`` too long for Spark's socket
    dir (perfbench puts ``TMPDIR`` inside its checkout) still runs
    Python tasks over the socket, and its socket dir is gone after
    the process exits.  At 46 characters a socket dir under it (63)
    would still fit ``sun_path`` but not Spark's 61."""
    base = os.path.join(short_tmp, "t" * (46 - len(short_tmp) - 1))
    os.mkdir(base)
    code = (
        "import os\n"
        "from rechercheinfoweb_spark.session import get_spark\n"
        "spark = get_spark(master='local[1]', shuffle_partitions=1)\n"
        "conf = spark.sparkContext.getConf()\n"
        "def k(it):\n"
        "    yield from it\n"
        "n = len(spark.range(3, numPartitions=1)"
        ".mapInArrow(k, 'id long').collect())\n"
        "d = conf.get('spark.python.unix.domain.socket.dir')\n"
        "socks = [f for f in os.listdir(d) if f.endswith('.sock')]\n"
        "print(conf.get('spark.python.unix.domain.socket.enabled'), n,\n"
        "      d, len(socks) > 0)\n")
    env = {**os.environ, "TMPDIR": base, "SPARK_DRIVER_MEMORY": "1g",
           "PYTHONPATH": session._PACKAGE_ROOT}
    out = subprocess.run([sys.executable, "-c", code], env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    uds, n, d, had_socket = out.stdout.split()[-4:]
    assert (uds, n, had_socket) == ("true", "3", "True")
    assert os.path.dirname(d) == "/tmp"
    assert not os.path.exists(d)
