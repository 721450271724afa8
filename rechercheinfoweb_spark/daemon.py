"""The engine's PySpark worker daemon: ``pyspark.daemon`` with a
cheaper per-task ``importlib.invalidate_caches()``.

Every Python task starts with ``setup_spark_files``, which calls
``importlib.invalidate_caches()`` once (``pyspark/worker_util.py:144``)
so that files shipped for the task become importable.  Under CPython
3.11 that call reaches ``zipimporter.invalidate_caches`` for every
cached zip importer, and each one re-reads its whole archive
directory with ``zipimport._read_directory`` (``zipimport.py:329-336``).
A warm worker caches about 16 of them, most for ``pyspark.zip``
(1,328 entries).  On a 4-core VM (PySpark 4.1, ``local[4]``) the
guard below takes a trivial one-task ``mapInArrow`` job from a p50 of
about 210 ms to about 95 ms.

The guard re-reads an archive only when it changed.  Before the real
call it takes out of ``sys.path_importer_cache`` every zip importer
whose archive's ``(st_mtime_ns, st_size, st_ino)`` equals the one seen
at the last call, and puts them back after it.  Every ``FileFinder``
is still invalidated, and a new or changed archive is still re-read.

Spark runs this module in place of ``pyspark.daemon`` when
``session.get_spark`` sets ``spark.python.daemon.module``; the daemon
installs the guard before it forks any worker, so every worker
inherits it.

The transport is ``pyspark.daemon.manager``'s own.  For the same
sessions ``get_spark`` sets ``spark.python.unix.domain.socket.enabled``,
so the manager listens on a Unix domain socket in the session's
private socket directory (``PYTHON_WORKER_FACTORY_SOCK_DIR``) and
removes it when it shuts down, and each worker reads its task input
over such a socket, not TCP loopback: that cut the kernel's wait for
its first input batch from about 40 ms (the delayed-ACK timer) to
about 0.3 ms.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_invalidate_caches = importlib.invalidate_caches
# archive path -> stat stamp taken before the archive's last re-read
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches() -> None:
    """``importlib.invalidate_caches()`` that skips unchanged zips."""
    cache = sys.path_importer_cache
    zips = {name: f for name, f in list(cache.items())
            if isinstance(f, zipimport.zipimporter)
            # the real call drops relative entries; let it
            and os.path.isabs(name)}
    now = {f.archive: _stamp(f.archive) for f in zips.values()}
    held = {name: f for name, f in zips.items()
            if now[f.archive] is not None
            and now[f.archive] == _stamps.get(f.archive)}
    for name in held:
        del cache[name]
    try:
        _invalidate_caches()
    finally:
        cache.update(held)
    # the real call re-read every archive it saw at least as new as
    # the stamp taken before it
    _stamps.update(now)


def install() -> None:
    """Replace ``importlib.invalidate_caches`` with the guard."""
    importlib.invalidate_caches = invalidate_caches


def main() -> None:
    import pyspark.daemon

    install()
    invalidate_caches()  # stamp the daemon's archives once, pre-fork
    pyspark.daemon.manager()


if __name__ == "__main__":
    # ``python -m`` runs this file as ``__main__``; run the imported
    # module instead so the guard's ``__module__`` names this module
    from rechercheinfoweb_spark import daemon

    daemon.main()
