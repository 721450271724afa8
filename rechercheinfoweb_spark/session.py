"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

# the directory that holds the package (or the zip it was imported
# from), put on the Python workers' path for the engine daemon
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Spark rejects a spark.python.unix.domain.socket.dir longer than 61
# characters.  A UTF-8 byte count is never below the JVM's (UTF-16)
# length, so a dir of at most 61 bytes also leaves a socket name
# ".<uuid4>.sock" (42 bytes) inside AF_UNIX's 108-byte sun_path.
_SOCKET_DIR_MAX = 61

# Allocator environment for every JVM/python-worker child this
# session spawns.  The engine's hot kernels are Arrow-batched, and
# both allocators in the default path RETURN each batch's buffers to
# the kernel on free (glibc munmaps >128 KiB allocations; pyarrow's
# default jemalloc madvises them away), so every batch re-faults its
# pages — long-lived executors paying a page-fault tax per batch
# forever.  Measured on this host (same churn loop, touch every
# page): glibc default 4.0 GB/s vs 8.5 with a 1 GiB mmap/trim
# threshold; pyarrow jemalloc 2.3 GB/s vs mimalloc 16.0.  On a
# fault-throttled host (this sandbox degrades to ~0.2 GB/s) the gap
# is the difference between CPU-bound and fault-bound executors.
# Children inherit os.environ; local-cluster executors additionally
# get these via spark.executorEnv.* (set in get_spark).
WORKER_ALLOC_ENV = {
    "ARROW_DEFAULT_MEMORY_POOL": "mimalloc",
    "MALLOC_MMAP_THRESHOLD_": "1073741824",
    "MALLOC_TRIM_THRESHOLD_": "1073741824",
    # mimalloc purges (madvises away) free pages after 10 ms by
    # default — tight loops amortize that, real per-batch gaps do
    # not, and every purged page refaults on the next batch.  100 s
    # keeps buffers resident across batches while still returning
    # memory when a worker goes truly idle.
    "MIMALLOC_PURGE_DELAY": "100000",
    "MIMALLOC_RESET_DELAY": "100000",  # pre-2.x name of the same knob
}


def _machine_ram_gb() -> int:
    """Total physical RAM in GiB (MemTotal), 128 if unreadable."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return max(1, int(line.split()[1]) // (1024 * 1024))
    except OSError:
        pass
    return 128


def _default_driver_memory(master: str) -> str:
    """Size the local-mode heap to the task-thread count.

    local[N] runs N concurrent task threads in ONE JVM, so the heap
    must scale with N at a CONSTANT per-core rate — like a real
    cluster provisions executor memory per core — or the high-N
    config GC-thrashes and any N-vs-4N comparison measures garbage
    collection, not scaling.  Measured on a 90k page-sized-doc
    build at local[8]: 16g heap → 269 s, 48g → 164 s.  ~5g per task
    thread + base, capped at 70% of ACTUAL machine RAM (queried, not
    assumed — bench/scaling also put shuffle dirs and the index on
    RAM-backed /dev/shm, so an overcommitted heap plus tmpfs could
    exceed physical memory on a smaller host)."""
    if master.startswith("local-cluster"):
        # executors are separate JVMs with their own memory — the
        # driver only schedules and collects scalars
        return "8g"
    try:
        n = int(master[master.index("[") + 1:-1]) if "[" in master else 8
    except ValueError:  # local[*]
        n = os.cpu_count() or 8
    cap = max(4, int(0.7 * _machine_ram_gb()))
    return f"{min(cap, max(8, 5 * n + 4))}g"


def _socket_dir() -> str:
    """A new directory for a session's Unix domain sockets, removed at
    process exit.

    Over a Unix domain socket PySpark's workers skip the secret they
    authenticate with over TCP, so the directory's mode (0700, from
    ``mkdtemp``) is the only access control.  It goes under
    ``tempfile.gettempdir()``, or under ``/tmp`` where its path would
    be too long for Spark (see ``_SOCKET_DIR_MAX``)."""
    d = tempfile.mkdtemp(prefix="riw-uds-")
    if len(os.fsencode(d)) > _SOCKET_DIR_MAX:
        os.rmdir(d)
        d = tempfile.mkdtemp(prefix="riw-uds-", dir="/tmp")
    atexit.register(shutil.rmtree, d, True)
    return d


def _with_daemon(master: str, extra_conf: dict | None) -> dict:
    """*extra_conf* plus the engine daemon's and the Unix domain
    socket transport's conf where they apply (see ``get_spark``)."""
    conf = dict(extra_conf or {})
    if not (re.fullmatch(r"local(\[.*\])?", master)
            and SparkContext._active_spark_context is None):
        return conf
    if "spark.python.daemon.module" not in conf:
        conf["spark.python.daemon.module"] = "rechercheinfoweb_spark.daemon"
        path = conf.get("spark.executorEnv.PYTHONPATH")
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            [_PACKAGE_ROOT] + ([path] if path else []))
    if "spark.python.unix.domain.socket.enabled" not in conf:
        conf["spark.python.unix.domain.socket.enabled"] = "true"
        if "spark.python.unix.domain.socket.dir" not in conf:
            conf["spark.python.unix.domain.socket.dir"] = _socket_dir()
    return conf


def get_spark(app_name: str = "rechercheinfoweb-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build a session tuned for the index workload.

    AQE is on (runtime coalescing + skew-join splitting), Arrow is on
    (every custom kernel is a pandas UDF), and shuffle partitions
    default to 2× cores — the same settings we would ship in
    ``spark-submit --py-files`` conf on a real cluster.

    A new ``local[...]`` session runs its Python workers under the
    engine daemon, ``rechercheinfoweb_spark.daemon``, which stops
    every task from re-reading ``pyspark.zip``.  ``get_spark`` sets
    ``spark.python.daemon.module`` and prepends the package's parent
    directory to ``spark.executorEnv.PYTHONPATH`` (merged with the
    caller's value), so the daemon can import it.  Three cases keep
    the stock daemon.  ``local-cluster`` and remote masters: their
    daemons start before any task, and ``--py-files`` reach workers
    only per task, so the module cannot be shown to be importable
    there.  A session that already exists: its daemon was chosen
    when it started.  And an explicit ``spark.python.daemon.module``
    in ``extra_conf``, which always wins.

    Such a session also talks to its Python workers over Unix domain
    sockets: ``get_spark`` sets ``spark.python.unix.domain.socket.enabled``
    and ``spark.python.unix.domain.socket.dir``, and every JVM-Python
    channel (task input and output, ``collect``/``createDataFrame``,
    accumulator updates) then binds a socket file in that directory
    in place of a TCP loopback port.  Over TCP a task's kernel waited
    about 40 ms, the length of Linux's delayed-ACK timer, for its first
    input batch; over the socket it waits about 0.3 ms, and a one-task
    ``mapInArrow`` job's p50 falls from about 80 to about 46 ms (4-core
    VM, ``local[4]``).  Without the TCP secret the directory's
    permissions are the only access control, so it is a new private
    directory (mode 0700) under ``tempfile.gettempdir()``, or under
    ``/tmp`` when its path there would be longer than the 61
    characters Spark accepts; it is removed at process exit.  This
    applies whichever daemon module runs, and an explicit
    ``spark.python.unix.domain.socket.enabled`` (or socket dir) in
    ``extra_conf`` wins.  ``local-cluster`` and remote masters keep
    TCP: that path is unmeasured, and the N-vs-4N scaling bar
    (``BASELINE.json``) rests on it.
    """
    cores = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8
    master = master or f"local[{cores}]"
    for k, v in WORKER_ALLOC_ENV.items():
        os.environ.setdefault(k, v)
    if shuffle_partitions is None:
        n = int(master[master.index("[") + 1:-1]) if "[" in master else 32
        shuffle_partitions = max(8, 2 * n)
    b = (
        SparkSession.builder.appName(app_name).master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY",
                               _default_driver_memory(master)))
    )
    for k, v in WORKER_ALLOC_ENV.items():
        b = b.config(f"spark.executorEnv.{k}", v)
    for k, v in _with_daemon(master, extra_conf).items():
        b = b.config(k, v)
    return b.getOrCreate()
