"""Search server launcher used by the ``serve`` and ``ingest`` workloads.

Runs the engine's HTTP server (``httpserver.make_server`` over one
``LocalSearcher``) in its own process::

    python3 perfbench/search_server.py INDEX_DIR [--trace-out FILE]

It prints ``port <n>`` once listening.  Control is on stdin: a line
``reset`` clears the trace totals (sent when the benchmark's measured
window opens), ``save`` writes them to FILE and answers ``saved``
(sent when it closes), and end of file shuts the server down, so the
server never outlives the benchmark.  With ``--trace-out`` the
launcher wraps the LocalSearcher methods, the block codec, the
weight function, the request handler and the per-corpus search
lock.
"""

from __future__ import annotations

import argparse
import os
import sys
import threading
import time
from urllib.parse import parse_qs, urlparse

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from rechercheinfoweb_spark import httpserver  # noqa: E402
from rechercheinfoweb_spark.operators.serve_local import (  # noqa: E402
    LocalSearcher,
)

import spans  # noqa: E402


class TimedLock:
    """Stands in for SearchApp's per-corpus lock and records how long
    each request waited for it and held it."""

    def __init__(self, tr: spans.Tracer):
        self._lock = threading.Lock()
        self._tr = tr
        self._tls = threading.local()

    def __enter__(self):
        t0 = time.perf_counter()
        self._lock.acquire()
        t1 = time.perf_counter()
        self._tls.acquired = t1
        self._tr.add("httpserver.lock_wait_s", t1 - t0)
        self._tr.add("httpserver.lock_acquires")
        return self

    def __exit__(self, *exc):
        held = time.perf_counter() - self._tls.acquired
        self._lock.release()
        self._tr.add("httpserver.lock_held_s", held)


def instrument_server(tr: spans.Tracer) -> None:
    spans.instrument_kernels(tr)
    spans.instrument_local_searcher(tr)
    spans.wrap(tr, [httpserver.SearchApp], "search", "httpserver.search",
               lambda out, a: {"httpserver.searches": 1})
    handle = httpserver._Handler.do_GET

    def traced_get(self):
        # the load generator tags each request with ``rid``; the app
        # ignores parameters it does not know
        rid = parse_qs(urlparse(self.path).query).get("rid", [None])[0]
        with tr.span("httpserver.request", rid=rid):
            handle(self)

    httpserver._Handler.do_GET = traced_get


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("index_dir")
    ap.add_argument("--trace-out", default=None)
    args = ap.parse_args()
    tr = spans.Tracer()
    if args.trace_out:
        instrument_server(tr)
    srv = httpserver.make_server({"main": LocalSearcher(args.index_dir)})
    if args.trace_out:
        srv.app._locks = {n: TimedLock(tr) for n in srv.app._locks}

    def control() -> None:
        stem0 = spans.stem_cache_info()
        for line in sys.stdin:
            if line.strip() == "reset":
                tr.reset()
                stem0 = spans.stem_cache_info()
            elif line.strip() == "save" and args.trace_out:
                spans.stem_cache_counters(tr, since=stem0)
                tr.save(args.trace_out)
                print("saved", flush=True)
        srv.shutdown()

    threading.Thread(target=control, daemon=True).start()
    print(f"port {srv.server_address[1]}", flush=True)
    try:
        srv.serve_forever(poll_interval=0.1)
    finally:
        srv.server_close()


if __name__ == "__main__":
    main()
