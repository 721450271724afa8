"""Query streams and HTTP load generators.

Every stream is a pure function of a ``random.Random`` seeded from
the run's ``--seed`` and of the index's own dictionary, so a seed
always yields the same requests against the same corpus.
"""

from __future__ import annotations

import bisect
import http.client
import itertools
import json
import os
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import urlencode

import pyarrow.parquet as pq

from rechercheinfoweb_spark.functions.tokenizer import (
    bool_query_term, vector_query_terms,
)

# The serve mix's proportions are assumed, not measured: no query log
# ships with the engine.  Only their direction follows the server's
# search form, whose defaults are type=vectorial and weight=bm25 with
# 20 results per page.
VECTORIAL_FRAC = 0.75
WEIGHTS = ["bm25"] * 5 + ["raw", "norm", "half"]
PAGE_OFFSETS = [0] * 7 + [20] * 2 + [40]
TERMS_PER_QUERY = (1, 3)
SENDERS = 4  # open-loop sender threads


def dictionary_terms(index_dir: str) -> list[tuple[str, int]]:
    """(term, df) of the index's current dictionary, most frequent
    first, keeping only terms a query reproduces unchanged (so every
    drawn term really is looked up)."""
    stats = pq.read_table(os.path.join(index_dir, "corpus_stats")
                          ).to_pylist()[0]
    t = pq.read_table(os.path.join(index_dir, "dictionary",
                                   f"v={stats['dict_version']}"),
                      columns=["term", "df"])
    rows = [(w, int(df)) for w, df in zip(t.column("term").to_pylist(),
                                          t.column("df").to_pylist())
            if vector_query_terms(w) == [w] and bool_query_term(w) == w]
    rows.sort(key=lambda r: (-r[1], r[0]))
    return rows


class Zipf:
    """Draws dictionary terms with popularity 1/rank."""

    def __init__(self, terms: list[str], rng: random.Random):
        self.terms = terms
        self.rng = rng
        self.cum = list(itertools.accumulate(
            1.0 / r for r in range(1, len(terms) + 1)))

    def draw(self) -> str:
        x = self.rng.random() * self.cum[-1]
        return self.terms[bisect.bisect_left(self.cum, x)]


def serve_mix(rng: random.Random, vocab: list[tuple[str, int]],
              n: int) -> list[dict]:
    """An assumed mix of the server's request shapes: vectorial
    queries in all four weightings (bm25-heavy), boolean queries,
    result pages 1-3 (proportions above)."""
    z = Zipf([w for w, _ in vocab], rng)
    out = []
    for _ in range(n):
        if rng.random() < VECTORIAL_FRAC:
            words = [z.draw() for _ in range(rng.randint(*TERMS_PER_QUERY))]
            out.append({"search": " ".join(words), "type": "vectorial",
                        "weight": rng.choice(WEIGHTS),
                        "offset": rng.choice(PAGE_OFFSETS)})
        else:
            a, b = z.draw(), z.draw()
            q = rng.choice([f"{a} AND {b}", f"{a} OR {b}",
                            f"{a} AND NOT {b}", a])
            out.append({"search": q, "type": "boolean", "weight": "bm25",
                        "offset": rng.choice(PAGE_OFFSETS)})
    return out


def fetch(port: int, params: dict, rid: int | None = None,
          timeout: float = 30.0) -> dict:
    """One search request; raises on a non-200 answer."""
    q = {"corpus": "main", "format": "json", **params}
    if rid is not None:
        q["rid"] = rid
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        conn.request("GET", "/?" + urlencode(q))
        resp = conn.getresponse()
        body = resp.read()
    finally:
        conn.close()
    if resp.status != 200:
        raise RuntimeError(f"HTTP {resp.status}: {body[:200]!r}")
    return json.loads(body)


def closed_loop(port: int, requests: list[dict], clients: int,
                seconds: float) -> tuple[list[float], int]:
    """``clients`` threads, each sending its next request only after
    the previous answer, for ``seconds``.  Returns (latencies in
    seconds of the requests that succeeded, failures)."""
    lat: list[list[float]] = [[] for _ in range(clients)]
    fails = [0] * clients
    deadline = time.perf_counter() + seconds

    def client(c: int) -> None:
        i = c
        while time.perf_counter() < deadline:
            params = requests[i % len(requests)]
            t0 = time.perf_counter()
            try:
                fetch(port, params, rid=i)
                lat[c].append(time.perf_counter() - t0)
            except (OSError, RuntimeError, ValueError):
                fails[c] += 1
            i += clients

    threads = [threading.Thread(target=client, args=(c,))
               for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return [x for part in lat for x in part], sum(fails)


class OpenLoop:
    """Sends requests on a fixed schedule (``rate`` per second)
    whatever the server's state, from a small sender pool.  Latency
    is timed from when each request was due; ``service`` from when it
    was sent; ``lateness`` is how far behind schedule the generator
    itself started each request."""

    def __init__(self, port: int, requests: list[dict], rate: float):
        self.port, self.requests, self.rate = port, requests, rate
        self.latencies: list[float] = []
        self.service: list[float] = []
        self.lateness: list[float] = []
        self.failures = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._pool = ThreadPoolExecutor(SENDERS)
        self._thread = threading.Thread(target=self._schedule)

    def _one(self, i: int, due: float) -> None:
        start = time.perf_counter()
        try:
            fetch(self.port, self.requests[i % len(self.requests)], rid=i)
            ok = True
        except (OSError, RuntimeError, ValueError):
            ok = False
        end = time.perf_counter()
        with self._lock:
            self.lateness.append(start - due)
            if ok:
                self.latencies.append(end - due)
                self.service.append(end - start)
            else:
                self.failures += 1

    def _schedule(self) -> None:
        t0 = time.perf_counter()
        i = 0
        futures = []
        while not self._stop.is_set():
            due = t0 + i / self.rate
            wait = due - time.perf_counter()
            if wait > 0 and self._stop.wait(wait):
                break
            futures.append(self._pool.submit(self._one, i, due))
            i += 1
        for f in futures:
            f.result()

    def start(self) -> "OpenLoop":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self._pool.shutdown(wait=True)
