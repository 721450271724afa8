"""Span recorder for the traced run, and the wrappers that put spans
around the engine's public layer functions.

Nothing here edits the engine: a traced run replaces module
attributes (and a few class methods) with wrappers from this file
before any work starts.  An untraced run installs nothing.

A span has a name ``<layer>.<function>``, a start, an end, a parent
span and a request id, and is kept in memory until the run ends.
Each span also adds to running per-name totals -- calls, wall time
and self time (its duration minus the time covered by its direct
children) -- so processes that make many thousands of small calls
(Spark workers, the search server) can report totals without keeping
every span.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict

#: spans kept per process; totals keep counting past the cap
MAX_SPANS = 20_000


class Tracer:
    def __init__(self, keep_spans: bool = True):
        self.keep_spans = keep_spans
        self.spans: list[tuple] = []
        # name -> [calls, wall seconds, self seconds]
        self.totals: dict[str, list] = defaultdict(lambda: [0, 0.0, 0.0])
        self.counters: dict[str, float] = defaultdict(float)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def current(self) -> "Span | None":
        st = self._stack()
        return st[-1] if st else None

    def span(self, name: str, rid=None) -> "Span":
        return Span(self, name, rid)

    def add(self, key: str, n: float = 1.0) -> None:
        with self._lock:
            self.counters[key] += n

    def reset(self) -> None:
        """Forget everything recorded so far (spans still open are
        unaffected and record normally when they close)."""
        with self._lock:
            self.spans.clear()
            self.totals.clear()
            self.counters.clear()

    def _record(self, sp: "Span", end: float) -> None:
        dur = end - sp.start
        with self._lock:
            t = self.totals[sp.name]
            t[0] += 1
            t[1] += dur
            t[2] += dur - sp.child
            if self.keep_spans and len(self.spans) < MAX_SPANS:
                self.spans.append((sp.id, sp.name, sp.start, end,
                                   sp.parent.id if sp.parent else None,
                                   sp.rid))

    def snapshot(self) -> dict:
        with self._lock:
            return {"totals": {k: list(v) for k, v in self.totals.items()},
                    "counters": dict(self.counters)}

    def save(self, path: str, extra: dict | None = None) -> None:
        """Write totals (and spans, when kept) atomically."""
        doc = self.snapshot()
        if self.keep_spans:
            with self._lock:
                doc["spans"] = span_dicts(self.spans)
        doc.update(extra or {})
        tmp = f"{path}.tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f)
        os.replace(tmp, path)


def span_dicts(records: list[tuple]) -> list[dict]:
    return [{"id": i, "name": n, "start": s, "end": e, "parent": p,
             "rid": r} for i, n, s, e, p, r in records]


class Span:
    __slots__ = ("tr", "name", "rid", "id", "parent", "start", "child")

    def __init__(self, tr: Tracer, name: str, rid=None):
        self.tr, self.name, self.rid = tr, name, rid

    def __enter__(self) -> "Span":
        st = self.tr._stack()
        self.parent = st[-1] if st else None
        if self.rid is None and self.parent is not None:
            self.rid = self.parent.rid
        self.id = next(self.tr._ids)
        self.child = 0.0
        st.append(self)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        end = time.perf_counter()
        self.tr._stack().pop()
        if self.parent is not None:
            self.parent.child += end - self.start
        self.tr._record(self, end)


def wrap(tr: Tracer, owners: list, attr: str, name: str,
         count=None):
    """Replace ``attr`` on every object in *owners* (modules or
    classes that hold a reference to the same function) with a
    wrapper that records span *name*.  ``count(result, args)``
    returns {counter: amount} to add after the call."""
    orig = getattr(owners[0], attr)

    @functools.wraps(orig)
    def traced(*args, **kwargs):
        with tr.span(name):
            out = orig(*args, **kwargs)
        if count is not None:
            for k, v in count(out, args).items():
                tr.add(k, v)
        return out

    for o in owners:
        setattr(o, attr, traced)


def _wrap_decode(tr: Tracer, codec, attr: str) -> None:
    """Block decode functions call each other (``unpack_block_ids``
    uses ``decode_varints``); only the outermost call counts as a
    decoded block."""
    orig = getattr(codec, attr)

    @functools.wraps(orig)
    def traced(*args, **kwargs):
        cur = tr.current()
        outer = cur is None or not cur.name.startswith("codec.unpack")
        with tr.span("codec.unpack"):
            out = orig(*args, **kwargs)
        if outer:
            tr.add("codec.blocks_decoded")
        return out

    setattr(codec, attr, traced)


def instrument_kernels(tr: Tracer) -> None:
    """Layer functions that run inside Spark Python workers and the
    search server: tokenize, stem, block pack/unpack, weights."""
    from rechercheinfoweb_spark.functions import codec, scoring, tokenizer
    from rechercheinfoweb_spark.operators import index_build, serve_local

    wrap(tr, [tokenizer, index_build], "raw_tokens",
         "tokenizer.raw_tokens",
         lambda out, a: {"tokenizer.raw_tokens": len(out)})
    make_mapper = tokenizer.make_index_token_mapper

    def traced_mapper(*args, **kwargs):
        mapped = make_mapper(*args, **kwargs)

        def run(raw):
            with tr.span("tokenizer.map_tokens"):
                out = mapped(raw)
            tr.add("tokenizer.mapped_tokens", len(raw))
            return out
        return run

    tokenizer.make_index_token_mapper = traced_mapper
    index_build.make_index_token_mapper = traced_mapper
    wrap(tr, [serve_local], "vector_query_terms",
         "tokenizer.vector_query_terms")
    wrap(tr, [serve_local], "bool_query_term", "tokenizer.bool_query_term")
    # the tokenizer's own reference; porter2.stem itself stays the
    # lru_cache object whose hit counts stem_cache_counters reads
    wrap(tr, [tokenizer], "stem", "porter2.stem")
    wrap(tr, [codec], "pack_group_postings_arrow", "codec.pack",
         lambda out, a: {"codec.pack_bytes": _payload_bytes(out[3])})
    for attr in ("decode_varints", "unpack_block", "unpack_block_ids",
                 "unpack_block_stats"):
        _wrap_decode(tr, codec, attr)
    wrap(tr, [scoring], "posting_weights", "scoring.posting_weights",
         lambda out, a: {"scoring.postings_weighted": len(a[0])})


def _payload_bytes(blocks) -> int:
    import pyarrow.compute as pc
    if len(blocks) == 0:
        return 0
    data = blocks.values.field("data")
    return int(pc.sum(pc.binary_length(data)).as_py() or 0)


def stem_cache_info() -> tuple[int, int]:
    """(hits, misses) of porter2's lru_cache in this process."""
    from rechercheinfoweb_spark.functions import porter2
    info = porter2.stem.cache_info()
    return info.hits, info.misses


def stem_cache_counters(tr: Tracer, since: tuple[int, int] = (0, 0)
                        ) -> None:
    """Record porter2's cache hits and misses since *since*."""
    hits, misses = stem_cache_info()
    with tr._lock:
        tr.counters["porter2.cache_hits"] = hits - since[0]
        tr.counters["porter2.cache_misses"] = misses - since[1]


def instrument_local_searcher(tr: Tracer) -> None:
    """Spans around LocalSearcher's query, storage and cache paths."""
    from rechercheinfoweb_spark.operators.serve_local import LocalSearcher

    wrap(tr, [LocalSearcher], "vector_query", "serve_local.vector_query",
         lambda out, a: {"serve_local.vector_queries": 1,
                         "serve_local.results": len(out[0] if
                                                    isinstance(out, tuple)
                                                    else out)})
    wrap(tr, [LocalSearcher], "boolean_query_np",
         "serve_local.boolean_query",
         lambda out, a: {"serve_local.boolean_queries": 1,
                         "serve_local.results": min(len(out), 20)})
    wrap(tr, [LocalSearcher], "_read_bucket", "serve_local.read_bucket",
         lambda out, a: {"serve_local.bucket_reads": 1})
    decoded = LocalSearcher._decoded_postings

    @functools.wraps(decoded)
    def traced_decoded(self, term):
        hit = term in self._decoded
        with tr.span("serve_local.decoded_postings"):
            out = decoded(self, term)
        tr.add("serve_local.decoded_hits" if hit
               else "serve_local.decoded_misses")
        tr.add("serve_local.postings_touched", len(out[0]))
        return out

    LocalSearcher._decoded_postings = traced_decoded
    init = LocalSearcher.__init__

    @functools.wraps(init)
    def traced_init(self, *args, **kwargs):
        with tr.span("serve_local.open"):
            init(self, *args, **kwargs)

    LocalSearcher.__init__ = traced_init


def merge_worker_totals(trace_dir: str) -> dict:
    """Sum the per-process totals files Spark workers wrote."""
    out = {"totals": defaultdict(lambda: [0, 0.0, 0.0]),
           "counters": defaultdict(float)}
    if not os.path.isdir(trace_dir):
        return out
    for name in os.listdir(trace_dir):
        if not (name.startswith("worker-") and name.endswith(".json")):
            continue
        try:
            with open(os.path.join(trace_dir, name)) as f:
                doc = json.load(f)
        except (OSError, ValueError):
            continue
        add_totals(out, doc)
    return out


def add_totals(into: dict, doc: dict, sign: float = 1.0) -> dict:
    for k, v in doc.get("totals", {}).items():
        t = into["totals"][k]
        for i in range(3):
            t[i] += sign * v[i]
    for k, v in doc.get("counters", {}).items():
        into["counters"][k] += sign * v
    return into


def diff_totals(after: dict, before: dict) -> dict:
    out = {"totals": defaultdict(lambda: [0, 0.0, 0.0]),
           "counters": defaultdict(float)}
    add_totals(out, after)
    add_totals(out, before, -1.0)
    return out
