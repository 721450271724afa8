"""HTTP serving surface — the reference's web server on stdlib only.

Replicates server.go's routes and request shape (server.go:62-196)
over :class:`~.operators.serve_local.LocalSearcher` — the in-process
reader of the Spark-built index artifact — using only
``http.server`` (no web framework ships in this container, and none
is needed: the reference's server is a handful of GET routes).

Route parity (reference -> here):

* ``/`` (server.go:62-125): params ``corpus`` / ``search`` /
  ``type`` (boolean|vectorial) / ``weight`` (raw|norm|half + bm25) /
  ``offset``; 20 results per page (maxSize, server.go:17-19) with
  Prev/Next links carrying the same query-param shape
  (server.go:108-121); result rows are (doc id, url/title, score),
  the total hit count, and the elapsed time rounded the way
  printDuration does (server.go:34-37).  Add ``format=json`` for a
  machine-readable body — same fields.
* ``/stat`` (server.go:127-132 + templates/stat.html): per-corpus
  Heaps-law table (vocabulary, tokens, B, K) and the growth chart.
* ``/perf`` (server.go:134-139 + templates/perf.html): index build
  metadata and on-disk section sizes (index / titles / total +
  compression ratio analog), plus observed search-latency
  percentiles from the same per-corpus histogram the reference
  feeds from its expvar histograms (server.go:57-59,103).
* ``/doc/<corpus>/<id>`` (server.go:141-156 ``/cacm/<id>``; also
  aliased so ``/cacm/<id>`` works when a corpus named ``cacm`` is
  mounted): single-document page.
* ``/precall`` + ``/qrels`` (server.go:158-172): MAP-per-scheme
  table and the judged query set, when an evaluation bundle is
  mounted.
* ``/percentile`` (server.go:180-186): latency percentile table.
* ``/graphs/<file>`` (server.go:175-177): static SVGs from a
  directory (written by :mod:`..plots`), path-traversal-guarded.

Scale shape: serving never touches Spark — any number of these
processes can front the same parquet index artifact, each reading
only the term buckets its queries hit (the Lucene/ES division of
labor; see serve_local.py module doc).  A ``threading.Lock`` per
searcher serializes searches because LocalSearcher's bucket,
dictionary and decoded-postings LRUs are deliberately
single-threaded (its scoring scratch is allocated per call); run
more processes, not more threads, to scale serving — they share the
page cache over the same immutable files.
"""

from __future__ import annotations

import html
import json
import os
import threading
import time
from collections import deque
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, quote_plus, urlparse

from .operators.serve_local import LocalSearcher

PAGE_SIZE = 20  # maxSize (server.go:17-19)

_PAGE = """<!DOCTYPE html>
<html><head><title>riw-spark</title><style>
body{{font-family:sans-serif;margin:2em auto;max-width:60em}}
td,th{{text-align:center;padding:2px 8px}}
tr:first-child{{background:#EFEFEF}}
table{{width:100%;border-collapse:collapse}}
nav a{{margin-right:1em}}</style></head>
<body><nav><a href="/">search</a><a href="/stat">stat</a>
<a href="/perf">perf</a><a href="/precall">precall</a>
<a href="/qrels">qrels</a><a href="/percentile">percentile</a></nav>
{body}</body></html>"""

_FORM = """<form action="/" method="get">
<input name="search" size="60" value="{q}">
<button>Search</button><br>
{corpora} |
type: <label><input type="radio" name="type" value="vectorial"
{vect}>vectorial</label>
<label><input type="radio" name="type" value="boolean"
{bool}>boolean</label> |
weight: {weights}
</form>"""


def _int_arg(args: dict, name: str, default: int) -> int:
    """Query argument *name* as an int; missing or unparsable gives
    *default* (a bad offset serves the first page)."""
    try:
        return int(args.get(name) or default)
    except ValueError:
        return default


def _percentiles(values: list[float]) -> dict[str, float]:
    if not values:
        return {}
    s = sorted(values)
    pick = lambda q: s[min(len(s) - 1, int(q * len(s)))]  # noqa: E731
    return {"count": len(s), "p50_ms": pick(.50) * 1e3,
            "p90_ms": pick(.90) * 1e3, "p99_ms": pick(.99) * 1e3,
            "max_ms": s[-1] * 1e3}


class SearchApp:
    """Route logic + per-corpus state (searchers, latency
    histograms, optional eval bundle), independent of the socket
    layer so tests can drive it through a real HTTP round-trip or
    directly."""

    def __init__(self, corpora: dict[str, LocalSearcher],
                 graphs_dir: str | None = None,
                 precall: dict | None = None):
        """``corpora``: name -> LocalSearcher over a built index dir.
        ``precall``: optional {"map": {scheme: float},
        "queries": {qid: text}, "qrels": {qid: [doc ids]}}."""
        self.corpora = corpora
        self.graphs_dir = graphs_dir
        self.precall = precall or {}
        self._locks = {n: threading.Lock() for n in corpora}
        # monitoring histogram per corpus (server.go:57-59)
        self.latencies: dict[str, deque] = {
            n: deque(maxlen=10_000) for n in corpora}

    # ---- search ----------------------------------------------------

    def search(self, corpus: str, query: str, qtype: str,
               weight: str, offset: int) -> dict:
        """Reference request semantics (server.go:85-122): report
        the total hit count, serve the [offset : offset+20] slice.
        Unlike the reference — which materializes every result row
        per request — only the served page is materialized; the
        count comes free from the scoring kernel's candidate set."""
        s = self.corpora[corpus]
        offset = max(offset, 0)  # a bad offset serves the first page
        t0 = time.time()
        with self._locks[corpus]:
            if qtype == "boolean":
                ids = s.boolean_query_np(query)
                size = int(ids.size)
                if not (0 < offset < size):
                    offset = 0
                urls = s._load_urls()
                page = [(int(d), urls[d], None)
                        for d in ids[offset:offset + PAGE_SIZE]]
            else:
                # rank only the page we serve; `size` is the full
                # candidate count the reference reports — O(page)
                # materialized, never O(corpus)
                rows, size = s.vector_query(
                    query, scheme=weight, k=offset + PAGE_SIZE,
                    with_urls=True, with_total=True)
                if not (0 < offset < size):
                    offset = 0
                page = [(d, u, sc) for d, sc, u in
                        rows[offset:offset + PAGE_SIZE]]
        dt = time.time() - t0
        self.latencies[corpus].append(dt)
        # query-focused snippets when the searcher has a corpus
        # attached — O(page) pushed-down text lookups, outside the
        # latency-accounted scoring section like the reference's
        # rendering is
        snips: dict = {}
        if getattr(s, "_corpus_dir", None):
            snips = s.snippets(query, [d for d, _u, _sc in page])
        # did-you-mean when a vectorial query comes back empty: best
        # non-identical dictionary neighbor per query token
        did_you_mean: list[str] = []
        if size == 0 and qtype != "boolean":
            for w in query.split():
                alts = [t for t, d, _df in s.suggest(w, k=2)
                        if d > 0]
                did_you_mean.append(alts[0] if alts else w)
            if " ".join(did_you_mean) == query:
                did_you_mean = []
        base = (f"/?search={quote_plus(query)}&corpus={corpus}"
                f"&type={qtype}&weight={weight}")
        return {
            "query": query, "corpus": corpus, "type": qtype,
            "weight": weight, "size": size, "offset": offset,
            # printDuration rounds to the ms (server.go:34-37)
            "time_ms": round(dt * 1e3),
            "results": [{"doc_id": d, "url": u, "score": sc,
                         **({"snippet": snips[d]} if d in snips
                            else {})}
                        for d, u, sc in page],
            "prev": (f"{base}&offset={max(offset - PAGE_SIZE, 0)}"
                     if offset > 0 else None),
            "next": (f"{base}&offset={offset + PAGE_SIZE}"
                     if offset + PAGE_SIZE < size else None),
            **({"did_you_mean": " ".join(did_you_mean)}
               if did_you_mean else {}),
        }

    # ---- pages -----------------------------------------------------

    def index_page(self, args: dict) -> str:
        q = args.get("search", "")
        corpus = args.get("corpus", "")
        qtype = args.get("type", "vectorial")
        weight = args.get("weight", "bm25")
        radios = " ".join(
            f'<label><input type="radio" name="corpus" value="{n}" '
            f'{"checked" if n == corpus or (not corpus and i == 0) else ""}>'
            f"{n}</label>"
            for i, n in enumerate(self.corpora))
        weights = " ".join(
            f'<label><input type="radio" name="weight" value="{w}" '
            f'{"checked" if w == weight else ""}>{w}</label>'
            for w in ("raw", "norm", "half", "bm25"))
        body = [_FORM.format(
            q=html.escape(q, quote=True), corpora=radios,
            vect="checked" if qtype != "boolean" else "",
            bool="checked" if qtype == "boolean" else "",
            weights=weights)]
        if q and corpus in self.corpora and qtype in ("boolean",
                                                      "vectorial"):
            a = self.search(corpus, q, qtype, weight,
                            _int_arg(args, "offset", 0))
            if a.get("did_you_mean"):
                alt = a["did_you_mean"]
                link = (f"/?search={quote_plus(alt)}&corpus={corpus}"
                        f"&type={qtype}&weight={weight}")
                body.append(
                    f'<p>Did you mean <a href="{link}"><i>'
                    f"{html.escape(alt)}</i></a>?</p>")
            body.append(f"<p>{a['size']} results "
                        f"({a['time_ms']} ms)</p><table>"
                        "<tr><th>doc</th><th>url</th><th>score</th></tr>")
            for r in a["results"]:
                sc = "" if r["score"] is None else f"{r['score']:.6f}"
                snip = ""
                if "snippet" in r:
                    snip = ("<br><small>"
                            + _render_snippet(r["snippet"])
                            + "</small>")
                body.append(
                    f'<tr><td><a href="/doc/{corpus}/{r["doc_id"]}">'
                    f'{r["doc_id"]}</a></td>'
                    f"<td>{html.escape(str(r['url']))}{snip}</td>"
                    f"<td>{sc}</td></tr>")
            body.append("</table><nav>")
            if a["prev"]:
                body.append(f'<a href="{a["prev"]}">&lt; Prev</a>')
            if a["next"]:
                body.append(f'<a href="{a["next"]}">Next &gt;</a>')
            body.append("</nav>")
        return _PAGE.format(body="\n".join(body))

    def stat_page(self) -> str:
        rows = ["<h3>Heaps-law values</h3><table>",
                "<tr><th>Corpus</th><th>Vocabulary</th>"
                "<th>Tokens</th><th>B</th><th>K</th></tr>"]
        for name, s in self.corpora.items():
            st = s.stats
            rows.append(
                f"<tr><td>{name}</td><td>{st['vocabulary']}</td>"
                f"<td>{st['n_raw_tokens']}</td>"
                f"<td>{st['heaps_b']:.2f}</td>"
                f"<td>{st['heaps_k']:.2f}</td></tr>")
        rows.append("</table>")
        if self.graphs_dir:
            for name in self.corpora:
                if os.path.exists(os.path.join(self.graphs_dir,
                                               f"{name}.svg")):
                    rows.append(f'<img src="/graphs/{name}.svg" '
                                'style="width:100%">')
        return _PAGE.format(body="\n".join(rows))

    def _section_bytes(self, s: LocalSearcher) -> dict[str, int]:
        out = {}
        for section in ("postings", "dictionary", "docs"):
            total = 0
            for root, _, files in os.walk(os.path.join(
                    s.paths.out_dir, section)):
                total += sum(os.path.getsize(os.path.join(root, f))
                             for f in files)
            out[section] = total
        return out

    def perf_page(self) -> str:
        rows = ["<h3>Index sections on disk</h3><table>",
                "<tr><th>Corpus</th><th>Index (postings+dict)</th>"
                "<th>Titles (docs)</th><th>Total</th></tr>"]
        for name, s in self.corpora.items():
            b = self._section_bytes(s)
            ix = b["postings"] + b["dictionary"]
            rows.append(f"<tr><td>{name}</td><td>{ix:,}</td>"
                        f"<td>{b['docs']:,}</td>"
                        f"<td>{ix + b['docs']:,}</td></tr>")
        rows.append("</table><h3>Search latency</h3>")
        rows.append(self._latency_table())
        return _PAGE.format(body="\n".join(rows))

    def _latency_table(self) -> str:
        rows = ["<table><tr><th>Corpus</th><th>queries</th>"
                "<th>p50</th><th>p90</th><th>p99</th><th>max</th></tr>"]
        for name in self.corpora:
            p = _percentiles(list(self.latencies[name]))
            if not p:
                rows.append(f"<tr><td>{name}</td><td>0</td>"
                            "<td>-</td><td>-</td><td>-</td><td>-</td></tr>")
            else:
                rows.append(
                    f"<tr><td>{name}</td><td>{p['count']}</td>"
                    + "".join(f"<td>{p[k]:.1f} ms</td>" for k in
                              ("p50_ms", "p90_ms", "p99_ms", "max_ms"))
                    + "</tr>")
        rows.append("</table>")
        return "\n".join(rows)

    def doc_page(self, corpus: str, doc_id: int) -> dict | None:
        s = self.corpora.get(corpus)
        # the snapshot decides: ids keep their chunk ranges across
        # purges, and a tombstoned doc is gone from every surface
        if s is None or not s.is_live(doc_id):
            return None
        with self._locks[corpus]:
            url = s._load_urls()[doc_id]
        if url is None:
            return None
        return {"doc_id": doc_id, "url": url, "corpus": corpus}

    def precall_page(self) -> str:
        rows = []
        if self.graphs_dir and os.path.exists(os.path.join(
                self.graphs_dir, "precision_recall", "avg.svg")):
            rows.append('<h2>Averaged P/R curve</h2>'
                        '<img src="/graphs/precision_recall/avg.svg" '
                        'style="width:100%">')
        rows.append("<table><tr><th>Weight function</th>"
                    "<th>MAP</th></tr>")
        for scheme, v in (self.precall.get("map") or {}).items():
            rows.append(f"<tr><td>{scheme}</td><td>{v:.6f}</td></tr>")
        rows.append("</table>")
        return _PAGE.format(body="\n".join(rows))

    def qrels_page(self) -> str:
        rows = ["<table><tr><th>qid</th><th>query</th>"
                "<th>judged docs</th></tr>"]
        queries = self.precall.get("queries") or {}
        qrels = self.precall.get("qrels") or {}
        for qid in sorted(queries):
            rows.append(f"<tr><td>{qid}</td>"
                        f"<td>{html.escape(queries[qid])}</td>"
                        f"<td>{len(qrels.get(qid, []))}</td></tr>")
        rows.append("</table>")
        return _PAGE.format(body="\n".join(rows))


class _Handler(BaseHTTPRequestHandler):
    app: SearchApp  # set by make_server on the subclass

    def log_message(self, *a):  # quiet by default
        pass

    def _send(self, body: str | bytes, ctype="text/html",
              status=200) -> None:
        data = body.encode() if isinstance(body, str) else body
        self.send_response(status)
        self.send_header("Content-Type", f"{ctype}; charset=utf-8"
                         if ctype.startswith("text") else ctype)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def _404(self) -> None:
        self._send("not found", status=404)

    def do_GET(self) -> None:  # noqa: N802 (stdlib casing)
        try:
            self._route()
        except BrokenPipeError:
            pass
        except Exception as e:  # surface handler bugs to the client
            self._send(f"internal error: {e!r}", status=500)

    def _route(self) -> None:
        u = urlparse(self.path)
        args = {k: v[0] for k, v in parse_qs(u.query).items()}
        app = self.app
        path = u.path
        if path == "/":
            corpus = args.get("corpus", "")
            q = args.get("search", "")
            if (args.get("format") == "json" and q
                    and corpus in app.corpora):
                a = app.search(corpus, q,
                               args.get("type", "vectorial"),
                               args.get("weight", "bm25"),
                               _int_arg(args, "offset", 0))
                self._send(json.dumps(a), "application/json")
            else:
                self._send(app.index_page(args))
        elif path == "/suggest":
            corpus = args.get("corpus", "")
            q = args.get("q", "")
            if not q or corpus not in app.corpora:
                return self._404()
            s = app.corpora[corpus]
            k = _int_arg(args, "k", 5)
            if "prefix" in args:
                out = [{"term": t, "df": df}
                       for t, df in s.complete(q, k)]
            else:
                out = [{"term": t, "dist": d, "df": df}
                       for t, d, df in s.suggest(q, k)]
            self._send(json.dumps({"q": q, "suggestions": out}),
                       "application/json")
        elif path == "/stat":
            self._send(app.stat_page())
        elif path == "/perf":
            self._send(app.perf_page())
        elif path == "/percentile":
            self._send(_PAGE.format(body=app._latency_table()))
        elif path == "/precall":
            self._send(app.precall_page())
        elif path == "/qrels":
            self._send(app.qrels_page())
        elif path.startswith("/doc/") or any(
                path.startswith(f"/{n}/") for n in app.corpora):
            parts = path.strip("/").split("/")
            if parts[0] == "doc":
                parts = parts[1:]  # /doc/<corpus>/<id>
            if len(parts) != 2 or not parts[1].isdigit():
                return self._404()
            doc = app.doc_page(parts[0], int(parts[1]))
            if doc is None:
                return self._404()
            if args.get("format") == "json":
                self._send(json.dumps(doc), "application/json")
            else:
                self._send(_PAGE.format(
                    body=f"<h3>doc {doc['doc_id']}</h3>"
                         f"<p>{html.escape(str(doc['url']))}</p>"))
        elif path.startswith("/graphs/"):
            if app.graphs_dir is None:
                return self._404()
            rel = os.path.normpath(path[len("/graphs/"):])
            full = os.path.join(app.graphs_dir, rel)
            # normpath + relative-prefix check = no path traversal
            if (os.path.isabs(rel) or rel.startswith("..")
                    or not os.path.isfile(full)):
                return self._404()
            with open(full, "rb") as f:
                self._send(f.read(), "image/svg+xml")
        else:
            self._404()


def _render_snippet(snip: dict) -> str:
    """Escaped snippet HTML with <b> over the match spans (spans are
    char offsets into the raw snippet text, so escape piecewise)."""
    text, out, pos = snip["text"], [], 0
    for s, e in snip["spans"]:
        out.append(html.escape(text[pos:s]))
        out.append("<b>" + html.escape(text[s:e]) + "</b>")
        pos = e
    out.append(html.escape(text[pos:]))
    return (("… " if snip["clipped_left"] else "")
            + "".join(out)
            + (" …" if snip["clipped_right"] else ""))


def make_server(corpora: dict[str, LocalSearcher], port: int = 0,
                host: str = "127.0.0.1",
                graphs_dir: str | None = None,
                precall: dict | None = None) -> ThreadingHTTPServer:
    """Bound-but-not-running server (port 0 = ephemeral, for tests:
    ``srv.server_address`` has the real port).  Call
    ``serve_forever()`` or use :func:`serve`."""
    app = SearchApp(corpora, graphs_dir=graphs_dir, precall=precall)
    handler = type("Handler", (_Handler,), {"app": app})
    srv = ThreadingHTTPServer((host, port), handler)
    srv.daemon_threads = True  # shutdown() never hangs on a request
    srv.app = app  # reachable for tests/metrics
    return srv


def serve(index_dirs: dict[str, str], port: int = 8080,
          graphs_dir: str | None = None) -> None:
    """Blocking entry point (server.go:198 ListenAndServe analog):
    mount one LocalSearcher per index dir and serve."""
    corpora = {n: LocalSearcher(d) for n, d in index_dirs.items()}
    srv = make_server(corpora, port=port, host="0.0.0.0",
                      graphs_dir=graphs_dir)
    print(f"riw-spark serving {list(index_dirs)} on :{port}")
    srv.serve_forever()


if __name__ == "__main__":  # python -m rechercheinfoweb_spark.httpserver
    import argparse
    ap = argparse.ArgumentParser(
        description="Serve one or more built index dirs over HTTP "
                    "(server.go twin).")
    ap.add_argument("indexes", nargs="+",
                    help="name=/path/to/index pairs (or bare paths, "
                         "named main, main2, ...)")
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument("--graphs", default=None,
                    help="directory of SVGs for /graphs/")
    a = ap.parse_args()
    dirs = {}
    for i, spec in enumerate(a.indexes):
        name, _, path = spec.rpartition("=")
        dirs[name or ("main" if i == 0 else f"main{i + 1}")] = path
    serve(dirs, port=a.port, graphs_dir=a.graphs)
