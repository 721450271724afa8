"""HTTP serving surface (httpserver.py) — real socket round-trips.

Spins the stdlib server on an ephemeral port over the session-built
index and checks route parity with server.go: search + pagination,
doc fetch, stat/perf pages, static graphs, 404s — and that the HTTP
results are bit-identical to direct LocalSearcher calls."""

from __future__ import annotations

import json
import shutil
import threading
import urllib.error
import urllib.request

import pytest

from rechercheinfoweb_spark import plots
from rechercheinfoweb_spark.httpserver import SearchApp, make_server
from rechercheinfoweb_spark.operators.compact import compact_chunks
from rechercheinfoweb_spark.operators.delete import delete_docs
from rechercheinfoweb_spark.operators.serve_local import LocalSearcher

QUERY = "search engine ranking"


@pytest.fixture(scope="module")
def searcher(index_dir) -> LocalSearcher:
    return LocalSearcher(index_dir)


@pytest.fixture(scope="module")
def server(searcher, tmp_path_factory):
    graphs = str(tmp_path_factory.mktemp("graphs"))
    plots.draw_heaps(graphs, [(1.0, 1.0), (2.0, 1.6)], "main")
    srv = make_server({"main": searcher}, port=0, graphs_dir=graphs,
                      precall={"map": {"bm25": 0.42},
                               "queries": {1: "q one"},
                               "qrels": {1: [3, 7]}})
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _get(url: str) -> tuple[int, bytes]:
    with urllib.request.urlopen(url) as r:
        return r.status, r.read()


def _get_json(url: str) -> dict:
    status, body = _get(url)
    assert status == 200
    return json.loads(body)


def test_vector_search_matches_local(server, searcher):
    a = _get_json(f"{server}/?search=search+engine+ranking"
                  "&corpus=main&type=vectorial&weight=bm25&format=json")
    want = searcher.vector_query(QUERY, "bm25", k=20, with_urls=True)
    got = [(r["doc_id"], r["score"], r["url"]) for r in a["results"]]
    assert got == [(d, s, u) for d, s, u in want]
    assert a["size"] >= len(got) and a["time_ms"] >= 0


def test_boolean_search_and_pagination(server, searcher):
    url = (f"{server}/?search=the+OR+search&corpus=main"
           "&type=boolean&format=json")
    a = _get_json(url)
    ids = searcher.boolean_query("the OR search")
    assert a["size"] == len(ids)
    assert [r["doc_id"] for r in a["results"]] == ids[:20]
    assert [r["score"] for r in a["results"]] == [None] * len(a["results"])
    if a["size"] > 20:  # walk one page via the served Next link
        assert a["next"] and "offset=20" in a["next"]
        b = _get_json(f"{server}{a['next']}&format=json")
        assert [r["doc_id"] for r in b["results"]] == ids[20:40]
        assert b["prev"] and "offset=0" in b["prev"]


def test_html_page_renders(server):
    status, body = _get(f"{server}/?search=search+engine"
                        "&corpus=main&type=vectorial&weight=bm25")
    assert status == 200
    text = body.decode()
    assert "results" in text and "<table>" in text


def test_doc_fetch_and_corpus_alias(server, searcher):
    doc = _get_json(f"{server}/doc/main/1?format=json")  # ids are 1..N
    assert doc["url"] == searcher._load_urls()[1]
    # the reference's /cacm/<id> shape: /<corpus>/<id> works too
    alias = _get_json(f"{server}/main/1?format=json")
    assert alias == doc
    for bad in ("/doc/main/999999", "/doc/main/0", "/doc/nope/1",
                "/doc/main/x"):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(f"{server}{bad}")
        assert e.value.code == 404


def test_negative_offset_serves_first_page(server):
    """A negative offset serves the offset-0 page, like any other
    out-of-range offset."""
    base = (f"{server}/?search=search+engine+ranking&corpus=main"
            "&type=vectorial&weight=bm25&format=json")
    first = _get_json(f"{base}&offset=0")
    assert len(first["results"]) == 20
    for offset in (-5, -20):
        a = _get_json(f"{base}&offset={offset}")
        assert a["offset"] == 0 and a["size"] == first["size"]
        assert a["results"] == first["results"], offset


def test_unparsable_offset_serves_first_page(server):
    """An offset that is not an integer serves the offset-0 page, in
    JSON and in HTML, instead of a 500."""
    base = (f"{server}/?search=search+engine+ranking&corpus=main"
            "&type=vectorial&weight=bm25")

    def page(offset):
        a = _get_json(f"{base}&format=json&offset={offset}")
        del a["time_ms"]
        return a

    first = page(0)
    for offset in ("abc", "1.5"):
        assert page(offset) == first
        status, _ = _get(f"{base}&offset={offset}")
        assert status == 200


def test_suggest_unparsable_k_uses_default(server, searcher):
    """/suggest with a non-integer k answers the default k=5."""
    a = _get_json(f"{server}/suggest?corpus=main&q=serch&k=x")
    assert a["suggestions"] == [
        {"term": t, "dist": d, "df": df}
        for t, d, df in searcher.suggest("serch", k=5)]


def test_doc_route_follows_snapshot(spark, index_dir, tmp_path):
    """/doc/<corpus>/<id> answers exactly for the snapshot's live
    docs: a tombstoned doc is gone at once, and after the purge the
    ids above the live count still resolve."""
    out = str(tmp_path / "idx")
    shutil.copytree(index_dir, out)
    before = LocalSearcher(out)
    urls, n = before._load_urls(), before.n_docs
    delete_docs(spark, out, doc_ids=[5, 10])
    app = SearchApp({"web": LocalSearcher(out)})
    assert app.doc_page("web", 5) is None
    assert app.doc_page("web", 10) is None
    assert app.doc_page("web", 6)["url"] == urls[6]
    compact_chunks(spark, out)
    app = SearchApp({"web": LocalSearcher(out)})
    assert app.corpora["web"].n_docs == n - 2
    for d in (n - 1, n):
        assert app.doc_page("web", d)["url"] == urls[d]
    assert app.doc_page("web", 5) is None
    assert app.doc_page("web", n + 1) is None


def test_stat_perf_precall_pages(server, searcher):
    status, body = _get(f"{server}/stat")
    assert status == 200
    assert str(searcher.vocabulary) in body.decode()
    status, body = _get(f"{server}/perf")
    assert status == 200 and b"postings" in body.lower()
    status, body = _get(f"{server}/precall")
    assert status == 200 and b"0.42" in body
    status, body = _get(f"{server}/qrels")
    assert status == 200 and b"q one" in body
    status, _ = _get(f"{server}/percentile")
    assert status == 200


def test_graphs_static_and_traversal_guard(server):
    status, body = _get(f"{server}/graphs/main.svg")
    assert status == 200 and body.startswith(b"<svg")
    for bad in ("/graphs/../conftest.py", "/graphs/absent.svg",
                "/nope"):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(f"{server}{bad}")
        assert e.value.code == 404


def test_search_snippets_when_corpus_attached(index_dir, pages_df,
                                              tmp_path_factory):
    """A corpus-attached searcher serves query-focused snippets:
    JSON results carry {text, spans, clip flags}, the HTML page
    bolds the matches; the plain searcher (other tests) serves
    none."""
    corpus_dir = str(tmp_path_factory.mktemp("http_corpus"))
    pages_df.write.mode("overwrite").parquet(corpus_dir)
    s = LocalSearcher(index_dir, corpus_dir=corpus_dir)
    srv = make_server({"main": s}, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        a = _get_json(f"{base}/?search=search+engine&corpus=main"
                      "&type=vectorial&weight=bm25&format=json")
        assert a["results"]
        for r in a["results"]:
            snip = r["snippet"]
            assert snip["text"] and snip["spans"]
            for lo, hi in snip["spans"]:
                assert 0 <= lo < hi <= len(snip["text"])
        status, body = _get(f"{base}/?search=search+engine"
                            "&corpus=main&type=vectorial&weight=bm25")
        assert status == 200 and b"<b>" in body
    finally:
        srv.shutdown()


def test_suggest_route_and_did_you_mean(server, searcher):
    """/suggest serves spell + prefix JSON bit-identical to the
    LocalSearcher methods; an empty vectorial result carries a
    did_you_mean built from per-token best neighbors."""
    a = _get_json(f"{server}/suggest?corpus=main&q=serch&k=3")
    assert a["q"] == "serch"
    assert a["suggestions"] == [
        {"term": t, "dist": d, "df": df}
        for t, d, df in searcher.suggest("serch", k=3)]
    assert any(s["term"] == "search" for s in a["suggestions"])
    p = _get_json(f"{server}/suggest?corpus=main&q=se&k=3&prefix=1")
    assert p["suggestions"] == [
        {"term": t, "df": df} for t, df in searcher.complete("se", 3)]
    # unknown corpus / empty q -> 404
    with pytest.raises(urllib.error.HTTPError):
        _get(f"{server}/suggest?corpus=nope&q=x")
    # misspelled-everything query: zero hits, did_you_mean offered
    r = _get_json(f"{server}/?search=serch+enigne&corpus=main"
                  "&type=vectorial&weight=bm25&format=json")
    assert r["size"] == 0 and not r["results"]
    # suggestions live in the dictionary's term space — stems on a
    # stemmed index ("enigne" -> "engin"); re-querying them works
    # because the query pipeline normalizes the same way
    want = " ".join(searcher.suggest(w, k=1)[0][0]
                    for w in ("serch", "enigne"))
    assert r["did_you_mean"] == want == "search engin"
    status, body = _get(f"{server}/?search=serch+enigne&corpus=main"
                        "&type=vectorial&weight=bm25")
    assert status == 200 and b"Did you mean" in body
    # hits present -> no did_you_mean key
    ok = _get_json(f"{server}/?search=search&corpus=main"
                   "&type=vectorial&weight=bm25&format=json")
    assert "did_you_mean" not in ok
