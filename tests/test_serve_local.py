"""Driver-local serving path: bit-equal to the Spark path, and fast
enough to be an interactive answer (the reference serves from RAM)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from pyspark.sql import functions as F

from rechercheinfoweb_spark.functions.xxhash import xxh64
from rechercheinfoweb_spark.operators.query_vector import vector_topk
from rechercheinfoweb_spark.operators.serve_local import LocalSearcher

QUERIES = ("search engine ranking", "Zipf postings merge",
           "webpage content information",  # df≈N hot terms
           "running runner runs", "absentterm search")


def test_xxhash_matches_spark(spark):
    terms = ["", "a", "ab", "abcd", "abcdefg", "abcdefgh",
             "x" * 31, "x" * 32, "x" * 33, "x" * 100,
             "state-of-the-art", "données-éphémères", "日本語"]
    got = {r["t"]: r["h"] for r in spark.createDataFrame(
        [(t,) for t in terms], "t string")
        .select("t", F.xxhash64("t").alias("h")).collect()}
    for t in terms:
        assert xxh64(t.encode("utf-8")) == got[t], t


def test_local_matches_spark_engine(spark, reader, index_dir):
    local = LocalSearcher(index_dir)
    for scheme in ("raw", "norm", "half", "bm25"):
        for q in QUERIES:
            a = local.vector_query(q, scheme, k=15)
            b = [(r["doc_id"], r["score"]) for r in
                 vector_topk(spark, reader, q, scheme, k=15).collect()]
            assert a == b, (scheme, q)  # bit-equal scores, same ranks


def test_local_boolean_matches_oracle(oracle_index, index_dir):
    local = LocalSearcher(index_dir)
    for q in ("search AND engine", "search OR NOT engine AND index",
              "running NOT runs", "search engine ranking"):
        assert local.boolean_query(q) == oracle_index.boolean_query(q), q


def test_local_urls(oracle_index, index_dir):
    local = LocalSearcher(index_dir)
    top = local.vector_query("search engine", "bm25", k=5,
                             with_urls=True)
    for doc_id, _score, url in top:
        assert oracle_index.doc_url[doc_id] == url


def test_local_latency(index_dir):
    local = LocalSearcher(index_dir)
    local.vector_query("search engine", "bm25")  # warm the bucket cache
    t0 = time.time()
    n = 50
    for i in range(n):
        local.vector_query("search engine ranking", "bm25", k=20)
    per = (time.time() - t0) / n
    # the Spark job path costs ~1.4 s/query; local serving must be
    # interactive (generous bound — typically single-digit ms)
    assert per < 0.1, f"{per * 1000:.1f} ms/query"


# ---- snippets -------------------------------------------------------


def test_best_snippet_window_choice_and_spans():
    """Window with the most DISTINCT matched terms wins (ties: more
    matched tokens, then leftmost); spans are char offsets into the
    returned text; clip flags reflect truncation."""
    from rechercheinfoweb_spark.operators.serve_local import (
        best_snippet,
    )
    text = ("filler filler engine filler filler filler filler filler "
            "filler filler filler filler filler "
            "search engine ranking signals")
    s = best_snippet(text, {"search", "engine", "ranking"},
                     stemmed=False, radius=2)
    # the 5-token window around 'search engine ranking' has 3
    # distinct matches; the early lone 'engine' window only 1
    assert "search engine ranking" in s["text"]
    # ties (windows 11 and 12 both hold all 3 terms) go LEFTMOST, so
    # the window starts two fillers early and clips on both sides
    assert s["text"] == "filler filler search engine ranking"
    assert s["clipped_left"] and s["clipped_right"]
    got = [s["text"][a:b] for a, b in s["spans"]]
    assert got == ["search", "engine", "ranking"]
    # whole-text window when the doc is short
    s2 = best_snippet("just two", {"missing"}, stemmed=False, radius=8)
    assert s2["text"] == "just two" and s2["spans"] == []
    assert not s2["clipped_left"] and not s2["clipped_right"]
    # empty text
    s3 = best_snippet("", {"x"}, stemmed=False)
    assert s3["text"] == "" and s3["spans"] == []


def test_best_snippet_stemmed_matching():
    """With a stemmed index, text tokens stem before matching (len>3
    rule) so 'ranking' highlights for query term 'rank'."""
    from rechercheinfoweb_spark.functions.porter2 import stem
    from rechercheinfoweb_spark.operators.serve_local import (
        best_snippet,
    )
    term = stem("ranking")
    s = best_snippet("page about ranking things", {term},
                     stemmed=True, radius=3)
    assert [s["text"][a:b] for a, b in s["spans"]] == ["ranking"]


def test_local_snippets_end_to_end(spark, pages_df, index_dir,
                                   tmp_path_factory):
    """Snippets over the real corpus: every snippet is a substring
    of its doc's text and highlights at least one query term for
    docs the vector query actually matched."""
    corpus_dir = str(tmp_path_factory.mktemp("snip_corpus"))
    pages_df.write.mode("overwrite").parquet(corpus_dir)
    local = LocalSearcher(index_dir, corpus_dir=corpus_dir)
    top = local.vector_query("search engine", "bm25", k=5)
    ids = [d for d, _s in top]
    texts = {r["url"]: r["text"]
             for r in pages_df.select("url", "text").collect()}
    urls = local._load_urls()
    snips = local.snippets("search engine", ids)
    assert set(snips) == set(ids)
    for d, s in snips.items():
        assert s["text"] in texts[urls[d]]
        assert s["spans"], f"doc {d} snippet has no highlight"


# ---- suggest / autocomplete ------------------------------------------


def test_lev_capped_matches_full_dp():
    import itertools
    from rechercheinfoweb_spark.operators.serve_local import _lev_capped

    def full(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    words = ["", "a", "ab", "abc", "abcd", "search", "serch",
             "sarch", "searching", "engine", "enigne", "xyzzy"]
    for a, b in itertools.product(words, repeat=2):
        d = full(a, b)
        for cap in (0, 1, 2, 3):
            got = _lev_capped(a, b, cap)
            assert got == (d if d <= cap else None), (a, b, cap)


def test_local_suggest_matches_spark_operator(spark, reader, index_dir):
    """LocalSearcher.suggest == operators/suggest.spell_suggest over
    the same dictionary artifact (same normalization, same rank)."""
    from rechercheinfoweb_spark.functions.tokenizer import (
        bool_query_term,
    )
    from rechercheinfoweb_spark.operators.suggest import spell_suggest

    local = LocalSearcher(index_dir)
    words = ["serch", "engin", "rankin", "search"]
    norm = [bool_query_term(w, local.stemmed) for w in words]
    rows = spell_suggest(reader._dictionary, norm, k=5).collect()
    want: dict[str, list] = {}
    for r in rows:
        want.setdefault(r["query_term"], []).append(
            (r["suggestion"], r["dist"], r["df"]))
    for w, t in zip(words, norm):
        exp = sorted(want.get(t, []),
                     key=lambda x: (x[1], -x[2], x[0]))
        assert local.suggest(w, k=5) == exp, w


def test_local_complete_matches_dictionary(reader, index_dir):
    local = LocalSearcher(index_dir)
    terms = {r["term"]: r["df"]
             for r in reader._dictionary.select("term", "df").collect()}
    want = sorted(((t, d) for t, d in terms.items()
                   if t.startswith("se")),
                  key=lambda x: (-x[1], x[0]))[:4]
    assert local.complete("se", k=4) == want


# ---- benchmark hook points ------------------------------------------

_TRACED_QUERIES = """
import json, sys
sys.path.insert(0, sys.argv[1])
import spans
from rechercheinfoweb_spark.operators.serve_local import LocalSearcher
tr = spans.Tracer(keep_spans=False)
spans.instrument_kernels(tr)
spans.instrument_local_searcher(tr)
s = LocalSearcher(sys.argv[2])
s.vector_query("search engine ranking", "bm25", k=10)
s.boolean_query_np("search AND engine")
print(json.dumps(tr.snapshot()))
"""


def test_perfbench_hooks_record_local_searcher(index_dir):
    """perfbench's traced run wraps LocalSearcher and serve_local by
    name; a rename that would leave its counters at zero fails here.
    Runs in a subprocess so the patches stay out of this session."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _TRACED_QUERIES,
         os.path.join(repo, "perfbench"), index_dir],
        cwd=repo, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr
    snap = json.loads(proc.stdout.strip().splitlines()[-1])
    counters = snap["counters"]
    for name in ("serve_local.decoded_hits", "serve_local.decoded_misses",
                 "serve_local.postings_touched",
                 "serve_local.bucket_reads", "serve_local.vector_queries",
                 "serve_local.boolean_queries"):
        assert counters.get(name, 0) > 0, name
    for span in ("serve_local.open", "serve_local.vector_query",
                 "serve_local.boolean_query", "serve_local.read_bucket",
                 "serve_local.decoded_postings",
                 "tokenizer.vector_query_terms",
                 "tokenizer.bool_query_term", "codec.unpack",
                 "scoring.posting_weights"):
        assert snap["totals"].get(span, [0])[0] > 0, span
