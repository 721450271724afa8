"""Vector-query parity: rank-identical, score-exact vs the oracle,
WAND pruning exactness (SURVEY.md §5.2)."""

from collections import Counter
from contextlib import contextmanager

import pytest

from rechercheinfoweb_spark.operators.delete import delete_docs
from rechercheinfoweb_spark.operators.index_build import build_index
from rechercheinfoweb_spark.operators.query_bool import boolean_search
from rechercheinfoweb_spark.operators.query_vector import (
    STOPWORDS, IndexReader, vector_query_terms, vector_topk,
    vector_topk_batch,
)
from rechercheinfoweb_spark.operators.serve_local import LocalSearcher

QUERIES = [
    "search engine ranking",
    "Spark shuffle partition broadcast",
    "running skies connection",
    "the of and in",                 # all stopwords → empty
    "webpage content information",   # hot terms, idf=0 path
    "varint delta snappy BM25 WAND Zipf Heaps",
    "missingterm search",
    "search search engine",          # duplicate term scores twice
]


@pytest.mark.parametrize("scheme", ["raw", "norm", "half", "bm25"])
def test_rank_identical_scores_exact(spark, reader, oracle_index, scheme):
    for q in QUERIES:
        got = [(r["doc_id"], r["score"]) for r in
               vector_topk(spark, reader, q, scheme, k=10).collect()]
        exp = oracle_index.vector_query(q, scheme, k=10)
        assert got == exp, f"{scheme}: {q!r}"


def test_wand_equals_exhaustive(spark, reader):
    for q in QUERIES:
        a = [(r["doc_id"], r["score"]) for r in
             vector_topk(spark, reader, q, "bm25", k=10,
                         use_pruning=True).collect()]
        b = [(r["doc_id"], r["score"]) for r in
             vector_topk(spark, reader, q, "bm25", k=10,
                         use_pruning=False).collect()]
        assert a == b, q


def test_pruning_auto_routes_and_matches(spark, reader):
    """"auto" prunes only when some term is selective (df ≤ N/4 ⇔
    idf ≥ ln 4); either branch returns identical rows."""
    from rechercheinfoweb_spark.operators.query_vector import (
        _pruning_pays,
    )
    def params_of(q):
        terms = vector_query_terms(q, STOPWORDS)
        return reader.term_params(dict(Counter(terms)))
    # hot terms: df ≈ N on the fixture corpus → no pruning
    assert not _pruning_pays(params_of("webpage content information"))
    # df=1 tail term on the fixture corpus → pruning pays
    assert _pruning_pays(params_of("term0556 search"))
    for q in QUERIES:
        auto = [(r["doc_id"], r["score"]) for r in
                vector_topk(spark, reader, q, "bm25", k=10,
                            use_pruning="auto").collect()]
        off = [(r["doc_id"], r["score"]) for r in
               vector_topk(spark, reader, q, "bm25", k=10,
                           use_pruning=False).collect()]
        assert auto == off, q


def test_k_larger_than_matches(spark, reader, oracle_index):
    got = [(r["doc_id"], r["score"]) for r in
           vector_topk(spark, reader, "Zipf", "bm25", k=10**6).collect()]
    exp = oracle_index.vector_query("Zipf", "bm25", k=10**6)
    assert got == exp


def test_with_urls(spark, reader, oracle_index):
    rows = vector_topk(spark, reader, "search engine", "bm25", k=5,
                       with_urls=True).collect()
    assert [r["url"] for r in rows] == [
        oracle_index.doc_url[d] for d, _ in
        oracle_index.vector_query("search engine", "bm25", k=5)]


def test_one_job_one_task_per_query(spark, spark_work, reader, index_dir):
    """On the fixture index a ranked query (pruning on or off) and a
    query batch each run as ONE Spark job with ONE task, and term
    statistics come from the driver with no job at all."""
    for mode in (True, False):
        rows, jobs, tasks = spark_work(lambda: vector_topk(
            spark, reader, "search engine ranking", "bm25", k=10,
            use_pruning=mode).collect())
        assert len(rows) == 10
        assert (jobs, tasks) == (1, 1), mode
    rows, jobs, tasks = spark_work(lambda: vector_topk_batch(
        spark, reader, {1: "search engine", 2: "spark shuffle partition"},
        k=10).collect())
    assert {r["qid"] for r in rows} == {1, 2}
    assert (jobs, tasks) == (1, 1)
    mult = dict(Counter(vector_query_terms(
        "search engine ranking missingterm", STOPWORDS)))
    fresh = IndexReader(spark, index_dir)  # no dictionary bucket cached
    params, jobs, _ = spark_work(lambda: fresh.term_params(mult))
    assert jobs == 0
    assert params == reader.term_params(mult) and len(params) == 3


@contextmanager
def _task_per_salt(spark):
    """Shrink the task byte budget so that every salt is its own task."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.fixture(scope="module")
def tombstoned_index(spark, pages_df, oracle_index, tmp_path_factory):
    """Three salts, with tombstones in each and among the top ranks."""
    out = str(tmp_path_factory.mktemp("tombstoned"))
    build_index(spark, pages_df, out, n_chunks=3, n_buckets=8)
    top = [d for d, _ in oracle_index.vector_query(
        "search engine ranking", "bm25", k=10)]
    dead = {top[0], top[3], 7, 70, 140}
    delete_docs(spark, out, doc_ids=sorted(dead))
    return out, dead


MULTI_VECTOR = ["search engine ranking", "webpage content information",
                "term0556 search", "search search engine",
                "varint delta snappy BM25 WAND Zipf Heaps"]
MULTI_BOOL = ["search AND engine", "search OR engine",
              "search AND NOT engine", "running OR skies AND NOT webpage"]


@pytest.mark.parametrize("with_deletes", [False, True])
def test_task_per_salt_equals_one_task(spark, spark_work, oracle_index,
                                       index_dir, tombstoned_index,
                                       with_deletes):
    """Fanning the scan out to one task per salt changes nothing: every
    ranked (pruning on/off/auto), batch and boolean answer equals the
    one-task plan's and the oracle's, tombstones included."""
    out, dead = tombstoned_index if with_deletes else (index_dir, set())
    r = IndexReader(spark, out)

    def answers():
        vec = {(q, mode): [(x["doc_id"], x["score"]) for x in vector_topk(
            spark, r, q, "bm25", k=10, use_pruning=mode).collect()]
            for q in MULTI_VECTOR for mode in (True, False, "auto")}
        batch: dict[int, list] = {}
        for x in sorted(vector_topk_batch(
                spark, r, dict(enumerate(MULTI_VECTOR)), k=10).collect(),
                key=lambda x: (x["qid"], x["rank"])):
            batch.setdefault(x["qid"], []).append((x["doc_id"], x["score"]))
        boolean = {q: [x["doc_id"] for x in
                       boolean_search(spark, r, q).collect()]
                   for q in MULTI_BOOL}
        return vec, batch, boolean

    one, jobs, tasks = spark_work(answers)
    assert tasks == jobs  # one task per job
    with _task_per_salt(spark):
        assert len(r.scan_tasks(["search"])) == len(r.salt_map) > 1
        split, jobs, tasks = spark_work(answers)
    assert tasks > jobs  # the scans fanned out
    assert split == one
    vec, batch, boolean = one
    for (q, _mode), got in vec.items():
        want = [(d, s) for d, s in oracle_index.vector_query(
            q, "bm25", k=10**6) if d not in dead][:10]
        assert got == want, q
    for qid, q in enumerate(MULTI_VECTOR):
        assert batch[qid] == vec[(q, False)], q
    for q, got in boolean.items():
        assert got == [d for d in oracle_index.boolean_query(q)
                       if d not in dead], q
    # LocalSearcher scores the same salts one at a time: equal to the
    # Spark rows per query and scheme, and its hit count is the number
    # of live docs the oracle scores
    local = LocalSearcher(out)
    for scheme in ("raw", "norm", "half", "bm25"):
        for q in MULTI_VECTOR:
            spark_rows = (vec[(q, False)] if scheme == "bm25" else
                          [(x["doc_id"], x["score"]) for x in vector_topk(
                              spark, r, q, scheme, k=10,
                              use_pruning=False).collect()])
            rows, total = local.vector_query(q, scheme, k=10,
                                             with_total=True)
            assert rows == spark_rows, (scheme, q)
            assert total == sum(
                d not in dead for d, _ in oracle_index.vector_query(
                    q, scheme, k=10**6)), (scheme, q)


def test_k_below_one_rejected_on_driver(spark, reader, index_dir):
    local = LocalSearcher(index_dir)
    for k in (0, -3):
        with pytest.raises(ValueError, match="k must be >= 1"):
            vector_topk(spark, reader, "search engine", k=k)
        with pytest.raises(ValueError, match="k must be >= 1"):
            vector_topk_batch(spark, reader, {1: "search engine"}, k=k)
        with pytest.raises(ValueError, match="k must be >= 1"):
            local.vector_query("search engine", k=k)
