"""Boolean parser + evaluation tests (SURVEY.md §5.4): precedence
(AND < OR < NOT, reference enum order), implicit AND, silent fixes,
bounded NOT."""

import pytest

from oracle.pyoracle import OracleIndex  # noqa: F401 (fixture type)
from rechercheinfoweb_spark.operators.compact import compact_chunks
from rechercheinfoweb_spark.operators.delete import delete_docs
from rechercheinfoweb_spark.operators.index_build import build_index
from rechercheinfoweb_spark.operators.query_bool import (
    And, Not, Or, Word, boolean_search, parse_boolean,
)
from rechercheinfoweb_spark.operators.query_vector import IndexReader

BOOL_QUERIES = [
    "search AND engine",
    "search OR engine",
    "search AND NOT engine",
    "search engine",                    # implicit AND
    "search NOT engine",                # implicit AND before NOT
    "NOT search",                       # top-level NOT → empty
    "search AND engine OR ranking",     # OR binds tighter: a AND (b OR c)
    "running OR skies AND NOT webpage",
    "AND OR",                           # silent fix → empty
    "",
    "Search and engine",                # lowercase operator; case kept
    "search or engine",
]


def test_parser_shapes():
    assert parse_boolean("a AND b") == And(Word("b"), Word("a"))
    assert parse_boolean("a b") == And(Word("b"), Word("a"))
    assert parse_boolean("a NOT b") == And(Not(Word("b")), Word("a"))
    # OR binds tighter than AND (reference precedence quirk)
    assert parse_boolean("a AND b OR c") == And(
        Or(Word("c"), Word("b")), Word("a"))
    assert parse_boolean("a OR b AND c") == And(
        Word("c"), Or(Word("b"), Word("a")))
    assert parse_boolean("NOT a") == Not(Word("a"))
    assert parse_boolean("a AND NOT b") == And(Not(Word("b")), Word("a"))
    # silent fixes
    assert parse_boolean("AND") is None      # empty output queue
    assert parse_boolean("a AND") == Word("a")
    assert parse_boolean("") is None


def test_boolean_parity(spark, reader, oracle_index):
    for q in BOOL_QUERIES:
        got = [r["doc_id"] for r in
               boolean_search(spark, reader, q).collect()]
        exp = oracle_index.boolean_query(q)
        assert got == exp, q


def test_not_is_bounded(spark, reader, oracle_index):
    # NOT never complements the corpus: alone (or under OR) it sees
    # an empty bound set (bool_query.go:38-44)
    assert boolean_search(spark, reader, "NOT search").count() == 0
    assert boolean_search(
        spark, reader, "search OR NOT engine").count() == \
        len(oracle_index.boolean_query("search OR NOT engine"))


def test_one_job_one_task(spark, spark_work, reader):
    """On the fixture index a boolean query is one Spark job with one
    task: no join, no shuffle, no range-sort sample."""
    ids, jobs, tasks = spark_work(lambda: boolean_search(
        spark, reader, "search AND engine OR ranking").collect())
    assert ids
    assert (jobs, tasks) == (1, 1)


@pytest.fixture(scope="module")
def reordered_index(spark, pages_df, tmp_path_factory):
    """Salt numbers out of doc-id order, with tombstones: three 50-doc
    chunks, the first two compacted into a fresh (higher) salt, then
    docs of both salts deleted."""
    out = str(tmp_path_factory.mktemp("bool_reordered"))
    build_index(spark, pages_df, out, n_chunks=3, n_buckets=8)
    assert compact_chunks(spark, out, target_docs=100)["merged_groups"] == 1
    dead = {3, 60, 120, 149}
    delete_docs(spark, out, doc_ids=sorted(dead))
    return out, dead


def test_salt_tasks_are_one_job_in_id_order(spark, spark_work,
                                            oracle_index, reordered_index):
    """With one task per salt, a boolean search is still one job (no
    range-partition sample), and its ids equal the one-task plan's
    and the oracle's, tombstones included, although the salt holding
    the lowest ids has the highest number."""
    out, dead = reordered_index
    r = IndexReader(spark, out)
    by_id = sorted(r.salt_map, key=lambda s: r.salt_map[s][0])
    assert len(by_id) == 2 and by_id != sorted(by_id)
    queries = ["search OR engine", "search AND engine OR ranking",
               "search AND NOT engine"]

    def answers():
        return {q: [x["doc_id"] for x in
                    boolean_search(spark, r, q).collect()]
                for q in queries}

    one, jobs, tasks = spark_work(answers)
    assert (jobs, tasks) == (len(queries), len(queries))
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        assert [t[0][0] for t in r.scan_tasks(["search"])] == by_id
        split, jobs, tasks = spark_work(answers)
    finally:
        spark.conf.set(key, old)
    assert jobs == len(queries)
    assert tasks == 2 * len(queries)
    assert split == one
    for q, got in one.items():
        want = [d for d in oracle_index.boolean_query(q) if d not in dead]
        assert want and got == want, q
