"""Boolean parser + evaluation tests (SURVEY.md §5.4): precedence
(AND < OR < NOT, reference enum order), implicit AND, silent fixes,
bounded NOT."""

from oracle.pyoracle import OracleIndex  # noqa: F401 (fixture type)
from rechercheinfoweb_spark.operators.query_bool import (
    And, Not, Or, Word, boolean_search, parse_boolean,
)

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
