"""Shared fixtures: one SparkSession, one tiny corpus, one built index.

Session-scoped so the whole suite pays a single JVM startup and a
single build (SURVEY.md §5 strategy)."""

from __future__ import annotations

import itertools
import shutil

import pytest

from oracle.pyoracle import OracleIndex
from rechercheinfoweb_spark.operators.index_build import build_index
from rechercheinfoweb_spark.operators.query_vector import IndexReader
from rechercheinfoweb_spark.session import get_spark
from rechercheinfoweb_spark.sources.web_pages import synthetic_web_pages

N_DOCS = 150


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]",
                  shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_df(spark):
    df = synthetic_web_pages(spark, N_DOCS)
    df.persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="session")
def corpus(pages_df) -> list[tuple[str, str]]:
    return [(r["url"], r["text"])
            for r in pages_df.select("url", "text").collect()]


@pytest.fixture(scope="session")
def oracle_index(corpus) -> OracleIndex:
    return OracleIndex.build(corpus)


@pytest.fixture(scope="session")
def index_dir(spark, pages_df, tmp_path_factory) -> str:
    out = str(tmp_path_factory.mktemp("index"))
    shutil.rmtree(out, ignore_errors=True)
    build_index(spark, pages_df, out, n_chunks=2, n_buckets=8)
    return out


@pytest.fixture(scope="session")
def reader(spark, index_dir) -> IndexReader:
    return IndexReader(spark, index_dir)


@pytest.fixture(scope="session")
def spark_work(spark):
    """``spark_work(fn) -> (result, jobs, tasks)``: runs *fn* under a
    fresh job group and counts the Spark jobs and tasks it ran.  Tasks
    are the jobs' completed + failed ones: a stage a job lists but
    skips (an adaptive plan's result job lists its already-run
    shuffle map stage again) ran none.  Job-level counts need no
    per-stage info, which the status store may already have evicted;
    a job it cannot find raises."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    groups = itertools.count()

    def run(fn):
        group = f"spark_work_{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status tracker is fed asynchronously by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = tracker.getJobIdsForGroup(group)
        store = sc._jsc.sc().statusStore()
        tasks = sum(d.numCompletedTasks() + d.numFailedTasks()
                    for d in map(store.job, jobs))
        return out, len(jobs), tasks

    return run
