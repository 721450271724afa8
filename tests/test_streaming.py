"""Streaming tests (file source + availableNow trigger, no sleeps).

Key invariant: streaming ingestion + refresh must produce an index
that answers queries exactly like a batch build over the same pages —
same global stats, rank-identical BM25 top-k (scores equal at 1e-9;
doc ids may differ because streaming assigns ids per arrival batch,
so we compare by url)."""

from __future__ import annotations

import itertools
import math
import os
import shutil

import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rechercheinfoweb_spark.functions import codec
from rechercheinfoweb_spark.functions.tokenizer import STOPWORDS
from rechercheinfoweb_spark.operators.index_build import (
    IndexPaths, build_index, finalize_index, read_registry,
)
from rechercheinfoweb_spark.operators.query_bool import boolean_search
from rechercheinfoweb_spark.operators.query_vector import (
    IndexReader, vector_topk,
)
from rechercheinfoweb_spark.sources.web_pages import (
    WEB_PAGES_SCHEMA, synthetic_web_pages,
)
from rechercheinfoweb_spark.streaming import incremental as inc

N = 120


@pytest.fixture(scope="module")
def stream_src(spark, tmp_path_factory):
    """Three parquet files == three micro-batches of pages."""
    src = str(tmp_path_factory.mktemp("stream_src"))
    pages = synthetic_web_pages(spark, N).collect()
    for i, lo in enumerate(range(0, N, N // 3 + 1)):
        batch = pages[lo:lo + N // 3 + 1]
        spark.createDataFrame(batch, WEB_PAGES_SCHEMA) \
            .coalesce(1).write.parquet(f"{src}/b{i}")
    return src


def test_incremental_matches_batch(spark, tmp_path_factory, stream_src):
    out = str(tmp_path_factory.mktemp("inc_idx"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    shutil.rmtree(out, ignore_errors=True)

    stream = (spark.readStream.schema(WEB_PAGES_SCHEMA)
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{stream_src}/*/"))
    q = inc.index_web_pages_stream(spark, stream, out, ckpt,
                                   n_buckets=8)
    q.awaitTermination(300)
    info = inc.refresh(spark, out, n_buckets=8)
    assert info["n_chunks"] >= 2  # really arrived as multiple batches

    ref_dir = str(tmp_path_factory.mktemp("batch_idx"))
    build_index(spark, synthetic_web_pages(spark, N), ref_dir,
                n_chunks=2, n_buckets=8)
    r_inc, r_bat = IndexReader(spark, out), IndexReader(spark, ref_dir)
    assert r_inc.n_docs == r_bat.n_docs == N
    assert r_inc.vocabulary == r_bat.vocabulary
    assert abs(r_inc.avgdl - r_bat.avgdl) < 1e-12

    for query in ("search engine ranking", "Spark shuffle"):
        a = [(r["url"], r["score"]) for r in
             vector_topk(spark, r_inc, query, "bm25", k=10,
                         with_urls=True).collect()]
        b = [(r["url"], r["score"]) for r in
             vector_topk(spark, r_bat, query, "bm25", k=10,
                         with_urls=True).collect()]
        assert len(a) == len(b) > 0
        for (ua, sa), (ub, sb) in zip(a, b):
            assert ua == ub and abs(sa - sb) < 1e-9


def test_append_batch_idempotent(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idem_idx"))
    pages = synthetic_web_pages(spark, 30)
    i1 = inc.append_batch(spark, pages, out, batch_id=0)
    assert i1["n_docs"] == 30
    # replay of the same batch_id must be a no-op
    assert inc.append_batch(spark, pages, out, batch_id=0) is None
    i2 = inc.append_batch(spark, pages.limit(10), out, batch_id=1)
    assert i2["first_doc_id"] == 31 and i2["chunk"] == 1


def test_append_batch_reconciles_after_crash(spark, tmp_path_factory):
    """Crash window between the atomic registry commit and the
    manifest write: on replay the registry's batch_id row is the
    commit marker — the batch must NOT be re-appended (which would
    duplicate every document under fresh ids), only the missing
    manifest is reconciled."""
    from rechercheinfoweb_spark.operators.index_build import IndexPaths
    from rechercheinfoweb_spark.plans.checkpoints import read_manifest

    out = str(tmp_path_factory.mktemp("crash_idx"))
    pages = synthetic_web_pages(spark, 25)
    inc.append_batch(spark, pages, out, batch_id=0)
    # simulate the crash: batch 1's data + registry landed, but the
    # process died before its manifest
    inc.append_batch(spark, pages.limit(10), out, batch_id=1)
    mpath = os.path.join(out, "manifests", "stream-batch-000001.json")
    os.remove(mpath)

    assert inc.append_batch(spark, pages.limit(10), out,
                            batch_id=1) is None  # reconciled, no-op
    reg = inc.read_registry(IndexPaths(out).chunks)
    assert [r["chunk"] for r in reg] == [0, 1]  # no duplicate chunk
    m = read_manifest(out, "stream-batch-000001")
    assert m is not None and m.get("reconciled") is True
    assert m["n_docs"] == 10


def _rows(path: str, keys: tuple[str, ...]) -> list[dict]:
    """Rows of a hive-partitioned parquet dir, sorted by *keys*."""
    t = ds.dataset(path, partitioning="hive").to_table()
    return sorted(t.to_pylist(), key=lambda r: tuple(r[k] for k in keys))


def _published(out: str) -> tuple[dict, dict[str, int]]:
    """(corpus_stats, term -> df) of an index's live snapshot."""
    paths = IndexPaths(out)
    stats = pq.read_table(paths.corpus_stats).to_pylist()[0]
    dictionary = _rows(paths.dictionary_version(stats["dict_version"]),
                       ("term",))
    return stats, {r["term"]: r["df"] for r in dictionary}


def _url_sorted_pages(spark, n: int) -> list:
    """Pages in url order: split into batches in this order, appends
    assign the same doc ids as a batch build, so score ties rank the
    same."""
    return sorted(synthetic_web_pages(spark, n).collect(),
                  key=lambda r: r["url"])


def _same_topk(spark, out: str, ref: str) -> None:
    for query in ("search engine ranking", "Spark shuffle"):
        a = [(r["url"], r["score"]) for r in
             vector_topk(spark, out, query, "bm25", k=10,
                         with_urls=True).collect()]
        b = [(r["url"], r["score"]) for r in
             vector_topk(spark, ref, query, "bm25", k=10,
                         with_urls=True).collect()]
        assert len(a) == len(b) > 0
        for (ua, sa), (ub, sb) in zip(a, b):
            assert ua == ub and abs(sa - sb) < 1e-9


def test_append_is_one_job_one_task(spark, spark_work, tmp_path_factory):
    """The whole append (ids, tokenize, pack, write) is one Spark
    query: the source's side of one single-partition exchange, then
    one kernel task, whatever the bucket count.  Adaptive execution
    runs the exchange's map stage as its own job, hence two."""
    out = str(tmp_path_factory.mktemp("one_task_idx"))
    rows = synthetic_web_pages(spark, 30).collect()
    src = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
                                WEB_PAGES_SCHEMA)
    info, jobs, tasks = spark_work(
        lambda: inc.append_batch(spark, src, out, batch_id=0))
    assert info["n_docs"] == 30
    assert jobs <= 2
    assert tasks <= src.rdd.getNumPartitions() + 1


def test_append_equals_one_chunk_build(spark, tmp_path_factory):
    """An append into an empty dir writes the same docs and postings
    rows (block bytes included) as a one-chunk build over the same
    pages; after a refresh the dictionary and corpus_stats match
    too."""
    pages = synthetic_web_pages(spark, 60)
    out = str(tmp_path_factory.mktemp("app_idx"))
    ref = str(tmp_path_factory.mktemp("one_chunk_idx"))
    build_index(spark, pages, ref, n_chunks=1, n_buckets=8)
    assert inc.append_batch(spark, pages, out, batch_id=0,
                            n_buckets=8)["chunk"] == 0
    for table, keys in (("docs", ("doc_id",)),
                        ("postings", ("bucket", "term"))):
        got = _rows(os.path.join(out, table), keys)
        want = _rows(os.path.join(ref, table), keys)
        assert len(got) == len(want) > 0
        assert got == want, table
    # the kernel tokenizes in doc slices and codes terms against one
    # batch vocabulary; run it in-process with slices of 7 docs
    sliced = str(tmp_path_factory.mktemp("sliced_idx"))
    kernel = inc._append_chunk_kernel(sliced, 0, 1, 8, codec.DEFAULT_BLOCK,
                                      STOPWORDS, True, doc_slice=7)
    src = pages.select("url", "text", "lang").toArrow()
    assert [b.to_pylist() for b in kernel(src.to_batches(max_chunksize=13))] \
        == [[{"n_docs": 60}]]
    for table, keys in (("docs", ("doc_id",)),
                        ("postings", ("bucket", "term"))):
        assert _rows(os.path.join(sliced, table), keys) \
            == _rows(os.path.join(ref, table), keys), table
    inc.refresh(spark, out, n_buckets=8)
    (s_out, d_out), (s_ref, d_ref) = _published(out), _published(ref)
    assert d_out == d_ref
    s_out.pop("dict_version")
    s_ref.pop("dict_version")
    assert s_out == s_ref


def test_refresh_keeps_build_parameters(spark, tmp_path_factory):
    """An append and a refresh keep the index's own k1, b and block
    size (and bucket count) instead of the functions' defaults."""
    params = dict(k1=1.5, b=0.5, block_size=16, n_buckets=8)
    pages = _url_sorted_pages(spark, 120)
    out = str(tmp_path_factory.mktemp("params_idx"))
    build_index(spark, spark.createDataFrame(pages[:80], WEB_PAGES_SCHEMA),
                out, n_chunks=2, **params)
    info = inc.append_batch(
        spark, spark.createDataFrame(pages[80:], WEB_PAGES_SCHEMA), out,
        batch_id=1)
    inc.refresh(spark, out)
    stats, _ = _published(out)
    assert {k: stats[k] for k in params} == params
    blocks = ds.dataset(IndexPaths(out).postings, partitioning="hive") \
        .to_table(filter=ds.field("salt") == info["chunk"]) \
        .column("blocks").to_pylist()
    assert max(len(bl) for bl in blocks) > 1
    assert max(blk["n"] for bl in blocks for blk in bl) == 16

    ref = str(tmp_path_factory.mktemp("params_ref"))
    build_index(spark, spark.createDataFrame(pages, WEB_PAGES_SCHEMA),
                ref, n_chunks=2, **params)
    _same_topk(spark, out, ref)


def test_empty_batch_does_not_wedge_ingestion(spark, tmp_path_factory):
    """An empty micro-batch (a filtered source can deliver one) adds
    no chunk; later refreshes and appends work, and its replay is a
    no-op."""
    pages = _url_sorted_pages(spark, 60)
    out = str(tmp_path_factory.mktemp("empty_idx"))
    inc.append_batch(spark, spark.createDataFrame(pages[:40],
                                                  WEB_PAGES_SCHEMA),
                     out, batch_id=0, n_buckets=8)
    inc.refresh(spark, out, n_buckets=8)
    empty = spark.createDataFrame([], WEB_PAGES_SCHEMA)
    info = inc.append_batch(spark, empty, out, batch_id=1)
    assert info["n_docs"] == 0 and info["chunk"] is None
    inc.refresh(spark, out)
    inc.append_batch(spark, spark.createDataFrame(pages[40:],
                                                  WEB_PAGES_SCHEMA),
                     out, batch_id=2)
    inc.refresh(spark, out)
    assert inc.append_batch(spark, empty, out, batch_id=1) is None
    reg = inc.read_registry(IndexPaths(out).chunks)
    assert [(r["chunk"], r["batch_id"]) for r in reg] == [(0, 0), (1, 2)]
    assert IndexReader(spark, out).n_docs == 60

    ref = str(tmp_path_factory.mktemp("empty_ref"))
    build_index(spark, spark.createDataFrame(pages, WEB_PAGES_SCHEMA),
                ref, n_chunks=2, n_buckets=8)
    _same_topk(spark, out, ref)


def test_append_clears_orphaned_chunk_dirs(spark, tmp_path_factory):
    """A compaction that crashed before its registry commit leaves
    postings/docs dirs under the chunk id the next append takes.  The
    append must replace all of them, not only the buckets its own
    terms touch, or the refresh publishes inflated df."""
    import shutil

    out = str(tmp_path_factory.mktemp("orphan_idx"))
    build_index(spark, synthetic_web_pages(spark, 80), out, n_chunks=2,
                n_buckets=8)
    paths = IndexPaths(out)
    for bdir in os.listdir(paths.postings):
        if bdir.startswith("bucket="):
            shutil.copytree(os.path.join(paths.postings, bdir, "salt=0"),
                            os.path.join(paths.postings, bdir, "salt=2"))
    shutil.copytree(os.path.join(paths.docs, "chunk=0"),
                    os.path.join(paths.docs, "chunk=2"))
    stats, before = _published(out)

    page = (synthetic_web_pages(spark, 1, seed=5)
            .withColumn("url", F.lit("https://orphan.example/1"))
            .withColumn("text", F.lit("zebraquux")))
    assert inc.append_batch(spark, page, out, batch_id=1)["chunk"] == 2
    inc.refresh(spark, out)
    stats, after = _published(out)
    assert stats["n_docs"] == 81
    new = set(after) - set(before)
    assert len(new) == 1 and after[new.pop()] == 1
    assert {t: after[t] for t in before} == before


def test_live_readers_pin_snapshot_across_append_and_refresh(
        spark, tmp_path_factory):
    """Readers opened before an append/refresh serve the OLD snapshot
    with bit-identical results the whole time — never a mixed view
    (new postings with old df, or vice versa).  The pin has three
    legs: salt ≤ max_chunk filters appended chunks out, corpus_stats
    is one atomically-replaced file, and refresh publishes the new
    dictionary as a NEW version dir while keeping the previous one
    for live readers (query_vector.py:58-64 claims this; here it's
    pinned)."""
    from rechercheinfoweb_spark.operators.serve_local import (
        LocalSearcher,
    )

    out = str(tmp_path_factory.mktemp("live_idx"))
    pages = synthetic_web_pages(spark, 120).collect()
    first = spark.createDataFrame(pages[:80], WEB_PAGES_SCHEMA)
    extra = spark.createDataFrame(pages[80:], WEB_PAGES_SCHEMA)
    build_index(spark, first, out, n_chunks=2, n_buckets=8)

    r_old = IndexReader(spark, out)
    l_old = LocalSearcher(out)
    q = "search engine ranking"

    def spark_res(reader):
        return [(r["doc_id"], r["score"]) for r in
                vector_topk(spark, reader, q, "bm25", k=10).collect()]

    before = spark_res(r_old)
    l_before = l_old.vector_query(q, "bm25", k=10)
    assert before and before == l_before

    # 1. un-refreshed append: invisible to live AND to newly-opened
    # readers (corpus_stats still pins the old max_chunk)
    inc.append_batch(spark, extra, out, batch_id=7, n_buckets=8)
    assert spark_res(r_old) == before
    assert l_old.vector_query(q, "bm25", k=10) == l_before
    assert spark_res(IndexReader(spark, out)) == before
    assert LocalSearcher(out).vector_query(q, "bm25", k=10) == l_before

    # 2. refresh publishes the new snapshot — but readers opened on
    # the old one keep answering from it, scores equal to the bit
    inc.refresh(spark, out, n_buckets=8)
    assert spark_res(r_old) == before
    assert l_old.vector_query(q, "bm25", k=10) == l_before

    # 3. readers opened after the refresh see the full corpus
    r_new = IndexReader(spark, out)
    assert r_new.n_docs == 120
    assert LocalSearcher(out).n_docs == 120
    after = spark_res(r_new)
    # global df changed (80 → 120 docs), so old-snapshot scores must
    # NOT leak into the new view
    assert after != before
    assert LocalSearcher(out).vector_query(q, "bm25", k=10) == after


def test_refresh_of_appends_only_keeps_their_bucket_count(
        spark, tmp_path_factory):
    """The first refresh of a dir that only holds appends publishes
    the bucket count the appends wrote, not refresh's default: a
    wrong count routes every term lookup to the wrong bucket."""
    pages = synthetic_web_pages(spark, 60)
    out = str(tmp_path_factory.mktemp("appends_only_idx"))
    inc.append_batch(spark, pages, out, n_buckets=8)
    inc.refresh(spark, out)
    stats, _ = _published(out)
    assert stats["n_buckets"] == 8
    ref = str(tmp_path_factory.mktemp("appends_only_ref"))
    build_index(spark, pages, ref, n_chunks=1, n_buckets=8)
    for word in ("engine", "ranking", "shuffle", "search"):
        got = [r["doc_id"] for r in
               boolean_search(spark, out, word).collect()]
        assert got and got == [r["doc_id"] for r in
                               boolean_search(spark, ref, word).collect()]


def _snapshot_rows(out: str) -> tuple:
    """Everything a refresh publishes, comparable with ``==``:
    corpus_stats but its version (NaN as a string, so an undefined
    Heaps fit compares equal), the registry snapshot and the
    dictionary rows with their bucket."""
    paths = IndexPaths(out)
    stats = pq.read_table(paths.corpus_stats).to_pylist()[0]
    version = stats.pop("dict_version")
    stats = {k: "nan" if isinstance(v, float) and math.isnan(v) else v
             for k, v in stats.items()}
    return (stats, read_registry(paths.chunks_version(version)),
            _rows(paths.dictionary_version(version), ("term",)))


def test_delta_refresh_equals_full_finalize(spark, spark_work,
                                            tmp_path_factory):
    """Each refresh below runs as the delta (no Spark job) and
    publishes what a full finalize of a copy of the same dir does:
    corpus_stats (Heaps fit included), the registry snapshot and the
    dictionary (term, df, min_doc_id, bucket) rows.  The sequence
    moves the Heaps half-point inside old chunks, then into a new
    chunk, and ends with a delta over the id holes of a purge."""
    from rechercheinfoweb_spark.operators.compact import compact_chunks
    from rechercheinfoweb_spark.operators.delete import delete_docs

    pages = _url_sorted_pages(spark, 250)
    out = str(tmp_path_factory.mktemp("delta_idx"))
    copies = tmp_path_factory.mktemp("delta_full")
    step = itertools.count()
    build_index(spark, spark.createDataFrame(pages[:40], WEB_PAGES_SCHEMA),
                out, n_chunks=2, n_buckets=8)

    def append(lo, hi):
        inc.append_batch(spark, spark.createDataFrame(
            pages[lo:hi], WEB_PAGES_SCHEMA), out, batch_id=lo)

    def refresh_both():
        full = str(copies / f"full{next(step)}")
        shutil.copytree(out, full)
        _, jobs, _ = spark_work(lambda: inc.refresh(spark, out))
        assert jobs == 0
        finalize_index(spark, full, n_buckets=8)
        assert _snapshot_rows(out) == _snapshot_rows(full)

    for lo in (40, 55, 70):
        append(lo, lo + 15)
        refresh_both()
    refresh_both()  # no new chunk
    append(85, 235)  # larger than the index: half moves into it
    refresh_both()
    stats, _ = _published(out)
    assert stats["n_docs"] // 2 > 85
    delete_docs(spark, out, doc_ids=[3, 50, 90, 200])
    compact_chunks(spark, out, target_docs=1000)
    snap = read_registry(IndexPaths(out).chunks)
    assert any(r["span"] > r["n_docs"] for r in snap)  # id holes
    append(235, 250)
    refresh_both()
    assert _published(out)[0]["n_docs"] == 246


def test_delta_refresh_reads_no_published_postings(spark, spark_work,
                                                   tmp_path_factory):
    """The delta never reads an already-published salt's postings:
    with those files overwritten by garbage it still runs no Spark
    job and publishes what a full finalize of an intact copy does."""
    pages = _url_sorted_pages(spark, 100)
    out = str(tmp_path_factory.mktemp("garbage_idx"))
    build_index(spark, spark.createDataFrame(pages[:60], WEB_PAGES_SCHEMA),
                out, n_chunks=2, n_buckets=8)
    inc.append_batch(spark, spark.createDataFrame(pages[60:],
                                                  WEB_PAGES_SCHEMA),
                     out, batch_id=1)
    full = str(tmp_path_factory.mktemp("garbage_ref"))
    shutil.rmtree(full)
    shutil.copytree(out, full)
    finalize_index(spark, full, n_buckets=8)
    postings = IndexPaths(out).postings
    n_garbled = 0
    for bdir in os.listdir(postings):
        for salt in ("salt=0", "salt=1"):
            sdir = os.path.join(postings, bdir, salt)
            for f in os.listdir(sdir) if os.path.isdir(sdir) else ():
                with open(os.path.join(sdir, f), "wb") as fh:
                    fh.write(b"not a parquet file")
                n_garbled += 1
    assert n_garbled
    info, jobs, tasks = spark_work(lambda: inc.refresh(spark, out))
    assert (jobs, tasks) == (0, 0) and info["n_docs"] == 100
    assert _snapshot_rows(out) == _snapshot_rows(full)


def test_refresh_falls_back_to_full_finalize(spark, spark_work,
                                             monkeypatch,
                                             tmp_path_factory):
    """A crashed compaction's registry, a dictionary without
    ``min_doc_id`` and corpus_stats without ``t_half`` each take the
    full finalize (Spark jobs), which writes the missing column; the
    next refresh is a delta again."""
    from rechercheinfoweb_spark.operators import compact

    pages = _url_sorted_pages(spark, 120)
    out = str(tmp_path_factory.mktemp("fallback_idx"))
    paths = IndexPaths(out)
    build_index(spark, spark.createDataFrame(pages[:80], WEB_PAGES_SCHEMA),
                out, n_chunks=4, n_buckets=8)

    def refresh_jobs():
        return spark_work(lambda: inc.refresh(spark, out))[1]

    def crash(*args, **kwargs):
        raise RuntimeError("injected failure: before compaction publish")

    monkeypatch.setattr(compact, "publish_delta", crash)
    with pytest.raises(RuntimeError, match="injected"):
        compact.compact_chunks(spark, out, target_docs=80)
    monkeypatch.undo()
    assert refresh_jobs() > 0
    assert _published(out)[0]["n_chunks"] == 1
    assert refresh_jobs() == 0

    # a dictionary written before the min_doc_id column
    stats, _ = _published(out)
    dict_dir = paths.dictionary_version(stats["dict_version"])
    for bdir in os.listdir(dict_dir):
        if bdir.startswith("bucket="):
            for f in os.listdir(os.path.join(dict_dir, bdir)):
                if f.endswith(".parquet"):
                    path = os.path.join(dict_dir, bdir, f)
                    pq.write_table(pq.read_table(path)
                                   .drop_columns(["min_doc_id"]), path)
    inc.append_batch(spark, spark.createDataFrame(
        pages[80:100], WEB_PAGES_SCHEMA), out, batch_id=1)
    assert refresh_jobs() > 0
    stats, _ = _published(out)
    assert "min_doc_id" in ds.dataset(
        paths.dictionary_version(stats["dict_version"])).schema.names
    inc.append_batch(spark, spark.createDataFrame(
        pages[100:], WEB_PAGES_SCHEMA), out, batch_id=2)
    assert refresh_jobs() == 0

    # corpus_stats written before the t_half column
    table = pq.read_table(paths.corpus_stats)
    pq.write_table(table.drop_columns(["t_half"]), paths.corpus_stats)
    assert refresh_jobs() > 0
    assert _published(out)[0]["t_half"] == table["t_half"][0].as_py()
    assert refresh_jobs() == 0
    assert _published(out)[0]["n_docs"] == 120
