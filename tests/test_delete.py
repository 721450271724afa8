"""Document deletion: logical tombstones + physical purge.

Semantics pinned here (operators/delete.py):

* logical delete — deleted docs vanish from EVERY read surface
  (vector/WAND, batch, boolean, phrase, LocalSearcher, docs joins)
  immediately, while survivor scores stay bit-identical (published
  statistics unchanged — Lucene live-docs semantics);
* WAND exactness under deletes — a dead doc must not seed θ;
* physical purge via compaction — postings/docs physically drop the
  dead ids, survivor doc ids NEVER renumber, and the republished
  statistics (n_docs, avgdl, df) equal a fresh build over the
  survivor corpus, making post-purge scores bit-equal per url to
  that fresh build;
* append-after-purge — new ids start above every id ever assigned
  (span, not live count).
"""

from __future__ import annotations

import shutil

import numpy as np
import pytest

from rechercheinfoweb_spark.operators import delete as dl
from rechercheinfoweb_spark.operators.compact import compact_chunks
from rechercheinfoweb_spark.operators.index_build import (
    IndexPaths, build_index, read_registry,
)
from rechercheinfoweb_spark.operators.query_bool import boolean_search
from rechercheinfoweb_spark.operators.query_vector import (
    IndexReader, vector_topk, vector_topk_batch,
)
from rechercheinfoweb_spark.operators.serve_local import LocalSearcher
from rechercheinfoweb_spark.sources.web_pages import synthetic_web_pages

QUERY = "Spark search engine ranking"
BOOL_QUERY = "spark AND engine"


@pytest.fixture(scope="module")
def del_idx(spark, pages_df, tmp_path_factory):
    """A dedicated index copy with a delete set chosen to include
    docs from the full top-k (so masking visibly changes results)."""
    out = str(tmp_path_factory.mktemp("del_idx"))
    shutil.rmtree(out, ignore_errors=True)
    build_index(spark, pages_df, out, n_chunks=2, n_buckets=8)
    full = vector_topk(spark, out, QUERY, scheme="bm25", k=10,
                       use_pruning=False).collect()
    assert len(full) == 10
    # delete the #1 and #4 ranked docs plus two arbitrary others
    dead = sorted({full[0]["doc_id"], full[3]["doc_id"], 7, 11})
    info = dl.delete_docs(spark, out, doc_ids=dead)
    assert info["n_total"] == len(dead)
    return out, dead, full


def test_vector_masks_deleted_and_keeps_survivor_scores(spark, del_idx):
    out, dead, full = del_idx
    got = vector_topk(spark, out, QUERY, scheme="bm25", k=10,
                      use_pruning=False).collect()
    got_ids = [r["doc_id"] for r in got]
    assert not set(got_ids) & set(dead)
    # logical delete == filter the full ranking: survivors keep
    # bit-identical scores and relative order
    want = [(r["doc_id"], r["score"]) for r in full
            if r["doc_id"] not in dead]
    assert [(r["doc_id"], r["score"]) for r in got][:len(want)] == want


def test_wand_on_off_auto_identical_under_deletes(spark, del_idx):
    out, dead, _ = del_idx
    rows = {}
    for mode in (True, False, "auto"):
        rows[str(mode)] = [(r["doc_id"], r["score"]) for r in
                           vector_topk(spark, out, QUERY, k=10,
                                       use_pruning=mode).collect()]
    assert rows["True"] == rows["False"] == rows["auto"]
    assert not {d for d, _ in rows["True"]} & set(dead)


def test_batch_kernel_masks_deleted(spark, del_idx):
    out, dead, _ = del_idx
    res = vector_topk_batch(spark, out, {1: QUERY, 2: "spark engine"},
                            k=10).collect()
    assert res
    assert not {r["doc_id"] for r in res} & set(dead)


def test_boolean_and_local_searcher_mask_deleted(spark, del_idx):
    out, dead, _ = del_idx
    pre = boolean_search(spark, out, BOOL_QUERY).collect()
    ids = {r["doc_id"] for r in pre}
    assert not ids & set(dead)
    ls = LocalSearcher(out)
    assert not set(ls.boolean_query(BOOL_QUERY)) & set(dead)
    lv = ls.vector_query(QUERY, k=10)
    assert not {d for d, _ in lv} & set(dead)
    # local path stays bit-identical to the Spark path under deletes
    sv = vector_topk(spark, out, QUERY, k=10).collect()
    assert [(d, s) for d, s in lv] == [(r["doc_id"], r["score"])
                                       for r in sv]


def test_docs_join_excludes_deleted(spark, del_idx):
    out, dead, _ = del_idx
    reader = IndexReader(spark, out)
    left = {r["doc_id"] for r in reader.docs().select("doc_id").collect()}
    assert not left & set(dead)
    assert len(left) == reader.n_docs - len(dead)


def test_purge_equals_fresh_build_on_survivors(spark, pages_df,
                                               tmp_path_factory):
    out = str(tmp_path_factory.mktemp("purge_idx"))
    build_index(spark, pages_df, out, n_chunks=3, n_buckets=8)
    pre_map = {r["url"]: r["doc_id"] for r in
               IndexReader(spark, out).docs()
               .select("url", "doc_id").collect()}
    full = vector_topk(spark, out, QUERY, k=30,
                       use_pruning=False).collect()
    dead = sorted({full[0]["doc_id"], full[5]["doc_id"], 3, 60, 149})
    dl.delete_docs(spark, out, doc_ids=dead)

    info = compact_chunks(spark, out, target_docs=10**9)
    assert info["purged_docs"] == len(dead)
    assert dl.read_tombstones(out).size == 0  # retired after commit

    ra = IndexReader(spark, out)
    post_map = {r["url"]: r["doc_id"] for r in
                ra.docs().select("url", "doc_id").collect()}
    # survivor ids are STABLE (purge never renumbers) and the dead
    # docs are physically gone from the docs table
    assert len(post_map) == len(pre_map) - len(dead)
    assert all(pre_map[u] == i for u, i in post_map.items())

    # fresh build over the survivor corpus = the ground truth
    fresh_dir = str(tmp_path_factory.mktemp("fresh_idx"))
    survivors = pages_df.where(
        pages_df["url"].isin(list(post_map)))
    build_index(spark, survivors, fresh_dir, n_chunks=3, n_buckets=8)
    rb = IndexReader(spark, fresh_dir)
    # republished statistics equal the fresh build's
    assert ra.n_docs == rb.n_docs
    assert ra.avgdl == rb.avgdl
    assert ra.vocabulary == rb.vocabulary
    # scores per url bit-equal (doc ids differ — the fresh build
    # renumbers, the purge deliberately does not)
    a = vector_topk(spark, out, QUERY, k=20, with_urls=True).collect()
    b = vector_topk(spark, fresh_dir, QUERY, k=20,
                    with_urls=True).collect()
    assert sorted((r["url"], r["score"]) for r in a) == \
        sorted((r["url"], r["score"]) for r in b)


def test_purged_postings_contain_no_dead_ids(spark, pages_df,
                                             tmp_path_factory):
    from rechercheinfoweb_spark.functions import codec
    out = str(tmp_path_factory.mktemp("purge_idx2"))
    build_index(spark, pages_df, out, n_chunks=2, n_buckets=8)
    dead = [2, 5, 8, 100]
    dl.delete_docs(spark, out, doc_ids=dead)
    compact_chunks(spark, out, target_docs=10**9)
    paths = IndexPaths(out)
    reg = read_registry(paths.chunks)
    live_salts = [r["chunk"] for r in reg]
    from pyspark.sql import functions as F
    rows = (spark.read.parquet(paths.postings)
            .where(F.col("salt").isin(live_salts)).collect())
    seen = set()
    for r in rows:
        n_blk = 0
        for blk in r["blocks"]:
            ids = codec.unpack_block_ids(bytes(blk["data"]),
                                         int(blk["n"]))
            seen.update(int(x) for x in ids)
            assert int(blk["n"]) == len(ids)
            n_blk += len(ids)
        assert r["df_part"] == n_blk  # df updated to live count
    assert seen and not seen & set(dead)
    # registry: live count shrank, span (id-range width) did not
    assert sum(r["n_docs"] for r in reg) == 150 - len(dead)
    assert max(r["min_id"] + r["span"] for r in reg) - \
        min(r["min_id"] for r in reg) == 150


def test_append_after_purge_never_reuses_ids(spark, pages_df,
                                             tmp_path_factory):
    from rechercheinfoweb_spark.streaming import incremental as inc
    out = str(tmp_path_factory.mktemp("purge_idx3"))
    build_index(spark, pages_df, out, n_chunks=2, n_buckets=8)
    paths = IndexPaths(out)
    max_id_before = max(r["min_id"] + r["span"]
                        for r in read_registry(paths.chunks)) - 1
    # delete the LAST ids, purge, then append: new ids must start
    # above the old maximum (span rule), never inside the hole
    dl.delete_docs(spark, out, doc_ids=[max_id_before,
                                        max_id_before - 1])
    compact_chunks(spark, out, target_docs=10**9)
    batch = (synthetic_web_pages(spark, 10, seed=99)
             .selectExpr("concat('new-', url) as url", "text", "lang"))
    inc.append_batch(spark, batch, out, batch_id=1)
    reg = read_registry(paths.chunks)
    appended = [r for r in reg if r["min_id"] > max_id_before]
    assert appended and min(r["min_id"] for r in appended) \
        == max_id_before + 1


def test_local_searcher_skips_tombstones_beyond_its_snapshot(
        spark, tmp_path_factory):
    """Tombstones above the snapshot's last id (the urls of an append
    not yet refreshed, or an id never assigned) belong to no chunk of
    the snapshot: LocalSearcher drops them as IndexReader does, and
    both answer alike before and after the refresh."""
    from rechercheinfoweb_spark.streaming import incremental as inc
    out = str(tmp_path_factory.mktemp("del_beyond"))
    build_index(spark, synthetic_web_pages(spark, 60), out, n_chunks=2,
                n_buckets=8)
    batch = (synthetic_web_pages(spark, 20, seed=99)
             .selectExpr("concat('new-', url) as url", "text", "lang"))
    inc.append_batch(spark, batch, out, batch_id=1, n_buckets=8)
    new_urls = [r["url"] for r in batch.collect()]
    dl.delete_docs(spark, out, urls=new_urls)
    id_cap = max(r["min_id"] + r["span"]
                 for r in read_registry(IndexPaths(out).chunks))
    info = dl.delete_docs(spark, out, doc_ids=[id_cap + 10])
    assert info["n_total"] == len(new_urls) + 1

    def same_as_spark():
        local = LocalSearcher(out)
        for q in ("search engine", QUERY):
            got = local.vector_query(q, "bm25", k=10, with_urls=True)
            want = vector_topk(spark, out, q, scheme="bm25", k=10,
                               with_urls=True).collect()
            assert got == [(r["doc_id"], r["score"], r["url"])
                           for r in want]
            assert got and not any(u.startswith("new-")
                                   for _d, _s, u in got)
        assert local.boolean_query(BOOL_QUERY) == sorted(
            r["doc_id"] for r in boolean_search(spark, out,
                                                BOOL_QUERY).collect())

    same_as_spark()  # snapshot without the append
    inc.refresh(spark, out, n_buckets=8)
    same_as_spark()  # the append is live, its docs masked


def test_delete_by_url_reads_only_working_chunks(spark, tmp_path_factory):
    """After a compaction the pre-compaction chunk dirs stay on disk
    for older readers, holding the same urls: a url resolves through
    the working registry's chunks only, so it names one doc."""
    out = str(tmp_path_factory.mktemp("del_url"))
    build_index(spark, synthetic_web_pages(spark, 60), out, n_chunks=3,
                n_buckets=8)
    url = IndexReader(spark, out).docs().first()["url"]
    info = compact_chunks(spark, out, target_docs=1000)
    assert info["merged_groups"] == 1 and info["pruned_chunks"] == []
    assert dl.delete_docs(spark, out, urls=[url]) == {
        "n_requested": 1, "n_total": 1}
