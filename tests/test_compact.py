"""Compaction tests — chunk merge must be invisible to every query
surface (bit-identical scores, identical boolean sets), safe for live
readers, and composable with streaming appends.

The reference has no compaction (its index is a one-shot in-RAM
build); this operator exists for the streaming/10^12-doc shape the
north rule adds, so its correctness bar is self-consistency against
the engine's own pre-compaction answers plus the pure-Python oracle
rank-identity that pins all query paths."""

from __future__ import annotations

import math
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from oracle.pyoracle import OracleIndex
from rechercheinfoweb_spark.operators.compact import (
    compact_chunks, plan_groups,
)
from rechercheinfoweb_spark.operators.delete import delete_docs
from rechercheinfoweb_spark.operators.index_build import (
    IndexPaths, build_index, finalize_index, read_registry,
)
from rechercheinfoweb_spark.operators.query_bool import boolean_search
from rechercheinfoweb_spark.operators.query_vector import (
    IndexReader, vector_topk,
)
from rechercheinfoweb_spark.operators.serve_local import LocalSearcher
from rechercheinfoweb_spark.sources.web_pages import (
    WEB_PAGES_SCHEMA, synthetic_web_pages,
)
from rechercheinfoweb_spark.streaming import incremental as inc
from tests.test_streaming import (
    _published, _rows, _snapshot_rows, _url_sorted_pages,
)

N = 160
QUERIES = ("search engine ranking", "Spark shuffle partition",
           "varint delta BM25")
BOOLS = ("search AND engine", "index OR postings AND NOT merge")


def _snapshot(spark, reader):
    """Every query surface's answers for one reader."""
    out = {}
    for q in QUERIES:
        for scheme in ("bm25", "norm"):
            out[(q, scheme)] = [
                (r["doc_id"], r["score"]) for r in
                vector_topk(spark, reader, q, scheme, k=10).collect()]
    for q in BOOLS:
        out[q] = sorted(r["doc_id"] for r in
                        boolean_search(spark, reader, q).collect())
    return out


@pytest.fixture(scope="module")
def compacted(spark, tmp_path_factory):
    """Index built at 8 chunks, queried, compacted to ~2, queried."""
    out = str(tmp_path_factory.mktemp("cmp_idx"))
    pages = synthetic_web_pages(spark, N)
    build_index(spark, pages, out, n_chunks=8, n_buckets=8)
    before = _snapshot(spark, IndexReader(spark, out))
    l_before = LocalSearcher(out).vector_query(QUERIES[0], "bm25", k=10)
    info = compact_chunks(spark, out, target_docs=N // 2 + 1)
    return out, before, l_before, info


def test_compact_merges_chunks(spark, compacted):
    out, _before, _lb, info = compacted
    assert info["merged_groups"] >= 2
    assert info["n_chunks_after"] < info["n_chunks_before"] == 8
    reader = IndexReader(spark, out)
    assert len(reader.salt_map) == info["n_chunks_after"]
    assert reader.n_docs == N
    # merged ranges must tile the corpus exactly
    spans = sorted(reader.salt_map.values())
    assert spans[0][0] == 1
    for (a, na), (b, _nb) in zip(spans, spans[1:]):
        assert a + na == b
    assert spans[-1][0] + spans[-1][1] == N + 1


def test_compact_query_results_bit_identical(spark, compacted):
    out, before, l_before, _info = compacted
    after = _snapshot(spark, IndexReader(spark, out))
    assert after == before  # scores to the last bit, same ids
    assert LocalSearcher(out).vector_query(
        QUERIES[0], "bm25", k=10) == l_before


def test_compact_noop_when_within_target(spark, compacted):
    out, _b, _l, _info = compacted
    reg0 = read_registry(IndexPaths(out).chunks)
    info = compact_chunks(spark, out, target_docs=N // 2 + 1)
    assert info["merged_groups"] == 0
    assert read_registry(IndexPaths(out).chunks) == reg0


def test_live_reader_survives_compaction(spark, tmp_path_factory):
    """A reader opened pre-compaction keeps serving its snapshot:
    keep_previous retains its chunk dirs until the next cycle."""
    out = str(tmp_path_factory.mktemp("cmp_live"))
    build_index(spark, synthetic_web_pages(spark, 100), out,
                n_chunks=5, n_buckets=8)
    r_old = IndexReader(spark, out)
    l_old = LocalSearcher(out)
    before = _snapshot(spark, r_old)
    lb = l_old.vector_query(QUERIES[0], "bm25", k=10)
    info = compact_chunks(spark, out, target_docs=60)
    assert info["merged_groups"] >= 1
    assert info["pruned_chunks"] == []  # old dirs kept for r_old
    assert _snapshot(spark, r_old) == before
    assert l_old.vector_query(QUERIES[0], "bm25", k=10) == lb
    # a second cycle ages the old snapshot out and reclaims its dirs
    info2 = compact_chunks(spark, out, target_docs=200,
                           keep_previous=False)
    merged_away = set(info["merged_chunks"]) | set(
        info2.get("merged_chunks", []))
    reg = {r["chunk"] for r in read_registry(IndexPaths(out).chunks)}
    postings = IndexPaths(out).postings
    on_disk = {int(d.split("=")[1])
               for b in os.listdir(postings) if b.startswith("bucket=")
               for d in os.listdir(os.path.join(postings, b))
               if d.startswith("salt=")}
    assert on_disk == reg  # nothing but the live snapshot remains
    assert not (on_disk & (merged_away - reg))


def test_compact_then_append_then_refresh(spark, tmp_path_factory):
    """Appends after compaction continue the id space correctly and
    the next refresh publishes a consistent union snapshot."""
    out = str(tmp_path_factory.mktemp("cmp_app"))
    pages = synthetic_web_pages(spark, 120).collect()
    first = spark.createDataFrame(pages[:90], WEB_PAGES_SCHEMA)
    extra = spark.createDataFrame(pages[90:], WEB_PAGES_SCHEMA)
    build_index(spark, first, out, n_chunks=6, n_buckets=8)
    compact_chunks(spark, out, target_docs=50)
    inc.append_batch(spark, extra, out, batch_id=3, n_buckets=8)
    inc.refresh(spark, out, n_buckets=8)
    reader = IndexReader(spark, out)
    assert reader.n_docs == 120
    spans = sorted(reader.salt_map.values())
    assert spans[0][0] == 1
    for (a, na), (b, _nb) in zip(spans, spans[1:]):
        assert a + na == b
    assert spans[-1][0] + spans[-1][1] == 121
    # equivalence with a one-shot batch build over the same pages
    ref = str(tmp_path_factory.mktemp("cmp_ref"))
    build_index(spark, spark.createDataFrame(pages, WEB_PAGES_SCHEMA),
                ref, n_chunks=2, n_buckets=8)
    r_ref = IndexReader(spark, ref)
    for q in QUERIES:
        a = [(r["url"], round(r["score"], 9)) for r in
             vector_topk(spark, reader, q, "bm25", k=10,
                         with_urls=True).collect()]
        b = [(r["url"], round(r["score"], 9)) for r in
             vector_topk(spark, r_ref, q, "bm25", k=10,
                         with_urls=True).collect()]
        assert a == b and a


def test_time_travel_reader(spark, tmp_path_factory):
    """Iceberg-style time travel: IndexReader/LocalSearcher opened
    ``at_version=N`` reproduce snapshot N's results bit-for-bit after
    later appends+refreshes; expired versions raise with the
    retained list."""
    from rechercheinfoweb_spark.operators.index_build import (
        list_snapshots,
    )
    out = str(tmp_path_factory.mktemp("tt_idx"))
    pages = synthetic_web_pages(spark, 120).collect()
    first = spark.createDataFrame(pages[:90], WEB_PAGES_SCHEMA)
    extra = spark.createDataFrame(pages[90:], WEB_PAGES_SCHEMA)
    build_index(spark, first, out, n_chunks=4, n_buckets=8)
    snaps = list_snapshots(out)
    assert len(snaps) == 1
    v1 = snaps[0]
    before = _snapshot(spark, IndexReader(spark, out))
    l_before = LocalSearcher(out).vector_query(QUERIES[0], "bm25",
                                               k=10)
    inc.append_batch(spark, extra, out, batch_id=1, n_buckets=8)
    inc.refresh(spark, out, n_buckets=8)
    assert list_snapshots(out) == [v1, v1 + 1]
    # the live reader sees the append ...
    assert IndexReader(spark, out).n_docs == 120
    # ... while time travel reproduces the pre-append snapshot
    old = IndexReader(spark, out, at_version=v1)
    assert old.n_docs == 90
    assert _snapshot(spark, old) == before
    assert LocalSearcher(out, at_version=v1).vector_query(
        QUERIES[0], "bm25", k=10) == l_before
    # at_version pinned to the CURRENT version equals the live view
    cur = IndexReader(spark, out, at_version=v1 + 1)
    assert _snapshot(spark, cur) == _snapshot(
        spark, IndexReader(spark, out))
    # the next refresh expires v1 (current + previous retention)
    inc.refresh(spark, out, n_buckets=8)
    assert v1 not in list_snapshots(out)
    with pytest.raises(ValueError, match="expired"):
        IndexReader(spark, out, at_version=v1)
    with pytest.raises(ValueError, match="expired"):
        LocalSearcher(out, at_version=v1)


def test_stream_with_auto_compaction(spark, tmp_path_factory):
    """compact_every bounds chunk count during unbounded ingestion
    while preserving exact batch-build equivalence."""
    from rechercheinfoweb_spark.operators.index_build import (
        build_index as _build,
    )

    n = 120
    src = str(tmp_path_factory.mktemp("ac_src"))
    pages = synthetic_web_pages(spark, n).collect()
    step = n // 4
    for i in range(4):
        spark.createDataFrame(pages[i * step:(i + 1) * step],
                              WEB_PAGES_SCHEMA) \
            .coalesce(1).write.parquet(f"{src}/b{i}")
    out = str(tmp_path_factory.mktemp("ac_idx"))
    ckpt = str(tmp_path_factory.mktemp("ac_ckpt"))
    stream = (spark.readStream.schema(WEB_PAGES_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/*/"))
    q = inc.index_web_pages_stream(
        spark, stream, out, ckpt, n_buckets=8,
        refresh_every=1, compact_every=2, compact_target_docs=n)
    q.awaitTermination(300)
    inc.refresh(spark, out, n_buckets=8)

    reader = IndexReader(spark, out)
    assert reader.n_docs == n
    # 4 appended chunks collapsed by the two compaction cycles
    assert len(reader.salt_map) < 4
    ref = str(tmp_path_factory.mktemp("ac_ref"))
    _build(spark, spark.createDataFrame(pages, WEB_PAGES_SCHEMA),
           ref, n_chunks=2, n_buckets=8)
    r_ref = IndexReader(spark, ref)
    for query in QUERIES[:2]:
        a = [(r["url"], round(r["score"], 9)) for r in
             vector_topk(spark, reader, query, "bm25", k=10,
                         with_urls=True).collect()]
        b = [(r["url"], round(r["score"], 9)) for r in
             vector_topk(spark, r_ref, query, "bm25", k=10,
                         with_urls=True).collect()]
        assert a == b and a


def test_plan_groups_respects_target():
    rows = [{"chunk": i, "min_id": 1 + 20 * i, "n_docs": 20,
             "batch_id": None} for i in range(7)]
    groups = plan_groups(rows, target_docs=50)
    assert [len(g) for g in groups] == [2, 2, 2, 1]
    # chunks stay in doc-id order inside every group
    flat = [r["chunk"] for g in groups for r in g]
    assert flat == list(range(7))
    # an oversized chunk stays alone
    rows[3]["n_docs"] = 100
    groups = plan_groups(rows, target_docs=50)
    assert [r["chunk"] for r in groups[1]] == [2] or \
           [len(g) for g in groups][1] <= 2
    assert any(g == [rows[3]] for g in groups)


def test_compact_crash_publishes_atomically(spark, tmp_path_factory,
                                            monkeypatch):
    """A crash at compaction's commit point (the live corpus_stats
    write inside finalize) leaves readers on the pre-compaction
    snapshot — identical answers on every query surface — and a
    clean re-run converges to the same answers as an uncrashed
    compaction."""
    from rechercheinfoweb_spark.operators import index_build

    out = str(tmp_path_factory.mktemp("crash_idx"))
    pages = synthetic_web_pages(spark, N)
    build_index(spark, pages, out, n_chunks=8, n_buckets=8)
    before = _snapshot(spark, IndexReader(spark, out))
    n_chunks_before = len(read_registry(IndexPaths(out).chunks))

    live = IndexPaths(out).corpus_stats
    real = index_build._write_corpus_stats

    def crash_at_commit(path, **values):
        if path == live:
            raise RuntimeError("injected failure: compact commit")
        real(path, **values)

    monkeypatch.setattr(index_build, "_write_corpus_stats",
                        crash_at_commit)
    with pytest.raises(RuntimeError, match="injected"):
        compact_chunks(spark, out, target_docs=N // 2)
    # readers opened after the crash: old snapshot, bit-identical
    assert _snapshot(spark, IndexReader(spark, out)) == before

    # re-run: the interrupted compaction is detected (published
    # chunks already replaced in the working registry) and its
    # pending publish COMPLETES — re-merging here would double every
    # replaced chunk (the bug this test originally caught)
    monkeypatch.setattr(index_build, "_write_corpus_stats", real)
    info = compact_chunks(spark, out, target_docs=N // 2)
    assert info.get("resumed_publish") is True
    after_reader = IndexReader(spark, out)
    assert _snapshot(spark, after_reader) == before
    assert len(after_reader.salt_map) < n_chunks_before
    # and the index is stable: one more compact is a plain no-op
    again = compact_chunks(spark, out, target_docs=N // 2)
    assert again["merged_groups"] == 0
    assert "resumed_publish" not in again
    assert _snapshot(spark, IndexReader(spark, out)) == before


# ---- the one-job merge and the delta publish --------------------------


def _postings_rows(out: str, salt: int) -> dict[int, list[tuple]]:
    """bucket -> the (term, df_part, min_doc_id, blocks) rows of one
    salt, blocks as tuples with their bytes, sorted by term."""
    root = IndexPaths(out).postings
    got = {}
    for bdir in sorted(os.listdir(root)):
        sdir = os.path.join(root, bdir, f"salt={salt}")
        if os.path.isdir(sdir):
            got[int(bdir[7:])] = sorted(
                (r["term"], r["df_part"], r["min_doc_id"],
                 [tuple(b.values()) for b in r["blocks"]])
                for r in pq.read_table(sdir).to_pylist())
    return got


def _docs_rows(out: str, chunk: int) -> list[dict]:
    path = os.path.join(IndexPaths(out).docs, f"chunk={chunk}")
    return sorted(pq.read_table(path).to_pylist(),
                  key=lambda r: r["doc_id"])


def _live_posting_ids(out: str) -> set[int]:
    """Every doc id in the working registry's postings blocks (each
    block's count and each row's df_part checked on the way)."""
    from rechercheinfoweb_spark.functions import codec
    seen = set()
    for r in read_registry(IndexPaths(out).chunks):
        for rows in _postings_rows(out, r["chunk"]).values():
            for _term, df_part, min_doc_id, blocks in rows:
                ids = [int(x) for b in blocks
                       for x in codec.unpack_block_ids(b[5], b[1])]
                assert df_part == len(ids) and min_doc_id == ids[0]
                seen.update(ids)
    return seen


def _equals_finalize(spark, out: str, copies) -> None:
    """The live snapshot equals what ``finalize_index`` publishes on
    a copy of the same dir."""
    full = str(copies / f"full{len(os.listdir(copies))}")
    shutil.copytree(out, full)
    finalize_index(spark, full, n_buckets=8)
    assert _snapshot_rows(out) == _snapshot_rows(full)


def _reference_merge(rows: list[dict], dead, block_size: int) -> list:
    """The per-term pandas loop compaction ran before its columnar
    merge (the reference the fast path is pinned to): blocks
    concatenate in doc-id order, df_part sums, min_doc_id mins; with
    *dead* ids every block of a term decodes and a term that loses a
    posting re-packs through ``codec.pack_postings``."""
    from rechercheinfoweb_spark.functions import codec
    pdf = pd.DataFrame(rows).sort_values(["term", "min_doc_id"],
                                         kind="mergesort")
    out = []
    for term, g in pdf.groupby("term", sort=False):
        blks = [b for lst in g["blocks"] for b in lst]
        if dead is not None:
            parts = [codec.unpack_block(bytes(b["data"]), int(b["n"]))
                     for b in blks]
            ids = np.concatenate([p[0] for p in parts])
            live = ~np.isin(ids, dead)
            if not live.any():
                continue
            if not live.all():
                blks = codec.pack_postings(
                    *(np.concatenate([p[i] for p in parts])[live]
                      for i in range(4)), block_size)
            df_part, first = int(live.sum()), int(ids[live.argmax()])
        else:
            df_part = int(g["df_part"].sum())
            first = int(g["min_doc_id"].iloc[0])
        out.append((term, df_part, first,
                    [tuple(b.values()) for b in blks]))
    return out


def test_merge_and_purge_equal_per_term_reference(spark,
                                                 tmp_path_factory):
    """The columnar merge and the selective purge write the postings
    rows (block bytes included) the per-term loop writes, for pure
    merges and for purges alike."""
    out = str(tmp_path_factory.mktemp("ref_idx"))
    build_index(spark, synthetic_web_pages(spark, N), out, n_chunks=8,
                n_buckets=8)
    paths = IndexPaths(out)
    groups = plan_groups(read_registry(paths.chunks), N // 4 + 1)
    assert [len(g) for g in groups] == [2, 2, 2, 2]
    dead = np.array([2, 3, 17, 21, 39, 40, 101], dtype=np.int64)
    delete_docs(spark, out, doc_ids=dead)
    want = []
    for g in groups:
        g_dead = dead[(dead >= g[0]["min_id"])
                      & (dead < g[-1]["min_id"] + g[-1]["span"])]
        by_bucket: dict[int, list] = {}
        for r in g:
            for bdir in os.listdir(paths.postings):
                sdir = os.path.join(paths.postings, bdir,
                                    f"salt={r['chunk']}")
                if os.path.isdir(sdir):
                    by_bucket.setdefault(int(bdir[7:]), []).extend(
                        pq.read_table(sdir).to_pylist())
        want.append({b: sorted(_reference_merge(
            rows, g_dead if g_dead.size else None, 128))
            for b, rows in by_bucket.items()})
    info = compact_chunks(spark, out, target_docs=N // 4 + 1)
    assert info["purged_docs"] == dead.size
    got = [_postings_rows(out, c) for c in info["new_chunks"]]
    assert [{b: rows for b, rows in w.items() if rows} for w in want] == got
    # both kinds ran: groups 0, 2 purge, groups 1, 3 only merge
    assert all(sum(len(rows) for rows in g.values()) for g in got)


def test_compaction_is_one_job_and_publishes_with_none(
        spark, spark_work, tmp_path_factory):
    """Compaction runs one Spark job, of the planned task count, and
    its publish none.  With one task per unit
    (``maxPartitionBytes`` = 1 byte) the written rows are the same."""
    out = str(tmp_path_factory.mktemp("one_job"))
    build_index(spark, synthetic_web_pages(spark, 100), out,
                n_chunks=5, n_buckets=8)
    delete_docs(spark, out, doc_ids=[4, 9, 70])
    per_unit = str(tmp_path_factory.mktemp("one_job_units"))
    shutil.rmtree(per_unit)
    shutil.copytree(out, per_unit)
    paths = IndexPaths(out)
    groups = plan_groups(read_registry(paths.chunks), 60)
    n_units = sum(1 + sum(any(os.path.isdir(os.path.join(
        paths.postings, b, f"salt={r['chunk']}")) for r in g)
        for b in os.listdir(paths.postings)) for g in groups)

    info, jobs, tasks = spark_work(
        lambda: compact_chunks(spark, out, target_docs=60))
    assert (jobs, tasks) == (1, 1) and info["merged_groups"] == 2
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try:
        info2, jobs, tasks = spark_work(
            lambda: compact_chunks(spark, per_unit, target_docs=60))
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert (jobs, tasks) == (1, n_units) and n_units > 2
    assert info2["new_chunks"] == info["new_chunks"]
    for c in info["new_chunks"]:
        assert _postings_rows(out, c) == _postings_rows(per_unit, c)
        assert _docs_rows(out, c) == _docs_rows(per_unit, c)
    assert _snapshot_rows(out) == _snapshot_rows(per_unit)


def _first_doc_terms(out: str, chunk: int, keeps: bool) -> list[tuple]:
    """(term, first doc) of terms whose first doc lies in *chunk*,
    with df >= 2 and, if *keeps*, another posting in the chunk, else
    none there."""
    stats = pq.read_table(IndexPaths(out).corpus_stats).to_pylist()[0]
    dfs = {r["term"]: r for r in _rows(
        IndexPaths(out).dictionary_version(stats["dict_version"]),
        ("term",))}
    return sorted(
        (t, m) for rows in _postings_rows(out, chunk).values()
        for t, df_part, m, _b in rows
        if dfs[t]["min_doc_id"] == m and dfs[t]["df"] >= 2
        and (df_part >= 2) == keeps)


def test_delta_publish_equals_full_finalize(spark, spark_work,
                                            tmp_path_factory):
    """Each compaction below runs one Spark job and publishes what a
    full finalize of a copy of the same dir does: a pure merge, a
    purge of a term's first doc where its group keeps a posting of
    the term, the same where the group keeps none (the first doc
    moves to a later salt), a fully purged group, and a purge with an
    unrefreshed append pending."""
    pages = _url_sorted_pages(spark, N + 20)
    out = str(tmp_path_factory.mktemp("cdelta_idx"))
    copies = tmp_path_factory.mktemp("cdelta_full")
    build_index(spark, spark.createDataFrame(pages[:N], WEB_PAGES_SCHEMA),
                out, n_chunks=8, n_buckets=8)

    def compact():
        info, jobs, _ = spark_work(
            lambda: compact_chunks(spark, out, target_docs=N // 4 + 5))
        assert jobs == 1
        _equals_finalize(spark, out, copies)
        return info

    def first_doc(term):
        stats, _ = _published(out)
        return {r["term"]: r["min_doc_id"] for r in _rows(
            IndexPaths(out).dictionary_version(stats["dict_version"]),
            ("term",))}[term]

    info = compact()  # pure merge: 8 chunks of 20 -> 4 of 40
    assert info["purged_docs"] == 0 and info["n_chunks_after"] == 4
    g0, g1, _g2, g3 = info["new_chunks"]

    term, d = _first_doc_terms(out, g0, keeps=True)[0]
    delete_docs(spark, out, doc_ids=[d])
    compact()
    assert d < first_doc(term) <= 40  # its group's next posting

    term, d = _first_doc_terms(out, g1, keeps=False)[0]
    delete_docs(spark, out, doc_ids=[d])
    compact()
    assert first_doc(term) > 80  # no posting left in 41..80

    delete_docs(spark, out, doc_ids=range(121, 161))  # all of g3
    info = compact()
    row = [r for r in read_registry(IndexPaths(out).chunks)
           if r["chunk"] in info["new_chunks"]][0]
    assert (row["min_id"], row["span"], row["n_docs"]) == (121, 40, 0)

    inc.append_batch(spark, spark.createDataFrame(
        pages[N:], WEB_PAGES_SCHEMA), out, batch_id=1)
    delete_docs(spark, out, doc_ids=[50, 51])
    compact()
    stats, _ = _published(out)
    assert stats["n_docs"] == N - 2 - 40 + 20 - 2
    assert not _live_posting_ids(out) & ({50, 51} | set(range(121, 161)))


def test_purge_of_every_doc_in_a_group(spark, tmp_path_factory):
    """A purge that deletes every doc of a group commits: the group's
    registry row keeps its span with n_docs 0, no dead id is left in
    postings, the publish equals a full finalize, and queries match
    the oracle over the survivors."""
    out = str(tmp_path_factory.mktemp("purge_all"))
    pages = synthetic_web_pages(spark, 100).collect()
    build_index(spark, spark.createDataFrame(pages, WEB_PAGES_SCHEMA),
                out, n_chunks=4, n_buckets=8)
    delete_docs(spark, out, doc_ids=range(1, 51))
    info = compact_chunks(spark, out, target_docs=60)
    assert info["purged_docs"] == 50
    reg = {r["chunk"]: r for r in read_registry(IndexPaths(out).chunks)}
    emptied = reg[info["new_chunks"][0]]
    assert (emptied["min_id"], emptied["span"], emptied["n_docs"]) == \
        (1, 50, 0)
    assert _live_posting_ids(out) and not \
        _live_posting_ids(out) & set(range(1, 51))
    _equals_finalize(spark, out, tmp_path_factory.mktemp("purge_all_full"))

    survivors = sorted((p["url"], p["text"]) for p in pages)[50:]
    oracle = OracleIndex.build(survivors)
    for q in QUERIES:
        got = [(r["url"], r["score"]) for r in vector_topk(
            spark, out, q, "bm25", k=10, with_urls=True).collect()]
        want = [(oracle.doc_url[d], s) for d, s in
                oracle.vector_query(q, "bm25", k=10)]
        assert [u for u, _ in got] == [u for u, _ in want] and got
        assert all(math.isclose(a, b, rel_tol=1e-9)
                   for (_, a), (_, b) in zip(got, want))


def test_crash_at_registry_commit_leaves_no_stale_rows(
        spark, monkeypatch, tmp_path_factory):
    """A compaction that dies at its working-registry commit leaves
    its fresh chunk dirs behind.  After the rest of the purged
    group's docs are deleted, the re-run commits and its chunks hold
    no row of the crashed attempt: the index equals a clean
    compaction of the same deletes, with no dead id in postings."""
    from rechercheinfoweb_spark.operators import compact

    out = str(tmp_path_factory.mktemp("crash_reg"))
    build_index(spark, synthetic_web_pages(spark, 100), out, n_chunks=4,
                n_buckets=8)
    delete_docs(spark, out, doc_ids=range(1, 11))
    clean = str(tmp_path_factory.mktemp("crash_reg_clean"))
    shutil.rmtree(clean)
    shutil.copytree(out, clean)
    working = IndexPaths(out).chunks
    real = compact.write_registry

    def crash_at_commit(path, rows):
        if path == working:
            raise RuntimeError("injected failure: registry commit")
        real(path, rows)

    monkeypatch.setattr(compact, "write_registry", crash_at_commit)
    with pytest.raises(RuntimeError, match="injected"):
        compact_chunks(spark, out, target_docs=60)
    monkeypatch.undo()
    assert _postings_rows(out, 4)  # the crashed attempt's rows

    for d in (out, clean):
        delete_docs(spark, d, doc_ids=range(11, 51))
    info = compact_chunks(spark, out, target_docs=60)
    clean_info = compact_chunks(spark, clean, target_docs=60)
    assert info["new_chunks"] == clean_info["new_chunks"] == [4, 5]
    assert read_registry(working) == read_registry(IndexPaths(clean).chunks)
    for c in info["new_chunks"]:
        assert _postings_rows(out, c) == _postings_rows(clean, c)
        assert _docs_rows(out, c) == _docs_rows(clean, c)
    assert _postings_rows(out, 4) == {} and _docs_rows(out, 4) == []
    assert _snapshot_rows(out) == _snapshot_rows(clean)
    assert not _live_posting_ids(out) & set(range(1, 51))
