"""Physical-plan regression tests (SURVEY.md §4): the properties
that make the engine scale must be visible in the executed plan, not
assumed — partition pruning on bucket/chunk, term predicate pushdown
to the postings read, column-pruned ReadSchema, broadcast of the
k-row side of the result-projection join."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from rechercheinfoweb_spark.operators.query_vector import vector_topk


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _bucket_salt(path: str) -> tuple[int, int]:
    parts = dict(p.split("=", 1) for p in path.split(os.sep) if "=" in p)
    return int(parts["bucket"]), int(parts["salt"])


def test_scan_reads_query_buckets_of_snapshot_salts(spark, pages_df,
                                                    tmp_path_factory):
    """A query's scan reads only its terms' buckets x the reader's
    snapshot salts, and keeps only its terms' rows.  A salt retired by
    compaction (kept on disk for older readers) and a salt appended
    but not yet refreshed both sit in those buckets on disk, and both
    stay out of the scan."""
    from rechercheinfoweb_spark.operators.compact import compact_chunks
    from rechercheinfoweb_spark.operators.index_build import (
        IndexPaths, build_index,
    )
    from rechercheinfoweb_spark.operators.query_vector import (
        IndexReader, read_salt_postings,
    )
    from rechercheinfoweb_spark.sources.web_pages import (
        synthetic_web_pages,
    )
    from rechercheinfoweb_spark.streaming import incremental as inc

    out = str(tmp_path_factory.mktemp("plan_scan"))
    build_index(spark, pages_df, out, n_chunks=4, n_buckets=8)
    built = set(IndexReader(spark, out).salt_map)
    compact_chunks(spark, out, target_docs=80)
    inc.append_batch(spark, synthetic_web_pages(spark, 10, seed=99)
                     .selectExpr("concat('new-', url) as url", "text",
                                 "lang"),
                     out, batch_id=1, n_buckets=8)
    reader = IndexReader(spark, out)  # opened after the append
    snapshot = set(reader.salt_map)
    terms = ["search", "engin"]
    buckets = set(reader._buckets_of(terms))
    postings = IndexPaths(out).postings
    on_disk = {int(d[5:]) for b in buckets
               for d in os.listdir(os.path.join(postings, f"bucket={b}"))
               if d.startswith("salt=")}
    retired = built - snapshot
    appended = on_disk - snapshot - built
    assert retired and retired <= on_disk
    assert appended

    tasks = reader.scan_tasks(terms)
    read = {_bucket_salt(f) for task in tasks for _salt, files in task
            for f in files}
    assert {b for b, _ in read} <= buckets
    assert {s for _, s in read} == snapshot
    assert all(_bucket_salt(f)[1] == salt for task in tasks
               for salt, files in task for f in files)
    # the term filter is pushed into the read
    for task in tasks:
        for salt, files in task:
            pdf = read_salt_postings(salt, files, terms)
            assert set(pdf["term"]) <= set(terms)
            assert len(pdf) and set(pdf["salt"]) == {salt}


def test_stage1_input_prunes_html_and_broadcasts_map(
        spark, pages_df, index_dir, tmp_path_factory):
    """The stage-1 shape: corpus ⋈ url_map must broadcast the small
    map and must never read the fat ``html`` column (parquet-backed
    corpus, like the real build input)."""
    src = str(tmp_path_factory.mktemp("plan_pages"))
    pages_df.write.mode("overwrite").parquet(src)
    ids_map = spark.read.parquet(f"{index_dir}/url_map")
    df = (spark.read.parquet(src).join(F.broadcast(ids_map), "url")
          .select("doc_id", "chunk", "text"))
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "html" not in plan


def test_boolean_urls_join_never_hints_result_broadcast(spark, reader):
    """A boolean result is unbounded (an OR over hot terms can match
    most of a web corpus), so the url join must NOT carry a broadcast
    hint on the result side — AQE may still broadcast at runtime off
    ACTUAL size stats, which is correct; an unconditional hint OOMs
    executors at scale.  The ranked path may hint (k-row result)."""
    from rechercheinfoweb_spark.operators.query_bool import (
        boolean_search,
    )
    df = boolean_search(spark, reader, "search OR engine OR webpage",
                        with_urls=True)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in logical, logical
    # the ranked path's hint is intentional — keep it as contrast
    v = vector_topk(spark, reader, "search engine", "bm25", k=5,
                    with_urls=True)
    vlogical = v._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" in vlogical


def test_pipeline_scan_prunes_to_two_columns(spark, tmp_path_factory):
    """clean_corpus's fused stage-1/2 projection must column-prune
    the parquet scan to (doc_id, text) — a documents table at 100 TB
    carries many more columns (html, lang, warc_ts...) that the
    cleaning scan must never read."""
    from rechercheinfoweb_spark.operators import pipeline

    src = str(tmp_path_factory.mktemp("plan_docs"))
    (spark.range(50)
     .select(F.col("id").alias("doc_id"),
             F.concat(F.lit("the data of doc "),
                      F.col("id").cast("string")).alias("text"),
             F.lit("x" * 100).alias("html"),
             F.lit("extra").alias("meta"))
     .write.mode("overwrite").parquet(src))
    docs = spark.read.parquet(src)
    plan = _plan(pipeline.doc_stats(docs))
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan and "html" not in scan[0] and "meta" not in scan[0]
    # whole pipeline: still no fat columns anywhere in the plan
    full = _plan(pipeline.clean_corpus(docs, min_quality=0.0))
    assert "html" not in full and "meta" not in full


def test_lsh_verified_join_has_no_cartesian(spark, tmp_path_factory):
    """The verify step must stay an equi-join chain (candidates ⋈
    shingle-arrays) — no NestedLoop/Cartesian anywhere, or the
    composition quietly degenerates to all-pairs at scale."""
    from rechercheinfoweb_spark.operators import dedup

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text").limit(60)
    plan = _plan(dedup.lsh_jaccard_verified_pairs(docs,
                                                  max_bucket=100))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sample_to_mix_is_map_side(spark, tmp_path_factory):
    """After the one totals aggregate (a separate job), the returned
    sample is scan + filter only — NO Exchange: the mix predicate
    must compose with the parquet scan without moving data."""
    from rechercheinfoweb_spark.operators import pipeline
    src = str(tmp_path_factory.mktemp("mix_src"))
    (spark.range(0, 200)
     .select(F.col("id").alias("doc_id"),
             F.concat(F.lit("s"), (F.col("id") % 3).cast("string"))
             .alias("source"),
             F.lit("alpha beta gamma delta").alias("text"))
     .write.mode("overwrite").parquet(src))
    docs = spark.read.parquet(src)
    out = pipeline.sample_to_mix(
        docs, {"s0": 0.5, "s1": 0.25, "s2": 0.25})
    plan = _plan(out)
    assert "Exchange" not in plan, plan


def test_remove_dup_spans_shuffles_hash_not_gram(spark, pages_df):
    """The corpus-wide occurrence window must key its exchange on
    the 8-byte xxhash64, never the gram string (the string would be
    ~9x wider on the wire at n=8)."""
    from rechercheinfoweb_spark.operators import dedup
    docs = pages_df.select(
        F.monotonically_increasing_id().alias("doc_id"), "text")
    import re
    plan = _plan(dedup.remove_dup_spans(docs, n=8))
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)",
                           plan)
    assert any("gh#" in e for e in exchanges), exchanges
    assert not any("gram#" in e for e in exchanges), exchanges


def test_topk_url_join_broadcasts_small_side(spark, reader):
    df = vector_topk(spark, reader, "search engine", "bm25", k=10,
                     with_urls=True)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    # docs side reads only (doc_id, url) + partition column
    docs_scan = [ln for ln in plan.splitlines()
                 if "docs/chunk=" in ln and "FileScan" in ln]
    assert docs_scan and "text" not in docs_scan[0]
