"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline: a full inverted-index
build over the sf0.001 ``documents`` table (mapped to the
``web_pages`` input shape) followed by a BM25 top-k query with
block-max pruning.

``queries()``/``oracle_sql()`` pair every SQL-expressible operator
from SURVEY.md §2 (term counts A1/A2, df/idf A4, boolean set ops
Q3-Q5, ranked scoring Q7-Q9, BM25, corpus stats A7, doc-id
assignment A6) plus the training-data-pipeline operators (dedup
exact/minhash-LSH/n-gram-Jaccard/simhash, LSH→exact-Jaccard verify,
near-dup connected components, the four-stage cleaning pipeline,
winnowing rolling-hash fingerprints + overlap pairs, language ID,
quality, token counts, fingerprints, link-graph degrees/PageRank)
with ANSI-SQL DuckDB oracles.  SQL-parity queries use the
SQL-portable tokenizer (split on non-alphanumeric) — the engine's
stemmed tokenizer cannot run in DuckDB; the stemmed path is
oracle-checked in pytest instead (tests/test_query_vector.py,
rank-identical vs oracle/pyoracle.py).  Only the full engine index
(Porter2 stemming) stays rows-only.

Column-name discipline: every computed column is aliased
identically in the Spark plan and the SQL text; floats that cross
the engine boundary are rounded (ln/libm last-ulp differences).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

import rechercheinfoweb_spark
from rechercheinfoweb_spark.operators import (
    dedup, pipeline, textstats,
)
from rechercheinfoweb_spark.operators.textstats import (
    LANG_MARKERS, PII_EMAIL_RE, PII_IPV4_RE, PII_PHONE_RE,
    SQL_TOKEN_SPLIT,
)

K1, B = 1.2, 0.75
QUERY_TERMS = ("data", "query", "stream")  # fixed ranked-query terms
AND_TERMS = ("data", "query")
PAIR_DOC_LIMIT = 300  # bound pairwise ops in the sf0.01 contract run
# caps chosen to actually TRIP on the sf0.01 slice (measured): the
# 300-doc slice has 4 LSH band buckets of size 188-225 (boilerplate)
# vs a ≤38 tail, and 120 shingles with df > 3 — so the capped
# contract queries exercise the degenerate-key guards, not a no-op
LSH_MAX_BUCKET = 100
JACCARD_DF_CAP = 3


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _term_rows(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.explode(textstats.tokens_col()).alias("term"))


def _tf(docs: DataFrame) -> DataFrame:
    return (_term_rows(docs).groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf")))


_SQL_TOKS = (
    "SELECT doc_id, unnest(string_split_regex(text, "
    f"'{SQL_TOKEN_SPLIT}')) AS term FROM documents"
)
_SQL_TOKS_NE = f"SELECT * FROM ({_SQL_TOKS}) WHERE term <> ''"
_SQL_TF = (f"SELECT doc_id, term, count(*) AS tf FROM ({_SQL_TOKS_NE}) "
           "GROUP BY doc_id, term")


# ---------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the inverted index over sf0.001 documents
    (web_pages shape), then BM25 top-20 with block-max pruning."""
    import tempfile

    from rechercheinfoweb_spark.operators.index_build import build_index
    from rechercheinfoweb_spark.operators.query_vector import vector_topk
    from rechercheinfoweb_spark.sources.web_pages import (
        documents_as_web_pages,
    )

    sf_dir = "/root/testdata/sf0.001"
    out = os.path.join(tempfile.gettempdir(), "riw_entry_index")
    pages = documents_as_web_pages(spark, sf_dir)
    build_index(spark, pages, out, n_chunks=2, n_buckets=8, resume=True)
    return vector_topk(spark, out, "data query stream", scheme="bm25",
                       k=20, with_urls=True)


# ------------------------------------------------------------- queries

def _q_term_doc_tf(spark, sf_dir):
    return _tf(_docs(spark, sf_dir)).orderBy("doc_id", "term")


def _q_doc_token_counts(spark, sf_dir):
    return textstats.token_counts(_docs(spark, sf_dir))


def _q_df_idf(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    n = docs.count()
    return (_tf(docs).groupBy("term")
            .agg(F.count("*").alias("df"))
            .select("term", "df",
                    F.round(F.log(F.lit(float(n)) / F.col("df")), 6)
                     .alias("idf")))


def _q_top_terms(spark, sf_dir):
    return (_term_rows(_docs(spark, sf_dir))
            .groupBy("term").agg(F.count("*").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("term")).limit(50))


def _q_bool_and(spark, sf_dir):
    tf = _tf(_docs(spark, sf_dir))
    a = tf.where(F.col("term") == AND_TERMS[0]).select("doc_id")
    b = tf.where(F.col("term") == AND_TERMS[1]).select("doc_id")
    return a.join(b, "doc_id", "left_semi").orderBy("doc_id")


def _q_bool_or(spark, sf_dir):
    tf = _tf(_docs(spark, sf_dir))
    a = tf.where(F.col("term") == AND_TERMS[0]).select("doc_id")
    b = tf.where(F.col("term") == AND_TERMS[1]).select("doc_id")
    return a.union(b).distinct().orderBy("doc_id")


def _q_bool_and_not(spark, sf_dir):
    tf = _tf(_docs(spark, sf_dir))
    a = tf.where(F.col("term") == AND_TERMS[0]).select("doc_id")
    b = tf.where(F.col("term") == AND_TERMS[1]).select("doc_id")
    return a.join(b, "doc_id", "left_anti").orderBy("doc_id")


def _q_tfidf_topk(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    n = docs.count()
    tf = _tf(docs)
    dfs = tf.groupBy("term").agg(F.count("*").alias("df"))
    hits = (tf.where(F.col("term").isin(*QUERY_TERMS))
            .join(F.broadcast(dfs.where(F.col("term").isin(*QUERY_TERMS))),
                  "term"))
    score = F.round(F.sum(
        F.log(F.lit(float(n)) / F.col("df"))
        * (1.0 + F.log(F.col("tf")))), 6)
    return (hits.groupBy("doc_id").agg(score.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(20))


def _q_bm25_topk(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    n = docs.count()
    tf = _tf(docs)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avgdl = dl.agg(F.sum("dl").alias("s"), F.count("*").alias("c")) \
              .select((F.col("s") / F.col("c")).alias("a")).collect()[0]["a"]
    dfs = tf.groupBy("term").agg(F.count("*").alias("df"))
    hits = (tf.where(F.col("term").isin(*QUERY_TERMS))
            .join(F.broadcast(dfs.where(F.col("term").isin(*QUERY_TERMS))),
                  "term")
            .join(dl, "doc_id"))
    idf = F.log((F.lit(float(n)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    w = idf * (F.col("tf") * (K1 + 1.0)) / (
        F.col("tf") + K1 * (1.0 - B + B * F.col("dl") / F.lit(float(avgdl))))
    return (hits.groupBy("doc_id")
            .agg(F.round(F.sum(w), 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(20))


def _q_corpus_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    toks = _term_rows(docs)
    return spark.createDataFrame(
        [(docs.count(), toks.select("term").distinct().count(),
          toks.count())],
        "n_docs long, vocabulary long, n_tokens long")


def _q_doc_ids(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    url = F.concat_ws("/", "source", F.col("doc_id").cast("string"))
    return (docs.select(F.col("doc_id").alias("orig_id"),
                        url.alias("url"))
            .withColumn("rn", F.row_number().over(Window.orderBy("url"))))


def _q_lang_id(spark, sf_dir):
    return textstats.lang_id(_docs(spark, sf_dir))


def _q_quality(spark, sf_dir):
    return textstats.quality_score(_docs(spark, sf_dir))


def _q_fingerprint(spark, sf_dir):
    return textstats.doc_fingerprint(_docs(spark, sf_dir))


def _q_repetition(spark, sf_dir):
    """Gopher-style repetition features (dup-line fractions, top-
    bigram fraction) — the zero-shuffle sorted-run folds are oracle-
    checked against DuckDB unnest + GROUP BY recomputing the same
    counts relationally."""
    return textstats.repetition_stats(_docs(spark, sf_dir))


DECON_N = 3  # contract n-gram order: trigrams overlap meaningfully
#: deterministic benchmark slice for the decontamination contract
DECON_BENCH_MOD = 97


def _q_decontaminate(spark, sf_dir):
    """Eval-set n-gram decontamination: docs (doc_id % 97 == 0) act
    as the benchmark, every other doc is training data; emits the
    per-doc count of distinct leaked trigrams (pipeline.
    contamination — broadcast benchmark grams, corpus never
    shuffled on gram strings)."""
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % DECON_BENCH_MOD == 0)
    train = docs.where(F.col("doc_id") % DECON_BENCH_MOD != 0)
    return pipeline.contamination(train, bench, n=DECON_N)


def _q_pii(spark, sf_dir):
    """Regex PII scrub (emails/IPv4/intl phones → sentinels +
    per-doc counts) — the patterns are RE2-compatible by
    construction, so the DuckDB oracle runs the SAME regexes."""
    return textstats.scrub_pii(_docs(spark, sf_dir))


def _q_source_mix(spark, sf_dir):
    """Per-source doc/token/char totals (training-mix budgeting)."""
    return textstats.source_mix(_docs(spark, sf_dir))


def _q_nfc(spark, sf_dir):
    """Unicode NFC normalization (ingest hygiene): Arrow-batched
    unicodedata kernel with an ASCII fast path; the oracle pins the
    normalization itself cross-engine via DuckDB's native
    nfc_normalize."""
    return textstats.normalize_text(_docs(spark, sf_dir))


def _q_winnow_fp(spark, sf_dir):
    """Rolling-hash winnowing fingerprints (Rabin-Karp k-gram hashes,
    per-window minima) — the Arrow kernel's O(k·n) Horner passes are
    oracle-checked against DuckDB evaluating the same polynomial
    positionally."""
    return textstats.winnow_fingerprints(_docs(spark, sf_dir))


WINNOW_MIN_OVERLAP = 20
WINNOW_FP_DF_CAP = 50  # 29 fingerprints exceed this on the slice


def _q_winnow_pairs(spark, sf_dir):
    """Fingerprint-overlap near-dup pairs with the hot-fingerprint
    guard TRIPPED (29 boilerplate fingerprints above the cap on this
    slice are dropped before the self-join)."""
    return dedup.winnow_overlap_pairs(
        _pair_docs(spark, sf_dir), min_overlap=WINNOW_MIN_OVERLAP,
        max_fp_df=WINNOW_FP_DF_CAP)


def _q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_docs(spark, sf_dir)).drop("doc_ids")


def _q_minhash_sigs(spark, sf_dir):
    return dedup.minhash_signatures(_docs(spark, sf_dir))


def _pair_docs(spark, sf_dir):
    return _docs(spark, sf_dir).where(F.col("doc_id") < PAIR_DOC_LIMIT)


def _q_lsh_pairs(spark, sf_dir):
    return dedup.minhash_lsh_pairs(_pair_docs(spark, sf_dir))


def _q_jaccard_pairs(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_pair_docs(spark, sf_dir),
                                     threshold=0.15)


def _q_lsh_pairs_capped(spark, sf_dir):
    """Hot-bucket guard TRIPPED: max_bucket=100 drops the 4
    boilerplate band buckets (size 188-225) before the self-join;
    members still pair through their discriminative bands."""
    return dedup.minhash_lsh_pairs(_pair_docs(spark, sf_dir),
                                   max_bucket=LSH_MAX_BUCKET)


def _q_incremental_pairs(spark, sf_dir):
    """Incremental cross-batch dedup: the corpus slice is split
    store (doc_id % 4 != 0) / batch (doc_id % 4 == 0); store band
    rows are PERSISTED once per documents-parquet content, the batch
    probes them with a broadcast join — semantics pinned to
    ``minhash_lsh_pairs(store ∪ batch)`` restricted to pairs with
    ≥1 batch member (the oracle computes exactly that)."""
    import tempfile
    docs = _pair_docs(spark, sf_dir)
    store_docs = docs.where(F.col("doc_id") % 4 != 0)
    batch_docs = docs.where(F.col("doc_id") % 4 == 0)
    key = _content_key(f"{sf_dir}/documents.parquet")
    store = os.path.join(tempfile.gettempdir(), f"riw_sigstore_{key}")
    if not os.path.exists(os.path.join(store, "_SUCCESS")):
        dedup.write_signature_store(spark, store_docs, store)
    return dedup.incremental_lsh_pairs(spark, batch_docs, store,
                                       max_bucket=None)


def _q_jaccard_pairs_capped(spark, sf_dir):
    """df-cutoff guard TRIPPED: shingles with df > 3 (120 of them on
    this slice) are dropped before sizes AND the intersection join,
    so Jaccard is computed consistently over the retained sets —
    values genuinely differ from the uncapped oracle."""
    return dedup.ngram_jaccard_pairs(_pair_docs(spark, sf_dir),
                                     threshold=0.15,
                                     max_shingle_df=JACCARD_DF_CAP)


PACK_BUDGET = 5000  # contract token budget per training shard


def _q_pack_shards(spark, sf_dir):
    """Token-budget shard packing (the training-export stage): the
    corpus as one contiguous token stream in doc_id order, chopped
    into 5000-token shards; a doc lands in the shard holding its
    first token.  Spark runs the engine's deterministic two-phase
    running sum (hash-sampled pure-data bucketing — never a global
    one-partition window); the oracle is the textbook single-node
    window cumsum it must equal."""
    return pipeline.pack_token_shards(_docs(spark, sf_dir),
                                      budget=PACK_BUDGET,
                                      target_rows_per_bucket=100)


DUPSPAN_N = 3  # contract n-gram order (trigrams overlap at sf0.01)


def _q_dup_spans(spark, sf_dir):
    """Exact duplicated-substring coverage (Lee et al. 2022
    ExactSubstr at token-trigram granularity): per doc, the fraction
    of tokens covered by a trigram occurring >= 2x anywhere in the
    corpus.  Spark merges fixed-length intervals with a Catalyst fold
    over sorted starts; the oracle expands every covered position via
    generate_series and counts distinct — two independent
    formulations of the same union-of-intervals."""
    return dedup.dup_ngram_span_stats(_docs(spark, sf_dir),
                                      n=DUPSPAN_N)


def _q_remove_dup_spans(spark, sf_dir):
    """ExactSubstr REMOVAL (Lee et al. 2022 'remove all but one'):
    every later-than-first occurrence of a corpus-duplicated trigram
    has its covered tokens deleted; clean_text is rebuilt from the
    survivors with original casing.  The oracle recomputes removal
    positionally (gram row_number over (doc_id, pos), covered
    positions via generate_series, ordered string_agg rebuild)."""
    return dedup.remove_dup_spans(_docs(spark, sf_dir), n=DUPSPAN_N)


def _q_lsh_jaccard_verified(spark, sf_dir):
    """Production composition: capped-LSH candidate pairs verified
    with EXACT n-gram Jaccard (map-side array_intersect over the
    candidates only — never the all-pairs shingle join)."""
    return dedup.lsh_jaccard_verified_pairs(
        _pair_docs(spark, sf_dir), threshold=0.15,
        max_bucket=LSH_MAX_BUCKET)


def _q_simhash(spark, sf_dir):
    return dedup.simhash(_docs(spark, sf_dir))


def _q_simhash_pairs(spark, sf_dir):
    return dedup.simhash_near_pairs(_pair_docs(spark, sf_dir), radius=6)


def _q_clusters(spark, sf_dir):
    """Connected components over the simhash near-dup pairs: the
    canonicalization step that turns pairwise dedup output into a
    per-doc survivor decision (dedup.dedup_clusters — min-label
    propagation with pointer jumping, O(log diameter) rounds)."""
    pairs = dedup.simhash_near_pairs(_pair_docs(spark, sf_dir),
                                     radius=6)
    return dedup.dedup_clusters(pairs).orderBy("doc_id")


PP_MIN_QUALITY = 0.42  # keeps ~65% of the sf0.01 slice (median 0.449)

# stratified-sample rates: mixed full/half/quarter keeps plus an
# implicit drop of every other source — each branch genuinely
# exercised on the sf0.01 slice (20 sources x 25 docs)
PP_SAMPLE_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
PP_QUANTILE_KEEP = 0.4
PHRASE_QUERY = "data query"  # 22 phrase-matching docs at sf0.01

# Deterministic messy crawl-variant URLs for the URL-dedup contract
# query — the documents table has no url column, so both engines
# synthesize the SAME urls from (doc_id, source); the query under
# test is the canonicalization, not the synthesis.  Variants 0 and 1
# canonicalize identically (case/port/www/tracking-param/param-order
# /trailing-slash differences); 4 collides per source (fragmentless
# empty path + dropped click id); 2 (http) and 3 stay distinct.
# The variant key uses integer division (doc_id {div} 20) so it
# DECORRELATES from source = f(doc_id % 20) — every source sees
# every variant; div spells DIV in Spark and // in DuckDB.
_URL_SYNTH_SQL_T = """CASE CAST((doc_id {div} 20) % 5 AS INT)
  WHEN 0 THEN 'https://WWW.' || source
       || '.example.com:443/a/b/?utm_source=feed&z=2&a=1#frag'
  WHEN 1 THEN 'https://' || source || '.example.com/a/b?a=1&z=2'
  WHEN 2 THEN 'HTTP://www.' || source || '.example.com:80/a/b'
  WHEN 3 THEN 'https://' || source || '.example.com/a/b/c'
  ELSE 'https://' || source || '.example.com/?fbclid='
       || CAST(doc_id AS STRING)
END"""
URL_SYNTH_SQL = _URL_SYNTH_SQL_T.format(div="DIV")
URL_SYNTH_SQL_DUCK = _URL_SYNTH_SQL_T.format(div="//")


def _q_sample(spark, sf_dir):
    """Deterministic per-source hash sampling
    (pipeline.stratified_sample): md5-prefix fraction < rate, a pure
    map-side predicate reproducible across engines and partitionings
    — the 100-TB way to rebalance a source mix."""
    return (pipeline.stratified_sample(_docs(spark, sf_dir),
                                       PP_SAMPLE_RATES)
            .select("doc_id", "source").orderBy("doc_id"))


def _q_quality_quantile(spark, sf_dir):
    """Per-source quality-quantile gate
    (pipeline.quality_quantile_filter): keep each source's top 40%
    by the composite quality score, rank-based with doc_id
    tie-break so the kept set is deterministic."""
    return (pipeline.quality_quantile_filter(
        _docs(spark, sf_dir), PP_QUANTILE_KEEP)
        .select("doc_id", "source", "quality").orderBy("doc_id"))


def _q_nb_quality(spark, sf_dir):
    """Model-based quality gate (CCNet/GPT-3 stage): multinomial
    Naive Bayes trained on a deterministic pseudo-label split
    (pos = doc_id%7==0, neg = doc_id%7==3), scoring every doc.
    Closed-form training (two count aggs + full-outer join), model
    broadcast at score time."""
    docs = _docs(spark, sf_dir)
    pos = docs.where(F.col("doc_id") % 7 == 0)
    neg = docs.where(F.col("doc_id") % 7 == 3)
    model, meta = pipeline.train_quality_nb(pos, neg)
    return pipeline.nb_quality_score(docs, model,
                                     prior=meta["prior"])


DSIR_TARGET_MOD = 11  # target slice: doc_id % 11 == 0
DSIR_K = 100

# DSIR oracle CTEs (shared by pp_dsir_weights / pp_dsir_select):
# DuckDB re-derives the hashed-feature buckets from the identical
# md5 bytes, both smoothed distributions, and the per-doc weight sum.
# Summation ORDER differs (SQL sums llr per occurrence; Spark sums
# n·llr per (doc,bucket) group) — identical value, last-ulp float
# noise absorbed by the repo's round-6 convention.
def _sql_dsir_ctes():
    from rechercheinfoweb_spark.operators.pipeline import DSIR_BUCKETS
    B, MOD = DSIR_BUCKETS, DSIR_TARGET_MOD
    return f"""
            toksd AS (
              SELECT doc_id,
                     list_transform(list_filter(string_split_regex(
                         text, '{SQL_TOKEN_SPLIT}'), t -> t <> ''),
                         t -> lower(t)) AS toks
              FROM documents),
            gramsd AS (
              SELECT doc_id,
                     list_concat(toks,
                       CASE WHEN len(toks) >= 2 THEN
                         list_transform(range(1, len(toks)),
                           i -> array_to_string(toks[i:i+1], ' '))
                       ELSE [] END) AS grams
              FROM toksd),
            feat AS (
              SELECT doc_id,
                     ('0x' || substr(md5(g), 1, 8))::UBIGINT
                         % {B} AS bucket
              FROM gramsd, unnest(grams) AS u(g)),
            tcounts AS (SELECT bucket, count(*) AS ct FROM feat
                        WHERE doc_id % {MOD} = 0 GROUP BY bucket),
            rcounts AS (SELECT bucket, count(*) AS cr FROM feat
                        GROUP BY bucket),
            tot AS (SELECT
                (SELECT coalesce(sum(ct), 0) FROM tcounts) AS tt,
                (SELECT coalesce(sum(cr), 0) FROM rcounts) AS tr),
            ratio AS (
              SELECT coalesce(t.bucket, r.bucket) AS bucket,
                     ln((coalesce(ct, 0) + 1)
                        / (tt + {B})::DOUBLE)
                   - ln((coalesce(cr, 0) + 1)
                        / (tr + {B})::DOUBLE) AS llr
              FROM tcounts t FULL OUTER JOIN rcounts r
                   ON t.bucket = r.bucket, tot),
            per AS (
              SELECT doc_id, sum(llr) AS s
              FROM feat JOIN ratio USING (bucket)
              GROUP BY doc_id),
            weights AS (
              SELECT d.doc_id, round(coalesce(per.s, 0), 6) AS lw
              FROM (SELECT DISTINCT doc_id FROM documents) d
              LEFT JOIN per USING (doc_id))"""


def _q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): per-doc log ratio
    of hashed unigram+bigram likelihood under a target slice
    (doc_id%11==0) vs the raw corpus.  Two ≤B-row count aggs, ratio
    table broadcast at score time — corpus never shuffles on
    feature keys."""
    docs = _docs(spark, sf_dir)
    target = docs.where(F.col("doc_id") % DSIR_TARGET_MOD == 0)
    return pipeline.dsir_weights(docs, target)


def _q_dsir_select(spark, sf_dir):
    """DSIR Gumbel top-k resampling: keep the K docs with the
    largest lw + deterministic-Gumbel keys (sampling without
    replacement ∝ exp(lw)).  Distributed exact top-k via
    TakeOrderedAndProject."""
    docs = _docs(spark, sf_dir)
    target = docs.where(F.col("doc_id") % DSIR_TARGET_MOD == 0)
    return pipeline.dsir_select(docs, target, DSIR_K)


LM_MIN_COUNT = 2   # exercise the pruned-bigram backoff path
LM_KEEP_FRAC = 0.3


# Backoff-LM oracle CTEs (shared by pp_lm_score / pp_lm_filter):
# DuckDB retrains the pruned stupid-backoff bigram LM relationally —
# unpruned Laplace scalars, min_count-pruned unigram/bigram tables,
# UNPRUNED context denominators — and rescores every doc positionally
# (first token unigram-only, later tokens bigram-or-backoff).
# Summation ORDER differs (SQL sums ln_s per position; Spark sums
# n·ln_s per (doc,prev,w) group) — same value, round-6 absorbs ulps.
def _sql_lm_ctes():
    from rechercheinfoweb_spark.operators.pipeline import LM_ALPHA
    MC, MOD, A = LM_MIN_COUNT, DSIR_TARGET_MOD, LM_ALPHA
    return f"""
            toksd AS (
              SELECT doc_id,
                     list_transform(list_filter(string_split_regex(
                         text, '{SQL_TOKEN_SPLIT}'), t -> t <> ''),
                         t -> lower(t)) AS toks
              FROM documents),
            tgt AS (SELECT toks FROM toksd WHERE doc_id % {MOD} = 0),
            tuni AS (SELECT u.w, count(*) AS cu
                     FROM tgt, unnest(toks) AS u(w) GROUP BY u.w),
            tot AS (SELECT coalesce(sum(cu), 0) AS t,
                           count(*) AS v FROM tuni),
            uni AS (SELECT w, cu FROM tuni WHERE cu >= {MC}),
            tbi AS (SELECT toks[i] AS prev, toks[i + 1] AS w,
                           count(*) AS cb
                    FROM tgt, unnest(range(1, len(toks))) AS r(i)
                    GROUP BY 1, 2),
            ctx AS (SELECT prev, sum(cb) AS cc FROM tbi GROUP BY prev),
            bim AS (SELECT b.prev, b.w, b.cb, c.cc
                    FROM tbi b JOIN ctx c USING (prev)
                    WHERE b.cb >= {MC}),
            pairs AS (
              SELECT doc_id, NULL AS prev, toks[1] AS w
              FROM toksd WHERE len(toks) >= 1
              UNION ALL
              SELECT doc_id, toks[i] AS prev, toks[i + 1] AS w
              FROM toksd, unnest(range(1, len(toks))) AS r(i)),
            persc AS (
              SELECT doc_id,
                CASE
                  WHEN bm.cb IS NOT NULL
                    THEN ln(bm.cb / bm.cc::DOUBLE)
                  WHEN p.prev IS NOT NULL
                    THEN ln({A}) + ln((coalesce(u.cu, 0) + 1)
                                      / ((t + v + 1)::DOUBLE))
                  ELSE ln((coalesce(u.cu, 0) + 1)
                          / ((t + v + 1)::DOUBLE))
                END AS ln_s
              FROM pairs p
              LEFT JOIN uni u ON p.w = u.w
              LEFT JOIN bim bm ON p.prev = bm.prev AND p.w = bm.w,
              tot),
            lm_scored AS (
              SELECT d.doc_id,
                     coalesce(x.cnt, 0) AS n_tok,
                     round(coalesce(-x.s / x.cnt, 0), 6) AS lm_score
              FROM (SELECT DISTINCT doc_id FROM documents) d
              LEFT JOIN (SELECT doc_id, CAST(count(*) AS BIGINT)
                                            AS cnt,
                                sum(ln_s) AS s
                         FROM persc GROUP BY doc_id) x
              USING (doc_id))"""


def _lm_model(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    target = docs.where(F.col("doc_id") % DSIR_TARGET_MOD == 0)
    return docs, target


def _q_lm_score(spark, sf_dir):
    """CCNet-style LM scoring: pruned stupid-backoff bigram LM
    (Brants et al. 2007) trained on a target slice (doc_id%11==0),
    scoring every doc by mean negative log backoff score (lower =
    more target-like).  Model tables are min_count-pruned and
    broadcast; the corpus never shuffles on term strings."""
    docs, target = _lm_model(spark, sf_dir)
    uni, bi, ctx, meta = pipeline.train_backoff_lm(
        target, LM_MIN_COUNT)
    return pipeline.lm_doc_scores(docs, uni, bi, ctx, meta)


def _q_lm_filter(spark, sf_dir):
    """CCNet head gate: keep the keep_frac of docs with the lowest
    lm_score — distributed exact bottom-k via
    TakeOrderedAndProject, doc_id tie-break."""
    docs, target = _lm_model(spark, sf_dir)
    return pipeline.lm_perplexity_filter(docs, target,
                                         LM_KEEP_FRAC, LM_MIN_COUNT)


def _q_lm_buckets(spark, sf_dir):
    """CCNet head/middle/tail split (Wenzek et al. 2020 §4.3):
    value-based bucket labels from the exact 1/3 and 2/3 percentiles
    of lm_score — a doc's bucket depends only on its own score, so
    the assignment is engine- and partitioning-reproducible (Spark
    percentile == DuckDB quantile_cont, both linear-interpolating
    the same round-6 doubles)."""
    docs, target = _lm_model(spark, sf_dir)
    return pipeline.lm_perplexity_buckets(docs, target,
                                          min_count=LM_MIN_COUNT)


def _q_lm_buckets_lang(spark, sf_dir):
    """CCNet buckets PER LANGUAGE (the paper's actual shape — each
    language gets its own tercile cutoffs so low-resource languages
    aren't globally tail-binned): one per-stratum percentile
    aggregate broadcast back over the score relation."""
    docs, target = _lm_model(spark, sf_dir)
    return pipeline.lm_perplexity_buckets(
        docs, target, min_count=LM_MIN_COUNT, by="lang")


def _q_mix(spark, sf_dir):
    """Training-mix assembly (Pile/LLaMA-style source weights):
    per-source keep rates from one token-totals aggregate land
    expected token totals on a uniform target mix at the largest
    no-oversampling budget; selection is the deterministic
    md5-fraction predicate, so the oracle recomputes the identical
    doubles end-to-end (totals → budget → rates → hash cut)."""
    from rechercheinfoweb_spark.operators.textstats import tokens_col
    docs = _docs(spark, sf_dir)
    sources = sorted(r["source"] for r in
                     docs.select("source").distinct().collect())
    f = 1.0 / len(sources)
    out = pipeline.sample_to_mix(docs, {s: f for s in sources})
    return out.select(
        "doc_id", "source",
        F.size(tokens_col()).cast("long").alias("n_tok"))


def _q_warc_roundtrip(spark, sf_dir):
    """WARC container round-trip as a relation: documents → WARC
    files (distributed ``write_warc`` sink, one file per partition)
    → ``warc_pages`` source (binaryFile scan + Content-Length-framed
    record walk).  The oracle recomputes the expected relation
    straight from the documents table, so the parse must reproduce
    url, capture timestamp, payload byte length, the language
    extension header, and the exact text bytes (md5) through the
    container format."""
    import tempfile

    from rechercheinfoweb_spark.sources import warc as warc_mod
    from rechercheinfoweb_spark.sources.web_pages import (
        documents_as_web_pages,
    )
    key = _content_key(f"{sf_dir}/documents.parquet")
    out = os.path.join(tempfile.gettempdir(), f"riw_warc_{key}")
    if not os.path.exists(os.path.join(out, "_done")):
        warc_mod.write_warc(
            documents_as_web_pages(spark, sf_dir).repartition(8), out)
        open(os.path.join(out, "_done"), "w").close()
    pages = warc_mod.warc_pages(
        spark, os.path.join(out, "part-*.warc"))
    return pages.select(
        "url",
        F.unix_timestamp("warc_ts").cast("long").alias("warc_epoch"),
        F.length("html").cast("long").alias("n_bytes"),
        F.md5(F.col("text").cast("binary")).alias("text_md5"),
        "lang")


BPE_MERGES = 30


def _q_bpe_counts(spark, sf_dir):
    """BPE token counts (Sennrich et al. 2016): merges trained on
    the target slice's Heaps-bounded word table (one corpus scan +
    O(vocab) merge rounds), then per-doc piece counts via an
    Arrow-batched encoder with per-batch word caching.  Iterative
    training is not SQL-expressible — rows-only contract; the merge
    list and counts are pinned against a pure-Python twin in
    tests/test_bpe.py."""
    from rechercheinfoweb_spark.operators import bpe
    docs = _docs(spark, sf_dir)
    target = docs.where(F.col("doc_id") % DSIR_TARGET_MOD == 0)
    merges = bpe.train_bpe(target, n_merges=BPE_MERGES, min_count=2)
    return bpe.bpe_piece_counts(docs, merges)


def _q_gopher_rep(spark, sf_dir):
    """Gopher A1.1 full n-gram repetition table: top-2/3/4-gram char
    fractions (argmax by count, lexicographic tie-break) + overlap-
    aware dup-5..10-gram char coverage + composite rep_keep gate —
    per-doc array folds, zero shuffles."""
    return textstats.gopher_repetition_stats(_docs(spark, sf_dir))


def _sql_gopher_rep() -> str:
    """DuckDB twin: relational recomputation (positional gram
    tables, per-doc argmax window, EXISTS coverage join) of the same
    features and thresholds."""
    tops = textstats.GOPHER_TOP_NGRAM_MAX
    dups = textstats.GOPHER_DUP_NGRAM_MAX
    ctes = [f"""
        toksd AS (
          SELECT doc_id,
                 list_transform(list_filter(string_split_regex(
                     text, '{SQL_TOKEN_SPLIT}'), t -> t <> ''),
                     t -> lower(t)) AS toks
          FROM documents),
        tchars AS (
          SELECT doc_id,
                 greatest(coalesce(list_sum(list_transform(
                     toks, t -> length(t))), 0), 1)::DOUBLE AS tot
          FROM toksd),
        tpos AS (
          SELECT doc_id, r.i AS t, toks[i] AS tok
          FROM toksd, unnest(range(1, len(toks) + 1)) AS r(i))"""]
    for n in list(tops) + list(dups):
        ctes.append(f"""
        g{n} AS (
          SELECT doc_id, r.i AS i,
                 array_to_string(toks[i:i + {n - 1}], ' ') AS gram
          FROM toksd, unnest(range(1, len(toks) - {n} + 2)) AS r(i)
          WHERE len(toks) >= {n}),
        t{n} AS (SELECT doc_id, gram, count(*) AS c
                 FROM g{n} GROUP BY doc_id, gram)""")
    for n in tops:
        ctes.append(f"""
        top{n} AS (
          SELECT doc_id,
                 c * (length(gram) - {n - 1}) AS chars
          FROM (SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY c DESC, gram) AS rn
                FROM t{n})
          WHERE rn = 1)""")
    for n in dups:
        ctes.append(f"""
        d{n} AS (SELECT doc_id, gram FROM t{n} WHERE c >= 2),
        cov{n} AS (
          SELECT p.doc_id, sum(length(p.tok)) AS chars
          FROM tpos p
          WHERE EXISTS (
            SELECT 1 FROM g{n} g
            JOIN d{n} d ON d.doc_id = g.doc_id AND d.gram = g.gram
            WHERE g.doc_id = p.doc_id
              AND g.i BETWEEN greatest(1, p.t - {n - 1}) AND p.t)
          GROUP BY p.doc_id)""")
    sel, conds = [], []
    for n, mx in tops.items():
        sel.append(f"round(coalesce(top{n}.chars, 0) / tc.tot, 6)"
                   f" AS top{n}gram_char_frac")
        conds.append(
            f"round(coalesce(top{n}.chars, 0) / tc.tot, 6) <= {mx}")
    for n, mx in dups.items():
        sel.append(f"round(coalesce(cov{n}.chars, 0) / tc.tot, 6)"
                   f" AS dup{n}gram_char_frac")
        conds.append(
            f"round(coalesce(cov{n}.chars, 0) / tc.tot, 6) <= {mx}")
    joins = "\n            ".join(
        [f"LEFT JOIN top{n} ON top{n}.doc_id = tc.doc_id"
         for n in tops]
        + [f"LEFT JOIN cov{n} ON cov{n}.doc_id = tc.doc_id"
           for n in dups])
    return f"""
        WITH {','.join(ctes)}
        SELECT tc.doc_id,
               {', '.join(sel)},
               CASE WHEN {' AND '.join(conds)}
                    THEN 1 ELSE 0 END AS rep_keep
        FROM tchars tc
            {joins}
        ORDER BY tc.doc_id"""


def _q_gopher(spark, sf_dir):
    """Gopher A1 document-quality rules (Rae et al. 2021): per-doc
    features (word counts, symbol/bullet/ellipsis ratios, alpha-word
    fraction, required-stopword hits) + composite keep gate, one
    map-side projection."""
    return textstats.gopher_quality_stats(_docs(spark, sf_dir))


# Blocklist for the pp_badwords contract slice: "batch" hits ~80% of
# the synthetic docs (reject path), "gradient" never occurs, so both
# paths are exercised; the mechanism is C4 §2.2's page-level
# blocklist rule with a caller-supplied list.
PP_BADWORDS = ["batch", "gradient"]


# URL-filter contract slice: 'src2' blocks a whole source's pages
# (domain rule incl. would-be subdomains), '7' as a banned URL word
# hits every doc id containing the digit (substring rule).
PP_URL_BLOCKED = ["src2"]
PP_URL_BANNED = ["7"]


def _q_url_filter(spark, sf_dir):
    """RefinedWeb §3.1 URL curation: host extraction + domain
    blocklist (suffix match on dot boundaries) + banned-word URL
    scoring, one map-side projection over the URL column only —
    pages drop before any text is read."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws("/", "source", F.col("doc_id").cast("string"))
         .alias("url"))
    return pipeline.url_filter_stats(
        docs, PP_URL_BLOCKED, PP_URL_BANNED).select(
        "doc_id", "host", "domain_blocked", "url_word_hits",
        "url_keep")


def _q_badwords(spark, sf_dir):
    """C4 bad-words page rule: per-doc blocklist word hits + keep
    flag — lowercased whitespace words, leading/trailing punctuation
    stripped, blocklist folded into the plan as a literal array (one
    map-side projection, zero shuffles)."""
    return pipeline.badwords_stats(_docs(spark, sf_dir), PP_BADWORDS)


def _q_c4_clean(spark, sf_dir):
    """C4 page-cleaning rules (Raffel et al. 2020 §2.2): keep lines
    ending in terminal punctuation with >=5 words and no
    'javascript'; drop pages with '{', 'lorem ipsum', or <3
    sentence ends surviving.  One map-side projection — zero
    shuffles.

    The synthetic documents table is single-line and unpunctuated
    (every C4 rule would be vacuous), so the contract derives a
    deterministic punctuated multi-line variant first — literal
    replaces both engines apply identically: ' batch '→sentence
    break, ' stream '→ellipsis break, ' slow '→'javascript', and a
    '{{' prefix on doc_id%17==0 pages — exercising every line AND
    page rule on real data."""
    docs = _docs(spark, sf_dir)
    t = F.replace(F.col("text"), F.lit(" batch "), F.lit(".\n"))
    t = F.replace(t, F.lit(" stream "), F.lit("…\n"))
    t = F.replace(t, F.lit(" slow "), F.lit(" javascript "))
    t = F.when(F.col("doc_id") % 17 == 0,
               F.concat(F.lit("{ "), t)).otherwise(t)
    return pipeline.c4_clean(docs.select("doc_id", t.alias("text")))


def _q_para_dedup(spark, sf_dir):
    """Cross-document paragraph dedup (C4/RefinedWeb line rule):
    a repeated trimmed line survives only at its first (doc_id,
    position) occurrence; later copies are cut from their docs.
    Linear in corpus paragraphs (md5 shuffle key, winner-row join
    back) — runs over the full documents table."""
    return pipeline.paragraph_dedup(_docs(spark, sf_dir))


def _q_url_dedup(spark, sf_dir):
    """URL canonicalization + url-level dedup
    (pipeline.canonical_url_col / url_dedup): stage 0 of a crawl
    pipeline — variants of one resource collide on the canonical
    form before any text is read.  Pure column expression (JVM
    regexp/array built-ins), one shuffle on the canonical key."""
    d = _docs(spark, sf_dir).withColumn("url", F.expr(URL_SYNTH_SQL))
    return (d.withColumn("canonical_url",
                         pipeline.canonical_url_col("url"))
            .groupBy("canonical_url")
            .agg(F.count("*").alias("n_variants"),
                 F.min("doc_id").alias("min_doc_id"))
            .orderBy("canonical_url"))


def _q_phrase(spark, sf_dir):
    """Exact phrase retrieval from the positional sidecar
    (operators/positions.py): overlap-aware occurrence counts, no
    document text read at query time.  SQL-portable tokenizer so
    DuckDB can recompute the phrase semantics positionally."""
    import tempfile

    from rechercheinfoweb_spark.operators.positions import (
        build_positions, phrase_search,
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"riw_pos_{_content_key(f'{sf_dir}/documents.parquet')}")
    if not os.path.exists(os.path.join(out, "positions_meta.json")):
        build_positions(spark, _docs(spark, sf_dir), out,
                        n_buckets=8, n_salts=4, tokenizer="sql")
    return phrase_search(spark, out, PHRASE_QUERY)


NEAR_QUERY = "spark window"   # 314 co-occurrence docs at sf0.01...
NEAR_K = 5                    # ...180 of them within a 5-token span


def _q_near(spark, sf_dir):
    """NEAR/k proximity from the positional sidecar: docs where one
    occurrence of every query term fits in a max_span-token window
    (min_span = smallest such window, exact via merged-positions
    sliding window); no document text read at query time.  Shares
    the phrase query's content-keyed sidecar build."""
    import tempfile

    from rechercheinfoweb_spark.operators.positions import (
        build_positions, near_search,
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"riw_pos_{_content_key(f'{sf_dir}/documents.parquet')}")
    if not os.path.exists(os.path.join(out, "positions_meta.json")):
        build_positions(spark, _docs(spark, sf_dir), out,
                        n_buckets=8, n_salts=4, tokenizer="sql")
    return near_search(spark, out, NEAR_QUERY, NEAR_K)


def _q_pipeline_clean(spark, sf_dir):
    """End-to-end training-data cleaning (operators/pipeline.py):
    lang=en -> quality >= 0.42 -> exact dedup -> simhash-component
    near-dup dedup, emitting the surviving (doc_id, lang_pred,
    quality).  Every stage threshold genuinely trips on the sf0.01
    slice (70/300 docs fail the language gate, ~35% fail quality,
    and the radius-6 components collapse further)."""
    return pipeline.clean_corpus(
        _pair_docs(spark, sf_dir), lang="en",
        min_quality=PP_MIN_QUALITY,
        simhash_radius=6).orderBy("doc_id")


def _sql_simhash(doc_filter: str = "") -> str:
    """DuckDB twin of dedup._simhash_kernel: md5-first-8-bytes token
    hashes, per-bit majority vote, signed-64 assembly (bit 63 via
    -2^63 so the arithmetic stays in BIGINT)."""
    votes = ",\n             ".join(
        f"sum(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(64))
    sim = " + ".join(
        [f"CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END"
         for j in range(63)]
        + ["CASE WHEN v63 > 0 THEN -9223372036854775808 ELSE 0 END"])
    return f"""
        toks AS (SELECT DISTINCT doc_id, lower(term) AS term
                 FROM ({_SQL_TOKS_NE}) {doc_filter}),
        hv_t AS (SELECT doc_id,
                        ('0x' || substr(md5(term), 1, 16))::UBIGINT
                            AS hv
                 FROM toks),
        votes_t AS (SELECT doc_id, {votes} FROM hv_t GROUP BY doc_id),
        sim_t AS (SELECT doc_id, CAST({sim} AS BIGINT) AS simhash
                  FROM votes_t)"""


def _sql_winnow_fp_cte(extra_pred: str = "") -> str:
    """CTE chain ending in ``fpt(doc_id, fp)`` — the DuckDB twin of
    textstats.winnow_fingerprints: the SAME Rabin-Karp polynomial
    (Horner form, mod 2^31-1 so every intermediate fits BIGINT)
    evaluated positionally, then per-window minima + DISTINCT.  The
    kernel computes it with k vectorized rolling passes; equal
    results validate the vectorization against direct evaluation."""
    K, W = textstats.WINNOW_K, textstats.WINNOW_W
    B, M = textstats.WINNOW_B, textstats.WINNOW_M
    expr = "CAST(0 AS BIGINT)"
    for j in range(K):
        expr = (f"(({expr}) * {B} "
                f"+ unicode(substr(text, i+{j}, 1))) % {M}")
    return f"""
        pos AS (
          SELECT doc_id,
                 unnest(generate_series(1, length(text) - {K - 1}))
                     AS i,
                 text
          FROM documents
          WHERE {extra_pred}length(text) >= {K + W - 1}),
        hh AS (SELECT doc_id, i, {expr} AS hv,
                      length(text) - {K - 1} AS nh FROM pos),
        wins AS (SELECT doc_id, i, nh,
                        min(hv) OVER (PARTITION BY doc_id ORDER BY i
                                      ROWS BETWEEN CURRENT ROW
                                      AND {W - 1} FOLLOWING) AS m
                 FROM hh),
        fpt AS (SELECT DISTINCT doc_id, m AS fp FROM wins
                WHERE i <= nh - {W} + 1)"""


# Connected components in ANSI SQL (DuckDB twin of
# dedup.dedup_clusters): propagate each root id along edges, but only
# to larger-id destinations — the component minimum m reaches every
# member (every other member's id exceeds m, so no hop is blocked)
# while larger roots are pruned early; min(root) per node is then the
# component min.  Requires a ``pairs(doc_a, doc_b)`` CTE and WITH
# RECURSIVE at the head of the chain.
_SQL_CCOMP = """
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION SELECT doc_b AS src, doc_a AS dst FROM pairs),
        reach AS (
          SELECT DISTINCT src AS doc_id, src AS root FROM edges
          UNION
          SELECT e.dst AS doc_id, r.root
          FROM reach r JOIN edges e ON e.src = r.doc_id
          WHERE r.root < e.dst),
        canon AS (SELECT doc_id, min(root) AS canonical
                  FROM reach GROUP BY doc_id)"""


# the engine code whose artifacts the contract caches: the package's
# sources and this file
_ENGINE_DIR = os.path.dirname(os.path.abspath(rechercheinfoweb_spark.__file__))


def _engine_sources() -> list[str]:
    paths = [os.path.abspath(__file__)]
    for root, dirs, files in os.walk(_ENGINE_DIR):
        dirs.sort()
        paths += [os.path.join(root, f) for f in sorted(files)
                  if f.endswith(".py")]
    return paths


def _content_key(src: str) -> str:
    """Fingerprint of a parquet source (path + file sizes + mtimes)
    and of the engine's source bytes: cache keys derived from it go
    stale the moment the data at that path is regenerated, or the
    code that built a cached index changes."""
    import hashlib
    stat_parts = [src]
    for root, _dirs, files in os.walk(src) if os.path.isdir(src) \
            else [(os.path.dirname(src), [], [os.path.basename(src)])]:
        for f in sorted(files):
            st = os.stat(os.path.join(root, f))
            stat_parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    h = hashlib.md5("|".join(stat_parts).encode())
    for path in _engine_sources():
        with open(path, "rb") as f:
            h.update(hashlib.md5(f.read()).digest())
    return h.hexdigest()[:12]


def _sql_engine_bm25_nostem(k: int = 20, deleted: str | None = None,
                            purged: bool = False) -> str:
    """Oracle for the PHYSICAL engine path at stem=False: DuckDB
    re-derives the engine's doc ids (row_number by url — the build's
    assign_doc_ids spec), its tokenizer (charset regex + len>=3 +
    stopword filter; TOKEN_RE is ASCII-equivalent on this corpus,
    which is all-ASCII by construction), its corpus stats (avgdl =
    sum_dl / n_docs over ALL docs, the engine's definition), and
    BM25 from (tf, dl, df) — the exact statistics the engine decodes
    back out of its varint posting blocks.  A hash match therefore
    certifies the whole artifact round-trip, not a DataFrame
    recomputation.

    ``deleted``: SQL predicate over ``doc_id`` marking tombstoned
    docs.  With ``purged=False`` it models a LOGICAL delete
    (operators/delete.py): dead docs leave the RESULT only, while
    n_docs/avgdl/df keep full-corpus values (Lucene live-docs
    semantics).  With ``purged=True`` it models the PHYSICAL purge:
    dead docs leave every statistic too — but doc ids are still
    assigned over the FULL corpus first, because a purge never
    renumbers survivors."""
    from rechercheinfoweb_spark.functions.tokenizer import STOPWORDS
    stop = ", ".join(f"'{w}'" for w in sorted(STOPWORDS))
    stats_filter = (f"WHERE NOT ({deleted})"
                    if deleted and purged else "")
    result_filter = (f"AND NOT ({deleted.replace('doc_id', 'tf.doc_id')})"
                     if deleted and not purged else "")
    return f"""
        WITH ids0 AS (
              SELECT CAST(row_number() OVER (
                       ORDER BY source || '/' || CAST(doc_id AS VARCHAR))
                     AS BIGINT) AS doc_id,
                     text
              FROM documents),
             ids AS (SELECT * FROM ids0 {stats_filter}),
             toks AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(text,
                            '[0-9A-Za-z''\\-/]+')) AS term
              FROM ids),
             ft AS (
              SELECT doc_id, term FROM toks
              WHERE length(term) >= 3 AND term NOT IN ({stop})),
             tf AS (SELECT doc_id, term, count(*) AS tf
                    FROM ft GROUP BY doc_id, term),
             n AS (SELECT count(*) AS n_docs FROM ids),
             dls AS (SELECT doc_id, sum(tf) AS dl
                     FROM tf GROUP BY doc_id),
             ad AS (SELECT sum(dl) * 1.0 / (SELECT n_docs FROM n)
                        AS avgdl FROM dls),
             dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
        SELECT tf.doc_id,
               round(sum(
                 ln((n.n_docs - dfs.df + 0.5) / (dfs.df + 0.5) + 1)
                 * (tf.tf * ({K1} + 1))
                 / (tf.tf + {K1} * (1 - {B} + {B} * dls.dl / ad.avgdl))
               ), 6) AS score
        FROM tf JOIN dfs USING (term) JOIN dls USING (doc_id), n, ad
        WHERE tf.term IN ('data','query','stream') {result_filter}
        GROUP BY tf.doc_id
        ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def _q_value_percentiles(spark, sf_dir):
    """A8 analog (latency histogram, server.go:59-60,184-189):
    exact percentiles of a metric column per event_type.  Exact
    `percentile` matches DuckDB's quantile_cont; at 10^12 rows swap
    for percentile_approx (t-digest, bounded memory)."""
    ev = _events(spark, sf_dir)
    return (ev.groupBy("event_type")
            .agg(*[F.round(F.expr(f"percentile(value, {p})"), 6)
                   .alias(f"p{int(p * 100)}")
                   for p in (0.5, 0.9, 0.99)])
            .orderBy("event_type"))


def _q_heaps_curve(spark, sf_dir):
    """V4 (Heaps-law plot, main.go:72-108): vocabulary-vs-tokens
    growth over doc-id prefixes.  Per-term min doc_id + per-doc token
    counts aggregate once; the 10-point grid joins against those tiny
    aggregates, never the corpus."""
    docs = _docs(spark, sf_dir)
    n = docs.count()
    # integer DIV on both sides: float-divide-then-cast truncates in
    # Spark but rounds in DuckDB whenever n is not divisible by 10
    grid = spark.range(1, 11).select(
        F.expr(f"(id * {n}) DIV 10").alias("prefix"))
    toks = _term_rows(docs)
    term_min = toks.groupBy("term").agg(F.min("doc_id").alias("m"))
    doc_tok = toks.groupBy("doc_id").agg(F.count("*").alias("nt"))
    vocab = (grid.join(term_min, term_min["m"] <= F.col("prefix"))
             .groupBy("prefix").agg(F.count("*").alias("vocabulary")))
    tokens = (grid.join(doc_tok, doc_tok["doc_id"] <= F.col("prefix"))
              .groupBy("prefix").agg(F.sum("nt").alias("n_tokens")))
    return (vocab.join(tokens, "prefix")
            .select("prefix", "n_tokens", "vocabulary")
            .orderBy("prefix"))


def _q_pr_curve(spark, sf_dir):
    """Eval-harness V1 (SURVEY §2.6) as a contract query: rank every
    doc by BM25 for the fixed query; qrels = docs containing all
    three terms; emit the P/R walk (rank, recall, precision)."""
    docs = _docs(spark, sf_dir)
    n = docs.count()
    tf = _tf(docs)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avgdl = dl.agg(F.sum("dl").alias("s"), F.count("*").alias("c")) \
              .select((F.col("s") / F.col("c")).alias("a")) \
              .collect()[0]["a"]
    qtf = tf.where(F.col("term").isin(*QUERY_TERMS))
    dfs = qtf.groupBy("term").agg(F.count("*").alias("df"))
    hits = qtf.join(F.broadcast(dfs), "term").join(dl, "doc_id")
    idf = F.log((F.lit(float(n)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    w = idf * (F.col("tf") * (K1 + 1.0)) / (
        F.col("tf") + K1 * (1.0 - B + B * F.col("dl")
                            / F.lit(float(avgdl))))
    scored = hits.groupBy("doc_id").agg(
        F.round(F.sum(w), 6).alias("score"))
    rel = (qtf.groupBy("doc_id")
           .agg(F.countDistinct("term").alias("nt"))
           .where(F.col("nt") == len(QUERY_TERMS))
           .select("doc_id", F.lit(1).alias("rel")))
    n_valid = rel.count()
    wr = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = (scored.join(F.broadcast(rel), "doc_id", "left")
              .withColumn("rank", F.row_number().over(wr))
              .withColumn("cum_rel",
                          F.sum(F.coalesce("rel", F.lit(0)))
                          .over(wr.rowsBetween(Window.unboundedPreceding,
                                               0))))
    return (ranked.where(F.col("rel") == 1)
            .select("rank",
                    F.round(F.col("cum_rel") / F.lit(float(n_valid)), 6)
                    .alias("recall"),
                    F.round(F.col("cum_rel") / F.col("rank"), 6)
                    .alias("precision"))
            .orderBy("rank"))


def _q_engine_bm25(spark, sf_dir):
    """Full engine path (stemmed tokenizer, packed index, WAND) —
    rows-only check (Porter2 is not expressible in SQL)."""
    import tempfile

    from rechercheinfoweb_spark.operators.index_build import build_index
    from rechercheinfoweb_spark.operators.query_vector import vector_topk
    from rechercheinfoweb_spark.sources.web_pages import (
        documents_as_web_pages,
    )
    key = _content_key(f"{sf_dir}/documents.parquet")
    out = os.path.join(tempfile.gettempdir(), f"riw_ix_{key}")
    pages = documents_as_web_pages(spark, sf_dir)
    build_index(spark, pages, out, n_chunks=2, n_buckets=8, resume=True)
    return vector_topk(spark, out, "data query stream", scheme="bm25",
                       k=20)


def _q_engine_bm25_nostem(spark, sf_dir):
    """Full PHYSICAL engine path — packed v4 posting blocks on disk,
    bucket/salt-pruned scan, shard score kernel, global merge — built
    with ``stem=False``, the one engine configuration whose whole
    query pipeline is ANSI-SQL expressible.  This is the contract row
    that oracle-checks the index ARTIFACT itself against DuckDB (the
    stemmed twin ``ix_engine_bm25_topk`` stays rows-only because
    Porter2 has no SQL form); tokenizer filters (len>=3 + stopwords)
    and BM25 from stored (tf, dl) must all round-trip the codec
    exactly for this row to hash-match.

    Scores cross the engine/DuckDB boundary, so both sides round to
    6dp and re-rank by (rounded score, doc_id); the engine side pulls
    every candidate (k > corpus) so rounding can never shift the
    top-20 boundary between the two sides."""
    import tempfile

    from rechercheinfoweb_spark.operators.index_build import build_index
    from rechercheinfoweb_spark.operators.query_vector import vector_topk
    from rechercheinfoweb_spark.sources.web_pages import (
        documents_as_web_pages,
    )
    key = _content_key(f"{sf_dir}/documents.parquet")
    out = os.path.join(tempfile.gettempdir(), f"riw_ixns_{key}")
    pages = documents_as_web_pages(spark, sf_dir)
    build_index(spark, pages, out, n_chunks=2, n_buckets=8,
                stem=False, resume=True)
    res = vector_topk(spark, out, "data query stream", scheme="bm25",
                      k=1_000_000)
    return (res.select("doc_id", F.round("score", 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(20))


#: deterministic tombstone rule for the delete/purge contract rows:
#: engine doc ids with doc_id % 7 == 3 are deleted
DELETE_SQL_PRED = "doc_id % 7 = 3"


def _build_nostem_index(spark, sf_dir, tag: str) -> str:
    import tempfile

    from rechercheinfoweb_spark.operators.index_build import build_index
    from rechercheinfoweb_spark.sources.web_pages import (
        documents_as_web_pages,
    )
    key = _content_key(f"{sf_dir}/documents.parquet")
    out = os.path.join(tempfile.gettempdir(), f"riw_{tag}_{key}")
    pages = documents_as_web_pages(spark, sf_dir)
    build_index(spark, pages, out, n_chunks=2, n_buckets=8,
                stem=False, resume=True)
    return out


def _rounded_topk(spark, out, k: int = 20):
    from rechercheinfoweb_spark.operators.query_vector import vector_topk
    res = vector_topk(spark, out, "data query stream", scheme="bm25",
                      k=1_000_000)
    return (res.select("doc_id", F.round("score", 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def _q_engine_bm25_deleted(spark, sf_dir):
    """LOGICAL delete through the physical engine path: tombstone
    every doc_id % 7 == 3 (operators/delete.py), query the packed
    index.  Deleted docs leave the result immediately; n_docs/avgdl/
    df keep their published full-corpus values (Lucene live-docs
    semantics) — which is exactly what the oracle recomputes."""
    from rechercheinfoweb_spark.operators import delete as dl
    from rechercheinfoweb_spark.operators.query_vector import IndexReader
    out = _build_nostem_index(spark, sf_dir, "ixdel")
    n = IndexReader(spark, out).n_docs
    dl.delete_docs(spark, out,
                   doc_ids=[i for i in range(1, n + 1) if i % 7 == 3])
    return _rounded_topk(spark, out)


def _q_engine_bm25_purged(spark, sf_dir):
    """PHYSICAL purge through the engine path: tombstone doc_id % 7
    == 3, then compaction re-packs the posting blocks without the
    dead ids and finalize republishes survivor statistics
    (n_docs/avgdl/df) — while survivor doc ids stay EXACTLY as first
    assigned (a purge never renumbers).  The oracle recomputes BM25
    over the survivor corpus with ids assigned over the full corpus,
    so a hash match certifies both the re-packed artifact and the
    id-stability contract."""
    from rechercheinfoweb_spark.operators import delete as dl
    from rechercheinfoweb_spark.operators.compact import compact_chunks
    from rechercheinfoweb_spark.operators.query_vector import IndexReader
    out = _build_nostem_index(spark, sf_dir, "ixpg")
    marker = os.path.join(out, "purged.marker")
    if not os.path.exists(marker):
        n = IndexReader(spark, out).n_docs
        dl.delete_docs(spark, out, doc_ids=[i for i in range(1, n + 1)
                                            if i % 7 == 3])
        compact_chunks(spark, out, target_docs=10**9)
        open(marker, "w").close()
    return _rounded_topk(spark, out)


#: misspellings of high-df corpus terms + one in-vocabulary term
#: (exact hits must rank first at dist 0)
SPELL_QUERY_TERMS = ["quary", "strem", "custmer", "windoow", "scan"]
COMPLETE_PREFIX = "co"


def _q_spell_suggest(spark, sf_dir):
    """Spell suggestion over the nostem engine dictionary
    (operators/suggest.py): length-band prune + JVM levenshtein over
    ONE map-side dictionary scan, deterministic (dist, -df, term)
    rank.  Runs against the same cached nostem index artifact as
    ix_engine_bm25_nostem, so the dictionary being probed is the
    engine's own (codec-round-tripped df values, not a DataFrame
    recount)."""
    from rechercheinfoweb_spark.operators.query_vector import IndexReader
    from rechercheinfoweb_spark.operators.suggest import spell_suggest
    out = _build_nostem_index(spark, sf_dir, "ixns")
    return spell_suggest(IndexReader(spark, out)._dictionary,
                         SPELL_QUERY_TERMS, k=5, max_dist=2)


def _q_complete_prefix(spark, sf_dir):
    """Prefix autocomplete over the nostem engine dictionary — a
    pushed StartsWith scan + df-ranked take."""
    from rechercheinfoweb_spark.operators.query_vector import IndexReader
    from rechercheinfoweb_spark.operators.suggest import complete_prefix
    out = _build_nostem_index(spark, sf_dir, "ixns")
    return complete_prefix(IndexReader(spark, out)._dictionary,
                           COMPLETE_PREFIX, k=10)


def _sql_dictionary_df() -> str:
    """CTE prefix re-deriving the NOSTEM dictionary (term, df) with
    the engine's tokenizer (same charset regex / len>=3 / stopword
    rules as _sql_engine_bm25_nostem)."""
    from rechercheinfoweb_spark.functions.tokenizer import STOPWORDS
    stop = ", ".join(f"'{w}'" for w in sorted(STOPWORDS))
    return f"""
        WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(text,
                            '[0-9A-Za-z''\\-/]+')) AS term
              FROM documents),
             dict AS (
              SELECT term,
                     CAST(count(DISTINCT doc_id) AS BIGINT) AS df
              FROM toks
              WHERE length(term) >= 3 AND term NOT IN ({stop})
              GROUP BY term)"""


def _sql_spell_suggest(k: int = 5, max_dist: int = 2) -> str:
    terms = ", ".join(f"'{t}'" for t in SPELL_QUERY_TERMS)
    return _sql_dictionary_df() + f""",
        q AS (SELECT unnest([{terms}]) AS query_term),
        cand AS (
          SELECT q.query_term, d.term,
                 CAST(levenshtein(q.query_term, d.term) AS INTEGER)
                   AS dist,
                 d.df
          FROM dict d CROSS JOIN q
          WHERE abs(length(d.term) - length(q.query_term))
                  <= {max_dist}
            AND levenshtein(q.query_term, d.term) <= {max_dist}),
        ranked AS (
          SELECT *, row_number() OVER (
                   PARTITION BY query_term
                   ORDER BY dist ASC, df DESC, term ASC) AS rnk
          FROM cand)
        SELECT query_term, term AS suggestion, dist, df
        FROM ranked WHERE rnk <= {k}"""


def _sql_complete_prefix(k: int = 10) -> str:
    return _sql_dictionary_df() + f"""
        SELECT term, df FROM dict
        WHERE term LIKE '{COMPLETE_PREFIX}%'
        ORDER BY df DESC, term ASC LIMIT {k}"""


_PR_ITER, _PR_DAMP = 5, 0.85


def _lg_edges(docs: DataFrame, n: int) -> DataFrame:
    """Deterministic synthetic edge table over the documents corpus
    (same modular rule as sources.web_pages.link_targets, evaluated
    directly on doc_id so the DuckDB oracle can re-derive it): page i
    has i%4 out-links, k-th target (i*31+k*17+7) mod n, self bumped
    to the next id.  Pure Catalyst expressions — no Python."""
    e0 = (docs.select("doc_id",
                      F.explode(F.sequence(F.lit(1), F.lit(3)))
                      .alias("k"))
          .where(F.col("k") <= F.col("doc_id") % 4))
    d0 = (F.col("doc_id") * 31 + F.col("k") * 17 + 7) % n
    return e0.select(
        F.col("doc_id").alias("src"),
        F.when(d0 == F.col("doc_id"), (d0 + 1) % n)
        .otherwise(d0).alias("dst"))


def _q_lg_degrees(spark, sf_dir):
    """Link-graph degree/dangling stats (operators/linkgraph.py) over
    the deterministic doc_id edge rule."""
    from rechercheinfoweb_spark.operators import linkgraph
    docs = _docs(spark, sf_dir)
    n = docs.count()
    nodes = docs.select(F.col("doc_id").alias("node"))
    return linkgraph.degree_stats(nodes, _lg_edges(docs, n))


def _q_lg_pagerank(spark, sf_dir):
    """Damped PageRank with dangling-mass redistribution
    (linkgraph.pagerank), 5 fixed iterations; the oracle unrolls the
    identical update as 5 CTE stages, so a hash match certifies the
    per-iteration join/agg/dangling math through float round-8."""
    from rechercheinfoweb_spark.operators import linkgraph
    docs = _docs(spark, sf_dir)
    n = docs.count()
    nodes = docs.select(F.col("doc_id").alias("node"))
    pr = linkgraph.pagerank(nodes, _lg_edges(docs, n),
                            n_iter=_PR_ITER, damping=_PR_DAMP)
    return pr.select("node", F.round("pr", 8).alias("pr"))


def _sql_lg_edges() -> str:
    """Shared CTE prefix re-deriving _lg_edges in DuckDB."""
    return """
        WITH n AS (SELECT count(*) AS n FROM documents),
        ks AS (SELECT unnest([1, 2, 3]) AS k),
        e0 AS (SELECT d.doc_id AS src,
                      ((d.doc_id * 31 + ks.k * 17 + 7) % n.n) AS d0
               FROM documents d CROSS JOIN n CROSS JOIN ks
               WHERE ks.k <= d.doc_id % 4),
        edges AS (SELECT DISTINCT src,
                         CASE WHEN d0 = src THEN (d0 + 1) % n.n
                              ELSE d0 END AS dst
                  FROM e0 CROSS JOIN n),
        outdeg AS (SELECT src, count(*) AS deg FROM edges
                   GROUP BY src)"""


def _sql_lg_degrees() -> str:
    return _sql_lg_edges() + """
        SELECT d.doc_id AS node,
               CAST(coalesce(o.deg, 0) AS BIGINT) AS out_deg,
               CAST(coalesce(i.c, 0) AS BIGINT) AS in_deg,
               coalesce(o.deg, 0) = 0 AS dangling
        FROM documents d
        LEFT JOIN outdeg o ON d.doc_id = o.src
        LEFT JOIN (SELECT dst, count(*) AS c FROM edges
                   GROUP BY dst) i ON d.doc_id = i.dst"""


def _sql_lg_pagerank(n_iter: int = _PR_ITER,
                     d: float = _PR_DAMP) -> str:
    """Unrolled power iteration — same float op order as the Spark
    side (base + d*(contrib + dangling/n), all DOUBLE)."""
    parts = [_sql_lg_edges() + """,
        pr0 AS (SELECT doc_id AS node, 1.0::DOUBLE / n.n AS pr
                FROM documents CROSS JOIN n)"""]
    for i in range(n_iter):
        parts.append(f""",
        dang{i} AS (SELECT coalesce(sum(p.pr), 0.0::DOUBLE) AS m
                    FROM pr{i} p LEFT JOIN outdeg o ON p.node = o.src
                    WHERE o.src IS NULL),
        pr{i + 1} AS (
            SELECT doc.doc_id AS node,
                   {(1.0 - d)!r}::DOUBLE / n.n + {d!r}::DOUBLE
                     * (coalesce(c.c, 0.0::DOUBLE) + dg.m / n.n)
                   AS pr
            FROM documents doc CROSS JOIN n CROSS JOIN dang{i} dg
            LEFT JOIN (SELECT e.dst AS node,
                              sum(p.pr / o.deg) AS c
                       FROM edges e
                       JOIN pr{i} p ON e.src = p.node
                       JOIN outdeg o ON e.src = o.src
                       GROUP BY e.dst) c ON doc.doc_id = c.node)""")
    parts.append(f"""
        SELECT node, round(pr, 8) AS pr FROM pr{n_iter}""")
    return "".join(parts)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT: the correctness driver checks only the FIRST 50
    # entries of this dict.  Standing rotation policy (since r4): no
    # entry's driver row goes more than one round stale.  Round 5 rotates
    # the 29 entries that sat past the window in round 4 (all green in
    # CORRECTNESS_r03 + verified on HEAD by scripts/check_contract.py) to
    # the front, follows them with every query whose implementation
    # changed in round 5 (NEAR kernel vectorization -> ft_near/ft_phrase;
    # doc_stats null-text propagation -> pp_clean; the
    # gopher_repetition_stats shared-fraction refactor -> ts_gopher_rep;
    # the WARC epoch-shipping sink -> src_warc_roundtrip), and fills the
    # rest of the window with the core ft_*/ts_*/dd_* rows; everything
    # past position 50 has a green CORRECTNESS_r04 row on record.
    return {
        # --- the 29 entries outside round 4's driver window ---
        "pp_mix": _q_mix,
        "dd_incremental_pairs": _q_incremental_pairs,
        "dd_simhash_pairs": _q_simhash_pairs,
        "ft_doc_token_counts": _q_doc_token_counts,
        "ft_top_terms": _q_top_terms,
        "ts_fingerprint": _q_fingerprint,
        "ts_repetition": _q_repetition,
        "ts_pii": _q_pii,
        "ts_source_mix": _q_source_mix,
        "ts_winnow_fp": _q_winnow_fp,
        "dd_winnow_pairs": _q_winnow_pairs,
        "dd_lsh_pairs_capped": _q_lsh_pairs_capped,
        "dd_jaccard_pairs_capped": _q_jaccard_pairs_capped,
        "dd_dup_spans": _q_dup_spans,
        "dd_remove_dup_spans": _q_remove_dup_spans,
        "dd_lsh_jaccard_verified": _q_lsh_jaccard_verified,
        "dd_simhash": _q_simhash,
        "pp_sample": _q_sample,
        "pp_quality_quantile": _q_quality_quantile,
        "pp_url_dedup": _q_url_dedup,
        "pp_para_dedup": _q_para_dedup,
        "pp_nb_quality": _q_nb_quality,
        "pp_dsir_weights": _q_dsir_weights,
        "pp_dsir_select": _q_dsir_select,
        "pp_lm_score": _q_lm_score,
        "pp_lm_filter": _q_lm_filter,
        "pp_lm_buckets": _q_lm_buckets,
        "pp_lm_buckets_lang": _q_lm_buckets_lang,
        "pp_c4_clean": _q_c4_clean,
        # --- code changed in round 5: fresh driver row required ---
        "ft_near": _q_near,
        "ft_phrase": _q_phrase,
        "pp_clean": _q_pipeline_clean,
        "ts_gopher_rep": _q_gopher_rep,
        "src_warc_roundtrip": _q_warc_roundtrip,
        # --- representative core (slots 35-50) ---
        "ft_term_doc_tf": _q_term_doc_tf,
        "ft_df_idf": _q_df_idf,
        "ft_bool_and": _q_bool_and,
        "ft_bool_or": _q_bool_or,
        "ft_bool_and_not": _q_bool_and_not,
        "ft_tfidf_topk": _q_tfidf_topk,
        "ft_bm25_topk": _q_bm25_topk,
        "ft_corpus_stats": _q_corpus_stats,
        "ft_doc_ids": _q_doc_ids,
        "ts_lang_id": _q_lang_id,
        "ts_quality": _q_quality,
        "ts_gopher": _q_gopher,
        "dd_exact": _q_dedup_exact,
        "dd_minhash_sigs": _q_minhash_sigs,
        "dd_lsh_pairs": _q_lsh_pairs,
        "dd_clusters": _q_clusters,
        # --- past the driver window; all have green CORRECTNESS_r04 rows ---
        "ts_nfc": _q_nfc,
        "ts_bpe_counts": _q_bpe_counts,
        "pp_pack_shards": _q_pack_shards,
        "pp_decontaminate": _q_decontaminate,
        "pp_badwords": _q_badwords,
        "pp_url_filter": _q_url_filter,
        "dd_jaccard_pairs": _q_jaccard_pairs,
        "ft_heaps_curve": _q_heaps_curve,
        "ev_pr_curve": _q_pr_curve,
        "ev_value_percentiles": _q_value_percentiles,
        "lg_degrees": _q_lg_degrees,
        "lg_pagerank": _q_lg_pagerank,
        "ix_spell_suggest": _q_spell_suggest,
        "ix_complete_prefix": _q_complete_prefix,
        "ix_engine_bm25_topk": _q_engine_bm25,
        "ix_engine_bm25_nostem": _q_engine_bm25_nostem,
        "ix_engine_bm25_deleted": _q_engine_bm25_deleted,
        "ix_engine_bm25_purged": _q_engine_bm25_purged,
    }


# ---------------------------------------------------------- oracle SQL

def oracle_sql() -> dict[str, str]:
    en = ", ".join(f"'{w}'" for w in LANG_MARKERS["en"])
    # CAST: DuckDB sum(int) is HUGEINT — hash-mismatches Spark's LONG
    langs_hits = ",\n        ".join(
        "CAST(sum(CASE WHEN lower(term) IN ({}) THEN 1 ELSE 0 END) "
        "AS BIGINT) AS hits_{}"
        .format(", ".join(f"'{w}'" for w in ws), la)
        for la, ws in LANG_MARKERS.items())
    best = ("greatest(" + ", ".join(f"hits_{la}" for la in LANG_MARKERS)
            + ")")
    # lang_pred: greatest hits, ties by LANG_MARKERS declaration order
    pred = (f"CASE WHEN {best} = 0 THEN 'und' " + " ".join(
        f"WHEN hits_{la} = {best} THEN '{la}'" for la in LANG_MARKERS
    ) + " ELSE 'und' END")
    alnum = ("len(list_filter(string_split_regex(text, "
             f"'{SQL_TOKEN_SPLIT}'), t -> t <> ''))")
    sample_case = ("CASE source " + " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in PP_SAMPLE_RATES.items())
        + " END")
    phrase_words = PHRASE_QUERY.split()
    phrase_pred = " AND ".join(
        f"l[i+{j}] = '{w}'" for j, w in enumerate(phrase_words))
    mh = ",\n        ".join(
        f"min(md5('{i}:' || term)) AS mh{i}" for i in range(dedup.MINHASH_K))
    rpb = dedup.MINHASH_K // dedup.LSH_BANDS
    band_exprs = ", ".join(
        "md5({}) AS band{}".format(
            " || '|' || ".join(f"mh{b * rpb + j}" for j in range(rpb)), b)
        for b in range(dedup.LSH_BANDS))
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, band{b} AS band_hash FROM bands"
        for b in range(dedup.LSH_BANDS))

    def lsh_pairs_sql(max_bucket: int | None) -> str:
        # capped: drop band buckets above the cap BEFORE the
        # self-join — the SQL twin of minhash_lsh_pairs' hot-bucket
        # broadcast anti-join
        cap_ctes, rel = "", "bb"
        if max_bucket is not None:
            cap_ctes = f""",
            hot AS (SELECT band_id, band_hash FROM bb
                    GROUP BY band_id, band_hash
                    HAVING count(*) > {max_bucket}),
            bbk AS (SELECT bb.* FROM bb
                    ANTI JOIN hot USING (band_id, band_hash))"""
            rel = "bbk"
        return f"""
            WITH toks AS (
              SELECT DISTINCT doc_id, term FROM ({_SQL_TOKS_NE})
              WHERE doc_id < {PAIR_DOC_LIMIT}),
            sigs AS (SELECT doc_id, {mh} FROM toks GROUP BY doc_id),
            bands AS (SELECT doc_id, {band_exprs} FROM sigs),
            bb AS ({band_union}){cap_ctes}
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM {rel} a JOIN {rel} b
              ON a.band_id = b.band_id AND a.band_hash = b.band_hash
            WHERE a.doc_id < b.doc_id"""

    def jaccard_pairs_sql(max_shingle_df: int | None) -> str:
        # capped: shingles over the df cap leave the relation before
        # sizes AND the intersection join (consistent retained sets)
        cap_ctes, rel = "", "sh"
        if max_shingle_df is not None:
            cap_ctes = f""",
            df_t AS (SELECT shingle FROM sh GROUP BY shingle
                     HAVING count(*) > {max_shingle_df}),
            shc AS (SELECT sh.* FROM sh ANTI JOIN df_t USING (shingle))"""
            rel = "shc"
        return f"""
            WITH arrs AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                         '{SQL_TOKEN_SPLIT}'), t -> t <> '') AS toks
              FROM documents WHERE doc_id < {PAIR_DOC_LIMIT}),
            sh AS (
              SELECT DISTINCT doc_id,
                     toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                         AS shingle
              FROM arrs, unnest(generate_series(1, len(toks) - 2)) AS g(i)
              WHERE len(toks) >= 3){cap_ctes},
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM {rel}
                      GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS inter
              FROM {rel} a JOIN {rel} b ON a.shingle = b.shingle
              WHERE a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
            SELECT doc_a, doc_b, inter,
                   sa.n_sh AS size_a, sb.n_sh AS size_b,
                   round(inter * 1.0
                         / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE round(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 6)
                  >= 0.15"""

    return {
        "ft_term_doc_tf": _SQL_TF,
        "ft_doc_token_counts": f"""
            SELECT doc_id,
                   len(string_split_regex(trim(text),
                       '{textstats.WS_SPLIT_RE}')) AS ws_tokens,
                   {alnum} AS alnum_tokens,
                   len(regexp_extract_all(text,
                       '{textstats.BPE_SPLIT_RE}')) AS bpe_tokens,
                   length(text) AS n_chars
            FROM documents""",
        "ft_df_idf": f"""
            WITH tf AS ({_SQL_TF}),
                 n AS (SELECT count(*) AS n_docs FROM documents)
            SELECT term, count(*) AS df,
                   round(ln(n.n_docs / count(*)), 6) AS idf
            FROM tf, n GROUP BY term, n.n_docs""",
        "ft_top_terms": f"""
            SELECT term, count(*) AS cnt FROM ({_SQL_TOKS_NE})
            GROUP BY term ORDER BY cnt DESC, term ASC LIMIT 50""",
        "ft_bool_and": f"""
            WITH tf AS ({_SQL_TF})
            SELECT doc_id FROM tf WHERE term = '{AND_TERMS[0]}'
            INTERSECT SELECT doc_id FROM tf WHERE term = '{AND_TERMS[1]}'
            ORDER BY doc_id""",
        "ft_bool_or": f"""
            WITH tf AS ({_SQL_TF})
            SELECT doc_id FROM tf WHERE term = '{AND_TERMS[0]}'
            UNION SELECT doc_id FROM tf WHERE term = '{AND_TERMS[1]}'
            ORDER BY doc_id""",
        "ft_bool_and_not": f"""
            WITH tf AS ({_SQL_TF})
            SELECT doc_id FROM tf WHERE term = '{AND_TERMS[0]}'
            EXCEPT SELECT doc_id FROM tf WHERE term = '{AND_TERMS[1]}'
            ORDER BY doc_id""",
        "ft_tfidf_topk": f"""
            WITH tf AS ({_SQL_TF}),
                 n AS (SELECT count(*) AS n_docs FROM documents),
                 dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
            SELECT tf.doc_id,
                   round(sum(ln(n.n_docs / dfs.df) * (1 + ln(tf.tf))), 6)
                       AS score
            FROM tf JOIN dfs USING (term), n
            WHERE tf.term IN ('data','query','stream')
            GROUP BY tf.doc_id
            ORDER BY score DESC, doc_id ASC LIMIT 20""",
        "ft_bm25_topk": f"""
            WITH tf AS ({_SQL_TF}),
                 n AS (SELECT count(*) AS n_docs FROM documents),
                 dls AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
                 ad AS (SELECT sum(dl) * 1.0 / count(*) AS avgdl FROM dls),
                 dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
            SELECT tf.doc_id,
                   round(sum(
                     ln((n.n_docs - dfs.df + 0.5) / (dfs.df + 0.5) + 1)
                     * (tf.tf * ({K1} + 1))
                     / (tf.tf + {K1} * (1 - {B} + {B} * dls.dl / ad.avgdl))
                   ), 6) AS score
            FROM tf JOIN dfs USING (term) JOIN dls USING (doc_id), n, ad
            WHERE tf.term IN ('data','query','stream')
            GROUP BY tf.doc_id
            ORDER BY score DESC, doc_id ASC LIMIT 20""",
        "ft_corpus_stats": f"""
            SELECT (SELECT count(*) FROM documents) AS n_docs,
                   (SELECT count(DISTINCT term) FROM ({_SQL_TOKS_NE}))
                       AS vocabulary,
                   (SELECT count(*) FROM ({_SQL_TOKS_NE})) AS n_tokens""",
        "ft_doc_ids": """
            SELECT doc_id AS orig_id,
                   source || '/' || CAST(doc_id AS VARCHAR) AS url,
                   CAST(row_number() OVER (
                        ORDER BY source || '/' || CAST(doc_id AS VARCHAR))
                        AS INT) AS rn
            FROM documents""",
        "ts_lang_id": f"""
            SELECT doc_id,
                   {', '.join(f'hits_{la}' for la in LANG_MARKERS)},
                   {pred} AS lang_pred
            FROM (SELECT doc_id, {langs_hits}
                  FROM ({_SQL_TOKS_NE}) GROUP BY doc_id)""",
        "ts_quality": f"""
            WITH t AS (
              SELECT doc_id,
                     {alnum} AS n_tokens,
                     length(text) AS n_chars,
                     length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                         AS n_alpha,
                     len(list_filter(string_split_regex(text,
                         '{SQL_TOKEN_SPLIT}'),
                         t -> lower(t) IN ({en}))) AS n_stop
              FROM documents)
            SELECT doc_id, n_tokens,
                   round(n_alpha * 1.0 / greatest(n_chars, 1), 6)
                       AS alpha_ratio,
                   round(n_stop * 1.0 / greatest(n_tokens, 1), 6)
                       AS stopword_ratio,
                   round(n_alpha * 1.0 / greatest(n_tokens, 1), 6)
                       AS avg_token_len,
                   round(0.4 * round(n_alpha * 1.0 / greatest(n_chars, 1), 6)
                       + 0.4 * round(n_stop * 1.0 / greatest(n_tokens, 1), 6)
                       + 0.2 * least(n_tokens / 100.0, 1.0), 6) AS quality
            FROM t""",
        "ts_fingerprint": f"""
            SELECT doc_id, md5(text) AS exact_md5,
                   md5(lower(array_to_string(list_filter(
                       string_split_regex(text, '{SQL_TOKEN_SPLIT}'),
                       t -> t <> ''), ' '))) AS norm_fingerprint
            FROM documents""",
        "ts_repetition": f"""
            WITH base AS (
              SELECT doc_id,
                     list_filter(list_transform(
                         string_split(text, chr(10)), l -> trim(l)),
                         l -> l <> '') AS lines,
                     list_transform(list_filter(string_split_regex(
                         text, '{SQL_TOKEN_SPLIT}'), t -> t <> ''),
                         t -> lower(t)) AS toks
              FROM documents),
            bg AS (
              SELECT doc_id, lines,
                     CASE WHEN len(toks) >= 2 THEN
                       list_transform(range(1, len(toks)),
                                      i -> toks[i] || ' ' || toks[i+1])
                     ELSE [] END AS bigrams
              FROM base),
            lc AS (
              SELECT doc_id, line, count(*) AS c, length(line) AS ln
              FROM (SELECT doc_id, unnest(lines) AS line FROM bg) t
              GROUP BY doc_id, line),
            la AS (
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
                     CAST(count(*) AS BIGINT) AS n_distinct,
                     CAST(coalesce(sum(CASE WHEN c >= 2
                                       THEN c * ln END), 0) AS BIGINT)
                         AS dup_chars,
                     CAST(sum(c * ln) AS BIGINT) AS total_chars
              FROM lc GROUP BY doc_id),
            bgc AS (
              SELECT doc_id, g, count(*) AS c
              FROM (SELECT doc_id, unnest(bigrams) AS g FROM bg) t
              GROUP BY doc_id, g),
            bca AS (
              SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bg,
                     CAST(sum(c) AS BIGINT) AS n_bg
              FROM bgc GROUP BY doc_id)
            SELECT b.doc_id,
                   coalesce(la.n_lines, 0) AS n_lines,
                   round((coalesce(la.n_lines, 0)
                          - coalesce(la.n_distinct, 0)) * 1.0
                         / greatest(coalesce(la.n_lines, 0), 1), 6)
                       AS dup_line_frac,
                   round(coalesce(la.dup_chars, 0) * 1.0
                         / greatest(coalesce(la.total_chars, 0), 1), 6)
                       AS dup_line_char_frac,
                   coalesce(bca.n_bg, 0) AS n_bigrams,
                   round(coalesce(bca.top_bg, 0) * 1.0
                         / greatest(coalesce(bca.n_bg, 0), 1), 6)
                       AS top_bigram_frac
            FROM bg b
            LEFT JOIN la ON b.doc_id = la.doc_id
            LEFT JOIN bca ON b.doc_id = bca.doc_id""",
        "pp_decontaminate": f"""
            WITH toksd AS (
              SELECT doc_id,
                     list_transform(list_filter(string_split_regex(
                         text, '{SQL_TOKEN_SPLIT}'), t -> t <> ''),
                         t -> lower(t)) AS toks
              FROM documents),
            grams AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= {DECON_N} THEN
                       list_transform(
                         range(1, len(toks) - {DECON_N} + 2),
                         i -> array_to_string(
                             toks[i:i+{DECON_N}-1], ' '))
                     ELSE [] END AS grams
              FROM toksd),
            bench AS (
              SELECT DISTINCT unnest(grams) AS gram FROM grams
              WHERE doc_id % {DECON_BENCH_MOD} = 0),
            train AS (
              SELECT doc_id, unnest(list_distinct(grams)) AS gram
              FROM grams WHERE doc_id % {DECON_BENCH_MOD} <> 0)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
            FROM train JOIN bench USING (gram)
            GROUP BY doc_id""",
        "ts_pii": f"""
            WITH s1 AS (
              SELECT doc_id,
                     CAST(len(regexp_extract_all(text,
                         '{PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
                     regexp_replace(text, '{PII_EMAIL_RE}',
                                    '<EMAIL>', 'g') AS t1
              FROM documents),
            s2 AS (
              SELECT doc_id, n_emails,
                     CAST(len(regexp_extract_all(t1,
                         '{PII_IPV4_RE}')) AS BIGINT) AS n_ips,
                     regexp_replace(t1, '{PII_IPV4_RE}',
                                    '<IP>', 'g') AS t2
              FROM s1)
            SELECT doc_id, n_emails, n_ips,
                   CAST(len(regexp_extract_all(t2,
                       '{PII_PHONE_RE}')) AS BIGINT) AS n_phones,
                   regexp_replace(t2, '{PII_PHONE_RE}',
                                  '<PHONE>', 'g') AS scrubbed_text
            FROM s2""",
        "ts_source_mix": f"""
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(list_filter(string_split_regex(text,
                       '{SQL_TOKEN_SPLIT}'), t -> t <> '')))
                       AS BIGINT) AS n_tokens,
                   CAST(sum(length(text)) AS BIGINT) AS n_chars
            FROM documents GROUP BY source""",
        # cross-engine pin of Unicode NFC itself (DuckDB native)
        "ts_nfc": """
            SELECT doc_id, nfc_normalize(text) AS text_norm,
                   CAST(nfc_normalize(text) <> text AS INT)
                       AS changed
            FROM documents ORDER BY doc_id""",
        "ts_winnow_fp": f"""
            WITH {_sql_winnow_fp_cte()}
            SELECT doc_id, fp FROM fpt""",
        "dd_winnow_pairs": f"""
            WITH {_sql_winnow_fp_cte(
                f"doc_id < {PAIR_DOC_LIMIT} AND ")},
            hot AS (SELECT fp FROM fpt GROUP BY fp
                    HAVING count(*) > {WINNOW_FP_DF_CAP}),
            fpk AS (SELECT fpt.* FROM fpt ANTI JOIN hot USING (fp))
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS overlap
            FROM fpk a JOIN fpk b USING (fp)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING count(*) >= {WINNOW_MIN_OVERLAP}""",
        "dd_exact": """
            SELECT md5(text) AS h, count(*) AS n_dups,
                   min(doc_id) AS keep_id
            FROM documents GROUP BY md5(text) HAVING count(*) > 1""",
        "dd_minhash_sigs": f"""
            SELECT doc_id, {mh}
            FROM (SELECT DISTINCT doc_id, term FROM ({_SQL_TOKS_NE}))
            GROUP BY doc_id""",
        "dd_lsh_pairs": lsh_pairs_sql(None),
        "dd_lsh_pairs_capped": lsh_pairs_sql(LSH_MAX_BUCKET),
        # incremental = full LSH pairs restricted to ≥1 batch-side
        # (doc_id % 4 = 0) member — the Spark path computes this
        # from a persisted store + broadcast probe, never a self-join
        "dd_incremental_pairs": f"""
            SELECT * FROM ({lsh_pairs_sql(None)})
            WHERE doc_a % 4 = 0 OR doc_b % 4 = 0""",
        "dd_lsh_jaccard_verified": f"""
            WITH cands AS ({lsh_pairs_sql(LSH_MAX_BUCKET)}),
            arrs AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                         '{SQL_TOKEN_SPLIT}'), t -> t <> '') AS toks
              FROM documents WHERE doc_id < {PAIR_DOC_LIMIT}),
            sh AS (
              SELECT DISTINCT doc_id,
                     toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                         AS shingle
              FROM arrs, unnest(generate_series(1, len(toks) - 2))
                   AS g(i)
              WHERE len(toks) >= 3),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh
                      GROUP BY doc_id),
            inter AS (
              SELECT c.doc_a, c.doc_b, count(*) AS inter
              FROM cands c
              JOIN sh a ON a.doc_id = c.doc_a
              JOIN sh b ON b.doc_id = c.doc_b
                       AND b.shingle = a.shingle
              GROUP BY c.doc_a, c.doc_b)
            SELECT doc_a, doc_b, inter,
                   sa.n_sh AS size_a, sb.n_sh AS size_b,
                   round(inter * 1.0
                         / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE round(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 6)
                  >= 0.15""",
        "dd_jaccard_pairs": jaccard_pairs_sql(None),
        "dd_jaccard_pairs_capped": jaccard_pairs_sql(JACCARD_DF_CAP),
        # shard packing: the oracle IS the one-partition window
        # cumsum the distributed two-phase scheme must equal
        "pp_pack_shards": f"""
            WITH t AS (
              SELECT doc_id,
                     CAST(len(list_filter(string_split_regex(
                         text, '{SQL_TOKEN_SPLIT}'), t -> t <> ''))
                       AS BIGINT) AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id, n_tokens,
                     CAST(sum(n_tokens) OVER (ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT)
                         AS cum_tokens
              FROM t)
            SELECT doc_id, n_tokens, cum_tokens,
                   CAST((cum_tokens - n_tokens) // {PACK_BUDGET}
                     AS BIGINT) AS shard
            FROM c""",
        # dup-span coverage: the oracle expands each covered position
        # (generate_series, inclusive) and counts DISTINCT — the
        # naive union-of-intervals that validates Spark's
        # sorted-starts interval-merge fold
        "dd_dup_spans": f"""
            WITH toksd AS (
              SELECT doc_id,
                     list_transform(list_filter(string_split_regex(
                         text, '{SQL_TOKEN_SPLIT}'), t -> t <> ''),
                         t -> lower(t)) AS toks
              FROM documents),
            grams AS (
              SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                     CASE WHEN len(toks) >= {DUPSPAN_N} THEN
                       list_transform(
                         range(1, len(toks) - {DUPSPAN_N} + 2),
                         i -> array_to_string(
                             toks[i:i+{DUPSPAN_N}-1], ' '))
                     ELSE [] END AS grams
              FROM toksd),
            pos AS (
              SELECT doc_id, unnest(grams) AS gram,
                     generate_subscripts(grams, 1) AS pos
              FROM grams),
            dup AS (
              SELECT gram FROM pos
              GROUP BY gram HAVING count(*) >= 2),
            cov AS (
              SELECT doc_id,
                     CAST(count(DISTINCT pos) AS BIGINT) AS dup_grams,
                     CAST(count(DISTINCT p) AS BIGINT)
                         AS covered_tokens
              FROM (SELECT doc_id, pos,
                           unnest(generate_series(
                               pos, pos + {DUPSPAN_N} - 1)) AS p
                    FROM pos JOIN dup USING (gram)) t
              GROUP BY doc_id)
            SELECT g.doc_id, g.n_tokens,
                   CAST(coalesce(cov.dup_grams, 0) AS BIGINT)
                       AS dup_grams,
                   CAST(coalesce(cov.covered_tokens, 0) AS BIGINT)
                       AS covered_tokens,
                   round(coalesce(cov.covered_tokens, 0)
                         / greatest(g.n_tokens, 1), 6)
                       AS dup_span_frac
            FROM grams g LEFT JOIN cov USING (doc_id)""",
        # ExactSubstr removal: gram first-occurrence exemption via
        # row_number over (doc_id, pos); covered positions expanded
        # with generate_series; clean_text rebuilt with an ordered
        # string_agg over the surviving original-case tokens
        "dd_remove_dup_spans": f"""
            WITH toksd AS (
              SELECT doc_id,
                     list_filter(string_split_regex(
                         text, '{SQL_TOKEN_SPLIT}'),
                         t -> t <> '') AS otoks
              FROM documents),
            lowd AS (
              SELECT doc_id,
                     list_transform(otoks, t -> lower(t)) AS toks
              FROM toksd),
            gramsd AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= {DUPSPAN_N} THEN
                       list_transform(
                         range(1, len(toks) - {DUPSPAN_N} + 2),
                         i -> array_to_string(
                             toks[i:i+{DUPSPAN_N}-1], ' '))
                     ELSE [] END AS grams
              FROM lowd),
            pos AS (
              SELECT doc_id, unnest(grams) AS gram,
                     generate_subscripts(grams, 1) AS pos
              FROM gramsd),
            ranked AS (
              SELECT doc_id, pos,
                     count(*) OVER (PARTITION BY gram) AS occ,
                     row_number() OVER (PARTITION BY gram
                                        ORDER BY doc_id, pos) AS rn
              FROM pos),
            cov AS (
              SELECT DISTINCT doc_id, p FROM (
                SELECT doc_id,
                       unnest(generate_series(
                           pos, pos + {DUPSPAN_N} - 1)) AS p
                FROM ranked WHERE occ >= 2 AND rn >= 2) x),
            toku AS (
              SELECT doc_id, unnest(otoks) AS tok,
                     generate_subscripts(otoks, 1) AS i
              FROM toksd),
            kept AS (
              SELECT t.doc_id, CAST(count(*) AS BIGINT) AS kc,
                     string_agg(t.tok, ' ' ORDER BY t.i) AS ct
              FROM toku t
              LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.i = c.p
              WHERE c.p IS NULL
              GROUP BY t.doc_id)
            SELECT d.doc_id,
                   CAST(len(d.otoks) AS BIGINT) AS n_tokens,
                   coalesce(k.kc, 0) AS kept_tokens,
                   coalesce(k.ct, '') AS clean_text
            FROM toksd d LEFT JOIN kept k USING (doc_id)
            ORDER BY doc_id""",
        # WARC round-trip: the expected relation straight from the
        # documents table (url = source/doc_id, capture ts = the
        # 2020-01-01 epoch, payload = the text bytes)
        "src_warc_roundtrip": """
            SELECT source || '/' || CAST(doc_id AS VARCHAR) AS url,
                   CAST(1577836800 AS BIGINT) AS warc_epoch,
                   CAST(octet_length(encode(text)) AS BIGINT)
                       AS n_bytes,
                   md5(text) AS text_md5,
                   lang
            FROM documents ORDER BY url""",
        "dd_simhash": f"""
            WITH {_sql_simhash()}
            SELECT d.doc_id, coalesce(s.simhash, 0) AS simhash
            FROM documents d LEFT JOIN sim_t s USING (doc_id)""",
        "dd_simhash_pairs": f"""
            WITH {_sql_simhash(f"WHERE doc_id < {PAIR_DOC_LIMIT}")},
            pd AS (SELECT doc_id FROM documents
                   WHERE doc_id < {PAIR_DOC_LIMIT}),
            s AS (SELECT d.doc_id, coalesce(t.simhash, 0) AS simhash
                  FROM pd d LEFT JOIN sim_t t USING (doc_id))
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT)
                       AS hamming
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 6""",
        "dd_clusters": f"""
            WITH RECURSIVE {_sql_simhash(
                f"WHERE doc_id < {PAIR_DOC_LIMIT}")},
            pd AS (SELECT doc_id FROM documents
                   WHERE doc_id < {PAIR_DOC_LIMIT}),
            s AS (SELECT d.doc_id, coalesce(t.simhash, 0) AS simhash
                  FROM pd d LEFT JOIN sim_t t USING (doc_id)),
            pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                      FROM s a JOIN s b ON a.doc_id < b.doc_id
                      WHERE bit_count(xor(a.simhash, b.simhash)) <= 6),
            {_SQL_CCOMP}
            SELECT doc_id, canonical FROM canon ORDER BY doc_id""",
        "pp_clean": f"""
            WITH RECURSIVE
            hq AS (SELECT doc_id, {langs_hits}
                   FROM ({_SQL_TOKS_NE})
                   WHERE doc_id < {PAIR_DOC_LIMIT}
                   GROUP BY doc_id),
            langq AS (
              SELECT d.doc_id, {pred} AS lang_pred,
                     round(0.4 * round(n_alpha * 1.0
                               / greatest(n_chars, 1), 6)
                         + 0.4 * round(n_stop * 1.0
                               / greatest(n_tokens, 1), 6)
                         + 0.2 * least(n_tokens / 100.0, 1.0), 6)
                         AS quality
              FROM (SELECT doc_id,
                           {alnum} AS n_tokens,
                           length(text) AS n_chars,
                           length(regexp_replace(text, '[^a-zA-Z]',
                                                 '', 'g')) AS n_alpha,
                           len(list_filter(string_split_regex(text,
                               '{SQL_TOKEN_SPLIT}'),
                               t -> lower(t) IN ({en}))) AS n_stop
                    FROM documents
                    WHERE doc_id < {PAIR_DOC_LIMIT}) d
              JOIN hq USING (doc_id)),
            keep1 AS (SELECT doc_id FROM langq
                      WHERE lang_pred = 'en'
                        AND quality >= {PP_MIN_QUALITY}),
            keep2 AS (SELECT doc_id FROM (
                SELECT d.doc_id,
                       row_number() OVER (PARTITION BY md5(d.text)
                                          ORDER BY d.doc_id) AS rn
                FROM documents d JOIN keep1 USING (doc_id)) t
                WHERE rn = 1),
            {_sql_simhash(
                "WHERE doc_id IN (SELECT doc_id FROM keep2)")},
            pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                      FROM sim_t a JOIN sim_t b
                        ON a.doc_id < b.doc_id
                      WHERE bit_count(xor(a.simhash, b.simhash)) <= 6),
            {_SQL_CCOMP}
            SELECT k.doc_id, l.lang_pred, l.quality
            FROM keep2 k JOIN langq l USING (doc_id)
            WHERE k.doc_id NOT IN (SELECT doc_id FROM canon
                                   WHERE doc_id <> canonical)
            ORDER BY doc_id""",
        "pp_sample": f"""
            SELECT doc_id, source FROM documents
            WHERE {sample_case} IS NOT NULL
              AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                      ::UBIGINT / 4294967296.0
                  < {sample_case}
            ORDER BY doc_id""",
        "pp_quality_quantile": f"""
            WITH t AS (
              SELECT doc_id, source,
                     round(0.4 * round(n_alpha * 1.0
                               / greatest(n_chars, 1), 6)
                         + 0.4 * round(n_stop * 1.0
                               / greatest(n_tokens, 1), 6)
                         + 0.2 * least(n_tokens / 100.0, 1.0), 6)
                         AS quality
              FROM (SELECT doc_id, source,
                           {alnum} AS n_tokens,
                           length(text) AS n_chars,
                           length(regexp_replace(text, '[^a-zA-Z]',
                                                 '', 'g')) AS n_alpha,
                           len(list_filter(string_split_regex(text,
                               '{SQL_TOKEN_SPLIT}'),
                               t -> lower(t) IN ({en}))) AS n_stop
                    FROM documents) d),
            r AS (SELECT *,
                         row_number() OVER (PARTITION BY source
                             ORDER BY quality DESC, doc_id) AS rk,
                         count(*) OVER (PARTITION BY source) AS n
                  FROM t)
            SELECT doc_id, source, quality FROM r
            WHERE rk <= ceil(n * {PP_QUANTILE_KEEP})
            ORDER BY doc_id""",
        # NB training recomputed relationally: Laplace-smoothed
        # log-likelihood ratios over the joint vocabulary, prior =
        # ln(n_pos/n_neg); OOV terms contribute nothing (inner join)
        "pp_nb_quality": f"""
            WITH ptok AS (
              SELECT term, count(*) AS cp FROM ({_SQL_TOKS_NE})
              WHERE doc_id % 7 = 0 GROUP BY term),
            ntok AS (
              SELECT term, count(*) AS cn FROM ({_SQL_TOKS_NE})
              WHERE doc_id % 7 = 3 GROUP BY term),
            counts AS (
              SELECT coalesce(p.term, n.term) AS term,
                     coalesce(cp, 0) AS cp, coalesce(cn, 0) AS cn
              FROM ptok p FULL OUTER JOIN ntok n ON p.term = n.term),
            stats AS (SELECT count(*) AS v, sum(cp) AS tp,
                             sum(cn) AS tn FROM counts),
            model AS (
              SELECT term,
                     ln((cp + 1) / (tp + v)::DOUBLE)
                   - ln((cn + 1) / (tn + v)::DOUBLE) AS llr
              FROM counts, stats),
            prior AS (
              SELECT ln((SELECT count(*) FROM documents
                         WHERE doc_id % 7 = 0)::DOUBLE
                      / (SELECT count(*) FROM documents
                         WHERE doc_id % 7 = 3)) AS p),
            tf AS ({_SQL_TF}),
            s AS (SELECT doc_id, sum(tf * llr) AS s
                  FROM tf JOIN model USING (term) GROUP BY doc_id)
            SELECT d.doc_id,
                   round(coalesce(s.s, 0) + prior.p, 6) AS nb_score
            FROM (SELECT DISTINCT doc_id FROM documents) d
            LEFT JOIN s USING (doc_id), prior""",
        "pp_dsir_weights": f"""
            WITH {_sql_dsir_ctes()}
            SELECT doc_id, lw FROM weights ORDER BY doc_id""",
        # Gumbel key from md5('dsir:'+id) — deterministic, so the
        # top-k sample is engine-reproducible; round-6 BEFORE the
        # rank, doc_id tie-break (pp_quality_quantile convention)
        "ts_gopher_rep": _sql_gopher_rep(),
        # Gopher A1: identical word/line splits, regexes, thresholds
        "ts_gopher": f"""
            WITH g AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(text, '\\s+'),
                                 w -> w <> '') AS words,
                     list_filter(list_transform(
                         string_split(text, chr(10)), l -> trim(l)),
                         l -> l <> '') AS lines,
                     list_transform(list_filter(string_split_regex(
                         text, '{SQL_TOKEN_SPLIT}'), t -> t <> ''),
                         t -> lower(t)) AS toks
              FROM documents),
            f AS (
              SELECT doc_id,
                CAST(len(words) AS BIGINT) AS n_words,
                greatest(len(words), 1)::DOUBLE AS wdiv,
                greatest(len(lines), 1)::DOUBLE AS ldiv,
                coalesce(list_sum(list_transform(
                    words, w -> length(w))), 0)::DOUBLE AS wlen,
                (length(text)
                 - length(replace(text, '#', '')))::DOUBLE AS n_hash,
                len(regexp_extract_all(
                    text, '{textstats.ELLIPSIS_RE}'))::DOUBLE AS n_ell,
                len(list_filter(lines, l ->
                    regexp_matches(l, '^[•\\-\\*]')))::DOUBLE AS bul,
                len(list_filter(lines, l -> regexp_matches(
                    l, '{textstats.ELLIPSIS_RE}$')))::DOUBLE AS ele,
                len(list_filter(words, w -> regexp_matches(
                    w, '[A-Za-z]')))::DOUBLE AS alp,
                CAST(len(list_filter(
                    {list(textstats.GOPHER_STOPWORDS)},
                    s -> list_contains(toks, s))) AS BIGINT)
                    AS stop_hits
              FROM g),
            s AS (
              SELECT doc_id, n_words,
                     round(wlen / wdiv, 6) AS mean_word_len,
                     round(n_hash / wdiv, 6) AS hash_ratio,
                     round(n_ell / wdiv, 6) AS ellipsis_ratio,
                     round(bul / ldiv, 6) AS bullet_line_frac,
                     round(ele / ldiv, 6) AS ellipsis_line_frac,
                     round(alp / wdiv, 6) AS alpha_word_frac,
                     stop_hits
              FROM f)
            SELECT *,
              CASE WHEN n_words >= {textstats.GOPHER_MIN_WORDS}
                    AND n_words <= {textstats.GOPHER_MAX_WORDS}
                    AND mean_word_len
                        >= {textstats.GOPHER_MIN_MEAN_WORD_LEN}
                    AND mean_word_len
                        <= {textstats.GOPHER_MAX_MEAN_WORD_LEN}
                    AND hash_ratio
                        <= {textstats.GOPHER_MAX_SYMBOL_RATIO}
                    AND ellipsis_ratio
                        <= {textstats.GOPHER_MAX_SYMBOL_RATIO}
                    AND bullet_line_frac
                        <= {textstats.GOPHER_MAX_BULLET_LINE_FRAC}
                    AND ellipsis_line_frac
                        <= {textstats.GOPHER_MAX_ELLIPSIS_LINE_FRAC}
                    AND alpha_word_frac
                        >= {textstats.GOPHER_MIN_ALPHA_WORD_FRAC}
                    AND stop_hits >= {textstats.GOPHER_MIN_STOP_HITS}
                   THEN 1 ELSE 0 END AS keep
            FROM s ORDER BY doc_id""",
        # C4 rules: same trimmed-line split, kept-line regexes, and
        # sentence-end count; page gates on the RAW text (paper
        # wording: "any page that contained")
        # RefinedWeb URL rules: identical host extraction regexes,
        # dot-boundary domain suffix match, substring word scoring
        "pp_url_filter": f"""
            WITH p AS (
              SELECT doc_id,
                     lower(trim(source || '/' || CAST(doc_id AS VARCHAR)))
                       AS u
              FROM documents),
            h AS (
              SELECT doc_id, u,
                     regexp_replace(
                       CASE WHEN regexp_extract(u,
                              '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) = ''
                            THEN regexp_extract(u, '^([^/]+)', 1)
                            ELSE regexp_extract(u,
                              '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)
                       END, '^www\\.', '') AS host
              FROM p),
            f AS (
              SELECT doc_id, host,
                     CASE WHEN {" OR ".join(
                         f"host = '{d}' OR host LIKE '%.{d}'"
                         for d in sorted(set(PP_URL_BLOCKED)))}
                          THEN 1 ELSE 0 END AS domain_blocked,
                     CAST({" + ".join(
                         f"CASE WHEN u LIKE '%{w}%' THEN 1 ELSE 0 END"
                         for w in sorted(set(PP_URL_BANNED)))}
                       AS BIGINT) AS url_word_hits
              FROM h)
            SELECT doc_id, host, domain_blocked, url_word_hits,
                   CASE WHEN domain_blocked = 0 AND url_word_hits = 0
                        THEN 1 ELSE 0 END AS url_keep
            FROM f""",
        # C4 bad-words rule: identical word split, punctuation strip,
        # and blocklist; 'g' flag = replace-all like Spark's
        # regexp_replace
        "pp_badwords": f"""
            WITH w AS (
              SELECT doc_id,
                     list_transform(
                       string_split_regex(trim(text), '\\s+'),
                       x -> regexp_replace(lower(x),
                            '^[^a-z0-9]+|[^a-z0-9]+$', '', 'g')) AS ws
              FROM documents)
            SELECT doc_id,
                   CAST(len(list_filter(ws, x -> list_contains(
                       [{', '.join(repr(b) for b in sorted(set(PP_BADWORDS)))}], x)))
                     AS BIGINT) AS bad_hits,
                   CASE WHEN len(list_filter(ws, x -> list_contains(
                       [{', '.join(repr(b) for b in sorted(set(PP_BADWORDS)))}], x))) = 0
                        THEN 1 ELSE 0 END AS bad_keep
            FROM w""",
        "pp_c4_clean": f"""
            WITH c4d AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 17 = 0
                          THEN chr(123) || ' ' ELSE '' END ||
                     replace(replace(replace(text,
                         ' batch ', '.' || chr(10)),
                         ' stream ', '…' || chr(10)),
                         ' slow ', ' javascript ') AS text
              FROM documents),
            c4l AS (
              SELECT doc_id, text,
                     list_filter(list_transform(
                         string_split(text, chr(10)), l -> trim(l)),
                         l -> l <> '') AS lines
              FROM c4d),
            c4k AS (
              SELECT doc_id, text, lines,
                     list_filter(lines,
                       l -> regexp_matches(l, '{pipeline.C4_END_RE}')
                        AND len(list_filter(string_split_regex(
                                l, '\\s+'), w -> w <> ''))
                            >= {pipeline.C4_MIN_WORDS_PER_LINE}
                        AND NOT regexp_matches(
                                l, '{pipeline.C4_JS_RE}')) AS kept
              FROM c4l),
            c4c AS (
              SELECT doc_id, text,
                     CAST(len(lines) AS BIGINT) AS n_lines,
                     CAST(len(kept) AS BIGINT) AS n_kept,
                     array_to_string(kept, chr(10)) AS text_clean
              FROM c4k)
            SELECT doc_id, n_lines, n_kept,
                   CAST(length(regexp_replace(
                       text_clean, '[^.!?]', '', 'g')) AS BIGINT)
                       AS n_sent,
                   text_clean
            FROM c4c
            WHERE NOT contains(text, chr(123))
              AND NOT contains(lower(text), 'lorem ipsum')
              AND length(regexp_replace(
                  text_clean, '[^.!?]', '', 'g'))
                  >= {pipeline.C4_MIN_SENTENCES}
            ORDER BY doc_id""",
        "pp_lm_score": f"""
            WITH {_sql_lm_ctes()}
            SELECT doc_id, n_tok, lm_score FROM lm_scored
            ORDER BY doc_id""",
        # head/middle/tail: value-based cutoffs at the exact 1/3,
        # 2/3 percentiles — quantile_cont == Spark percentile (both
        # linear interpolation over the same round-6 doubles; an
        # interpolated cutoff never falls ON a data value, so ULP
        # differences cannot flip a bucket)
        "pp_lm_buckets": f"""
            WITH {_sql_lm_ctes()},
            cuts AS (SELECT quantile_cont(lm_score, 1.0/3.0) AS c1,
                            quantile_cont(lm_score, 2.0/3.0) AS c2
                     FROM lm_scored)
            SELECT doc_id, n_tok, lm_score,
                   CASE WHEN lm_score <= c1 THEN 'head'
                        WHEN lm_score <= c2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM lm_scored, cuts
            ORDER BY doc_id""",
        # per-language terciles: one quantile pair per lang, joined
        # back — the CCNet paper's actual bucketing shape
        "pp_lm_buckets_lang": f"""
            WITH {_sql_lm_ctes()},
            ld AS (
              SELECT s.doc_id, s.n_tok, s.lm_score, d.lang
              FROM lm_scored s
              JOIN (SELECT DISTINCT doc_id, lang FROM documents) d
              USING (doc_id)),
            cuts AS (
              SELECT lang,
                     quantile_cont(lm_score, 1.0/3.0) AS c1,
                     quantile_cont(lm_score, 2.0/3.0) AS c2
              FROM ld GROUP BY lang)
            SELECT ld.doc_id, ld.n_tok, ld.lm_score, ld.lang,
                   CASE WHEN lm_score <= c1 THEN 'head'
                        WHEN lm_score <= c2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM ld JOIN cuts USING (lang)
            ORDER BY doc_id""",
        # training-mix assembly: totals -> no-oversampling budget ->
        # per-source rates -> md5-fraction cut, every double built
        # through the same expression shape as the engine
        "pp_mix": f"""
            WITH nt AS (
              SELECT doc_id, source,
                     CAST(len(list_filter(string_split_regex(
                         text, '{SQL_TOKEN_SPLIT}'),
                         t -> t <> '')) AS BIGINT) AS n_tok
              FROM documents),
            fr AS (SELECT 1.0 / count(DISTINCT source) AS f
                   FROM documents),
            tot AS (SELECT source, CAST(sum(n_tok) AS DOUBLE) AS t
                    FROM nt GROUP BY source
                    HAVING sum(n_tok) > 0),
            bb AS (SELECT min(t / f) AS b FROM tot, fr),
            rates AS (SELECT source, f * b / t AS r
                      FROM tot, fr, bb)
            SELECT n.doc_id, n.source, n.n_tok
            FROM nt n JOIN rates USING (source)
            WHERE ('0x' || substr(md5(CAST(n.doc_id AS VARCHAR)),
                                  1, 8))::UBIGINT / 4294967296.0 < r
            ORDER BY doc_id""",
        # head gate: QUALIFY row_number twin of Spark's
        # orderBy(lm_score, doc_id).limit(ceil(frac·n))
        "pp_lm_filter": f"""
            WITH {_sql_lm_ctes()}
            SELECT doc_id, n_tok, lm_score FROM lm_scored
            QUALIFY row_number() OVER (ORDER BY lm_score, doc_id)
                    <= ceil({LM_KEEP_FRAC} * count(*) OVER ())
            ORDER BY doc_id""",
        "pp_dsir_select": f"""
            WITH {_sql_dsir_ctes()},
            keyed AS (
              SELECT doc_id, lw,
                     round(lw + -ln(-ln(
                       (('0x' || substr(md5('dsir:'
                            || CAST(doc_id AS VARCHAR)), 1, 8))
                            ::UBIGINT + 0.5) / 4294967296.0)), 6)
                       AS "key"
              FROM weights)
            SELECT doc_id, lw, "key" FROM keyed
            ORDER BY "key" DESC, doc_id LIMIT {DSIR_K}""",
        # winner per md5(para) = first (doc_id, idx) — row_number
        # twin of Spark's min(struct(doc_id, idx)) aggregate
        "pp_para_dedup": """
            WITH base AS (
              SELECT doc_id,
                     list_filter(list_transform(
                         string_split(text, chr(10)), l -> trim(l)),
                         l -> l <> '') AS lines
              FROM documents),
            paras AS (
              SELECT doc_id, i AS idx, lines[i] AS para
              FROM base, unnest(generate_series(1, len(lines)))
                   AS g(i)
              WHERE len(lines) >= 1),
            ranked AS (
              SELECT doc_id, idx, para,
                     row_number() OVER (PARTITION BY md5(para)
                                        ORDER BY doc_id, idx) AS rn
              FROM paras),
            reb AS (
              SELECT doc_id, count(*)::BIGINT AS n_kept,
                     string_agg(para, chr(10) ORDER BY idx)
                         AS text_clean
              FROM ranked WHERE rn = 1 GROUP BY doc_id),
            sizes AS (SELECT doc_id, len(lines)::BIGINT AS n_paras
                      FROM base)
            SELECT s.doc_id, s.n_paras,
                   coalesce(r.n_kept, 0)::BIGINT AS n_kept,
                   coalesce(r.text_clean, '') AS text_clean
            FROM sizes s LEFT JOIN reb r USING (doc_id)""",
        "pp_url_dedup": f"""
            WITH raw AS (SELECT doc_id, {URL_SYNTH_SQL_DUCK} AS url
                         FROM documents),
            p1 AS (SELECT doc_id,
                          regexp_replace(trim(url), '#.*$', '')
                              AS nofrag
                   FROM raw),
            p2 AS (SELECT doc_id,
                lower(regexp_extract(nofrag,
                    '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                regexp_replace(lower(regexp_extract(nofrag,
                    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
                    '^www\\.', '') AS host0,
                regexp_extract(nofrag,
                    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1)
                    AS rest
              FROM p1),
            p3 AS (SELECT doc_id, scheme,
                CASE WHEN scheme = 'http'
                       THEN regexp_replace(host0, ':80$', '')
                     WHEN scheme = 'https'
                       THEN regexp_replace(host0, ':443$', '')
                     ELSE host0 END AS host,
                CASE WHEN regexp_replace(regexp_extract(rest,
                         '^([^?]*)', 1), '/+$', '') = '' THEN '/'
                     ELSE regexp_replace(regexp_extract(rest,
                         '^([^?]*)', 1), '/+$', '') END AS path,
                -- array_to_string([]) is NULL in DuckDB (Spark's
                -- array_join([]) is '') — coalesce to match
                coalesce(array_to_string(list_sort(list_filter(
                    string_split(regexp_extract(rest,
                        '\\?(.*)$', 1), '&'),
                    x -> x <> '' AND NOT regexp_matches(x,
                        '^(utm_[a-z]+|fbclid|gclid|msclkid|mc_cid'
                        || '|mc_eid)='))), '&'), '') AS q
              FROM p2)
            SELECT scheme || '://' || host || path
                   || CASE WHEN q = '' THEN ''
                           ELSE '?' || q END AS canonical_url,
                   count(*) AS n_variants,
                   min(doc_id) AS min_doc_id
            FROM p3 GROUP BY 1
            ORDER BY canonical_url""",
        # NEAR/k: with exactly two distinct terms the minimal
        # covering window is min |p_a - p_b| — the sliding-window
        # kernel's 2-term special case, exact in SQL
        "ft_near": f"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text,
                         '{SQL_TOKEN_SPLIT}'), t -> t <> '') AS l
              FROM documents),
            pa AS (
              SELECT doc_id, r.i AS p
              FROM toks, unnest(generate_series(1, len(l))) AS r(i)
              WHERE l[r.i] = '{NEAR_QUERY.split()[0]}'),
            pb AS (
              SELECT doc_id, r.i AS p
              FROM toks, unnest(generate_series(1, len(l))) AS r(i)
              WHERE l[r.i] = '{NEAR_QUERY.split()[1]}'),
            m AS (
              SELECT a.doc_id,
                     CAST(min(abs(a.p - b.p)) AS BIGINT) AS min_span
              FROM pa a JOIN pb b ON a.doc_id = b.doc_id
              GROUP BY a.doc_id)
            SELECT doc_id, min_span FROM m
            WHERE min_span <= {NEAR_K} ORDER BY doc_id""",
        "ft_phrase": f"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text,
                         '{SQL_TOKEN_SPLIT}'), t -> t <> '') AS l
              FROM documents),
            hits AS (
              SELECT doc_id,
                     CAST(len(list_filter(
                         generate_series(1, len(l) - {len(phrase_words) - 1}),
                         i -> {phrase_pred})) AS BIGINT) AS n_occ
              FROM toks)
            SELECT doc_id, n_occ FROM hits WHERE n_occ > 0
            ORDER BY doc_id""",
        "ev_value_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   round(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY event_type ORDER BY event_type""",
        "ft_heaps_curve": f"""
            WITH n AS (SELECT count(*) AS n_docs FROM documents),
                 grid AS (SELECT (g * n.n_docs) // 10 AS prefix
                          FROM generate_series(1, 10) AS t(g), n),
                 toks AS ({_SQL_TOKS_NE}),
                 term_min AS (SELECT term, min(doc_id) AS m FROM toks
                              GROUP BY term),
                 doc_tok AS (SELECT doc_id, count(*) AS nt FROM toks
                             GROUP BY doc_id)
            SELECT g.prefix,
                   CAST((SELECT sum(nt) FROM doc_tok d
                         WHERE d.doc_id <= g.prefix) AS BIGINT)
                       AS n_tokens,
                   (SELECT count(*) FROM term_min t
                    WHERE t.m <= g.prefix) AS vocabulary
            FROM grid g ORDER BY g.prefix""",
        "ev_pr_curve": f"""
            WITH tf AS ({_SQL_TF}),
                 n AS (SELECT count(*) AS n_docs FROM documents),
                 dls AS (SELECT doc_id, sum(tf) AS dl FROM tf
                         GROUP BY doc_id),
                 ad AS (SELECT sum(dl) * 1.0 / count(*) AS avgdl
                        FROM dls),
                 qtf AS (SELECT * FROM tf
                         WHERE term IN ('data','query','stream')),
                 dfs AS (SELECT term, count(*) AS df FROM qtf
                         GROUP BY term),
                 scored AS (
                   SELECT qtf.doc_id,
                          round(sum(
                            ln((n.n_docs - dfs.df + 0.5)
                               / (dfs.df + 0.5) + 1)
                            * (qtf.tf * ({K1} + 1))
                            / (qtf.tf + {K1} * (1 - {B}
                               + {B} * dls.dl / ad.avgdl))
                          ), 6) AS score
                   FROM qtf JOIN dfs USING (term)
                            JOIN dls USING (doc_id), n, ad
                   GROUP BY qtf.doc_id),
                 rel AS (SELECT doc_id, 1 AS rel FROM qtf
                         GROUP BY doc_id
                         HAVING count(DISTINCT term) = 3),
                 nv AS (SELECT count(*) AS n_valid FROM rel),
                 ranked AS (
                   SELECT s.doc_id, s.score, r.rel,
                          row_number() OVER
                            (ORDER BY s.score DESC, s.doc_id ASC)
                            AS rank,
                          sum(coalesce(r.rel, 0)) OVER
                            (ORDER BY s.score DESC, s.doc_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum_rel
                   FROM scored s LEFT JOIN rel r USING (doc_id))
            SELECT CAST(rank AS INT) AS rank,
                   round(cum_rel * 1.0 / nv.n_valid, 6) AS recall,
                   round(cum_rel * 1.0 / rank, 6) AS precision
            FROM ranked, nv WHERE rel = 1 ORDER BY rank""",
        "lg_degrees": _sql_lg_degrees(),
        "lg_pagerank": _sql_lg_pagerank(),
        "ix_spell_suggest": _sql_spell_suggest(),
        "ix_complete_prefix": _sql_complete_prefix(),
        "ix_engine_bm25_nostem": _sql_engine_bm25_nostem(),
        "ix_engine_bm25_deleted": _sql_engine_bm25_nostem(
            deleted=DELETE_SQL_PRED),
        "ix_engine_bm25_purged": _sql_engine_bm25_nostem(
            deleted=DELETE_SQL_PRED, purged=True),
    }
