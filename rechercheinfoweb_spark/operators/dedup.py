"""Deduplication operators for training-data pipelines.

Five families, each scale-shaped for 100 TB (the Common-Crawl dedup
stack):

* exact       — md5 hash-groupBy; shuffle is one row per distinct
                hash after map-side combine.
* minhash+LSH — shingle → k min-hashes → band → bucket self-join;
                candidate pairs only ever meet inside a band bucket,
                so the join never goes quadratic.  Hashes are
                md5-string minima: deterministic, engine-portable
                (the DuckDB oracle computes the identical value).
* n-gram Jaccard — exact Jaccard on token shingles via a shingle-
                inverted-list join; use after LSH as the verify step
                (here also runnable standalone at test scale).
* simhash     — 64-bit sign-aggregated fingerprint + hamming-radius
                candidate pairs (vectorized numpy kernel; md5-derived
                bits so both engines could reproduce it, but bit ops
                are not cleanly portable to the oracle → rows-only
                check).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from .textstats import tokens_col

MINHASH_K = 8
LSH_BANDS = 4  # 2 hashes per band with k=8


def exact_dedup(docs: DataFrame, max_ids: int = 1024) -> DataFrame:
    """Groups of byte-identical texts: (exact_md5, n_dups, keep_id =
    min doc_id, doc_ids = first ``max_ids`` members sorted).

    n_dups/keep_id are exact at any group size; the id sample is
    capped BEFORE aggregation (rank window + conditional collect, so
    no agg buffer ever holds more than ``max_ids`` ids) because a
    mega-dup group (a boilerplate page duplicated 10^7 times at
    100 TB) would otherwise materialize an unbounded array.
    Deletion pipelines join back on ``h`` anyway; the sample is for
    inspection.  The window and the groupBy share the ``h``
    partitioning — one shuffle total."""
    from pyspark.sql.window import Window
    ranked = (docs.select("doc_id", F.md5("text").alias("h"))
              .withColumn("rn", F.row_number().over(
                  Window.partitionBy("h").orderBy("doc_id"))))
    return (ranked.groupBy("h")
            .agg(F.count("*").alias("n_dups"),
                 F.min("doc_id").alias("keep_id"),
                 F.sort_array(F.collect_list(
                     F.when(F.col("rn") <= max_ids, F.col("doc_id"))
                 )).alias("doc_ids"))
            .where(F.col("n_dups") > 1))


def _minhash_cols(k: int = MINHASH_K) -> list:
    """k min-hash signature columns over the doc's distinct tokens.

    h_i(doc) = min over tokens of md5(i || ':' || token) — a string
    minimum, identical in any engine with md5().  At 100 TB you
    would swap md5-string for xxhash64 ints; the LSH banding logic
    is unchanged."""
    return [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("tok"))))
         .alias(f"mh{i}")
        for i in range(k)
    ]


def minhash_signatures(docs: DataFrame, k: int = MINHASH_K) -> DataFrame:
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens_col())).alias("tok"))
    return toks.groupBy("doc_id").agg(*_minhash_cols(k))


def band_rows(docs: DataFrame, k: int = MINHASH_K,
              bands: int = LSH_BANDS) -> DataFrame:
    """LSH band relation (doc_id, band_id, band_hash): each doc's
    signature grouped into ``bands`` band hashes (md5 of the
    concatenated member minhashes — engine-portable, same value in
    the DuckDB oracle).  Shared by the batch self-join path
    (``minhash_lsh_pairs``) and the persisted signature store
    (``write_signature_store`` / ``incremental_lsh_pairs``)."""
    sigs = minhash_signatures(docs, k)
    rows_per_band = k // bands
    band_cols = [
        F.md5(F.concat_ws("|", *[F.col(f"mh{b * rows_per_band + j}")
                                 for j in range(rows_per_band)]))
         .alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sigs.select("doc_id", *band_cols)
    return banded.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_id"),
                     F.col(f"band{b}").alias("band_hash"))
            for b in range(bands)])).alias("bb")
    ).select("doc_id", "bb.band_id", "bb.band_hash")


def minhash_lsh_pairs(docs: DataFrame, k: int = MINHASH_K,
                      bands: int = LSH_BANDS,
                      max_bucket: int | None = 1000) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band.

    Scale shape: explode to (band_id, band_hash, doc_id), self-join
    on the band key.  Bucket sizes are bounded by similarity
    structure, not corpus size — EXCEPT for degenerate content
    (empty docs, boilerplate): one such bucket goes quadratic at
    100 TB.  ``max_bucket`` drops buckets above the cap before the
    self-join (a broadcast anti-join against the tiny hot-bucket
    list); members of a dropped bucket still pair through their
    other, discriminative bands.  ``None`` disables the guard."""
    exploded = band_rows(docs, k, bands)
    if max_bucket is not None:
        hot = (exploded.groupBy("band_id", "band_hash")
               .agg(F.count("*").alias("c"))
               .where(F.col("c") > max_bucket)
               .select("band_id", "band_hash"))
        exploded = exploded.join(F.broadcast(hot),
                                 ["band_id", "band_hash"], "left_anti")
    a = exploded.alias("a")
    b_ = exploded.alias("b")
    pairs = (a.join(b_, ["band_id", "band_hash"])
             .where(F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
             .distinct())
    return pairs


def ngram_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct token n-gram shingles per doc (lowercased).

    Two-step projection (textstats.ngrams_of_tokens contract): the
    token array materializes once per row and the window expression
    slices it.  Referencing the tokenizer inside the window lambda
    instead re-evaluates the split per ELEMENT — O(tokens²) per doc
    (measured 3-15 s for the 500-doc bench slice vs ~1 s two-step)."""
    from .textstats import lower_tokens_col, ngrams_of_tokens
    toked = docs.select("doc_id", lower_tokens_col().alias("_toks"))
    sh = F.array_distinct(ngrams_of_tokens(F.col("_toks"), n))
    return toked.select("doc_id", F.explode(sh).alias("shingle"))


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3,
                        threshold: float = 0.2,
                        max_shingle_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard over an inverted shingle join.

    |A∩B| from the join, |A| and |B| from per-doc shingle counts;
    J = inter / (|A| + |B| − inter).  The shingle join is the same
    shape as the LSH band join — linear in total shingle postings
    for discriminative shingles, but a shingle shared by d docs
    yields d² join rows: boilerplate shingles go quadratic at scale.
    ``max_shingle_df`` drops shingles with document frequency above
    the cap BEFORE sizes and the join (so J is computed consistently
    over the retained shingle sets — hot shingles carry almost no
    near-dup signal).  Default None = exact Jaccard; at 100 TB run
    this as the LSH-candidate verify step and/or set a cap."""
    # the shingle relation feeds three plan branches (sizes ×2 +
    # intersection join) — persist it or it re-tokenizes three times
    sh = ngram_shingles(docs, n)
    if max_shingle_df is not None:
        hot = (sh.groupBy("shingle").agg(F.count("*").alias("c"))
               .where(F.col("c") > max_shingle_df).select("shingle"))
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sh = sh.persist()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (a.join(b, "shingle")
             .where(F.col("a.doc_id") < F.col("b.doc_id"))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_sh").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_sh").alias("size_b"))
    return (inter.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("jaccard", F.round(
                F.col("inter")
                / (F.col("size_a") + F.col("size_b") - F.col("inter")),
                6))
            .where(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "inter", "size_a", "size_b",
                    "jaccard"))


def lsh_jaccard_verified_pairs(docs: DataFrame, n: int = 3,
                               threshold: float = 0.2,
                               k: int = MINHASH_K, bands: int = LSH_BANDS,
                               max_bucket: int | None = 1000) -> DataFrame:
    """The production near-dup path: MinHash-LSH candidate generation
    followed by EXACT n-gram Jaccard verification on the candidates
    only — same output schema and same (exact) Jaccard values as
    :func:`ngram_jaccard_pairs`, restricted to LSH-candidate pairs.

    Scale shape: the all-pairs shingle self-join (quadratic in hot-
    shingle df) is replaced by two equi-joins that attach each
    candidate doc's distinct-shingle array, then a MAP-SIDE
    ``array_intersect`` per pair — cost O(candidates × doc size),
    linear in LSH output, never in corpus².  This is the composition
    the module docstring promises ("use [Jaccard] after LSH as the
    verify step"); at 100 TB you run exactly this, never the
    standalone exact join."""
    # the candidate relation feeds two plan branches (member list +
    # final join) — persist or the whole LSH band join runs twice
    # (measured: 2x wall on the bench entry)
    cand = minhash_lsh_pairs(docs, k, bands, max_bucket).persist()
    # shingle arrays only for docs that appear in some candidate pair
    members = (cand.select(F.col("doc_a").alias("doc_id"))
               .union(cand.select(F.col("doc_b").alias("doc_id")))
               .distinct())
    # sets feeds both sides of the pair join — persist, same reason
    sets = (ngram_shingles(docs.join(members, "doc_id", "left_semi"), n)
            .groupBy("doc_id")
            .agg(F.collect_list("shingle").alias("sh"),
                 F.count("*").alias("n_sh"))
            .persist())
    a = sets.select(F.col("doc_id").alias("doc_a"),
                    F.col("sh").alias("sh_a"),
                    F.col("n_sh").alias("size_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"),
                    F.col("sh").alias("sh_b"),
                    F.col("n_sh").alias("size_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    res = (cand.join(a, "doc_a").join(b, "doc_b")
           .withColumn("inter", inter.cast("long"))
           .withColumn("jaccard", F.round(
               F.col("inter")
               / (F.col("size_a") + F.col("size_b") - F.col("inter")),
               6))
           .where(F.col("jaccard") >= threshold)
           .select("doc_a", "doc_b", "inter", "size_a", "size_b",
                   "jaccard"))
    # eager finalize: materialize the (small) verified-pair result,
    # then release the two fat cached intermediates deterministically
    # — a long-lived session must not accumulate them
    res = res.localCheckpoint()
    cand.unpersist()
    sets.unpersist()
    return res


def winnow_overlap_pairs(docs: DataFrame, min_overlap: int = 5,
                         max_fp_df: int | None = None) -> DataFrame:
    """Near-dup candidate pairs by shared winnowing fingerprints:
    (doc_a, doc_b, overlap) for pairs sharing >= ``min_overlap``
    fingerprints.

    Same inverted-list join shape as the LSH band join — linear in
    total fingerprint postings for discriminative fingerprints; a
    fingerprint shared by d docs yields d² join rows, so
    ``max_fp_df`` drops boilerplate fingerprints above the cap
    before the self-join (broadcast anti-join, like the other
    degenerate-key guards in this module)."""
    from .textstats import winnow_fingerprints
    # the fingerprint relation feeds the hot-key aggregate AND both
    # sides of the self-join — persist, or the Python winnow kernel
    # (the costliest op here) runs once per branch
    fp0 = fp = winnow_fingerprints(docs).persist()
    if max_fp_df is not None:
        hot = (fp.groupBy("fp").agg(F.count("*").alias("c"))
               .where(F.col("c") > max_fp_df).select("fp"))
        fp = fp.join(F.broadcast(hot), "fp", "left_anti")
    a, b = fp.alias("a"), fp.alias("b")
    res = (a.join(b, "fp")
           .where(F.col("a.doc_id") < F.col("b.doc_id"))
           .groupBy(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
           .agg(F.count("*").alias("overlap"))
           .where(F.col("overlap") >= min_overlap))
    res = res.localCheckpoint()  # eager finalize (see above)
    fp0.unpersist()
    return res


def dup_ngram_span_stats(docs: DataFrame, n: int = 8,
                         min_count: int = 2) -> DataFrame:
    """Exact duplicated-substring coverage per document (the
    ExactSubstr measure of Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better", at token-n-gram granularity):
    for every doc, the fraction of its tokens covered by some token
    n-gram that occurs at least ``min_count`` times ANYWHERE in the
    corpus — including repeats inside the same document, which is
    what catches boilerplate templates a whole-doc or shingle-set
    dedup (minhash/simhash/jaccard above) cannot see.

    Returns one row per doc: (doc_id, n_tokens, dup_grams,
    covered_tokens, dup_span_frac), zeros for clean docs.  Training
    pipelines threshold dup_span_frac (or feed covered spans to a
    cut-and-splice remover).

    Scale shape: the corpus is scanned and the gram relation built
    ONCE (tokens projected as a column first — see
    textstats.ngrams_of_tokens — then positions map-side via
    posexplode); corpus-wide occurrence counting is a window count
    over ONE shuffle on ``xxhash64(gram)`` — an 8-byte key, never the
    gram string (~9x narrower at n=8) — replacing the
    count-agg + semi-join formulation, whose two consumers of the
    exploded relation each re-ran the whole tokenize/gram/hash scan
    (no exchange reuse across the branches; measured 26 s → this
    form 2x+ faster at sf0.1).  Then one partial-agg shuffle by
    doc_id collects dup start positions.  Coverage is a pure Catalyst
    fold over the sorted starts — fixed-length intervals merge as
    sum(min(next_start - start, n)) + n — so no Python and no row
    blow-up (the DuckDB oracle instead expands every covered position
    via generate_series and counts distinct: two independent
    formulations of the same union-of-intervals).  64-bit hash
    collisions could merge two distinct grams (P ~ G²/2⁶⁵ —
    negligible at any corpus size that fits a cluster)."""
    from pyspark.sql.window import Window

    from .textstats import lower_tokens_col, ngrams_of_tokens
    toks = tokens_col()
    pos = (docs.select("doc_id", lower_tokens_col().alias("toks"))
           .select("doc_id",
                   F.posexplode(ngrams_of_tokens(F.col("toks"), n))
                   .alias("pos", "gram"))
           .select("doc_id", "pos", F.xxhash64("gram").alias("gh")))
    occ = F.count("*").over(Window.partitionBy("gh"))
    starts = (pos.withColumn("occ", occ)
              .where(F.col("occ") >= min_count)
              .groupBy("doc_id")
              .agg(F.sort_array(F.collect_list("pos")).alias("starts")))
    m = F.size("starts")
    gap_sum = F.aggregate(
        F.zip_with(F.slice("starts", F.lit(1), m - 1),
                   F.slice("starts", F.lit(2), m - 1),
                   lambda a, b: F.least(b - a, F.lit(n))),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    covered = F.when(m >= 1, gap_sum + n).otherwise(F.lit(0)).cast("long")
    per_doc = starts.select(
        "doc_id", m.cast("long").alias("dup_grams"),
        covered.alias("covered_tokens"))
    return (docs.select("doc_id", F.size(toks).cast("long")
                        .alias("n_tokens"))
            .join(per_doc, "doc_id", "left")
            .select(
                "doc_id", "n_tokens",
                F.coalesce("dup_grams", F.lit(0)).cast("long")
                 .alias("dup_grams"),
                F.coalesce("covered_tokens", F.lit(0)).cast("long")
                 .alias("covered_tokens"),
                F.round(F.coalesce("covered_tokens", F.lit(0))
                        / F.greatest(F.col("n_tokens"), F.lit(1)), 6)
                 .alias("dup_span_frac")))


def remove_dup_spans(docs: DataFrame, n: int = 8,
                     min_count: int = 2) -> DataFrame:
    """ExactSubstr REMOVAL (Lee et al. 2022 §4: "remove all but one"
    occurrence of every duplicated substring) at token-n-gram
    granularity — the cut-and-splice companion to
    :func:`dup_ngram_span_stats`, which only measures coverage.

    A token n-gram occurring >= ``min_count`` times anywhere in the
    corpus (same-doc repeats included) is a duplicated span; its
    globally-FIRST occurrence (min (doc_id, pos)) keeps its tokens,
    every later occurrence is deleted.  Tokens covered by ANY
    non-exempt duplicate start are removed, so the keep-one guarantee
    is per gram start: an exempt gram's tokens can still fall to an
    overlapping non-exempt neighbour (union-of-intervals semantics,
    matching the stats operator).  Gram matching is case-insensitive
    (lowered tokens); the rebuilt text keeps original casing.

    Returns (doc_id, n_tokens, kept_tokens, clean_text) for EVERY
    input doc — fully-deleted docs come back with kept_tokens = 0 and
    clean_text = '' (threshold/drop is the caller's policy).

    ``min_count`` must be >= 2: the keep-one exemption means a gram
    occurring once can never be cut, so lower values cannot change
    the output and are rejected rather than silently behaving as 2.

    Scale shape: grams are built in ONE corpus scan; corpus-wide
    occurrence count + first-occurrence rank are two window functions
    over a single shuffle on ``xxhash64(gram)`` (8-byte key — the
    gram string never keys an exchange); removal starts collapse to
    one sparse per-doc array via a doc_id partial-agg shuffle; the
    rebuild is a map-side array filter after one join of the corpus
    against that sparse starts relation (clean docs join nothing and
    pass through).  Per-token cost of the filter is O(#starts in the
    doc) — heavily-templated docs pay proportional work, clean docs
    pay one empty-array check.  Same 64-bit hash-collision caveat as
    the stats operator (P ~ G²/2⁶⁵)."""
    from pyspark.sql.window import Window

    from .textstats import lower_tokens_col, ngrams_of_tokens, tokens_col
    if min_count < 2:
        raise ValueError(
            f"min_count={min_count} is a no-op: the first occurrence "
            "of every gram is always kept, so only grams with >= 2 "
            "occurrences can ever be cut; pass min_count >= 2")
    pos = (docs.select("doc_id", lower_tokens_col().alias("toks"))
           .select("doc_id",
                   F.posexplode(ngrams_of_tokens(F.col("toks"), n))
                   .alias("pos", "gram"))
           .select("doc_id", "pos", F.xxhash64("gram").alias("gh")))
    w = Window.partitionBy("gh")
    wo = w.orderBy("doc_id", "pos")
    starts = (pos
              .withColumn("occ", F.count("*").over(w))
              .withColumn("rn", F.row_number().over(wo))
              .where((F.col("occ") >= min_count) & (F.col("rn") >= 2))
              .groupBy("doc_id")
              .agg(F.sort_array(F.collect_list("pos")).alias("starts")))
    st = F.coalesce(F.col("starts"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("otoks"),
        lambda t, i: ~F.exists(st, lambda s: (i >= s) & (i < s + n)))
    proj = (docs.select("doc_id", tokens_col().alias("otoks"))
            .join(starts, "doc_id", "left")
            .select("doc_id",
                    F.size("otoks").cast("long").alias("n_tokens"),
                    kept.alias("kept")))
    return proj.select(
        "doc_id", "n_tokens",
        F.size("kept").cast("long").alias("kept_tokens"),
        F.concat_ws(" ", "kept").alias("clean_text"))


def dedup_clusters(pairs: DataFrame, max_rounds: int = 50) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, canonical).

    The missing last step of every pair-producing dedup family above:
    near-duplication is transitive in practice (A≈B, B≈C ⇒ keep one
    of {A,B,C}), so pairs must be grouped into components and each
    component reduced to one canonical survivor (min doc_id — the
    deterministic choice every other operator here uses).

    Algorithm: min-label propagation with pointer jumping.  Every
    node starts labeled with itself; each round takes the min over
    its neighbors' labels AND its label's label (label(label(u)) —
    path doubling), so convergence is O(log diameter) rounds, not
    O(diameter).  Near-dup components are dense (quasi-cliques), so
    2-3 rounds settle real corpora; the loop is bounded by
    ``max_rounds`` as a safety rail.

    Scale shape per round: one shuffle for the neighbor-min groupBy
    + one self-join on the (small) label table.  Lineage is truncated
    with ``localCheckpoint`` at BOTH loop inputs and after EVERY
    round — the classic iterative-on-Spark lesson (GraphX/Pregel do
    the same): ``persist`` caches *data* but not the *plan*, every
    action re-analyzes the full logical tree, the tree references the
    label table three times per round (3× growth), and the label
    table itself sits on the pair-producing lineage (simhash kernels,
    quality expressions — thousands of expression nodes).  Measured
    on a 176-node graph whose pairs came from the real cleaning
    pipeline: persist-only rounds cost 17 s → 80 s → minutes
    (analysis + cache-lookup, not compute), checkpoint-every-round
    holds each round at ~2 s flat.  The convergence check is a
    single count() on changed labels.  At 10^12 docs the label table
    is |nodes in any pair| rows — orders of magnitude below corpus
    size, since only near-dup members appear in pairs; on a real
    cluster swap ``localCheckpoint`` for ``checkpoint()`` with a
    checkpoint dir to add fault tolerance at the same plan-size
    cost.  Checkpoint blocks of superseded rounds are reclaimed by
    the context cleaner (tiny tables; the deterministic-release
    discipline used elsewhere applies to corpus-sized caches).

    Returns one row per doc that appears in ``pairs`` (doc_id,
    canonical); docs in no pair are their own canonical and are
    omitted — join back with a left join + coalesce."""
    # `pairs` feeds both union branches — materialize it once first,
    # or the (expensive) upstream pair producer (simhash kernel, LSH
    # band join) evaluates twice; the pair table itself is tiny
    pairs = pairs.select("doc_a", "doc_b").localCheckpoint()
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .union(pairs.select(F.col("doc_b").alias("src"),
                                 F.col("doc_a").alias("dst"))))
    edges = edges.distinct().localCheckpoint()
    labels = (edges.groupBy("src").agg(F.min("dst").alias("nbr_min"))
              .select(F.col("src").alias("doc_id"),
                      F.least("src", "nbr_min").alias("label"))
              .localCheckpoint())
    for rnd in range(max_rounds):
        # neighbor min: min label over adjacent nodes
        nbr = (edges.join(labels.withColumnRenamed("doc_id", "dst"),
                          "dst")
               .groupBy("src").agg(F.min("label").alias("nbr_label"))
               .withColumnRenamed("src", "doc_id"))
        # pointer jump: label(label(u))
        jump = (labels.alias("u")
                .join(labels.select(F.col("doc_id").alias("label"),
                                    F.col("label").alias("jump_label"))
                      .alias("v"), "label", "left")
                .select("u.doc_id", "u.label", "v.jump_label"))
        new = (jump.join(nbr, "doc_id", "left")
               .select("doc_id",
                       F.least("label",
                               F.coalesce("jump_label", F.col("label")),
                               F.coalesce("nbr_label", F.col("label")))
                       .alias("label")))
        # truncate EVERY round: an eager localCheckpoint materializes
        # the round and replaces its plan with a LogicalRDD leaf, so
        # round r+1 analyzes a constant-size tree
        new = new.localCheckpoint()
        changed = (new.alias("n")
                   .join(labels.alias("o"), "doc_id")
                   .where(F.col("n.label") != F.col("o.label")).count())
        labels = new
        if changed == 0:
            break
    return labels.select("doc_id", F.col("label").alias("canonical"))


def dedup_keep(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Training-data survivor filter: drop every non-canonical member
    of each near-dup component (keep = min doc_id per component, and
    every doc in no pair)."""
    drop = (dedup_clusters(pairs)
            .where(F.col("doc_id") != F.col("canonical"))
            .select("doc_id"))
    return docs.join(drop, "doc_id", "left_anti")


def _simhash_kernel():
    """mapInPandas: (doc_id, text) → 64-bit simhash from md5-derived
    per-token hashes, numpy-vectorized bit voting.

    The token universe is the set of LOWERCASED tokens (one vote per
    distinct lowercased token — the DuckDB oracle computes the same
    with DISTINCT lower(term)).  Per-token md5 is memoized across
    the whole partition: Zipf vocabularies make the hit rate ~100%,
    so the hash cost is ~|vocab|, not ~|tokens|."""
    import hashlib

    from .textstats import SQL_TOKEN_SPLIT
    import re
    splitter = re.compile(SQL_TOKEN_SPLIT)

    def fn(batches):
        import pandas as pd
        cache: dict[str, int] = {}

        def h64(tok: str) -> int:
            v = cache.get(tok)
            if v is None:
                v = cache[tok] = int.from_bytes(
                    hashlib.md5(tok.encode()).digest()[:8], "big")
            return v

        for pdf in batches:
            out_id, out_h = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = {t.lower() for t in splitter.split(text or "")
                        if t}
                if not toks:
                    out_id.append(doc_id); out_h.append(0); continue
                hs = np.array([h64(t) for t in toks], dtype=np.uint64)
                bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64))
                        & np.uint64(1)).astype(np.int64)
                votes = (2 * bits - 1).sum(axis=0)
                sim = np.uint64(0)
                for j in np.nonzero(votes > 0)[0]:
                    sim |= np.uint64(1) << np.uint64(j)
                out_id.append(doc_id)
                out_h.append(int(np.int64(sim)))  # store as signed
            yield pd.DataFrame({"doc_id": out_id, "simhash": out_h})

    return fn


def simhash(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", "text").mapInPandas(
        _simhash_kernel(), schema="doc_id long, simhash long")


def _chunk_bounds(n_chunks: int) -> list[tuple[int, int]]:
    """Split 64 bits into n_chunks contiguous (shift, width) spans."""
    base, rem = divmod(64, n_chunks)
    bounds, pos = [], 0
    for i in range(n_chunks):
        width = base + (1 if i < rem else 0)
        bounds.append((pos, width))
        pos += width
    return bounds


def simhash_near_pairs(docs: DataFrame, radius: int = 3) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ radius — EXACT recall.

    Scale shape: (radius+1)-way chunk blocking — two fingerprints
    within hamming ≤ r differ in ≤ r chunks, so by pigeonhole they
    AGREE on at least one of r+1 disjoint chunks → self-join per
    chunk, exact hamming check after.  (A fixed 4-chunk split only
    guarantees recall for radius ≤ 3; the chunk count now follows
    the radius so the guarantee holds for any radius ≤ 63.)"""
    if not 0 <= radius <= 63:
        raise ValueError("radius must be in [0, 63]")
    sh = simhash(docs)
    bounds = _chunk_bounds(radius + 1)
    chunks = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("chunk_id"),
                     F.shiftrightunsigned("simhash", shift)
                      .bitwiseAND(F.lit((1 << width) - 1))
                      .alias("chunk"))
            for i, (shift, width) in enumerate(bounds)])).alias("c")
    ).select("doc_id", "simhash", "c.chunk_id", "c.chunk")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (a.join(b, ["chunk_id", "chunk"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.col("a.simhash").alias("ha"),
                    F.col("b.simhash").alias("hb"))
            .distinct())
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (cand.withColumn("hamming", hamming)
            .where(F.col("hamming") <= radius)
            .select("doc_a", "doc_b", "hamming"))


# ---- incremental cross-batch dedup (persisted signature store) -----
#
# The 100-TB operating mode for near-dup: a crawl arrives in daily
# batches, and each batch must be deduped against EVERYTHING seen so
# far without re-pairing (or even re-tokenizing) the history.  The
# history's LSH band rows are hashed ONCE at ingest and persisted;
# each new batch computes its own band rows (O(batch) tokenize+md5 —
# the dominant cost of any minhash pass, see bench `minhash_sigs`),
# probes the store with a broadcast join (the store is scanned in
# place, never shuffled), and is then appended to the store.

SIG_STORE_BUCKETS = 64


def write_signature_store(spark, docs: DataFrame, store_dir: str,
                          k: int = MINHASH_K, bands: int = LSH_BANDS,
                          n_buckets: int = SIG_STORE_BUCKETS,
                          append: bool = False) -> None:
    """Persist ``band_rows(docs)`` under ``store_dir``, hive-dir
    partitioned by ``bucket = xxhash64(band_hash) % n_buckets``.

    The store holds ``bands`` 32-hex-char rows per doc — a few
    hundred bytes/doc vs the corpus' tens of KB, so it stays
    O(corpus row count), not O(corpus bytes).  Bucket partitioning
    bounds per-file size and gives a shuffle-free co-location path
    if a sort-merge probe is ever preferred over broadcast (both
    sides can be repartitioned by the same bucket function); at
    100 TB on a catalog you would use ``bucketBy`` table bucketing —
    this is the plain-parquet analog.  ``append=True`` adds a new
    batch (one new file set per bucket dir; compaction of small
    files rides the same story as chunk compaction)."""
    rows = band_rows(docs, k, bands).withColumn(
        "bucket",
        F.pmod(F.xxhash64("band_hash"), F.lit(n_buckets)).cast("int"))
    (rows.repartition("bucket")
     .write.mode("append" if append else "overwrite")
     .partitionBy("bucket").parquet(store_dir))


def incremental_lsh_pairs(spark, batch_docs: DataFrame, store_dir: str,
                          k: int = MINHASH_K, bands: int = LSH_BANDS,
                          max_bucket: int | None = 1000,
                          broadcast_batch: bool = True) -> DataFrame:
    """Near-dup candidate pairs (doc_a < doc_b) between a NEW batch
    and everything in the signature store, plus batch-internal
    pairs — exactly ``minhash_lsh_pairs(store ∪ batch)`` restricted
    to pairs with ≥1 batch member, without ever re-hashing the
    store's documents.

    Scale shape: the batch's band rows are broadcast
    (``bands`` small rows per batch doc), so the probe is ONE
    map-side pass over the store scan — no store shuffle, no
    history², O(store + batch + candidate pairs).  For a batch too
    large to broadcast set ``broadcast_batch=False`` and the join
    falls back to sort-merge on (band_id, band_hash).

    ``max_bucket`` is the same degenerate-content guard as
    ``minhash_lsh_pairs``, evaluated on COMBINED (store+batch)
    bucket sizes but only for buckets the batch actually touches
    (a broadcast semi-join restricts the count scan), so the result
    equals the full self-join guard on every batch-involving pair."""
    keys = ["band_id", "band_hash"]
    batch = band_rows(batch_docs, k, bands)
    store = (spark.read.parquet(store_dir)
             .select("doc_id", *keys))
    base = store.unionByName(batch)
    if max_bucket is not None:
        # the batch relation feeds three branches (bkeys, anti-join,
        # probe) and is deliberately NOT persisted: it is small by
        # assumption (broadcastable), so recomputing its band rows
        # costs O(batch) tokenize+md5, while a lingering cache in a
        # long-lived ingest session is a real leak (the module's
        # deterministic-release rule)
        bkeys = batch.select(*keys).distinct()
        hot = (base.join(F.broadcast(bkeys), keys, "left_semi")
               .groupBy(*keys).agg(F.count("*").alias("c"))
               .where(F.col("c") > max_bucket)
               .select(*keys))
        batch = batch.join(F.broadcast(hot), keys, "left_anti")
        base = base.join(F.broadcast(hot), keys, "left_anti")
    probe = F.broadcast(batch) if broadcast_batch else batch
    a, b = base.alias("a"), probe.alias("b")
    return (a.join(b, keys)
            .where(F.col("a.doc_id") != F.col("b.doc_id"))
            .select(F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                    F.greatest("a.doc_id", "b.doc_id").alias("doc_b"))
            .distinct())
