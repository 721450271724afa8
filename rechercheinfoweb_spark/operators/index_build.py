"""Distributed inverted-index build (SURVEY.md §3.1 Spark lifecycle).

Reference dataflow (Go, single machine, in-RAM trie): scan → tokenize
→ filter → stem → per-doc count → trie insert w/ tf weights → global
IDF scale → serialize (main.go:30-47, lexer.go:39-97, trie.go:46-198,
encoder.go:23-42).  Our job re-expresses it as three resumable Spark
stages over the ``web_pages`` input table:

stage 0  **stage**     assign deterministic docIDs (url order), split
                       into ``n_chunks`` doc ranges, write the
                       url→(doc_id, chunk) map + chunk registry.
stage 1  **chunk c**   (one per chunk, independently resumable)
                       tokenize+count via one Arrow kernel (no
                       explode/groupBy shuffle for per-doc counts —
                       docs never span partitions, so A1/A2/A3 are
                       map-side), then shuffle by ``term`` once and
                       pack FINAL v4 posting blocks (delta+varint
                       ids/tf/dl/max_tf + idf-independent block
                       metadata — codec.pack_postings).  Writes
                       ``postings/bucket=b/salt=c`` + ``docs/chunk=c``
                       directly: the queryable index IS the stage-1
                       output, immutable once written.
stage 2  **finalize**  metadata only: global df and first doc id
                       (``min_doc_id``) per term (the ``dictionary``
                       table), corpus_stats (n_docs/avgdl/vocab/
                       Heaps, with the Heaps prefix token count
                       ``t_half``).  NO posting bytes
                       are read or rewritten — scheme weights are
                       computed at query time from the stored
                       (tf, dl, max_tf) through the same
                       ``scoring.posting_weights`` spec the oracle
                       uses, so ranks/scores are unchanged by
                       construction.  (Layout v3 stored 4 float64
                       weight planes per posting and finalize decoded
                       + re-encoded the whole index to stamp them in
                       — the dominant serial cost at realistic
                       vocabularies, and the reason streaming refresh
                       was a full rewrite.  v4 makes refresh two tiny
                       aggregations.)  ``min_doc_id`` and ``t_half``
                       let a streaming refresh publish appended
                       chunks as a delta on the previous version
                       (streaming/incremental.py) — both are
                       additive columns, so older v4 indexes stay
                       readable and take one full finalize first.

Skew: a df≈N hot term never concentrates — its postings are split
across chunks by construction (salt = chunk id), and the index keeps
one row per (term, chunk), so no reducer ever sees a whole hot
posting list.  This is the salted-key two-phase aggregation the north
rule mandates; ``n_chunks`` is the salt fan-out knob.

Scale notes: at 10^12 docs the same plan holds — stage 0 is the only
global pass (deterministic-boundary bucketed numbering, no
single-partition sort); each chunk shuffles only its own doc range by
term; finalize's df aggregation reads two narrow columns of the
postings table (parquet column pruning skips the block bytes
entirely) and is |vocab|-sized.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType,
    StringType, StructField, StructType,
)

from ..functions import codec, scoring
from ..functions.tokenizer import (
    STOPWORDS, make_index_token_mapper, raw_tokens,
)
from ..plans.checkpoints import (
    read_manifest, stage_complete, write_manifest,
)
from ..sources.web_pages import assign_doc_ids

# bump when the on-disk index layout changes incompatibly
# (v2: range chunking + chunk registry; v3: url_map replaces the
# staged corpus copy; v4: weightless final blocks written at stage 1,
# dictionary table, registry as an atomically-replaced single file)
INDEX_LAYOUT_VERSION = 4

# default chunking: bounds the dense per-shard score array a query
# kernel allocates (DOCS_PER_CHUNK * 8 B ≈ 2 MB/task) and sets the
# resume/partition-overwrite granularity
DOCS_PER_CHUNK = 250_000

BLOCK_TYPE = StructType([
    StructField("first_doc_id", LongType(), False),
    StructField("n", IntegerType(), False),
    StructField("max_tf", LongType(), False),
    StructField("min_dl", LongType(), False),
    StructField("max_ratio", DoubleType(), False),
    StructField("data", BinaryType(), False),
])

TERM_ROWS_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("chunk", IntegerType(), False),
    StructField("term", StringType(), False),
    StructField("tf", LongType(), False),
    StructField("dl", LongType(), False),
    StructField("max_tf", LongType(), False),
])

DOC_STATS_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("chunk", IntegerType(), False),
    StructField("url", StringType(), False),
    StructField("lang", StringType(), True),
    StructField("dl", LongType(), False),
    StructField("max_tf", LongType(), False),
    StructField("n_raw", LongType(), False),
])

POSTINGS_SCHEMA = StructType([
    StructField("term", StringType(), False),
    StructField("bucket", IntegerType(), False),
    StructField("salt", IntegerType(), False),
    StructField("df_part", LongType(), False),
    StructField("min_doc_id", LongType(), False),
    StructField("blocks", ArrayType(BLOCK_TYPE), False),
])


@dataclass
class IndexPaths:
    out_dir: str

    @property
    def url_map(self) -> str: return os.path.join(self.out_dir, "url_map")
    @property
    def docs(self) -> str: return os.path.join(self.out_dir, "docs")
    @property
    def postings(self) -> str: return os.path.join(self.out_dir, "postings")
    @property
    def dictionary(self) -> str:
        return os.path.join(self.out_dir, "dictionary")
    @property
    def corpus_stats(self) -> str:
        return os.path.join(self.out_dir, "corpus_stats")
    @property
    def chunks(self) -> str:
        return os.path.join(self.out_dir, "chunks")

    def chunks_version(self, version: int | None) -> str:
        """Path of one immutable registry snapshot (written by
        finalize next to the working registry).  ``None`` = the
        working registry itself (pre-snapshot layout)."""
        if version is None:
            return self.chunks
        return os.path.join(self.out_dir, f"chunks.v{version}")

    def dictionary_version(self, version: int | None) -> str:
        """Path of one immutable dictionary snapshot.  ``None`` =
        the pre-versioning layout (dictionary written in place)."""
        if version is None:
            return self.dictionary
        return os.path.join(self.dictionary, f"v={version}")

    def corpus_stats_version(self, version: int) -> str:
        """Path of one immutable corpus_stats snapshot record —
        the time-travel entry point (Iceberg snapshot analog): an
        IndexReader opened at a version resolves its dictionary,
        registry and scoring scalars from this one frozen row."""
        return os.path.join(self.out_dir, f"corpus_stats.v{version}")


def check_layout(stats) -> None:
    """Fail fast with a clear message on a layout-incompatible index
    (corpus_stats carries a ``layout`` column since v4; earlier
    layouts stored float weight planes this reader cannot score)."""
    layout = stats.asDict().get("layout") if hasattr(stats, "asDict") \
        else stats.get("layout")
    if layout != INDEX_LAYOUT_VERSION:
        raise ValueError(
            f"index layout {layout!r} is incompatible with this "
            f"engine (expected v{INDEX_LAYOUT_VERSION}); rebuild the "
            "index with build_index() or run finalize_index() from a "
            "matching engine version")


def dict_version_of(stats) -> int | None:
    """Dictionary snapshot referenced by a corpus_stats row (None on
    an index finalized before dictionary versioning)."""
    d = stats.asDict() if hasattr(stats, "asDict") else stats
    return d.get("dict_version")


def stemmed_of(stats_or_paths) -> int:
    """Whether an index was built with Porter2 stemming (1/0).
    Accepts a corpus_stats row/dict or an IndexPaths; indexes
    finalized before the flag existed were always stemmed."""
    if isinstance(stats_or_paths, IndexPaths):
        if not os.path.exists(stats_or_paths.corpus_stats):
            return 1
        import pyarrow.parquet as pq
        d = pq.read_table(stats_or_paths.corpus_stats).to_pylist()[0]
    else:
        d = (stats_or_paths.asDict()
             if hasattr(stats_or_paths, "asDict") else stats_or_paths)
    v = d.get("stemmed")
    return 1 if v is None else int(v)


def snapshot_registry(paths: IndexPaths, stats) -> list[dict]:
    """The chunk set belonging to the snapshot a corpus_stats row
    pins — the one thing a reader may scan.

    Since compaction (see :mod:`.compact`) a chunk id is not an
    append-order watermark any more: merged chunks take FRESH ids
    above ``max_chunk``, so ``salt <= max_chunk`` would let a new
    reader see both the merged chunk and the not-yet-pruned originals
    (double counting).  finalize therefore publishes an immutable
    registry snapshot ``chunks.v{dict_version}`` alongside the
    dictionary version, both referenced by the atomically-replaced
    corpus_stats; readers filter ``salt``/``chunk`` by membership in
    that snapshot.  Fallback for indexes finalized before registry
    versioning: the working registry filtered to ``chunk <=
    max_chunk`` (exactly the old semantics — compaction refuses to
    run on such an index until a refresh writes a snapshot)."""
    ver = dict_version_of(stats)
    snap = paths.chunks_version(ver)
    if ver is not None and os.path.exists(snap):
        return read_registry(snap)
    d = stats.asDict() if hasattr(stats, "asDict") else stats
    return [r for r in read_registry(paths.chunks)
            if r["chunk"] <= d["max_chunk"]]


def _stats_mtime(path: str) -> float:
    """mtime of the corpus_stats artifact (file, or newest file in a
    legacy directory) — the reader-cache invalidation token."""
    if os.path.isdir(path):
        files = [os.path.join(path, f) for f in os.listdir(path)]
        return max((os.path.getmtime(f) for f in files),
                   default=os.path.getmtime(path))
    return os.path.getmtime(path)


@dataclass
class BuildResult:
    paths: IndexPaths
    n_docs: int
    wall_secs: float
    docs_per_sec: float
    stage_secs: dict = field(default_factory=dict)
    resumed_stages: list = field(default_factory=list)


# ---- chunk registry -------------------------------------------------
# A single parquet FILE replaced atomically (tmp + os.replace), never
# a Spark directory write: the registry is the index's commit point,
# and a crash mid-delete-then-write of a directory could lose it
# (observed failure mode for the streaming append).  On an object
# store / real cluster this commit would be an Iceberg snapshot; the
# atomic-rename file is the local-FS equivalent.

def write_registry(path: str, rows: list[dict]) -> None:
    """rows: [{chunk, min_id, n_docs, span?, batch_id|None}] — atomic.

    ``span`` is the chunk's doc-id RANGE width (the dense-position
    capacity readers size their arrays with).  It equals ``n_docs``
    until a physical delete purge punches holes in the range (see
    operators/delete.py) — from then on ``n_docs`` is the live count
    (feeding finalize's statistics) while ``span`` keeps the
    positional contract stable."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    if os.path.isdir(path):  # pre-v4 layout wrote a directory here
        shutil.rmtree(path)
    rows = sorted(rows, key=lambda r: r["chunk"])
    table = pa.table({
        "chunk": pa.array([r["chunk"] for r in rows], pa.int32()),
        "min_id": pa.array([r["min_id"] for r in rows], pa.int64()),
        "n_docs": pa.array([r["n_docs"] for r in rows], pa.int64()),
        "span": pa.array([r.get("span") or r["n_docs"] for r in rows],
                         pa.int64()),
        "batch_id": pa.array([r.get("batch_id") for r in rows],
                             pa.int64()),
    })
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def read_registry(path: str) -> list[dict]:
    import pyarrow.parquet as pq
    if not os.path.exists(path):
        return []
    rows = pq.read_table(path).to_pylist()
    for r in rows:  # registries written before the span column
        if r.get("span") is None:
            r["span"] = r["n_docs"]
    return sorted(rows, key=lambda r: r["chunk"])


def _make_unique_token_lut(stopwords: frozenset[str], use_stem: bool):
    """Worker-lifetime memo raw token → final term (or None if
    filtered), built on the ONE shared tokenizer implementation
    (``make_index_token_mapper`` — golden-token tests pin it).  The
    vectorized kernels below only call this per UNIQUE raw token, so
    stem/stopword Python cost is O(|vocab|) per worker, not
    O(tokens)."""
    mapped = make_index_token_mapper(stopwords, use_stem)

    def one(tok: str):
        r = mapped([tok])
        return r[0] if r else None

    return one


def _batch_token_stats(texts, map_one, want_terms: bool):
    """Shared vectorized core of both build kernels.

    Per doc-slice: regex split per doc (C), then ONE factorize over
    the flat token stream (C hash pass), the Python filter/stem only
    over the slice's UNIQUE raw tokens, and per-(doc, term) counts
    via one sort of integer composite keys.  Replaces the per-token
    dict probe + per-doc Counter loop, which profiled at ~75% of the
    tokenize kernel (the build's hottest stage, mirroring the
    reference's flamegraph where stemming dominates —
    templates/perf.html:38-44).  Same semantics: two raw tokens may
    stem to one term; their counts merge via the final-term code.

    Returns (n_raw, dl, max_tf  — per doc) and, when ``want_terms``,
    (doc_idx, term_strings_obj, tf — per output row, doc-major)."""
    import pandas as pd
    raws = [raw_tokens(t or "") for t in texts]
    ndocs = len(raws)
    n_raw = np.fromiter((len(r) for r in raws), np.int64, ndocs)
    flat: list = []
    for r in raws:
        flat.extend(r)
    dl = np.zeros(ndocs, dtype=np.int64)
    max_tf = np.zeros(ndocs, dtype=np.int64)
    if not flat:
        if want_terms:
            return n_raw, dl, max_tf, (np.zeros(0, np.int64),
                                       np.zeros(0, object),
                                       np.zeros(0, np.int64))
        return n_raw, dl, max_tf, None
    codes, uniques = pd.factorize(np.asarray(flat, dtype=object),
                                  sort=False)
    final_terms: list[str] = []
    fmap: dict[str, int] = {}
    lut = np.empty(len(uniques), dtype=np.int64)
    for i, tok in enumerate(uniques.tolist()):
        term = map_one(tok)
        if term is None:
            lut[i] = -1
            continue
        j = fmap.get(term)
        if j is None:
            j = fmap[term] = len(final_terms)
            final_terms.append(term)
        lut[i] = j
    nfinal = len(final_terms)
    doc_idx_flat = np.repeat(np.arange(ndocs, dtype=np.int64), n_raw)
    tcode = lut[codes]
    keep = tcode >= 0
    if not keep.any() or nfinal == 0:
        if want_terms:
            return n_raw, dl, max_tf, (np.zeros(0, np.int64),
                                       np.zeros(0, object),
                                       np.zeros(0, np.int64))
        return n_raw, dl, max_tf, None
    composite = doc_idx_flat[keep] * nfinal + tcode[keep]
    uc, tf = np.unique(composite, return_counts=True)
    doc_of = uc // nfinal          # sorted (doc-major)
    term_of = uc % nfinal
    dl[:] = np.bincount(doc_of, weights=tf,
                        minlength=ndocs).astype(np.int64)
    seg = np.flatnonzero(np.diff(doc_of, prepend=-1))
    max_tf[doc_of[seg]] = np.maximum.reduceat(tf, seg)
    if want_terms:
        terms_obj = np.asarray(final_terms, dtype=object)[term_of]
        return n_raw, dl, max_tf, (doc_of, terms_obj,
                                   tf.astype(np.int64))
    return n_raw, dl, max_tf, None


# inner doc-slice size: bounds the flat-token intermediates
# (~2k-token web pages → ~4M tokens, tens of MB) while keeping the
# factorize/sort passes large enough to amortize
_KERNEL_DOC_SLICE = 2048


def _tokenize_counts_kernel(stopwords: frozenset[str],
                            block_rows: int = 65536,
                            use_stem: bool = True):
    """mapInPandas kernel: (doc_id, chunk, text) → per-(doc, term)
    tf rows — the inverted-index transpose feed.

    Vectorized via :func:`_batch_token_stats`; emits minimal rows
    (48B fixed + term) in large frames (Arrow per-batch overhead
    amortized)."""

    def fn(batches):
        import pandas as pd
        map_one = _make_unique_token_lut(stopwords, use_stem)
        for pdf in batches:
            doc_ids = pdf["doc_id"].to_numpy()
            chunks = pdf["chunk"].to_numpy()
            texts = pdf["text"].tolist()
            for lo in range(0, len(texts), _KERNEL_DOC_SLICE):
                hi = min(lo + _KERNEL_DOC_SLICE, len(texts))
                _, dl, max_tf, rows = _batch_token_stats(
                    texts[lo:hi], map_one, want_terms=True)
                doc_of, terms_obj, tf = rows
                if doc_of.size == 0:
                    continue
                yield pd.DataFrame({
                    "doc_id": doc_ids[lo:hi][doc_of],
                    "chunk": chunks[lo:hi][doc_of].astype(np.int32),
                    "term": terms_obj,
                    "tf": tf,
                    "dl": dl[doc_of],
                    "max_tf": max_tf[doc_of],
                })

    return fn


def _doc_stats_kernel(stopwords: frozenset[str],
                      use_stem: bool = True):
    """mapInPandas kernel: (doc_id, chunk, url, lang, text) → ONE
    stats row per doc (the docs dimension).  Runs tokenize a second
    time instead of materializing the 140×-larger term-row stream —
    recompute is ~50× cheaper than the extra write+read."""

    def fn(batches):
        import pandas as pd
        map_one = _make_unique_token_lut(stopwords, use_stem)
        for pdf in batches:
            texts = pdf["text"].tolist()
            n_raw = np.zeros(len(texts), dtype=np.int64)
            dl = np.zeros(len(texts), dtype=np.int64)
            max_tf = np.zeros(len(texts), dtype=np.int64)
            for lo in range(0, len(texts), _KERNEL_DOC_SLICE):
                hi = min(lo + _KERNEL_DOC_SLICE, len(texts))
                nr, d, m, _ = _batch_token_stats(
                    texts[lo:hi], map_one, want_terms=False)
                n_raw[lo:hi] = nr
                dl[lo:hi] = d
                max_tf[lo:hi] = m
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy(),
                "chunk": pdf["chunk"].to_numpy(),
                "url": pdf["url"],
                "lang": pdf["lang"],
                "dl": dl,
                "max_tf": max_tf,
                "n_raw": n_raw,
            })

    return fn


def _pack_postings_kernel(block_size: int):
    """applyInArrow kernel over a (chunk, term-BUCKET) group → one
    final postings row per term in the bucket.

    Grouping by (chunk, term) directly costs a python round-trip per
    term — ~0.5 ms x |vocab| x n_chunks dominates stage 1 and
    explodes on realistic web vocabularies.  Grouping by the term's
    postings bucket gives n_chunks x n_buckets LARGE groups; term
    boundaries are then numpy slices on the sorted group.

    Arrow-native on purpose: the pandas predecessor materialized
    every group's term column as millions of PyObject strings, and
    that allocation churn — not compute — made the pack stage the
    one build stage that did NOT scale with cores (measured: wall
    constant at 225 s from local[2] to local[8] while tokenize
    scaled 4.0x; per-task time was ~50 s whether a task held 3.3M or
    13M rows, i.e. a fixed page-fault/alloc cost, not work).  Here
    strings stay in Arrow buffers end-to-end: dictionary_encode is
    one C++ hash pass, the only string sort is over the
    ~|vocab|-sized dictionary, the row sort is a pure-integer
    lexsort on zero-copy views, and the output terms are a C++
    ``take`` on the dictionary.  Codes are relabeled to the
    dictionary's sorted ranks first, so the row order — and the
    packed bytes — are identical to sorting by (term, doc_id)
    directly (parallelism-invariance/resume tests pin this; UTF-8
    byte order == code-point order, so Arrow's binary sort matches
    the old Python-str sort)."""
    import pyarrow as pa

    out_type = pa.schema([
        pa.field("term", pa.string(), False),
        pa.field("bucket", pa.int32(), False),
        pa.field("salt", pa.int32(), False),
        pa.field("df_part", pa.int64(), False),
        pa.field("min_doc_id", pa.int64(), False),
        pa.field("blocks", pa.list_(pa.struct([
            pa.field("first_doc_id", pa.int64(), False),
            pa.field("n", pa.int32(), False),
            pa.field("max_tf", pa.int64(), False),
            pa.field("min_dl", pa.int64(), False),
            pa.field("max_ratio", pa.float64(), False),
            pa.field("data", pa.binary(), False),
        ])), False),
    ])

    def fn(tbl: "pa.Table") -> "pa.Table":
        import pyarrow.compute as pc
        tbl = tbl.combine_chunks()
        chunk = tbl.column("chunk")[0].as_py()
        bucket = tbl.column("tbucket")[0].as_py()
        term_arr = tbl.column("term").chunk(0)
        dict_arr = pc.dictionary_encode(term_arr)
        indices = dict_arr.indices.to_numpy(zero_copy_only=True)
        dictionary = dict_arr.dictionary
        order_u = pc.sort_indices(dictionary).to_numpy(
            zero_copy_only=True).astype(np.int64)
        rank = np.empty(order_u.size, dtype=np.int64)
        rank[order_u] = np.arange(order_u.size)
        codes = rank[indices]
        doc_id = tbl.column("doc_id").chunk(0).to_numpy(
            zero_copy_only=True)
        sort_idx = np.lexsort((doc_id, codes))
        uniq, df_part, min_ids, blocks = codec.pack_group_postings_arrow(
            codes[sort_idx], doc_id[sort_idx],
            tbl.column("tf").chunk(0).to_numpy(
                zero_copy_only=True)[sort_idx],
            tbl.column("dl").chunk(0).to_numpy(
                zero_copy_only=True)[sort_idx],
            tbl.column("max_tf").chunk(0).to_numpy(
                zero_copy_only=True)[sort_idx],
            block_size=block_size)
        sorted_terms = dictionary.take(pa.array(order_u))
        out_terms = sorted_terms.take(pa.array(uniq.astype(np.int64)))
        n_out = len(uniq)
        return pa.table({
            "term": out_terms,
            "bucket": pa.array(np.full(n_out, bucket, dtype=np.int32)),
            "salt": pa.array(np.full(n_out, chunk, dtype=np.int32)),
            "df_part": pa.array(df_part.astype(np.int64)),
            "min_doc_id": pa.array(min_ids.astype(np.int64)),
            "blocks": blocks,
        }, schema=out_type)

    return fn


def finalize_index(spark: SparkSession, out_dir: str, *,
                   n_buckets: int = 16,
                   block_size: int = codec.DEFAULT_BLOCK,
                   k1: float = scoring.K1, b: float = scoring.B,
                   stemmed: bool | None = None,
                   expected_n_docs: int | None = None) -> dict:
    """Stage 2: global metadata over ALL chunks in the registry —
    the ``dictionary`` table (term → global df and first doc id,
    bucket-partitioned for the same pruning as postings) and
    ``corpus_stats``.  The publish of the batch build, and the
    fallback of the streaming refresh and of compaction whenever
    their delta (streaming/incremental.py) cannot prove its result
    equal to this one: appended chunks change only these two small tables
    (idf/avgdl/df are applied at query time), so a refresh never
    touches posting bytes."""
    paths = IndexPaths(out_dir)
    if stemmed is None:
        # refresh/compact path: preserve the flag the index was
        # built with (pre-flag indexes were always stemmed)
        stemmed = bool(stemmed_of(paths))
    registry = read_registry(paths.chunks)
    chunk_list = [r["chunk"] for r in registry]
    docs_all = spark.read.option("basePath", paths.docs).parquet(
        *[os.path.join(paths.docs, f"chunk={c}") for c in chunk_list])
    if expected_n_docs is None:
        n_docs = sum(r["n_docs"] for r in registry)
    else:
        n_docs = expected_n_docs
    # Every docs-side statistic (incl. the Heaps prefix token count)
    # fuses into ONE aggregation job — a cascade of tiny driver-
    # synchronized jobs would be dominated by scheduling overhead.
    half = n_docs // 2
    stats_row = docs_all.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_raw").alias("n_raw_tokens"),
        F.sum("dl").alias("sum_dl"),
        F.sum(F.when(F.col("doc_id") <= half, F.col("n_raw"))
              .otherwise(F.lit(0))).alias("t_half"),
    ).collect()[0]
    if stats_row["n_docs"] != n_docs:
        raise ValueError(
            f"docs chunks hold {stats_row['n_docs']} docs, the "
            f"registry/stage0 says {n_docs}")

    # Global df per term: reads ONLY (term, df_part, min_doc_id) —
    # parquet column pruning never touches the block bytes.
    postings = (spark.read.parquet(paths.postings)
                .where(F.col("salt").isin(chunk_list)))
    df_table = postings.groupBy("term").agg(
        F.sum("df_part").alias("df"),
        F.min("min_doc_id").alias("min_doc_id"),
    )
    df_table.persist()
    vocab_row = df_table.agg(
        F.count("*").alias("vocab"),
        F.count(F.when(F.col("min_doc_id") <= half, True))
         .alias("v_half")).collect()[0]
    # dictionary: bucket-partitioned like postings so a query's term
    # lookups prune identically; repartition first so each bucket is
    # one task/file, not a sliver from every shuffle task.  Written
    # to an IMMUTABLE versioned subdir that stays invisible until
    # corpus_stats — the single atomic commit point — references it:
    # a crash anywhere in finalize leaves readers on the previous
    # fully-consistent (dictionary, stats) pair, never a mix of new
    # df values with old postings pins.  min_doc_id is kept so a
    # streaming refresh can move the Heaps half-point as a delta.
    dict_version = _next_dict_version(paths)
    (df_table
     .select("term", "df", "min_doc_id",
             term_bucket(F.col("term"), n_buckets).alias("bucket"))
     .repartition(n_buckets, "bucket")
     .write.partitionBy("bucket").mode("overwrite")
     .parquet(paths.dictionary_version(dict_version)))
    df_table.unpersist()

    return publish_snapshot(
        paths, dict_version, registry, n_docs=n_docs,
        n_raw_tokens=int(stats_row["n_raw_tokens"] or 0),
        sum_dl=int(stats_row["sum_dl"] or 0),
        t_half=int(stats_row["t_half"] or 0),
        vocab=vocab_row["vocab"], v_half=vocab_row["v_half"],
        n_buckets=n_buckets, block_size=block_size, k1=k1, b=b,
        stemmed=stemmed)


def publish_snapshot(paths: IndexPaths, version: int,
                     registry: list[dict], *, n_docs: int,
                     n_raw_tokens: int, sum_dl: int, t_half: int,
                     vocab: int, v_half: int, n_buckets: int,
                     block_size: int, k1: float, b: float,
                     stemmed: bool) -> dict:
    """Commit snapshot *version* — the one publish tail of the full
    finalize and the delta of refresh and compaction, whose dictionary
    version dir must already be fully written.

    ``t_half`` / ``v_half`` are the raw tokens of docs with
    ``doc_id <= n_docs // 2`` and the terms whose first doc lies in
    that prefix: the Heaps two-point fit (reference stat.go:15-33),
    V = K · T^B over the full corpus and that prefix, is derived
    here so both paths publish the same floats."""
    avgdl = sum_dl / n_docs if n_docs else 0.0
    heaps_b, heaps_k = float("nan"), float("nan")
    if v_half and t_half and n_raw_tokens and vocab \
            and n_raw_tokens != t_half:
        heaps_b = (math.log(vocab / v_half)
                   / math.log(n_raw_tokens / t_half))
        heaps_k = vocab / (n_raw_tokens ** heaps_b)
    max_chunk = max((r["chunk"] for r in registry), default=-1)
    # registry snapshot: the immutable chunk set readers of THIS
    # snapshot may scan (required once compaction renames chunks —
    # see snapshot_registry).  Written before the stats commit under
    # the same version number as the dictionary, so (dictionary,
    # registry, stats) publish together or not at all.
    write_registry(paths.chunks_version(version), registry)
    # the COMMIT: one atomically-replaced parquet file (all values
    # are driver-side scalars — no Spark write, whose delete-then-
    # write overwrite is not crash-atomic).  Readers resolve the
    # dictionary through dict_version, so both tables publish
    # together or not at all.
    stats_values = dict(
        n_docs=n_docs, n_raw_tokens=n_raw_tokens, sum_dl=sum_dl,
        t_half=t_half, avgdl=avgdl, vocabulary=vocab,
        heaps_b=heaps_b, heaps_k=heaps_k, n_chunks=len(registry),
        max_chunk=max_chunk, n_buckets=n_buckets,
        block_size=block_size, k1=k1, b=b,
        layout=INDEX_LAYOUT_VERSION, dict_version=version,
        stemmed=int(stemmed))
    # immutable snapshot record FIRST (time-travel entry point —
    # consistent even if orphaned by a crash here, since the
    # dictionary + registry it references are already fully
    # written), then the live commit
    _write_corpus_stats(paths.corpus_stats_version(version),
                        **stats_values)
    _write_corpus_stats(paths.corpus_stats, **stats_values)
    _prune_dict_versions(paths, keep_from=version - 1)
    return {"n_docs": n_docs, "vocabulary": vocab, "avgdl": avgdl,
            "heaps_b": heaps_b, "heaps_k": heaps_k,
            "n_chunks": len(registry), "max_chunk": max_chunk,
            "dict_version": version}


_CORPUS_STATS_TYPES = {
    "n_docs": "int64", "n_raw_tokens": "int64", "sum_dl": "int64",
    "t_half": "int64", "avgdl": "float64", "vocabulary": "int64",
    "heaps_b": "float64", "heaps_k": "float64", "n_chunks": "int32",
    "max_chunk": "int32", "n_buckets": "int32", "block_size": "int32",
    "k1": "float64", "b": "float64", "layout": "int32",
    "dict_version": "int32", "stemmed": "int32",
}


def _write_corpus_stats(path: str, **values) -> None:
    """corpus_stats as ONE parquet file via tmp + os.replace — the
    same atomic-commit pattern as the chunk registry."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    if os.path.isdir(path):  # pre-atomic layout wrote a directory
        shutil.rmtree(path)
    table = pa.table({k: pa.array([values[k]], type=t)
                      for k, t in _CORPUS_STATS_TYPES.items()})
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _next_dict_version(paths: IndexPaths) -> int:
    """Strictly newer than every version dir on disk (referenced or
    orphaned by a crashed finalize) — a version dir is never
    rewritten once corpus_stats may reference it."""
    versions = [0]
    if os.path.isdir(paths.dictionary):
        for name in os.listdir(paths.dictionary):
            if name.startswith("v=") and name[2:].isdigit():
                versions.append(int(name[2:]))
    return max(versions) + 1


def _prune_dict_versions(paths: IndexPaths, keep_from: int) -> None:
    """Drop dictionary + registry snapshots older than the PREVIOUS
    version: the current one is live, the previous stays for readers
    opened before this refresh (snapshot pin); anything older is
    unreferenced."""
    if os.path.isdir(paths.dictionary):
        for name in os.listdir(paths.dictionary):
            if (name.startswith("v=") and name[2:].isdigit()
                    and int(name[2:]) < keep_from):
                shutil.rmtree(os.path.join(paths.dictionary, name),
                              ignore_errors=True)
    for name in os.listdir(paths.out_dir):
        stale = (
            (name.startswith("chunks.v") and name[8:].isdigit()
             and int(name[8:]) < keep_from)
            or (name.startswith("corpus_stats.v")
                and name[14:].isdigit()
                and int(name[14:]) < keep_from))
        if stale:
            try:
                os.remove(os.path.join(paths.out_dir, name))
            except OSError:
                pass


def list_snapshots(index_dir: str) -> list[int]:
    """Retained time-travel versions at an index dir, ascending —
    the Iceberg ``snapshots`` metadata-table analog.  Retention
    follows `_prune_dict_versions`: current + previous (older
    versions are expired; Iceberg's expire-snapshots trade-off)."""
    paths = IndexPaths(index_dir)
    out = []
    for name in os.listdir(paths.out_dir):
        if name.startswith("corpus_stats.v") and name[14:].isdigit():
            out.append(int(name[14:]))
    return sorted(out)


def term_bucket(col, n_buckets: int):
    """Bucket assignment for postings partition pruning — must be a
    Spark-side expression so query-time lookups compute the same."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    *,
    n_chunks: int | None = None,
    n_buckets: int = 16,
    block_size: int = codec.DEFAULT_BLOCK,
    stopwords: frozenset[str] = STOPWORDS,
    k1: float = scoring.K1,
    b: float = scoring.B,
    stem: bool = True,
    resume: bool = False,
    chunk_batch: int | None = None,
    fail_after_chunk: int | None = None,
) -> BuildResult:
    """Run the full build.  With ``resume=True``, stages whose
    manifest is present (and input fingerprint unchanged) are
    skipped.  ``n_chunks=None`` derives the chunk count from the
    corpus size (DOCS_PER_CHUNK) so query-kernel memory stays
    bounded without caller knowledge.  ``fail_after_chunk`` injects
    a crash for the resume test (SURVEY.md §5.6)."""
    paths = IndexPaths(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    t0 = time.time()
    stage_secs: dict[str, float] = {}
    resumed: list[str] = []

    # ---- stage 0: deterministic ids + chunk registry -----------------
    fp_row = pages.agg(
        F.count("*").alias("c"),
        F.expr("bit_xor(xxhash64(url))").alias("h")).collect()[0]
    n_in = int(fp_row["c"])
    if n_chunks is None:
        n_chunks = max(1, math.ceil(n_in / DOCS_PER_CHUNK))
    # layout version + chunking + block size participate in the
    # fingerprint: an index built with any other on-disk shape is
    # rebuilt, not resumed into
    fingerprint = {"n_rows": n_in,
                   "url_hash_xor": str(fp_row["h"]),
                   "layout": INDEX_LAYOUT_VERSION,
                   "n_chunks": n_chunks,
                   "block_size": block_size,
                   "n_buckets": n_buckets,
                   "stem": stem}
    if resume and stage_complete(out_dir, "stage0", fingerprint):
        resumed.append("stage0")
        n_docs = read_manifest(out_dir, "stage0")["n_docs"]
    else:
        ts = time.time()
        # a fresh (non-resumed) stage 0 invalidates everything below
        # it — clear output dirs so partitions from a previous larger
        # build can never leak into this index (stale bucket=/salt=
        # dirs would survive dynamic partition overwrite)
        for p in (paths.postings, paths.docs, paths.dictionary,
                  paths.url_map,
                  os.path.join(out_dir, "segments")):  # pre-v4 dir
            shutil.rmtree(p, ignore_errors=True)
        for name in os.listdir(out_dir):  # stale registry snapshots
            if name.startswith("chunks.v"):
                try:
                    os.remove(os.path.join(out_dir, name))
                except OSError:
                    pass
        # Stage 0 materializes ONLY the url->(doc_id, chunk) map —
        # never a copy of the corpus (an earlier design rewrote all
        # pages partitioned by chunk; that write was the largest
        # poorly-scaling cost of the whole build).  Chunks are
        # CONTIGUOUS doc-id ranges (query kernels map ids to dense
        # shard positions as id - chunk_base, and a streaming
        # micro-batch appends itself as simply "the next range"),
        # computed with exact integer DIV so the driver-side
        # closed-form registry below matches per-row assignment at
        # any magnitude.
        ids_map = assign_doc_ids(
            pages.select("url"), n_rows=n_in
        ).withColumn(
            "chunk", F.expr(f"CAST(((doc_id - 1) * {n_chunks}) "
                            f"DIV {max(n_in, 1)} AS INT)"))
        (ids_map.repartition(max(1, n_in // 2_000_000 + 1))
         .write.mode("overwrite").parquet(paths.url_map))
        # chunk registry in closed form (no job): chunk(d) =
        # (d-1)*k DIV n  =>  min_id(c) = ceil(c*n/k) + 1
        k = n_chunks
        bounds = [(c * n_in + k - 1) // k + 1 for c in range(k)]
        bounds.append(n_in + 1)
        write_registry(paths.chunks, [
            {"chunk": c, "min_id": bounds[c],
             "n_docs": bounds[c + 1] - bounds[c], "batch_id": None}
            for c in range(k) if bounds[c + 1] > bounds[c]])
        # row count is already pinned by the input fingerprint — no
        # verification re-scan (assign_doc_ids is row-preserving)
        n_docs = n_in
        stage_secs["stage0"] = time.time() - ts
        write_manifest(out_dir, "stage0", {
            "fingerprint": fingerprint, "n_docs": n_docs,
            "n_chunks": n_chunks, "output": paths.url_map,
            "wall_secs": stage_secs["stage0"],
            "lineage": {"stage": "stage0", "input": "web_pages",
                        "op": "assign_doc_ids+chunk-registry"},
        })

    # ---- stage 1: tokenize → final posting blocks, per-chunk resume --
    # Downstream manifests embed the stage-0 input fingerprint, so a
    # re-staged (changed) input invalidates every chunk + finalize.
    #
    # All missing chunks run in ONE Spark pipeline (chunk is a group
    # key flowing through both kernels) — a sequential per-chunk loop
    # re-pays scan/shuffle/commit fixed costs n_chunks times and
    # starves wide clusters.  ``chunk_batch`` trades checkpoint
    # granularity against that orchestration cost: 1 = finest resume
    # (one job per chunk), None = all missing chunks in one job.
    # Either way each completed chunk gets its own manifest with
    # lineage + docs/sec, and resume skips completed chunks.
    missing = []
    for c in range(n_chunks):
        name = f"chunk-{c:04d}"
        if resume and stage_complete(out_dir, name, fingerprint):
            resumed.append(name)
        else:
            missing.append(c)
    batch = 1 if fail_after_chunk is not None else (chunk_batch or
                                                    len(missing) or 1)
    # attach (doc_id, chunk) by joining the small url map back to the
    # input — the corpus itself is never copied.  The map broadcasts
    # at sandbox scale; at 10^12 docs both sides would be bucketed by
    # url so this is a shuffle-free bucket join instead.
    ids_map = spark.read.parquet(paths.url_map)
    staged_all = pages.join(F.broadcast(ids_map), "url")
    par = spark.sparkContext.defaultParallelism
    # dynamic partition overwrite is only needed when this write
    # must coexist with partitions from other chunk groups (resume,
    # chunk batching); a fresh single-shot build writes into dirs
    # stage 0 just cleared, and the dynamic commit's per-partition
    # file moves cost ~15 s of driver-serial time at 256 partitions
    one_shot = (not resumed and len(missing) == n_chunks
                and batch >= len(missing))

    def _writer(df):
        w = df.write
        if not one_shot:
            w = w.option("partitionOverwriteMode", "dynamic")
        return w.mode("overwrite")

    for gi in range(0, len(missing), batch):
        group = missing[gi:gi + batch]
        ts = time.time()
        staged_g = staged_all.where(F.col("chunk").isin(group))
        # Two independent single-pass jobs, both re-running the cheap
        # tokenize (~0.2 ms/doc) rather than materializing or caching
        # its 140-rows-per-doc output between consumers (a .persist()
        # got evicted on large corpora and silently recomputed; an
        # explicit parquet intermediate paid a 33M-row write + two
        # reads — both slower than just tokenizing twice):
        #   job 1: docs dimension, ONE row/doc through Arrow
        #   job 2: term rows → (chunk, term) shuffle → packed blocks
        # The repartition spreads the (small-footprint) scan across
        # every core so the tokenize kernel — the hottest op, SURVEY
        # §6 — never starves.
        docs_g = (staged_g
                  .select("doc_id", "chunk", "url", "lang", "text")
                  .repartition(par, "doc_id")
                  .mapInPandas(_doc_stats_kernel(stopwords, stem),
                               schema=DOC_STATS_SCHEMA))
        _writer(docs_g.select(*DOC_STATS_SCHEMA.fieldNames())) \
            .partitionBy("chunk").parquet(paths.docs)
        # explicit repartition on the exact group keys before
        # applyInPandas: the existing HashPartitioning satisfies the
        # grouping requirement, so this IS the one shuffle — at a
        # partition count pinned to a multiple of the core count.
        # (Left to AQE, the coalesced pack stage landed at ~1.5
        # waves — e.g. 12 tasks on 8 cores — and the straggler tail
        # ran half the machine idle; a fixed whole-wave count keeps
        # the stage even at every parallelism, which the N-vs-4N
        # scaling measurement is directly sensitive to.)
        postings_g = (
            staged_g.select("doc_id", "chunk", "text")
            .repartition(par, "doc_id")
            .mapInPandas(
                _tokenize_counts_kernel(stopwords, use_stem=stem),
                schema=TERM_ROWS_SCHEMA)
            .withColumn("tbucket",
                        term_bucket(F.col("term"), n_buckets))
            .repartition(4 * par, "chunk", "tbucket")
            .groupBy("chunk", "tbucket")
            .applyInArrow(_pack_postings_kernel(block_size),
                          schema=POSTINGS_SCHEMA)
        )
        _writer(postings_g).partitionBy("bucket", "salt") \
            .parquet(paths.postings)
        wall = time.time() - ts
        # per-chunk doc counts in ONE footer-metadata job (a count
        # job per chunk added ~0.3 s of driver latency each)
        counts_g = {r["chunk"]: r["n"] for r in
                    spark.read.option("basePath", paths.docs)
                    .parquet(*[os.path.join(paths.docs, f"chunk={c}")
                               for c in group])
                    .groupBy("chunk")
                    .agg(F.count("*").alias("n")).collect()}
        for c in group:
            n_docs_c = counts_g.get(c, 0)
            write_manifest(out_dir, f"chunk-{c:04d}", {
                "fingerprint": fingerprint,
                "chunk": c, "n_docs": n_docs_c,
                "wall_secs": wall / len(group),
                "docs_per_sec": (n_docs_c * len(group) / wall
                                 if wall > 0 else None),
                "outputs": [paths.postings,
                            os.path.join(paths.docs, f"chunk={c}")],
                "lineage": {"stage": "chunk", "chunk": c,
                            "input": "web_pages+url_map",
                            "op": "tokenize+count+block-pack",
                            "block_size": block_size,
                            "batched_with": group},
            })
        if fail_after_chunk is not None and group[-1] >= fail_after_chunk:
            raise RuntimeError(
                f"injected failure after chunk-{group[-1]:04d}")

    # ---- stage 2: finalize (metadata only) ---------------------------
    if resume and stage_complete(out_dir, "finalize", fingerprint):
        resumed.append("finalize")
        m = read_manifest(out_dir, "finalize")
        wall_total = time.time() - t0
        return BuildResult(paths, m["n_docs"], wall_total,
                           m["docs_per_sec"], stage_secs, resumed)
    ts = time.time()
    fin = finalize_index(spark, out_dir, n_buckets=n_buckets,
                         block_size=block_size, k1=k1, b=b,
                         stemmed=stem, expected_n_docs=n_docs)
    vocab, avgdl = fin["vocabulary"], fin["avgdl"]
    stage_secs["finalize"] = time.time() - ts
    wall_total = time.time() - t0
    dps = n_docs / wall_total if wall_total > 0 else None
    write_manifest(out_dir, "finalize", {
        "fingerprint": fingerprint,
        "n_docs": n_docs, "vocabulary": vocab, "avgdl": avgdl,
        "wall_secs": stage_secs["finalize"], "docs_per_sec": dps,
        "outputs": [paths.dictionary, paths.corpus_stats],
        "lineage": {"stage": "finalize", "inputs": [paths.postings,
                                                    paths.docs],
                    "op": "df-dictionary+corpus-stats",
                    "n_buckets": n_buckets},
    })
    return BuildResult(paths, n_docs, wall_total,
                       n_docs / wall_total, stage_secs, resumed)
