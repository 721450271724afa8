"""Incremental index ingestion — Structured Streaming over web_pages.

The reference is batch-only (SURVEY.md §2.7: build once, serve); this
module is the scale-path extension the Spark architecture buys for
free: because the batch build already materializes the index as
immutable per-(bucket, salt) posting files plus a chunk registry
(operators/index_build.py), a streaming micro-batch of new pages is
simply *the next chunk*:

  foreachBatch(batch) →
      ONE Spark job: the batch's (url, text, lang) rows go through one
      single-partition exchange into ``mapInArrow``, where ONE Python
      task builds the whole chunk —
        assign ids [max_id+1 ..] (url order within the batch),
        tokenize each doc once (the docs-table stats and the term
        rows come from the same pass),
        route each term to its bucket (functions/xxhash, equal to the
        build's Spark-side ``term_bucket``),
        pack each bucket with the build's block-pack kernel,
        write docs/chunk=c + postings/bucket=*/salt=c with pyarrow
        (final v4 blocks — immutable once published);
      atomically replace the chunk registry with the appended row,
      write a per-batch manifest (lineage + docs/sec).

For a micro-batch the build's plan (a task per doc range, a shuffle
by term bucket, Spark writes) costs more in Spark jobs and Python
task round trips than its kernels do.  The one task does the whole
batch's kernel work serially, so its time grows with the batch at
~0.17 ms per page: measured from 200 to 250,000 synthetic pages
(20-300 tokens, local[4], 4-core VM), it stayed faster than the
build's plan (0.8 vs 3.5 s at 1,000 pages, 17.5 vs 24.1 s at
100,000, 44 vs 62 s at 250,000 — a whole build chunk).  Its memory
grows with the batch too: one Python worker peaked at 0.86 GB for
100,000 pages and 1.7 GB for 250,000, where the build's plan spread
~3.4 GB over its workers.

Queries keep working against the last finalized snapshot while
batches accumulate (readers pin the registry snapshot corpus_stats
references and filter new salts out); :func:`refresh` publishes the
next snapshot.  It is METADATA-ONLY — the dictionary (global df and
first doc id per term) and corpus_stats — because scheme weights
are computed at query time, and for the usual case, chunks appended
on top of the live snapshot, it is a delta with no Spark job
(:func:`publish_delta`, which compaction publishes through too): the
driver adds the new chunks' docs to corpus_stats (and the raw tokens
of docs the Heaps half-point passes) and merges the new salts'
(term, df_part, min_doc_id) rows into the previous dictionary
version one bucket at a time with pyarrow.  A refresh therefore
costs O(batch + vocabulary), whatever the index's posting count.
The full ``finalize_index`` (one aggregation over every snapshot
postings row) publishes instead whenever the delta cannot prove its
result equal:

* the index was never finalized;
* a live-snapshot chunk is missing from the working registry or
  changed there — other than the chunks the calling compaction
  replaced, so for a refresh: a crashed compaction's registry — or
  an unpublished chunk's ids do not start above the snapshot's, or
  the working registry's doc count differs from the delta's;
* the snapshot predates the dictionary's ``min_doc_id`` or
  corpus_stats' ``t_half`` column (once: the full finalize writes
  both).

Both paths commit through the same ``publish_snapshot`` tail.
Long-running ingestion bounds its chunk count (and with it
per-query shard fan-out) with
:func:`..operators.compact.compact_chunks` on whatever cadence fits
— compaction cost is proportional to the chunks merged, not the
index.

Exactly-once: Structured Streaming's checkpoint (WAL + committed
offsets) guarantees each micro-batch is delivered once to
foreachBatch; the append itself is idempotent per ``batch_id``
through two commit markers checked on replay-after-crash:

  1. the batch manifest (written last);
  2. the registry row's ``batch_id`` column (written atomically via
     tmp-file + os.replace after the data files and BEFORE the
     manifest).

A crash before the registry write replays into the same chunk id.
The append task first removes every ``docs/chunk=c`` and
``postings/*/salt=c`` dir, so neither a replay's earlier attempt nor
the orphaned output of a compaction that crashed before its registry
commit (compaction's fresh chunk id is the id the next append takes)
can leak rows into the chunk; chunk c is unpublished, so no reader
sees the removal.  A crash between registry and manifest is
reconciled by the registry's batch_id (the batch is NOT re-appended;
only the missing manifest is rewritten).  The atomic file replace
also removes the delete-then-write window in which a crash could
lose the registry entirely.  An empty micro-batch (a filtered source
can deliver one) commits no registry row and writes only its
manifest.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions import codec, scoring
from ..functions.tokenizer import STOPWORDS
from ..functions.xxhash import spark_term_bucket
from ..operators.index_build import (
    _KERNEL_DOC_SLICE, DOC_STATS_SCHEMA, POSTINGS_SCHEMA, IndexPaths,
    _batch_token_stats, _make_unique_token_lut, _next_dict_version,
    _pack_postings_kernel, finalize_index, publish_snapshot,
    read_registry, stemmed_of, write_registry,
)
from ..plans.checkpoints import read_manifest, write_manifest

# manifest in which the first append into an empty dir records the
# bucket count and block size its chunk was written with
_LAYOUT_MANIFEST = "stream-layout"


def _index_params(paths: IndexPaths, n_buckets: int,
                  block_size: int) -> dict:
    """Bucketing, packing and scoring parameters of the existing
    index.  An append MUST bucket terms (a physical partition dir)
    and pack blocks exactly like it, and a refresh must republish its
    k1/b, so once the index has been finalized corpus_stats wins over
    the arguments, and before that the layout the first append
    recorded does."""
    import pyarrow.parquet as pq
    if not os.path.exists(paths.corpus_stats):
        layout = read_manifest(paths.out_dir, _LAYOUT_MANIFEST) or {}
        return {"n_buckets": int(layout.get("n_buckets", n_buckets)),
                "block_size": int(layout.get("block_size", block_size)),
                "k1": scoring.K1, "b": scoring.B}
    stats = pq.read_table(paths.corpus_stats).to_pylist()[0]
    return {"n_buckets": int(stats["n_buckets"]),
            "block_size": int(stats["block_size"]),
            "k1": float(stats["k1"]), "b": float(stats["b"])}


def _write_part(dir_path: str, table) -> None:
    """One parquet file in *dir_path* via a hidden tmp file +
    os.replace (Spark and pyarrow readers skip dot-files)."""
    import pyarrow.parquet as pq
    os.makedirs(dir_path, exist_ok=True)
    tmp = os.path.join(dir_path, f".part-00000.tmp.{os.getpid()}")
    pq.write_table(table, tmp, compression="zstd")
    os.replace(tmp, os.path.join(dir_path, "part-00000.zstd.parquet"))


def _clear_chunk(paths: IndexPaths, chunk: int) -> None:
    """Remove ``docs/chunk=c`` and every ``postings/*/salt=c`` dir of
    an unpublished chunk id before it is written."""
    shutil.rmtree(os.path.join(paths.docs, f"chunk={chunk}"),
                  ignore_errors=True)
    if os.path.isdir(paths.postings):
        for bdir in os.listdir(paths.postings):
            shutil.rmtree(os.path.join(paths.postings, bdir,
                                       f"salt={chunk}"),
                          ignore_errors=True)


def _file_schema(table_schema, *partition_cols: str):
    """Arrow schema of a table's data files: its Spark schema, not-null
    flags included, minus the partition (directory) columns."""
    schema = to_arrow_schema(table_schema)
    for col in partition_cols:
        schema = schema.remove(schema.get_field_index(col))
    return schema


def _append_chunk_kernel(out_dir: str, chunk: int, first_id: int,
                         n_buckets: int, block_size: int,
                         stopwords: frozenset[str], use_stem: bool,
                         doc_slice: int = _KERNEL_DOC_SLICE):
    """mapInArrow body of :func:`append_batch`, run as ONE task over
    the whole batch: (url, text, lang) rows → ``docs/chunk=c`` and
    ``postings/bucket=B/salt=c`` files with the same rows, schemas
    and block bytes the build's Spark writes produce; yields one
    ``n_docs`` row (none for an empty batch, which writes nothing).

    The task holds the batch's pages plus 12 bytes per (doc, term)
    row — doc index, batch-vocabulary code and tf, all int32 — and
    materializes full posting rows (term strings, doc ids, doc
    stats) for one bucket at a time."""
    docs_schema = _file_schema(DOC_STATS_SCHEMA, "chunk")
    postings_schema = _file_schema(POSTINGS_SCHEMA, "bucket", "salt")

    def fn(batches):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc
        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        del batches
        tbl = tbl.take(pc.sort_indices(tbl, [("url", "ascending")]))
        n = tbl.num_rows
        doc_ids = np.arange(first_id, first_id + n, dtype=np.int64)
        map_one = _make_unique_token_lut(stopwords, use_stem)
        n_raw = np.zeros(n, dtype=np.int64)
        dl = np.zeros(n, dtype=np.int64)
        max_tf = np.zeros(n, dtype=np.int64)
        vocab: dict[str, int] = {}
        doc_of, code_of, tf = [], [], []
        for lo in range(0, n, doc_slice):
            hi = min(lo + doc_slice, n)
            n_raw[lo:hi], dl[lo:hi], max_tf[lo:hi], (d, t, c) = \
                _batch_token_stats(
                    tbl.column("text").slice(lo, hi - lo).to_pylist(),
                    map_one, want_terms=True)
            # t repeats the slice's few distinct term strings: code
            # them against the batch vocabulary
            local, uniq = pd.factorize(t)
            codes = np.fromiter(
                (vocab.setdefault(w, len(vocab)) for w in uniq),
                dtype=np.int32, count=len(uniq))
            doc_of.append((d + lo).astype(np.int32))
            code_of.append(codes[local])
            tf.append(c.astype(np.int32))
        doc_of = np.concatenate(doc_of)
        code_of = np.concatenate(code_of)
        tf = np.concatenate(tf)

        paths = IndexPaths(out_dir)
        _clear_chunk(paths, chunk)
        _write_part(os.path.join(paths.docs, f"chunk={chunk}"),
                    pa.table({"doc_id": doc_ids, "url": tbl["url"],
                              "lang": tbl["lang"], "dl": dl,
                              "max_tf": max_tf, "n_raw": n_raw},
                             schema=docs_schema))
        del tbl

        terms = pa.array(list(vocab), pa.string())
        bucket_of = np.fromiter(
            (spark_term_bucket(w, n_buckets) for w in vocab),
            dtype=np.int32, count=len(vocab))
        row_bucket = bucket_of[code_of]
        order = np.argsort(row_bucket, kind="stable")
        bounds = np.concatenate(
            ([0], np.cumsum(np.bincount(row_bucket,
                                        minlength=n_buckets))))
        del row_bucket
        pack = _pack_postings_kernel(block_size)
        for bucket in range(n_buckets):
            sel = order[bounds[bucket]:bounds[bucket + 1]]
            if not sel.size:
                continue
            d = doc_of[sel]
            packed = pack(pa.table({
                "doc_id": doc_ids[d],
                "chunk": np.full(sel.size, chunk, dtype=np.int32),
                "term": terms.take(code_of[sel]),
                "tf": tf[sel].astype(np.int64),
                "dl": dl[d], "max_tf": max_tf[d],
                "tbucket": np.full(sel.size, bucket, dtype=np.int32)}))
            _write_part(
                os.path.join(paths.postings, f"bucket={bucket}",
                             f"salt={chunk}"),
                packed.drop_columns(["bucket", "salt"])
                .cast(postings_schema))
        yield pa.RecordBatch.from_pydict(
            {"n_docs": pa.array([n], pa.int64())})

    return fn


def append_batch(spark: SparkSession, batch_df: DataFrame,
                 out_dir: str, batch_id: int | None = None, *,
                 n_buckets: int = 16,
                 block_size: int = codec.DEFAULT_BLOCK,
                 stopwords: frozenset[str] = STOPWORDS) -> dict | None:
    """Append one micro-batch of web_pages as a new chunk, in one
    Spark job with one Python task (see module docstring).

    Ids continue from the registry's max (url order within the
    batch — deterministic given the batch content).  Idempotent per
    batch_id: a replayed batch whose manifest OR registry row exists
    is skipped (see module docstring for the crash-window analysis).
    ``n_buckets`` and ``block_size`` apply only to the first append
    into an empty dir; afterwards the layout it recorded, then
    corpus_stats, fixes both.
    """
    paths = IndexPaths(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    reg = read_registry(paths.chunks)
    name = None
    if batch_id is not None:
        name = f"stream-batch-{batch_id:06d}"
        if read_manifest(out_dir, name) is not None:
            return None  # replay after crash — already applied
        applied = [r for r in reg if r.get("batch_id") == batch_id]
        if applied:
            # crash landed between registry commit and manifest:
            # reconcile by (re)writing the manifest only
            r = applied[0]
            write_manifest(out_dir, name, {
                "chunk": r["chunk"], "batch_id": batch_id,
                "n_docs": r["n_docs"], "first_doc_id": r["min_id"],
                "reconciled": True,
                "lineage": {"stage": "stream-append",
                            "chunk": r["chunk"],
                            "op": "reconcile-after-crash"},
            })
            return None
    ts = time.time()
    if not reg and not os.path.exists(paths.corpus_stats):
        # the first chunk fixes the layout of every later append and
        # of the first refresh
        write_manifest(out_dir, _LAYOUT_MANIFEST,
                       {"n_buckets": n_buckets, "block_size": block_size})
    params = _index_params(paths, n_buckets, block_size)
    n_buckets, block_size = params["n_buckets"], params["block_size"]
    # appended chunks MUST tokenize exactly like the existing index
    use_stem = bool(stemmed_of(paths))
    next_chunk = (max(r["chunk"] for r in reg) + 1) if reg else 0
    # span, not n_docs: after a physical delete purge a chunk's live
    # count shrinks but its id RANGE does not — new ids must start
    # above every id ever assigned or they would collide with holes
    next_id = (max(r["min_id"] + r.get("span", r["n_docs"])
                   for r in reg)) if reg else 1

    kernel = _append_chunk_kernel(out_dir, next_chunk, next_id,
                                  n_buckets, block_size, stopwords,
                                  use_stem)
    n_batch = sum(r["n_docs"] for r in
                  batch_df.select("url", "text", "lang")
                  .repartition(1)
                  .mapInArrow(kernel, "n_docs long").collect())
    chunk = None  # an empty batch adds no chunk: no registry row
    if n_batch:
        chunk = next_chunk
        # registry commit: atomic single-file replace (os.replace),
        # with batch_id recorded as the idempotency marker
        write_registry(paths.chunks, reg + [
            {"chunk": chunk, "min_id": next_id, "n_docs": n_batch,
             "batch_id": batch_id}])

    wall = time.time() - ts
    info = {
        "chunk": chunk, "batch_id": batch_id,
        "n_docs": n_batch, "first_doc_id": next_id, "wall_secs": wall,
        "docs_per_sec": n_batch / wall if wall > 0 else None,
        "lineage": {"stage": "stream-append", "chunk": chunk,
                    "op": "tokenize+count+block-pack",
                    "block_size": block_size,
                    "n_buckets": n_buckets},
    }
    if name is not None:
        write_manifest(out_dir, name, info)
    return info


def refresh(spark: SparkSession, out_dir: str, *,
            n_buckets: int = 16,
            block_size: int = codec.DEFAULT_BLOCK) -> dict:
    """Publish all appended chunks to queries: the next dictionary
    version (global df) + corpus_stats.  Metadata-only — posting
    bytes are untouched — and, for chunks appended on top of the
    live snapshot, a driver-side delta with no Spark job (see module
    docstring); anything else runs the full ``finalize_index``.  A
    finalized index keeps its own n_buckets, block_size, k1 and b."""
    paths = IndexPaths(out_dir)
    info = publish_delta(paths)
    if info is None:
        info = finalize_index(
            spark, out_dir, **_index_params(paths, n_buckets, block_size))
    return info


def publish_delta(paths: IndexPaths, replaced: dict[int, int] | None = None,
                  dead=None, lost=None) -> dict | None:
    """Publish the live snapshot ⊕ the working registry's changes
    since — pyarrow on the driver, no Spark job: the one delta
    publisher of :func:`refresh` and of compaction.

    Chunks appended on top of the snapshot add their docs' counts and
    token sums to corpus_stats, and their (term, df_part, min_doc_id)
    rows merge into the previous dictionary one bucket at a time; no
    postings but the new salts' are read.  A compaction passes the
    snapshot chunks it *replaced* (old chunk → merged chunk), the
    purged docs *dead* (doc_id, dl, n_raw) and the postings *lost*
    (bucket, salt, term, df removed, and the merged chunk's first
    surviving doc of the term, null when none is left): the dead
    docs leave corpus_stats, the lost df leaves the dictionary
    (terms whose df reaches 0 drop), and a term whose first doc died
    takes its merged chunk's first survivor — chunks are disjoint id
    ranges, so that is the global one — or, with none left there, the
    least ``min_doc_id`` of the bucket's later salts.

    Returns None, having written nothing, unless every live-snapshot
    chunk is still in the working registry unchanged (or replaced),
    every other chunk's ids start above the snapshot's, the working
    registry counts the docs the delta arrives at, and the snapshot
    has the ``t_half`` and ``min_doc_id`` columns: the result then
    equals a full finalize's (pinned by tests/test_streaming.py and
    tests/test_compact.py)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    if not os.path.exists(paths.corpus_stats):
        return None
    stats = pq.read_table(paths.corpus_stats).to_pylist()[0]
    version = stats.get("dict_version")
    if version is None or stats.get("t_half") is None:
        return None
    snap_path = paths.chunks_version(version)
    prev_dict = paths.dictionary_version(version)
    if not (os.path.exists(snap_path) and os.path.isdir(prev_dict)
            and "min_doc_id" in ds.dataset(prev_dict).schema.names):
        return None
    replaced = replaced or {}
    snap, working = read_registry(snap_path), read_registry(paths.chunks)

    def key(r):
        return r["chunk"], r["min_id"], r["n_docs"], r["span"]
    kept = {key(r) for r in working}
    if (any(r["chunk"] not in replaced and key(r) not in kept
            for r in snap)
            or sum(r["n_docs"] for r in snap) != stats["n_docs"]):
        return None
    covered = {r["chunk"] for r in snap} | set(replaced.values())
    last_id = max((r["min_id"] + r["span"] - 1 for r in snap), default=0)
    new = [r for r in working if r["chunk"] not in covered]
    if any(r["min_id"] <= last_id for r in new):
        return None
    dead_ids = (np.sort(dead["doc_id"].to_numpy()) if dead is not None
                else np.zeros(0, dtype=np.int64))
    n_docs = stats["n_docs"] - dead_ids.size + sum(r["n_docs"] for r in new)
    if sum(r["n_docs"] for r in working) != n_docs:
        return None

    # docs: the dead docs out, the new chunks' sums in, and the raw
    # tokens of docs the Heaps half-point passes (between the old and
    # the new half, either way), read only from the chunks whose id
    # range overlaps that interval
    old_half, half = stats["n_docs"] // 2, n_docs // 2
    lo, hi = sorted((old_half, half))
    sign = 1 if half >= old_half else -1
    n_raw_tokens, sum_dl = stats["n_raw_tokens"], stats["sum_dl"]
    t_half = stats["t_half"]
    if dead is not None:
        n_raw = dead["n_raw"].to_numpy()
        n_raw_tokens -= int(n_raw.sum())
        sum_dl -= int(dead["dl"].to_numpy().sum())
        t_half -= int(n_raw[dead["doc_id"].to_numpy() <= old_half].sum())
    appended = {r["chunk"] for r in new}
    for r in working:
        is_new = r["chunk"] in appended
        if not is_new and (r["min_id"] + r["span"] - 1 <= lo
                           or r["min_id"] > hi):
            continue
        docs = pq.read_table(
            os.path.join(paths.docs, f"chunk={r['chunk']}"),
            columns=["doc_id", "dl", "n_raw"])
        if is_new:
            if docs.num_rows != r["n_docs"]:
                raise ValueError(
                    f"docs chunk {r['chunk']} holds {docs.num_rows} "
                    f"docs, the registry says {r['n_docs']}")
            n_raw_tokens += pc.sum(docs["n_raw"]).as_py() or 0
            sum_dl += pc.sum(docs["dl"]).as_py() or 0
        passed = pc.and_(pc.greater(docs["doc_id"], lo),
                         pc.less_equal(docs["doc_id"], hi))
        t_half += sign * (pc.sum(docs["n_raw"].filter(passed)).as_py()
                          or 0)

    # dictionary: previous version ⊖ the lost postings ⊕ the new
    # salts' rows, per bucket
    schema = pa.schema([("term", pa.string()), ("df", pa.int64()),
                        ("min_doc_id", pa.int64())])
    dict_version = _next_dict_version(paths)
    vocab = v_half = 0
    for bucket in range(stats["n_buckets"]):
        parts = []
        prev = os.path.join(prev_dict, f"bucket={bucket}")
        if os.path.isdir(prev):
            parts.append(pq.read_table(prev, columns=schema.names)
                         .cast(schema))
            if lost is not None:
                parts[0] = _drop_lost(
                    paths, bucket, parts[0],
                    lost.filter(pc.equal(lost["bucket"], bucket)),
                    dead_ids, working)
        for r in new:
            salt = os.path.join(paths.postings, f"bucket={bucket}",
                                f"salt={r['chunk']}")
            if os.path.isdir(salt):
                parts.append(pq.read_table(
                    salt, columns=["term", "df_part", "min_doc_id"])
                    .rename_columns(schema.names).cast(schema))
        if not parts:
            continue
        agg = (pa.concat_tables(parts)
               .group_by("term")
               .aggregate([("df", "sum"), ("min_doc_id", "min")]))
        merged = pa.table([agg["term"], agg["df_sum"],
                           agg["min_doc_id_min"]],
                          schema=schema).sort_by("term")
        if not merged.num_rows:
            continue
        vocab += merged.num_rows
        v_half += int((merged["min_doc_id"].to_numpy() <= half).sum())
        _write_part(os.path.join(paths.dictionary_version(dict_version),
                                 f"bucket={bucket}"), merged)

    return publish_snapshot(
        paths, dict_version, working, n_docs=n_docs,
        n_raw_tokens=n_raw_tokens, sum_dl=sum_dl, t_half=t_half,
        vocab=vocab, v_half=v_half, n_buckets=stats["n_buckets"],
        block_size=stats["block_size"], k1=stats["k1"], b=stats["b"],
        stemmed=bool(stemmed_of(stats)))


def _drop_lost(paths: IndexPaths, bucket: int, prev, lost,
               dead_ids: np.ndarray, working: list[dict]):
    """Dictionary bucket *prev* (term, df, min_doc_id) minus a purge's
    *lost* postings of that bucket (see :func:`publish_delta`)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if not lost.num_rows:
        return prev
    removed = lost.group_by("term").aggregate([("df", "sum")])
    at = pc.index_in(removed["term"], value_set=prev["term"])
    if at.null_count:
        raise ValueError(f"dictionary bucket {bucket} lacks a term a "
                         "purge removed postings of")
    df = prev["df"].to_numpy().copy()
    df[at.to_numpy()] -= removed["df_sum"].to_numpy()
    first = prev["min_doc_id"].to_numpy().copy()
    died = np.flatnonzero((df > 0) & np.isin(first, dead_ids))
    if died.size:
        terms = prev["term"].take(died).to_pylist()
        survivor = dict(zip(zip(lost["term"].to_pylist(),
                                lost["salt"].to_pylist()),
                            lost["min_doc_id"].to_pylist()))
        rows = sorted(working, key=lambda r: r["min_id"])
        owner = [rows[i]["chunk"] for i in np.searchsorted(
            [r["min_id"] for r in rows], first[died], side="right") - 1]
        unresolved = {}
        for i, t, c in zip(died, terms, owner):
            if survivor.get((t, c)) is None:
                unresolved[t] = i
            else:
                first[i] = survivor[(t, c)]
        if unresolved:
            # no survivor in the first doc's chunk: read the term's
            # first doc of every later salt of the bucket
            lo = first[list(unresolved.values())].min()
            later = [os.path.join(paths.postings, f"bucket={bucket}",
                                  f"salt={r['chunk']}") for r in working
                     if r["min_id"] + r["span"] > lo]
            found = pa.concat_tables([
                pq.read_table(s, columns=["term", "min_doc_id"],
                              filters=[("term", "in", list(unresolved))])
                .cast(pa.schema([("term", pa.string()),
                                 ("min_doc_id", pa.int64())]))
                for s in later if os.path.isdir(s)]).group_by("term") \
                .aggregate([("min_doc_id", "min")])
            got = dict(zip(found["term"].to_pylist(),
                           found["min_doc_id_min"].to_pylist()))
            for t, i in unresolved.items():
                first[i] = got[t]
    keep = df > 0
    return pa.table([prev["term"], df, first], schema=prev.schema) \
        .filter(keep)


def index_web_pages_stream(spark: SparkSession, stream_df: DataFrame,
                           out_dir: str, checkpoint_dir: str, *,
                           refresh_every: int | None = None,
                           compact_every: int | None = None,
                           compact_target_docs: int | None = None,
                           n_buckets: int = 16,
                           trigger: dict | None = None):
    """Start the incremental ingestion stream.

    ``stream_df``: a streaming DataFrame with the web_pages schema
    (e.g. ``spark.readStream.schema(...).parquet(dir)`` or a Kafka
    source mapped to it).  With ``refresh_every=k`` the postings
    snapshot refreshes after every k-th micro-batch (else call
    :func:`refresh` on your own cadence — cheap either way, see
    module docstring).  With ``compact_every=m`` every m-th applied
    batch also runs :func:`..operators.compact.compact_chunks`
    (which refreshes as its publish step) — unbounded ingestion then
    holds chunk count, and with it per-query shard fan-out, at a
    constant instead of one chunk per micro-batch forever.
    """
    from ..operators.compact import compact_chunks
    from ..operators.index_build import DOCS_PER_CHUNK

    n_seen = {"batches": 0}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        info = append_batch(spark, batch_df, out_dir, batch_id,
                            n_buckets=n_buckets)
        if info is None or info["chunk"] is None:
            return  # replayed or empty: nothing new to publish
        n_seen["batches"] += 1
        if refresh_every and n_seen["batches"] % refresh_every == 0:
            refresh(spark, out_dir, n_buckets=n_buckets)
        if compact_every and n_seen["batches"] % compact_every == 0:
            compact_chunks(
                spark, out_dir,
                target_docs=compact_target_docs or DOCS_PER_CHUNK)

    writer = (stream_df.writeStream
              .option("checkpointLocation", checkpoint_dir)
              .foreachBatch(handle))
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()
