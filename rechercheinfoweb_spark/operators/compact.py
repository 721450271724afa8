"""Chunk compaction — LSM-style segment merge for the posting store.

The streaming path (streaming/incremental.py) appends each
micro-batch as its own chunk, so a long-lived index accumulates one
``salt=c`` postings partition and one ``docs/chunk=c`` directory per
batch.  Correctness never degrades (readers union all snapshot
chunks), but per-query cost does: every term carries one posting row
per chunk it appears in, the score stage runs one ``applyInPandas``
group per chunk, and the parquet scan lists one directory per
(bucket, chunk).  At 10^12 docs with micro-batch appends that is the
classic LSM problem, and this module is the classic answer: merge
runs of small adjacent chunks into one.

Why the merge is cheap — a layout-v4 design dividend: every posting
block's delta chain is independent (it cumsums to ABSOLUTE doc ids;
codec.pack_postings), and chunks are disjoint contiguous doc-id
ranges.  Merging chunks is therefore pure block-LIST concatenation in
doc-id order: not a single varint is re-encoded, block-max metadata
stays valid, and scores are bit-identical by construction (the score
kernel accumulates per term in sorted order either way).  Only the
grouping row (term, salt, blocks[]) is rewritten.

Snapshot discipline (shared with finalize): merged chunks take FRESH
ids, the working registry is replaced atomically, and the new chunk
set reaches readers only through ``finalize_index``'s atomic
(dictionary, registry-snapshot, corpus_stats) publish.  Readers
opened before compaction keep scoring the OLD chunk dirs — pruning
retains every chunk referenced by the current or previous snapshot,
exactly the live-reader grace the dictionary versions already get.

Crash analysis: a crash before the registry replace leaves orphan
``salt=new`` dirs that the next compaction run deterministically
overwrites (same fresh ids, dynamic partition overwrite); a crash
between registry replace and finalize leaves readers pinned to the
old snapshot — re-running compaction (or just finalize) completes the
publish.  No window loses data or mixes snapshots.

Scale shape: compaction reads and writes ONLY the chunks it merges —
one shuffle over their postings (term rows hash to their merged
group) and one narrow rewrite of their docs rows.  Cost is
proportional to the merged span, never to the index, so a background
compactor can run on whatever cadence bounds chunk count.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
from pyspark.sql import SparkSession, functions as F

from ..plans.checkpoints import write_manifest
from .index_build import (
    DOC_STATS_SCHEMA, DOCS_PER_CHUNK, POSTINGS_SCHEMA, IndexPaths,
    check_layout, dict_version_of, finalize_index, read_registry,
    snapshot_registry, write_registry,
)


def _merge_postings_kernel(dead_map: dict | None = None,
                           block_size: int = 128):
    """applyInPandas kernel over one (bucket, new_salt) group: all
    posting rows of the chunks being merged into ``new_salt``.  Per
    term: blocks concatenate in doc-id order (min_doc_id of the
    source row — chunk ranges are disjoint), df_part sums,
    min_doc_id mins.  Block bytes are NOT touched — unless
    ``dead_map`` lists tombstoned ids for this new_salt (physical
    delete purge, operators/delete.py): then each term's blocks
    decode, drop the dead ids, and re-pack through the SAME
    ``codec.pack_postings`` the build uses (df_part = live count,
    emptied terms dropped), so a purged index is byte-compatible
    with a fresh build over the survivors."""

    def fn(pdf):
        import pandas as pd
        from ..functions import codec
        bucket = int(pdf["bucket"].iloc[0])
        new_salt = int(pdf["new_salt"].iloc[0])
        dead = (dead_map or {}).get(new_salt)
        pdf = pdf.sort_values(["term", "min_doc_id"], kind="mergesort")
        terms: list = []
        dfp: list = []
        minid: list = []
        blocks: list = []
        for term, g in pdf.groupby("term", sort=False):
            blks = [b for lst in g["blocks"] for b in lst]
            if dead is not None:
                parts = [codec.unpack_block(bytes(b["data"]),
                                            int(b["n"])) for b in blks]
                ids = np.concatenate([p[0] for p in parts])
                live = ~np.isin(ids, dead)
                if not live.any():
                    continue  # term now empty in this shard
                if not live.all():
                    blks = codec.pack_postings(
                        ids[live],
                        np.concatenate([p[1] for p in parts])[live],
                        np.concatenate([p[2] for p in parts])[live],
                        np.concatenate([p[3] for p in parts])[live],
                        block_size)
                dfp.append(int(live.sum()))
                minid.append(int(ids[live.argmax()]))
            else:
                dfp.append(int(g["df_part"].sum()))
                minid.append(int(g["min_doc_id"].iloc[0]))
            terms.append(term)
            blocks.append(blks)
        return pd.DataFrame({
            "term": terms,
            "bucket": np.full(len(terms), bucket, dtype=np.int32),
            "salt": np.full(len(terms), new_salt, dtype=np.int32),
            "df_part": np.asarray(dfp, dtype=np.int64),
            "min_doc_id": np.asarray(minid, dtype=np.int64),
            "blocks": blocks,
        })

    return fn


def plan_groups(published: list[dict], target_docs: int
                ) -> list[list[dict]]:
    """Greedy left-to-right grouping of the published chunks (in
    doc-id order) into runs of total size <= target_docs.  A chunk
    already >= target stays alone.  Only runs of >= 2 chunks are
    merge work."""
    rows = sorted(published, key=lambda r: r["min_id"])
    groups: list[list[dict]] = []
    cur: list[dict] = []
    cur_docs = 0
    for r in rows:
        if cur and cur_docs + r["n_docs"] > target_docs:
            groups.append(cur)
            cur, cur_docs = [], 0
        cur.append(r)
        cur_docs += r["n_docs"]
    if cur:
        groups.append(cur)
    return groups


def _prune_unreferenced_chunks(paths: IndexPaths,
                               keep: set[int]) -> list[int]:
    """Delete postings salt dirs + docs chunk dirs for chunks in no
    live snapshot (current, previous, or working registry)."""
    pruned: set[int] = set()
    if os.path.isdir(paths.postings):
        for bdir in os.listdir(paths.postings):
            bpath = os.path.join(paths.postings, bdir)
            if not (bdir.startswith("bucket=") and os.path.isdir(bpath)):
                continue
            for sdir in os.listdir(bpath):
                if sdir.startswith("salt=") and sdir[5:].lstrip("-") \
                        .isdigit() and int(sdir[5:]) not in keep:
                    shutil.rmtree(os.path.join(bpath, sdir),
                                  ignore_errors=True)
                    pruned.add(int(sdir[5:]))
    if os.path.isdir(paths.docs):
        for cdir in os.listdir(paths.docs):
            if cdir.startswith("chunk=") and cdir[6:].lstrip("-") \
                    .isdigit() and int(cdir[6:]) not in keep:
                shutil.rmtree(os.path.join(paths.docs, cdir),
                              ignore_errors=True)
                pruned.add(int(cdir[6:]))
    return sorted(pruned)


def compact_chunks(spark: SparkSession, out_dir: str, *,
                   target_docs: int = DOCS_PER_CHUNK,
                   prune: bool = True,
                   keep_previous: bool = True,
                   purge_deletes: bool = True) -> dict:
    """Merge runs of adjacent published chunks up to ``target_docs``
    docs each, publish the new snapshot, prune unreferenced dirs.

    Returns a summary dict; ``merged_groups == 0`` means the chunk
    layout was already within target (no-op, nothing written).
    ``target_docs`` doubles as the per-shard memory bound every
    ranked path relies on — the Spark kernels and LocalSearcher score
    one salt at a time with dense scratch sized by its id span — so
    the default matches the build's DOCS_PER_CHUNK.

    ``keep_previous`` (default) retains the pre-compaction chunk dirs
    for readers opened before this run (they are pruned by the NEXT
    compaction, once their snapshot ages out) — the same
    current+previous grace the dictionary versions get.  Pass False
    to reclaim the space immediately when no long-lived readers exist
    (Iceberg's expire-snapshots trade-off).

    ``purge_deletes`` (default): chunks holding tombstoned docs
    (operators/delete.py) are rewritten even when they need no merge
    — posting blocks re-pack without the dead ids, docs rows drop,
    and the registry keeps the chunk's original id *span* (the
    positional contract; survivors never renumber) while ``n_docs``
    becomes the live count, so the finalize below republishes
    n_docs/avgdl/df over the survivors.  Purged ids leave the
    tombstone file only AFTER the snapshot commit (a crash replays
    the purge; it never resurrects a deleted doc)."""
    import pyarrow.parquet as pq

    t0 = time.time()
    paths = IndexPaths(out_dir)
    if not os.path.exists(paths.corpus_stats):
        # never finalized: nothing is published, nothing to merge
        return {"merged_groups": 0, "n_chunks_before": 0,
                "n_chunks_after": 0, "wall_secs": 0.0}
    stats = pq.read_table(paths.corpus_stats).to_pylist()[0]
    check_layout(stats)
    working = read_registry(paths.chunks)
    published = snapshot_registry(paths, stats)
    published_ids = {r["chunk"] for r in published}
    working_ids = {r["chunk"] for r in working}
    # Interrupted-compaction detection: compact is the ONLY operation
    # that removes rows from the working registry, and it writes the
    # replacement data dirs BEFORE the (atomic) working-manifest
    # commit, with the snapshot publish strictly after.  A published
    # chunk missing from the working registry therefore means a
    # previous run crashed between its manifest commit and the
    # publish: the replacement data is complete on disk — COMPLETE
    # the publish instead of planning a new merge, which would read
    # the published chunk list, merge it AGAIN under fresh ids, and
    # double every replaced chunk in the next snapshot.
    if published_ids - working_ids:
        fin = finalize_index(spark, out_dir,
                             n_buckets=int(stats["n_buckets"]),
                             block_size=int(stats["block_size"]),
                             k1=float(stats["k1"]),
                             b=float(stats["b"]))
        return {"merged_groups": 0, "resumed_publish": True,
                "n_chunks_before": len(published),
                "n_chunks_after": fin["n_chunks"],
                "wall_secs": round(time.time() - t0, 3)}

    from .delete import dead_by_salt, read_tombstones
    tombstones = (read_tombstones(paths) if purge_deletes
                  else np.zeros(0, dtype=np.int64))
    dead_by_chunk = dead_by_salt(tombstones, published)

    groups = plan_groups(published, target_docs)
    merge_groups = [g for g in groups
                    if len(g) >= 2
                    or any(r["chunk"] in dead_by_chunk for r in g)]
    if not merge_groups:
        return {"merged_groups": 0, "n_chunks_before": len(published),
                "n_chunks_after": len(published), "wall_secs": 0.0}

    next_id = max(r["chunk"] for r in working) + 1
    mapping: dict[int, int] = {}
    merged_rows: list[dict] = []
    dead_map: dict[int, np.ndarray] = {}
    for i, g in enumerate(merge_groups):
        new_id = next_id + i
        for r in g:
            mapping[r["chunk"]] = new_id
        g_dead = [dead_by_chunk[r["chunk"]] for r in g
                  if r["chunk"] in dead_by_chunk]
        if g_dead:
            dead_map[new_id] = np.concatenate(g_dead)
        min_id = min(r["min_id"] for r in g)
        merged_rows.append({
            "chunk": new_id,
            "min_id": min_id,
            "n_docs": sum(r["n_docs"] for r in g),
            # id-range width, NOT live count: the positional
            # contract survives delete holes (delete.py)
            "span": max(r["min_id"] + r.get("span", r["n_docs"])
                        for r in g) - min_id,
            "batch_id": None,
        })

    old_ids = sorted(mapping)
    map_expr = F.create_map(*[F.lit(x) for kv in mapping.items()
                              for x in kv])

    # live tombstoned docs per merged chunk (ids may be stale after a
    # crashed purge — count only rows that actually exist): a narrow
    # pushed-predicate scan proportional to the tombstone set
    purged_docs = 0
    if dead_map:
        all_dead = [int(x) for arr in dead_map.values() for x in arr]
        by_new = {r["chunk"]: r for r in merged_rows}
        cnt = (spark.read.option("basePath", paths.docs)
               .parquet(*[os.path.join(paths.docs, f"chunk={c}")
                          for c in old_ids])
               .where(F.col("doc_id").isin(all_dead))
               .withColumn("new_chunk",
                           F.element_at(map_expr, F.col("chunk")))
               .groupBy("new_chunk").count().collect())
        for row in cnt:
            by_new[row["new_chunk"]]["n_docs"] -= int(row["count"])
            purged_docs += int(row["count"])

    # postings: one shuffle over the merged chunks' rows only; block
    # bytes ride through untouched (list concat in the kernel)
    (spark.read.parquet(paths.postings)
     .where(F.col("salt").isin(old_ids))
     .withColumn("new_salt", F.element_at(map_expr, F.col("salt")))
     .select("term", "bucket", "new_salt", "df_part", "min_doc_id",
             "blocks")
     .groupBy("bucket", "new_salt")
     .applyInPandas(_merge_postings_kernel(dead_map or None,
                                           int(stats["block_size"])),
                    schema=POSTINGS_SCHEMA)
     .write.partitionBy("bucket", "salt")
     .option("partitionOverwriteMode", "dynamic")
     .mode("overwrite").parquet(paths.postings))

    # docs: narrow rewrite of the merged chunks' rows under their new
    # chunk id (tombstoned rows dropped — the physical delete)
    docs_df = (spark.read.option("basePath", paths.docs)
               .parquet(*[os.path.join(paths.docs, f"chunk={c}")
                          for c in old_ids]))
    if dead_map:
        docs_df = docs_df.where(~F.col("doc_id").isin(
            [int(x) for arr in dead_map.values() for x in arr]))
    (docs_df
     .withColumn("chunk",
                 F.element_at(map_expr, F.col("chunk")).cast("int"))
     .select(*DOC_STATS_SCHEMA.fieldNames())
     .write.partitionBy("chunk")
     .option("partitionOverwriteMode", "dynamic")
     .mode("overwrite").parquet(paths.docs))
    # a fully-purged group writes no partition (dynamic overwrite
    # skips empty ones) — materialize an empty dir so per-chunk path
    # reads (finalize, reader.docs) stay valid
    for r in merged_rows:
        cdir = os.path.join(paths.docs, f"chunk={r['chunk']}")
        if r["n_docs"] == 0 and not os.path.isdir(cdir):
            (spark.createDataFrame([], DOC_STATS_SCHEMA)
             .drop("chunk").write.mode("overwrite").parquet(cdir))

    # working-registry commit (atomic file replace): merged rows in,
    # source rows out; unpublished appended chunks ride along
    # untouched
    survivors = [r for r in working if r["chunk"] not in mapping]
    write_registry(paths.chunks, survivors + merged_rows)

    # publish: atomic (dictionary, registry snapshot, corpus_stats)
    fin = finalize_index(spark, out_dir,
                         n_buckets=int(stats["n_buckets"]),
                         block_size=int(stats["block_size"]),
                         k1=float(stats["k1"]), b=float(stats["b"]))

    # tombstone retirement — strictly AFTER the snapshot commit: a
    # crash before this point replays the purge on the next run; a
    # deleted doc can never resurrect.  Ids inside any rewritten
    # group's range are now guaranteed absent from postings and docs.
    if tombstones.size and merged_rows:
        from .delete import write_tombstones
        keep_mask = np.ones(tombstones.size, dtype=bool)
        for r in merged_rows:
            lo = np.searchsorted(tombstones, r["min_id"], side="left")
            hi = np.searchsorted(tombstones, r["min_id"] + r["span"],
                                 side="left")
            keep_mask[lo:hi] = False
        if not keep_mask.all():
            write_tombstones(paths, tombstones[keep_mask])

    pruned: list[int] = []
    if prune:
        keep = {r["chunk"] for r in read_registry(paths.chunks)}
        keep.update(r["chunk"] for r in snapshot_registry(
            paths, pq.read_table(paths.corpus_stats).to_pylist()[0]))
        prev = paths.chunks_version(dict_version_of(stats))
        if keep_previous and os.path.exists(prev):
            # pre-compaction snapshot: readers opened before this run
            keep.update(r["chunk"] for r in read_registry(prev))
        pruned = _prune_unreferenced_chunks(paths, keep)

    wall = time.time() - t0
    info = {
        "merged_groups": len(merge_groups),
        "n_chunks_before": len(published),
        "n_chunks_after": len(published) - len(mapping)
        + len(merge_groups),
        "merged_chunks": old_ids,
        "new_chunks": [r["chunk"] for r in merged_rows],
        "purged_docs": purged_docs,
        "pruned_chunks": pruned,
        "dict_version": fin["dict_version"],
        "wall_secs": wall,
    }
    write_manifest(out_dir, f"compact-{fin['dict_version']:06d}", {
        **info,
        "lineage": {"stage": "compact", "op": "chunk-merge",
                    "target_docs": target_docs,
                    "published_ids": sorted(published_ids)},
    })
    return info
