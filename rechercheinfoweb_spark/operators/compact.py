"""Chunk compaction — LSM-style segment merge for the posting store.

The streaming path (streaming/incremental.py) appends each
micro-batch as its own chunk, so a long-lived index accumulates one
``salt=c`` postings partition and one ``docs/chunk=c`` directory per
batch.  Correctness never degrades (readers union all snapshot
chunks), but per-query cost does: every term carries one posting row
per chunk it appears in, the shard scorer runs once per salt, and a
query lists one directory per (bucket, chunk).  At 10^12 docs with
micro-batch appends that is the classic LSM problem, and this module
is the classic answer: merge runs of small adjacent chunks into one.

Why the merge is cheap — a layout-v4 design dividend: every posting
block's delta chain is independent (it cumsums to ABSOLUTE doc ids;
codec.pack_postings), and chunks are disjoint contiguous doc-id
ranges.  Merging chunks is therefore pure block-LIST concatenation in
doc-id order: not a single varint is re-encoded, block-max metadata
stays valid, and scores are bit-identical by construction (the score
kernel accumulates per term in sorted order either way).  Only the
grouping row (term, salt, blocks[]) is rewritten.

One Spark job, no shuffle.  The work units are one postings unit per
(bucket, new chunk) and one docs unit per new chunk, packed in order
into tasks of at most ``spark.sql.files.maxPartitionBytes`` source
bytes (the rule ``IndexReader.scan_tasks`` packs salts by) and run
under ``spark.range(n).mapInArrow``.  A task reads its units' source
files with pyarrow and writes each output as one parquet file (tmp
file + os.replace).  The merge is columnar (:func:`merge_postings`):
the unit's rows sort by (term, min_doc_id), the ``blocks`` lists
flatten and their offsets are rebuilt per term, ``df_part`` is a
segment sum and ``min_doc_id`` the segment's first value.

Physical purge (operators/delete.py, :func:`purge_postings`): in a
group holding tombstoned ids only the terms with a block whose id
range can hold one are decoded, only the terms that lose a posting
re-pack (with the build's block packer), and emptied terms drop.
Each task returns the few rows the publish needs: the purged docs
that exist (id, dl, n_raw) and, per (bucket, term, new chunk) that
lost postings, the df removed and the chunk's remaining first doc.

Publish: the driver-side delta shared with the streaming refresh
(``incremental.publish_delta``), with no Spark job.  The next
dictionary is the previous version minus the removed df (emptied
terms dropped, first docs that died moved forward) plus any
appended, unrefreshed chunks; corpus_stats loses the dead docs.
``finalize_index`` — an aggregation over every postings row —
publishes only where the delta cannot prove its result equal: the
resumed publish after a crash, an index written before the
dictionary's ``min_doc_id`` or corpus_stats' ``t_half`` column, and
whatever else the delta refuses.

Snapshot discipline (shared with finalize): merged chunks take FRESH
ids, the working registry is replaced atomically, and the new chunk
set reaches readers only through ``publish_snapshot``'s atomic
(dictionary, registry-snapshot, corpus_stats) commit.  Readers opened
before compaction keep scoring the OLD chunk dirs — pruning retains
every chunk referenced by the current or previous snapshot, exactly
the live-reader grace the dictionary versions already get.

Crash analysis: a crash before the registry replace leaves orphan
``salt=new`` / ``chunk=new`` dirs.  The next run takes the same fresh
ids, possibly for other groups or fewer survivors, and removes every
dir of them before its job writes (units of one chunk may run in
different tasks, so the driver does it); the next append, which takes
the first fresh id, clears it too.  A crash between registry replace
and publish leaves readers pinned to the old snapshot — re-running
compaction (or a refresh) completes the publish with
``finalize_index``.  No window loses data or mixes snapshots.

Scale shape: compaction reads and writes ONLY the chunks it merges;
its publish reads the previous dictionary, the docs rows the Heaps
half-point passes and, for terms whose first doc died with no
survivor in its group, those terms' (term, min_doc_id) in the
bucket's later salts.  Cost is proportional to the merged span and
the vocabulary, never to the index's postings, so a background
compactor can run on whatever cadence bounds chunk count.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from ..functions import codec
from ..plans.checkpoints import write_manifest
from ..streaming.incremental import (
    _clear_chunk, _file_schema, _write_part, publish_delta,
)
from .index_build import (
    DOC_STATS_SCHEMA, DOCS_PER_CHUNK, POSTINGS_SCHEMA, IndexPaths,
    check_layout, dict_version_of, finalize_index, read_registry,
    snapshot_registry, write_registry,
)
from .query_vector import _data_files, _list_postings, pack_tasks

# a task's rows: one per purged doc (salt, doc_id, dl, n_raw) and one
# per (bucket, term, new chunk) that lost postings (salt, bucket,
# term, df removed, the chunk's remaining first doc or null)
_RESULT_SCHEMA = pa.schema([
    ("salt", pa.int32()), ("bucket", pa.int32()), ("term", pa.string()),
    ("df", pa.int64()), ("min_doc_id", pa.int64()),
    ("doc_id", pa.int64()), ("dl", pa.int64()), ("n_raw", pa.int64()),
])


class _Unit(NamedTuple):
    """One output of a compaction task: the docs of a new chunk
    (``bucket`` None) or its postings in one bucket."""
    salt: int                # the new chunk
    bucket: int | None
    files: list[str]         # the source chunks' data files
    dead: np.ndarray | None  # sorted tombstoned ids in the group
    end: int                 # exclusive end of the group's id range


def merge_postings(tbl: pa.Table) -> pa.Table:
    """One unit's source rows (term, df_part, min_doc_id, blocks) →
    one row per term, sorted by term: blocks concatenated in doc-id
    order (chunk ranges are disjoint, so the rows' min_doc_id orders
    them), df_part summed, min_doc_id the first."""
    tbl = tbl.sort_by([("term", "ascending"),
                       ("min_doc_id", "ascending")]).combine_chunks()
    n = tbl.num_rows
    if n == 0:
        return tbl
    terms = tbl.column("term").chunk(0)
    starts = np.flatnonzero(np.concatenate(([True], pc.not_equal(
        terms[1:], terms[:-1]).to_numpy(zero_copy_only=False))))
    blocks = tbl.column("blocks").chunk(0)
    ends = np.concatenate(([0], np.cumsum(pc.list_value_length(
        blocks).to_numpy(zero_copy_only=False))))
    return pa.table({
        "term": terms.take(starts),
        "df_part": np.add.reduceat(
            tbl.column("df_part").chunk(0).to_numpy(), starts),
        "min_doc_id": tbl.column("min_doc_id").chunk(0).to_numpy()[starts],
        "blocks": pa.ListArray.from_arrays(
            pa.array(ends[np.append(starts, n)], pa.int32()),
            blocks.flatten(), type=blocks.type),
    })


def _decode_blocks(data: pa.BinaryArray, n: np.ndarray):
    """Every posting of the v4 blocks *data* (``n`` postings each) in
    ONE varint pass → (ids, tf, dl, max_tf, block of each posting)."""
    offsets = np.frombuffer(data.buffers()[1], np.int32)[
        data.offset:data.offset + len(data) + 1]
    raw = np.frombuffer(data.buffers()[2], np.uint8)[
        offsets[0]:offsets[-1]]
    total = int(n.sum())
    vals = codec.decode_varint_sections(raw, [4 * total])[0]
    blk = np.repeat(np.arange(n.size), n)
    start = np.cumsum(n) - n  # each block's first posting
    step = n[blk]
    # a block's payload is its n id deltas, then n tf, n dl, n max_tf
    at = 4 * start[blk] + np.arange(total) - start[blk]
    deltas = vals[at].astype(np.int64)
    first = deltas[start].copy()  # stored raw, not as a delta
    deltas[start] = 0
    c = np.cumsum(deltas)
    ids = c - c[start][blk] + first[blk]
    return (ids, vals[at + step].astype(np.int64),
            vals[at + 2 * step].astype(np.int64),
            vals[at + 3 * step].astype(np.int64), blk)


def purge_postings(tbl: pa.Table, dead: np.ndarray, end: int,
                   block_size: int) -> tuple[pa.Table, pa.Table | None]:
    """Drop the sorted *dead* ids from a group's merged rows (ids
    below *end*) → (rows, lost).

    A block's ids lie below the next block's first id of its term,
    and the term's last block's below *end*: only terms with a block
    whose range holds a dead id decode (one varint pass), only terms
    that lose a posting re-pack — through the build's packer, so the
    bytes equal a fresh build's — and emptied terms drop.  ``lost``
    has one (term, df, min_doc_id) row per term that lost postings:
    the df removed and the term's first surviving id, null when none
    is left; None when no posting died."""
    n = tbl.num_rows
    if not n:
        return tbl, None
    blocks = tbl.column("blocks").chunk(0)
    lens = pc.list_value_length(blocks).to_numpy(zero_copy_only=False)
    flat = blocks.flatten()
    first = flat.field("first_doc_id").to_numpy()
    upper = np.append(first[1:], end)
    upper[np.cumsum(lens)[lens > 0] - 1] = end
    row_of = np.repeat(np.arange(n), lens)
    hit = np.searchsorted(dead, first) < np.searchsorted(dead, upper)
    cand = np.zeros(n, dtype=bool)
    cand[row_of[hit]] = True
    sel = np.flatnonzero(cand[row_of])  # every block of those terms
    if not sel.size:
        return tbl, None
    ids, tf, dl, mtf, blk = _decode_blocks(
        flat.field("data").take(pa.array(sel)),
        flat.field("n").to_numpy()[sel].astype(np.int64))
    row = row_of[sel][blk]
    live = ~np.isin(ids, dead)
    lost_rows = np.unique(row[~live])
    if not lost_rows.size:
        return tbl, None
    keep = np.isin(row, lost_rows) & live
    kept, kept_df, kept_min, kept_blocks = codec.pack_group_postings_arrow(
        row[keep], ids[keep], tf[keep], dl[keep], mtf[keep], block_size)
    terms = tbl.column("term")
    removed = tbl.column("df_part").to_numpy()[lost_rows] - np.bincount(
        row[keep], minlength=n)[lost_rows]
    has = np.isin(lost_rows, kept)
    first_left = np.zeros(lost_rows.size, dtype=np.int64)
    first_left[has] = kept_min
    lost = pa.table({"term": terms.take(lost_rows), "df": removed,
                     "min_doc_id": pa.array(first_left, mask=~has)})
    repacked = pa.table({
        "term": terms.take(kept), "df_part": kept_df.astype(np.int64),
        "min_doc_id": kept_min.astype(np.int64),
        "blocks": kept_blocks.cast(blocks.type)})
    rest = tbl.take(np.setdiff1d(np.arange(n), lost_rows))
    return (pa.concat_tables([rest, repacked.cast(rest.schema)])
            .sort_by("term"), lost)


def _result(salt: int, n: int, **cols) -> pa.Table:
    """*n* task-result rows of new chunk *salt* (absent columns null)."""
    cols["salt"] = np.full(n, salt, dtype=np.int32)
    return pa.table([cols.get(f.name, pa.nulls(n, f.type))
                     for f in _RESULT_SCHEMA], schema=_RESULT_SCHEMA)


def _compact_fn(out_dir: str, tasks: list[list[_Unit]], block_size: int):
    """mapInArrow body of :func:`compact_chunks`: the input rows are
    task numbers; each task writes its units' outputs and yields the
    rows the publish needs."""
    docs_schema = _file_schema(DOC_STATS_SCHEMA, "chunk")
    postings_schema = _file_schema(POSTINGS_SCHEMA, "bucket", "salt")

    def read(files, schema):
        return pa.concat_tables(
            [pq.read_table(f, columns=schema.names).cast(schema)
             for f in files]) if files else schema.empty_table()

    def docs(paths: IndexPaths, u: _Unit) -> pa.Table:
        tbl = read(u.files, docs_schema).sort_by("doc_id")
        gone = tbl.slice(0, 0)
        if u.dead is not None:
            dead = pc.is_in(tbl["doc_id"], value_set=pa.array(u.dead))
            gone, tbl = tbl.filter(dead), tbl.filter(pc.invert(dead))
        _write_part(os.path.join(paths.docs, f"chunk={u.salt}"), tbl)
        return _result(u.salt, gone.num_rows, doc_id=gone["doc_id"],
                       dl=gone["dl"], n_raw=gone["n_raw"])

    def postings(paths: IndexPaths, u: _Unit) -> pa.Table:
        tbl = merge_postings(read(u.files, postings_schema))
        lost = None
        if u.dead is not None:
            tbl, lost = purge_postings(tbl, u.dead, u.end, block_size)
        if tbl.num_rows:
            _write_part(os.path.join(paths.postings, f"bucket={u.bucket}",
                                     f"salt={u.salt}"),
                        tbl.cast(postings_schema))
        if lost is None:
            return _RESULT_SCHEMA.empty_table()
        return _result(u.salt, lost.num_rows,
                       bucket=np.full(lost.num_rows, u.bucket, np.int32),
                       term=lost["term"], df=lost["df"],
                       min_doc_id=lost["min_doc_id"])

    def fn(batches):
        paths = IndexPaths(out_dir)
        for batch in batches:
            for i in batch.column(0).to_pylist():
                for u in tasks[i]:
                    out = (docs if u.bucket is None else postings)(paths, u)
                    yield from out.to_batches()

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


def _plan_units(paths: IndexPaths, merges: list[tuple[dict, list[dict]]],
                dead_map: dict[int, np.ndarray]
                ) -> list[tuple[_Unit, int]]:
    """(unit, source bytes) per output of the merges — (new registry
    row, source rows in id order) — in (new chunk, docs first, then
    bucket) order."""
    src = _list_postings(paths.postings,
                         {r["chunk"] for _new, g in merges for r in g})
    units = []
    for new, g in merges:
        dead = dead_map.get(new["chunk"])
        end = new["min_id"] + new["span"]
        files = [f for r in g for f in _data_files(
            os.path.join(paths.docs, f"chunk={r['chunk']}"))]
        units.append((_Unit(new["chunk"], None, [p for p, _ in files],
                            dead, end), sum(s for _, s in files)))
        for bucket in sorted(src):
            files = [f for r in g for f in src[bucket].get(r["chunk"], ())]
            if files:
                units.append((_Unit(new["chunk"], bucket,
                                    [p for p, _ in files], dead, end),
                              sum(s for _, s in files)))
    return units


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
    docs each in one Spark job, publish the new snapshot as a
    driver-side delta, prune unreferenced dirs (see module docstring).

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
    becomes the live count, so the publish below republishes
    n_docs/avgdl/df over the survivors.  Purged ids leave the
    tombstone file only AFTER the snapshot commit (a crash replays
    the purge; it never resurrects a deleted doc)."""
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
    finalize_args = dict(n_buckets=int(stats["n_buckets"]),
                         block_size=int(stats["block_size"]),
                         k1=float(stats["k1"]), b=float(stats["b"]))
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
        fin = finalize_index(spark, out_dir, **finalize_args)
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

    # the merge: one job, no shuffle, over the fresh ids' cleared dirs
    for r in merged_rows:
        _clear_chunk(paths, r["chunk"])
    tasks = pack_tasks(spark, _plan_units(
        paths, list(zip(merged_rows, merge_groups)), dead_map))
    res = (spark.range(len(tasks), numPartitions=len(tasks))
           .mapInArrow(_compact_fn(out_dir, tasks,
                                   int(stats["block_size"])),
                       from_arrow_schema(_RESULT_SCHEMA))
           .toArrow())
    gone = res.filter(pc.is_valid(res["doc_id"]))
    lost = res.filter(pc.is_valid(res["term"]))
    purged = dict(zip(*np.unique(gone["salt"].to_numpy(),
                                 return_counts=True)))
    for r in merged_rows:
        r["n_docs"] -= int(purged.get(r["chunk"], 0))

    # working-registry commit (atomic file replace): merged rows in,
    # source rows out; unpublished appended chunks ride along
    # untouched
    survivors = [r for r in working if r["chunk"] not in mapping]
    write_registry(paths.chunks, survivors + merged_rows)

    # publish: atomic (dictionary, registry snapshot, corpus_stats)
    fin = publish_delta(
        paths, replaced=mapping,
        dead=gone.select(["doc_id", "dl", "n_raw"]),
        lost=lost.select(["bucket", "salt", "term", "df", "min_doc_id"]))
    if fin is None:
        fin = finalize_index(spark, out_dir, **finalize_args)

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
    old_ids = sorted(mapping)
    info = {
        "merged_groups": len(merge_groups),
        "n_chunks_before": len(published),
        "n_chunks_after": len(published) - len(mapping)
        + len(merge_groups),
        "merged_chunks": old_ids,
        "new_chunks": [r["chunk"] for r in merged_rows],
        "purged_docs": gone.num_rows,
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
