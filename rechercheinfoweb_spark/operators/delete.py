"""Document deletion — tombstones + query-time live-doc masking.

The missing piece of the index's LSM lifecycle (build → append →
compact): takedown / GDPR-style removal of individual documents from
a published index without rebuilding it.  The reference engine has no
delete (its index is write-once, index.go); a 10^12-doc production
index cannot live without one, so this follows the design Lucene
proved at scale:

* **Logical delete** (this module): the deleted doc ids live in ONE
  tiny tombstone file next to the index, replaced atomically
  (tmp + os.replace — the same commit pattern as the chunk registry).
  Every read surface (vector/WAND top-k, batch scoring, boolean,
  phrase, LocalSearcher, docs/url joins) masks tombstoned docs at
  query time, so a delete is visible to new readers immediately —
  while the published global statistics (n_docs, avgdl, df → idf)
  keep their values until the next physical rewrite, exactly Lucene's
  "deleted docs still count in collection stats" semantics.  Survivor
  scores are therefore bit-identical before and after a logical
  delete (pinned by tests/test_delete.py).

* **Physical purge** (operators/compact.py, ``purge_deletes``):
  compaction's one Spark job re-packs, in the affected chunks, only
  the terms that lose a posting (df_part updated, emptied terms
  dropped) and filters their docs rows; its driver-side delta
  publish subtracts the dead docs from n_docs/sum_dl/n_raw_tokens
  and the lost postings from df, so the republished statistics
  equal a full finalize over the survivors.  Surviving doc ids are NEVER
  renumbered — each chunk keeps its original id *span* in the
  registry (the dense-position capacity) while ``n_docs`` becomes the
  live count — so the url↔doc_id contract and every downstream
  artifact survive a takedown, and post-purge scores equal a fresh
  build over the survivor corpus (also pinned).

Scale shape: the tombstone set is takedown-sized (≪ corpus; bulk
re-crawl dedup is ``pipeline.url_dedup``'s job, not delete's).
Readers split it once into per-salt numpy arrays and ship that dict
to the score kernels through a Spark broadcast, so the per-task cost
is one vectorized ``present[dead - base] = False`` — no join, no
shuffle, no per-row Python.
"""

from __future__ import annotations

import os

import numpy as np

from .index_build import IndexPaths, read_registry

TOMBSTONES_FILE = "tombstones"


def _tombstones_path(index_dir_or_paths) -> str:
    paths = (index_dir_or_paths
             if isinstance(index_dir_or_paths, IndexPaths)
             else IndexPaths(index_dir_or_paths))
    return os.path.join(paths.out_dir, TOMBSTONES_FILE)


def read_tombstones(index_dir_or_paths) -> np.ndarray:
    """Sorted int64 array of tombstoned doc ids (empty if none)."""
    import pyarrow.parquet as pq
    path = _tombstones_path(index_dir_or_paths)
    if not os.path.exists(path):
        return np.zeros(0, dtype=np.int64)
    ids = pq.read_table(path)["doc_id"].to_numpy()
    return np.unique(ids.astype(np.int64))


def write_tombstones(index_dir_or_paths, doc_ids) -> int:
    """Replace the tombstone file atomically; returns the count."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    path = _tombstones_path(index_dir_or_paths)
    ids = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
    if ids.size == 0:
        if os.path.exists(path):
            os.remove(path)
        return 0
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}), tmp)
    os.replace(tmp, path)
    return int(ids.size)


def delete_docs(spark, index_dir: str, doc_ids=(), urls=()) -> dict:
    """Tombstone documents by id and/or url.

    Urls resolve through the docs of the working registry's chunks
    (a narrow two-column scan, predicate pushed to parquet) — never
    through chunk dirs kept for older snapshots or left by a crashed
    compaction, which hold the same urls.  Ids union into
    the existing tombstone set; the file replace is atomic, so a
    concurrent reader sees either the old or the new complete set.
    Returns {"n_requested", "n_total"}."""
    from pyspark.sql import functions as F

    paths = IndexPaths(index_dir)
    ids = [int(x) for x in doc_ids]
    urls = list(urls)
    chunks = [os.path.join(paths.docs, f"chunk={r['chunk']}")
              for r in read_registry(paths.chunks)] if urls else []
    if chunks:
        rows = (spark.read.option("basePath", paths.docs).parquet(*chunks)
                .where(F.col("url").isin(urls))
                .select("doc_id").collect())
        ids.extend(int(r["doc_id"]) for r in rows)
    existing = read_tombstones(paths)
    merged = np.union1d(existing, np.asarray(ids, dtype=np.int64))
    n_total = write_tombstones(paths, merged)
    return {"n_requested": len(ids), "n_total": n_total}


def dead_by_salt(tombstones: np.ndarray,
                 registry_rows: list[dict]) -> dict[int, np.ndarray]:
    """Split a sorted tombstone array into per-chunk absolute-id
    arrays using the registry's (min_id, span) ranges — one
    searchsorted per chunk, ids outside every live range dropped."""
    out: dict[int, np.ndarray] = {}
    if tombstones.size == 0:
        return out
    for r in registry_rows:
        base = r["min_id"]
        span = r.get("span", r["n_docs"])
        lo = np.searchsorted(tombstones, base, side="left")
        hi = np.searchsorted(tombstones, base + span, side="left")
        if hi > lo:
            out[r["chunk"]] = tombstones[lo:hi]
    return out
