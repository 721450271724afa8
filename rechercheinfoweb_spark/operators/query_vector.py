"""Ranked (vector) query engine — SURVEY.md §2.4 Q7-Q11 + BM25/WAND.

Reference pipeline (vector_query.go:56-77): split query (letters+
digits) → stopword-filter raw words → stem len>3 → fetch posting list
per term → k-way merge summing the selected precomputed weight →
full sort desc.  Duplicated query terms contribute twice
(vector_query.go:33-35); the reference's sort is unstable on ties —
we canonicalize with a (score desc, doc_id asc) tiebreak, and the
oracle does the same (SURVEY.md §7 determinism).

One snapshot, one scoring core: :class:`Snapshot` opens a published
snapshot on the driver (corpus_stats, chunk registry, tombstones,
dictionary df) for both :class:`IndexReader` (this module's Spark
reader) and ``serve_local.LocalSearcher``, and :func:`score_shard`
ranks one salt shard for the single-query kernel, the batch kernel
and LocalSearcher alike.

Spark formulation: ONE job with ONE stage and no shuffle per query.
Term → bucket is a pure-Python twin of the build's xxhash64
expression; each term's global df comes from the snapshot's
``dictionary`` bucket files, read on the driver with pyarrow and
cached per bucket (no Spark job).  Scoring runs document-partitioned:
each ``salt`` (doc-range shard created at build time) holds every
query term's postings for its own doc subset, so the shard kernel
scores one salt independently and emits its local top-k.  The tasks
come from ``spark.range(n_tasks)`` (JVM-only) and ``mapInArrow``: a
task reads its salts' ``postings/bucket=B/salt=S`` files with pyarrow
(the query's buckets only, term filter pushed down) and calls the
kernel once per salt.  Salts are packed into tasks by postings bytes
against ``spark.sql.files.maxPartitionBytes``, so a small index is
one task and a large one fans out per salt.  The global answer is
``orderBy(score desc, doc_id asc).limit(k)`` (Catalyst
TakeOrderedAndProject), one row set of k per task.

Why one task: a Python task is the costliest step of a query's
plan.  On a 4-core VM (``local[4]``, a session from
``session.get_spark``: the engine daemon and Unix domain sockets), a
one-stage JVM-only job has a p50 of ~22-25 ms and the same job with
one pass-through ``mapInArrow`` task ~35-38 ms; over TCP loopback
that task cost ~74-79 ms, most of it the kernel's ~41 ms wait for
its first input batch.  So the task source stays JVM-only (a
``createDataFrame`` of Python rows would add a second Python round
trip per task), df lookups stay on the driver, and salts share a
task until their bytes fill one.

Layout v4: blocks store (delta ids, tf, dl, max_tf) varints; the
kernel computes the scheme weight from those statistics plus
query-time idf through the SAME ``scoring.posting_weights`` spec the
oracle and the build share — so scores are bit-equal to a
precomputed-weight design while the index never stores a float
plane.

Block-max pruning (north rule, :func:`score_shard`): per-doc score
*upper bounds* come from block metadata alone
(``scoring.block_upper_bounds`` over max_tf/min_dl/max_ratio; ids
decode only), a threshold θ from the exact scores of the top-k docs
by upper bound (a valid lower bound on the true kth score), then
every block whose docs all fall below θ is skipped.  Results are
exact — pruned docs are provably outside the top-k — so WAND-on and
WAND-off return rank-identical lists, which
``tests/test_query_vector.py`` pins.  Only :func:`vector_topk`
prunes: the batch kernel and LocalSearcher score exhaustively.
"""

from __future__ import annotations

import math
import os
from collections import Counter, OrderedDict
from functools import cached_property, partial

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..functions import codec, scoring
from ..functions.tokenizer import STOPWORDS, vector_query_terms
from ..functions.xxhash import spark_term_bucket
from .delete import dead_by_salt, read_tombstones
from .index_build import (
    IndexPaths, _stats_mtime, check_layout, dict_version_of,
    snapshot_registry, stemmed_of,
)

SCHEME_COL = {"raw": 0, "norm": 1, "half": 2, "bm25": 3}

# ---------------------------------------------------------------------
# Per-worker decoded-postings cache.  Python workers are reused across
# tasks (spark.python.worker.reuse), so repeated queries against the
# same index snapshot skip the varint decode and the weight math for
# hot terms — mirroring LocalSearcher._decoded, which is what the
# round-2 review asked for.  Keyed by (reader cache token, salt,
# term); the token changes whenever corpus_stats is republished
# (finalize/refresh), so a stale entry can never serve a new
# snapshot.  Bounded by total cached postings, LRU.
_DECODED_CACHE: "OrderedDict[tuple, list]" = OrderedDict()
_DECODED_CACHE_POSTINGS = 0
_DECODED_CACHE_CAP = 2_000_000  # postings (~64 B each incl. weights)


def _decode_term_blocks(token, salt: int, term: str, blocks,
                        base: int) -> list:
    """Decoded block list for one (salt, term): each entry is a
    mutable [pos, data, n, stat_off, w4] where ``pos`` is the dense
    shard position array and ``w4`` (the (n,4) weight matrix) is
    filled lazily on first statistics decode."""
    global _DECODED_CACHE_POSTINGS
    key = (token, salt, term)
    hit = _DECODED_CACHE.get(key)
    if hit is not None:
        _DECODED_CACHE.move_to_end(key)
        return hit
    out = []
    n_post = 0
    for blk in blocks:
        n = int(blk["n"])
        data = bytes(blk["data"])
        deltas, off = codec.decode_varints(data, n)
        pos = np.cumsum(deltas.astype(np.int64)) - base
        out.append([pos, data, n, off, None])
        n_post += n
    if token is not None:
        _DECODED_CACHE[key] = out
        _DECODED_CACHE_POSTINGS += n_post
        while (_DECODED_CACHE_POSTINGS > _DECODED_CACHE_CAP
               and len(_DECODED_CACHE) > 1):
            _, old = _DECODED_CACHE.popitem(last=False)
            _DECODED_CACHE_POSTINGS -= sum(e[2] for e in old)
    return out


def _block_weights(entry, idf_v: float, bidf_v: float, avgdl: float,
                   k1: float, b: float) -> np.ndarray:
    """(n,4) weight matrix for one decoded block — statistics decode
    happens at most ONCE per block per snapshot (the round-2 WAND
    path re-decoded every candidate block in both the seed pass and
    the final pass; this memo is the fix)."""
    if entry[4] is None:
        tfs, dls, mtfs = codec.unpack_block_stats(
            entry[1], entry[2], entry[3])
        entry[4] = scoring.posting_weights(
            tfs, dls, mtfs, idf_v, bidf_v, avgdl, k1, b)
    return entry[4]


def _topk_select(cand: np.ndarray, scores: np.ndarray, k: int):
    """Indices of the top-k by (score desc, id asc) — argpartition
    prefilter (keeping every tie of the kth score, so the final
    lexsort picks exactly the same rows as a full sort) instead of
    an O(m log m) sort over all candidates."""
    if cand.size > 4 * k:
        kth = np.partition(scores, cand.size - k)[cand.size - k]
        keep = np.nonzero(scores >= kth)[0]
        cand, scores = cand[keep], scores[keep]
    order = np.lexsort((cand, -scores))[:k]
    return cand[order], scores[order]


class Snapshot:
    """One published index snapshot, opened on the driver with
    pyarrow (no Spark job): the one opener :class:`IndexReader` and
    :class:`~.serve_local.LocalSearcher` share.

    Chunks appended by the streaming path after the last
    ``finalize_index`` are invisible until the next refresh, and
    chunks merged away by compaction stay visible to readers that
    pinned them: corpus_stats references an immutable registry
    snapshot (chunks.v{dict_version}) and dictionary version, and a
    snapshot reads exactly that salt set, so queries never mix new
    postings with stale global statistics — or see a doc range twice
    across a compaction."""

    def __init__(self, index_dir: str, at_version: int | None = None,
                 max_cached_buckets: int = 64):
        """``at_version`` opens the index AT a retained snapshot
        (Iceberg time travel): the frozen ``corpus_stats.v{N}``
        record resolves that snapshot's dictionary, chunk registry
        and scoring scalars, so queries reproduce that snapshot's
        results bit-for-bit even after later appends/refreshes.
        Retention is current + previous (index_build.list_snapshots
        enumerates them); an expired version raises.  Tombstones are
        the one NON-versioned input — deletes apply to historical
        reads too, deliberately (takedown/GDPR must reach every
        queryable snapshot)."""
        self.paths = IndexPaths(index_dir)
        stats_path = (self.paths.corpus_stats if at_version is None
                      else self.paths.corpus_stats_version(at_version))
        if at_version is not None and not os.path.exists(stats_path):
            from .index_build import list_snapshots
            raise ValueError(
                f"snapshot v{at_version} is expired or was never "
                f"published at {index_dir}; retained versions: "
                f"{list_snapshots(index_dir) or 'none'}")
        stats = pq.read_table(stats_path).to_pylist()[0]
        check_layout(stats)
        self.stats = stats  # full corpus_stats row (httpserver /stat)
        self.n_docs = stats["n_docs"]
        self.avgdl = stats["avgdl"]
        self.n_chunks = stats["n_chunks"]
        self.max_chunk = stats["max_chunk"]
        self.n_buckets = stats["n_buckets"]
        self.vocabulary = stats["vocabulary"]
        self.k1 = stats["k1"]
        self.b = stats["b"]
        self.stemmed = bool(stemmed_of(stats))
        # chunk registry SNAPSHOT: salt/chunk -> (first doc_id, id
        # span); shard scorers map absolute ids to dense positions
        # with it.  Membership (not a `<= max_chunk` watermark) is
        # what isolates a reader from appends AND from merged-away
        # chunks awaiting pruning.  The span is the id-RANGE width —
        # identical to n_docs until a delete purge punches holes
        # (delete.py), so id capacity never comes from n_docs.
        registry_rows = snapshot_registry(self.paths, stats)
        self.salt_map: dict[int, tuple[int, int]] = {
            r["chunk"]: (r["min_id"], r.get("span", r["n_docs"]))
            for r in registry_rows}
        self._id_cap = max((base + span for base, span
                            in self.salt_map.values()),
                           default=self.n_docs + 1)
        # tombstones (logical deletes), masked in every scorer; the
        # per-salt split keeps only ids inside this snapshot's chunk
        # ranges (a delete may name ids of an unrefreshed append)
        self.tombstones = read_tombstones(self.paths)
        self.dead_by_salt = dead_by_salt(self.tombstones, registry_rows)
        self._dict_dir = self.paths.dictionary_version(
            dict_version_of(stats))
        self._dfs: OrderedDict[int, dict[str, int]] = OrderedDict()
        self._max_cached = max_cached_buckets
        # worker-side decoded-postings cache token: changes whenever
        # corpus_stats is republished, so cached decodes can never
        # cross snapshots (even a rebuild at the same path)
        try:
            mtime = _stats_mtime(stats_path)
        except OSError:
            mtime = None
        self.cache_token = ((index_dir, self.max_chunk, mtime)
                            if mtime is not None else None)

    def is_live(self, doc_id: int) -> bool:
        """True iff *doc_id* lies in one of the snapshot's chunk id
        ranges and is not tombstoned."""
        return (any(base <= doc_id < base + span
                    for base, span in self.salt_map.values())
                and not (self.tombstones == doc_id).any())

    def _read_bucket(self, table_name: str, bucket: int,
                     columns: list[str]) -> pa.Table | None:
        """One bucket dir of the snapshot's ``dictionary`` or
        ``postings`` table (postings filtered to the snapshot's
        salts), or None when the bucket has no dir."""
        root = (self._dict_dir if table_name == "dictionary"
                else os.path.join(self.paths.out_dir, table_name))
        path = os.path.join(root, f"bucket={bucket}")
        if not os.path.isdir(path):
            return None
        return pq.read_table(
            path, columns=columns,
            filters=[("salt", "in", sorted(self.salt_map))]
            if table_name == "postings" else None)

    def _bucket_dfs(self, bucket: int) -> dict[str, int]:
        """term -> global df for one dictionary bucket (LRU over
        buckets)."""
        hit = self._dfs.get(bucket)
        if hit is not None:
            self._dfs.move_to_end(bucket)
            return hit
        dfs: dict[str, int] = {}
        t = self._read_bucket("dictionary", bucket, ["term", "df"])
        if t is not None:
            dfs = dict(zip(t.column("term").to_pylist(),
                           t.column("df").to_pylist()))
        self._dfs[bucket] = dfs
        if len(self._dfs) > self._max_cached:
            self._dfs.popitem(last=False)
        return dfs

    def df_for(self, terms: list[str]) -> dict[str, int]:
        """Global df per term from the snapshot's dictionary (no
        Spark job).  Terms absent from the dictionary are omitted
        (df = 0 → no postings either)."""
        out: dict[str, int] = {}
        for t in set(terms):
            bucket = spark_term_bucket(t, self.n_buckets)
            df = self._bucket_dfs(bucket).get(t)
            if df is not None:
                out[t] = df
        return out

    def term_params(self, mult: dict[str, int]
                    ) -> dict[str, tuple[float, float, float]]:
        """term -> (multiplicity, idf, bm25_idf) for dictionary-known
        terms, computed exactly like the oracle (scoring spec)."""
        dfs = self.df_for(list(mult))
        return {t: (float(m), float(scoring.idf(self.n_docs, dfs[t])),
                    float(scoring.bm25_idf(self.n_docs, dfs[t])))
                for t, m in mult.items() if t in dfs}


class IndexReader(Snapshot):
    """Spark handle on one finalized snapshot (see :class:`Snapshot`).

    Opening runs no Spark job: on top of the snapshot it lists the
    postings files of exactly its salt set once, and ships the
    per-salt tombstones to the shard kernels as ONE small broadcast."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 at_version: int | None = None):
        super().__init__(index_dir, at_version)
        self.spark = spark
        self._dead_bc = (spark.sparkContext.broadcast(self.dead_by_salt)
                         if self.tombstones.size else None)
        # the snapshot's postings files, listed ONCE here: later
        # appends, purges and compactions cannot change what this
        # reader scans
        self._files = _list_postings(self.paths.postings, self.salt_map)

    def _buckets_of(self, terms: list[str]) -> list[int]:
        # driver-side xxhash64 twin of the build's bucket expression
        return sorted({spark_term_bucket(t, self.n_buckets)
                       for t in terms})

    @cached_property
    def _dictionary(self) -> DataFrame:
        """The snapshot's dictionary as a Spark table (suggest and
        autocomplete operators)."""
        return self.spark.read.parquet(self._dict_dir)

    def scan_tasks(self, terms: list[str]
                   ) -> list[list[tuple[int, list[str]]]]:
        """The postings files a query on *terms* reads, as Spark
        tasks: each task is a list of (salt, files).

        Only the terms' buckets of this snapshot's salts are read.
        Salts are packed in doc-id order (a compaction's fresh salt
        numbers do not follow it) into tasks of at most
        ``spark.sql.files.maxPartitionBytes`` postings bytes (a salt
        is never split), so a small index is one task, a large one
        fans out per salt, and the tasks cover ascending id ranges."""
        by_salt: dict[int, list[tuple[str, int]]] = {}
        for bucket in self._buckets_of(terms):
            for salt, files in self._files.get(bucket, {}).items():
                by_salt.setdefault(salt, []).extend(files)
        return pack_tasks(self.spark, [
            ((salt, [p for p, _n in by_salt[salt]]),
             sum(n for _p, n in by_salt[salt]))
            for salt in sorted(by_salt, key=lambda s: self.salt_map[s][0])])

    def scan(self, terms: list[str], kernel,
             schema: pa.Schema) -> DataFrame:
        """Run ``kernel`` over each salt's posting rows for *terms*
        in ONE Spark stage with no shuffle.

        The source is ``spark.range`` (JVM-only, one row per task),
        so the only Python round trip is ``mapInArrow`` itself: each
        task reads its salts' postings with pyarrow and calls
        ``kernel`` once per salt that holds any of the terms."""
        tasks = self.scan_tasks(terms)
        out_schema = from_arrow_schema(schema)
        if not tasks:
            return self.spark.createDataFrame([], out_schema)
        return (self.spark.range(len(tasks), numPartitions=len(tasks))
                .mapInArrow(_scan_fn(tasks, sorted(set(terms)), kernel,
                                     schema), out_schema))

    def docs(self) -> DataFrame:
        d = self.spark.read.option("basePath", self.paths.docs).parquet(
            *[f"{self.paths.docs}/chunk={c}" for c in self.salt_map])
        if self.tombstones.size:
            # broadcast anti-join on the (takedown-sized) tombstone
            # set — never an isin literal list, which would inline
            # into the plan and recompile per delete
            t = self.spark.createDataFrame(
                [(int(x),) for x in self.tombstones], "doc_id long")
            d = d.join(F.broadcast(t), "doc_id", "left_anti")
        return d


def pack_tasks(spark: SparkSession, units: list[tuple[object, int]]
               ) -> list[list]:
    """Pack (unit, source bytes) pairs in order into Spark tasks of at
    most ``spark.sql.files.maxPartitionBytes`` bytes; a unit is never
    split, so one larger than the cap is a task of its own."""
    cap = (spark._jsparkSession.sessionState().conf()
           .filesMaxPartitionBytes())
    tasks: list[list] = []
    size = 0
    for unit, nbytes in units:
        if not tasks or size + nbytes > cap:
            tasks.append([])
            size = 0
        tasks[-1].append(unit)
        size += nbytes
    return tasks


def _data_files(path: str) -> list[tuple[str, int]]:
    """(path, bytes) of the data files in one table directory (none
    when it does not exist)."""
    if not os.path.isdir(path):
        return []
    with os.scandir(path) as it:
        return [(f.path, f.stat().st_size) for f in it
                if f.is_file() and not f.name.startswith(("_", "."))]


def _list_postings(root: str, salts
                   ) -> dict[int, dict[int, list[tuple[str, int]]]]:
    """bucket -> salt -> [(path, bytes)] of the data files under
    ``postings/bucket=B/salt=S`` for the salts in *salts*."""
    out: dict[int, dict[int, list[tuple[str, int]]]] = {}
    for bdir in os.listdir(root):
        if not bdir.startswith("bucket="):
            continue
        per_salt = out.setdefault(int(bdir[7:]), {})
        for sdir in os.listdir(os.path.join(root, bdir)):
            if not (sdir.startswith("salt=") and int(sdir[5:]) in salts):
                continue
            files = _data_files(os.path.join(root, bdir, sdir))
            if files:
                per_salt[int(sdir[5:])] = files
    return out


def read_salt_postings(salt: int, files: list[str], terms: list[str]):
    """One salt's posting rows for *terms* as the pandas frame the
    shard kernels take: (term, salt, blocks)."""
    import pandas as pd
    t = pq.read_table(files, columns=["term", "blocks"],
                      filters=[("term", "in", terms)])
    return pd.DataFrame({"term": t.column("term").to_pylist(),
                         "salt": np.full(t.num_rows, salt, np.int32),
                         "blocks": t.column("blocks").to_pylist()})


def _scan_fn(tasks: list[list[tuple[int, list[str]]]], terms: list[str],
             kernel, schema: pa.Schema):
    """mapInArrow body of :meth:`IndexReader.scan`: the input rows are
    task numbers."""

    def fn(batches):
        for batch in batches:
            for i in batch.column(0).to_pylist():
                for salt, files in tasks[i]:
                    pdf = read_salt_postings(salt, files, terms)
                    if len(pdf) == 0:
                        continue
                    out = kernel(pdf)
                    if len(out):
                        yield pa.RecordBatch.from_pandas(
                            out, schema=schema, preserve_index=False)

    return fn


def _block_meta_ub(blocks, idf_v: float, bidf_v: float, wcol: int,
                   avgdl: float, k1: float, b: float) -> np.ndarray:
    """Per-block score upper bounds for one term's block list."""
    mt = np.fromiter((blk["max_tf"] for blk in blocks), dtype=np.int64,
                     count=len(blocks))
    md = np.fromiter((blk["min_dl"] for blk in blocks), dtype=np.int64,
                     count=len(blocks))
    mr = np.fromiter((blk["max_ratio"] for blk in blocks),
                     dtype=np.float64, count=len(blocks))
    return scoring.block_upper_bounds(mt, md, mr, idf_v, bidf_v,
                                      avgdl, k1, b)[:, wcol]


def _check_k(k: int) -> None:
    """Reject a result size below 1 on the driver."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")


def score_shard(terms: list, cap: int, dead: np.ndarray | None, k: int,
                wcol: int, use_pruning: bool = False,
                counters: dict | None = None):
    """Top-k candidates of one salt shard — the scoring core of every
    ranked path (the Spark single-query and batch kernels,
    LocalSearcher).

    ``terms`` lists the shard's query terms in sorted order as
    ``(mult, blocks, weights, ubs)``: ``blocks`` are entries whose
    ``[0]`` is the dense shard positions (``id - base``, unique within
    a block), ``weights(block)`` returns the block's (n,4) weight
    matrix (computed lazily and memoized by the caller), and ``ubs``
    holds each block's score upper bound for the scheme (read only
    when pruning).  ``cap`` bounds the positions; ``dead`` holds the
    tombstoned positions.  Each doc takes its terms' contributions in
    sorted-term order — the oracle's float-op order — so scores are
    bit-equal on every path.

    Block-max pruning (``use_pruning``): per-doc upper bounds from
    block metadata alone, a threshold θ from the exact scores of the
    top-k docs by upper bound (a valid lower bound on the true kth
    score), then only blocks holding a doc at or above θ get exact
    weights.  Dead docs are cleared before seeding, so they can
    neither seed θ nor become candidates.  ``counters`` may carry
    {'blocks_total', 'blocks_scored'} Spark accumulators —
    blocks_scored counts blocks whose exact weights the final pass
    needed, so (1 − scored/total) is the block-skip rate.

    Returns (positions, scores, n_live): every doc that can rank in
    the top-k (all live matching docs, or with pruning those at or
    above θ) with its exact score, and the number of live docs
    matching any term.  Callers pick the top-k with
    :func:`_topk_select` — LocalSearcher once over all its salts."""
    present = np.zeros(cap, dtype=bool)  # any-posting docs score even
    # when idf=0 (df=N hot terms), like the reference merge
    # one pass: exact scores, or per-doc upper bounds when pruning
    acc = np.zeros(cap, dtype=np.float64)
    n_blocks = 0
    for m, blocks, weights, ubs in terms:
        m = np.float64(m)
        for i, e in enumerate(blocks):
            present[e[0]] = True
            acc[e[0]] += m * (ubs[i] if use_pruning
                              else weights(e)[:, wcol])
        n_blocks += len(blocks)
    if dead is not None:
        present[dead] = False
    live = np.nonzero(present)[0]
    if counters:
        counters["blocks_total"].add(n_blocks)
    if not use_pruning:
        if counters:
            counters["blocks_scored"].add(n_blocks)
        return live, acc[live], int(live.size)

    def add_exact(into: np.ndarray, mask: np.ndarray) -> int:
        scored = 0
        for m, blocks, weights, _u in terms:
            m = np.float64(m)
            for e in blocks:
                sel = mask[e[0]]
                if sel.any():
                    np.add.at(into, e[0][sel], m * weights(e)[sel, wcol])
                    scored += 1
        return scored

    # any k seeds give a valid θ (kth exact among k docs is ≤ the true
    # kth score); highest-ub seeds give the tightest — argpartition
    # finds them in O(m)
    ub = acc
    seeds = (live[np.argpartition(-ub[live], k - 1)[:k]]
             if live.size > k else live)
    mask = np.zeros(cap, dtype=bool)
    mask[seeds] = True
    exact = np.zeros(cap, dtype=np.float64)
    add_exact(exact, mask)
    seed_scores = exact[seeds]
    theta = (np.sort(seed_scores)[-k] if seed_scores.size >= k
             else -np.inf)
    mask = present & (ub >= theta)
    exact = np.zeros(cap, dtype=np.float64)
    scored = add_exact(exact, mask)
    if counters:
        counters["blocks_scored"].add(scored)
    cand = np.nonzero(mask)[0]
    return cand, exact[cand], int(live.size)


def _score_shard_kernel(term_params: dict[str, tuple[float, float, float]],
                        scheme: str, k: int,
                        salt_map: dict[int, tuple[int, int]],
                        use_pruning: bool, avgdl: float,
                        k1: float, b: float, cache_token=None,
                        counters: dict | None = None,
                        dead_bc=None):
    """Ranked kernel over one salt shard's posting rows (a pandas
    frame of term, salt, blocks; see :meth:`IndexReader.scan`):
    decodes each term's blocks and calls :func:`score_shard`.

    ``salt_map`` maps each shard to its contiguous (first_doc_id,
    size) range; ids become dense positions as ``id - base``.
    Decoded ids and weight matrices are memoized per worker process
    under ``cache_token`` (see _DECODED_CACHE), so a block's
    statistics decode happens at most once even when both the WAND
    seed pass and the final pass touch it."""
    wcol = SCHEME_COL[scheme]

    def fn(pdf):
        import pandas as pd
        pdf = pdf.sort_values("term", kind="mergesort")
        salt = int(pdf["salt"].iloc[0])
        base, span = salt_map[salt]
        terms = []
        for term, blocks in zip(pdf["term"], pdf["blocks"]):
            mult, idf_v, bidf_v = term_params[term]
            terms.append((
                mult,
                _decode_term_blocks(cache_token, salt, term, blocks, base),
                partial(_block_weights, idf_v=idf_v, bidf_v=bidf_v,
                        avgdl=avgdl, k1=k1, b=b),
                _block_meta_ub(blocks, idf_v, bidf_v, wcol, avgdl, k1, b)
                if use_pruning else None))
        pos, scores, _n = score_shard(
            terms, span + 2, _dead_positions(dead_bc, salt, base), k,
            wcol, use_pruning, counters)
        pos, scores = _topk_select(pos, scores, k)
        return pd.DataFrame({"doc_id": (pos + base).astype(np.int64),
                             "score": scores})

    return fn


def _dead_positions(dead_bc, salt: int, base: int) -> np.ndarray | None:
    """A shard's tombstoned positions from the reader's broadcast."""
    dead = dead_bc.value.get(salt) if dead_bc is not None else None
    return dead - base if dead is not None else None


def _score_shard_batch_kernel(query_mults: dict[int, dict[str, int]],
                              term_params: dict[str, tuple[float, float,
                                                           float]],
                              scheme: str, k: int,
                              salt_map: dict[int, tuple[int, int]],
                              avgdl: float, k1: float, b: float,
                              cache_token=None, dead_bc=None):
    """Batch kernel over one salt shard's posting rows (see
    :meth:`IndexReader.scan`), scoring EVERY query of the batch in a
    single pass.

    Each term's blocks decode once; each query then calls
    :func:`score_shard` (no pruning) over its own terms, so batch
    results are bit-identical to one-at-a-time results.  Used by the
    evaluation harness (SURVEY.md §2.6): 64 queries cost one
    distributed pass, not 64 driver round-trips."""
    wcol = SCHEME_COL[scheme]
    all_terms = sorted(term_params)

    def fn(pdf):
        import pandas as pd
        salt = int(pdf["salt"].iloc[0])
        base, span = salt_map[salt]
        dead = _dead_positions(dead_bc, salt, base)
        by_term = {}
        for term, blocks in zip(pdf["term"], pdf["blocks"]):
            _, idf_v, bidf_v = term_params[term]
            by_term[term] = (
                _decode_term_blocks(cache_token, salt, term, blocks, base),
                partial(_block_weights, idf_v=idf_v, bidf_v=bidf_v,
                        avgdl=avgdl, k1=k1, b=b))
        cols = {"qid": [], "doc_id": [], "score": []}
        for qid in sorted(query_mults):
            mult = query_mults[qid]
            terms = [(mult[t], *by_term[t], None)
                     for t in sorted(mult) if t in by_term]
            pos, scores = _topk_select(
                *score_shard(terms, span + 2, dead, k, wcol)[:2], k)
            cols["qid"].extend([qid] * len(pos))
            cols["doc_id"].extend((pos + base).tolist())
            cols["score"].extend(scores.tolist())
        return pd.DataFrame(cols)

    fn.terms = all_terms
    return fn


def vector_topk_batch(spark: SparkSession,
                      index_dir: str | IndexReader,
                      queries: dict[int, str], scheme: str = "bm25",
                      k: int = 20,
                      stopwords: frozenset[str] = STOPWORDS
                      ) -> DataFrame:
    """Top-k for a whole query batch: (qid, rank, doc_id, score).

    Rank order per qid = (score desc, doc_id asc), identical to
    :func:`vector_topk` per query."""
    from pyspark.sql.window import Window

    _check_k(k)
    reader = (index_dir if isinstance(index_dir, IndexReader)
              else IndexReader(spark, index_dir))
    mults = {qid: dict(Counter(vector_query_terms(
        q, stopwords, use_stem=reader.stemmed)))
             for qid, q in queries.items()}
    mults = {qid: m for qid, m in mults.items() if m}
    all_mult: dict[str, int] = {}
    for m in mults.values():
        for t in m:
            all_mult.setdefault(t, 1)
    params = reader.term_params(all_mult)
    kern = _score_shard_batch_kernel(mults, params, scheme, k,
                                     reader.salt_map, reader.avgdl,
                                     reader.k1, reader.b,
                                     cache_token=reader.cache_token,
                                     dead_bc=reader._dead_bc)
    scored = reader.scan(kern.terms, kern, pa.schema([
        ("qid", pa.int32()), ("doc_id", pa.int64()),
        ("score", pa.float64())]))
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("qid", "rank", "doc_id", "score"))


#: df/N above which a term cannot drive pruning: its idf — and with
#: it every posting's score contribution — is too small for the θ
#: threshold to clear whole blocks.  Pruning pays only when some term
#: is rarer than this.
PRUNING_MAX_DF_FRACTION = 0.25


def _pruning_pays(params: dict[str, tuple[float, float, float]]
                  ) -> bool:
    """True iff some query term is selective enough (df ≤ N/4 ⇔
    idf ≥ ln 4) that block-max pruning can clear blocks.  When every
    term matches most of the corpus (df ≈ N, idf ≈ 0 — e.g. three
    stop-like words), candidates are ~the whole corpus and the WAND
    seed pass is pure overhead — measured: 0 of 2,567 blocks skipped
    and +45% wall-time on such queries at bench scale."""
    min_idf = math.log(1.0 / PRUNING_MAX_DF_FRACTION)
    return any(idf_v >= min_idf for _m, idf_v, _b in params.values())


def vector_topk(spark: SparkSession, index_dir: str | IndexReader,
                query: str, scheme: str = "bm25", k: int = 20,
                use_pruning: bool | str = "auto",
                stopwords: frozenset[str] = STOPWORDS,
                with_urls: bool = False,
                counters: dict | None = None) -> DataFrame:
    """Top-k ranked retrieval. Returns (doc_id, score[, url]) with
    rank order = (score desc, doc_id asc).  ``use_pruning``:
    True/False force the WAND path on/off; "auto" (default) prunes
    only when a query term is selective enough to pay
    (:func:`_pruning_pays`).  All three settings return identical
    rows (pruning is exact — pinned by test_wand_equals_full).
    ``counters``: optional {'blocks_total', 'blocks_scored'} Spark
    accumulators for WAND-pruning evidence (see :func:`score_shard`)."""
    _check_k(k)
    reader = (index_dir if isinstance(index_dir, IndexReader)
              else IndexReader(spark, index_dir))
    terms = vector_query_terms(query, stopwords,
                               use_stem=reader.stemmed)
    mult = dict(Counter(terms))
    params = reader.term_params(mult)
    if use_pruning == "auto":
        use_pruning = _pruning_pays(params)
    scored = reader.scan(
        list(params),
        _score_shard_kernel(params, scheme, k, reader.salt_map,
                            use_pruning, reader.avgdl, reader.k1,
                            reader.b, cache_token=reader.cache_token,
                            counters=counters,
                            dead_bc=reader._dead_bc),
        pa.schema([("doc_id", pa.int64()), ("score", pa.float64())]))
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    if with_urls:
        # broadcast the k-row result against the big docs table, not
        # the other way round
        docs = reader.docs().select("doc_id", "url")
        top = (docs.join(F.broadcast(top), "doc_id")
               .orderBy(F.desc("score"), F.asc("doc_id")))
    return top
