"""Driver-local serving path: interactive queries without Spark jobs.

The reference answers queries in well under a millisecond because its
whole index lives in process RAM (trie + posting slices).  The Spark
shard-kernel path (query_vector.py) is the right plan for batch
retrieval and huge corpora, but every call is a Spark job with at
least one Python task, ~300 ms on a 4-core VM (most of it the
per-task worker set-up) — wrong for interactive serving.  This
module closes that gap while keeping ONE index artifact and ONE
scoring core: :class:`LocalSearcher` opens the snapshot through the
same :class:`~.query_vector.Snapshot` as the Spark reader, reads the
SAME bucket-partitioned postings parquet directly with pyarrow (term
→ bucket via the pure-Python XXH64 twin of the build's Spark bucket
expression), caches hot buckets, and ranks each salt with the same
:func:`~.query_vector.score_shard` as the Spark kernels — so results
are rank-identical with scores equal to the last bit.

Layout v4: blocks carry (tf, dl, max_tf); the decoded-postings LRU
computes each term's (n,4) weight matrix ONCE at load (df from the
dictionary, global stats from corpus_stats) — steady-state hot-term
queries touch neither the codec nor the weight math.  Scoring runs
one salt at a time with scratch allocated per call, sized by that
salt's id span: ``compact_chunks(target_docs)`` bounds the span, so
per-query memory stays O(chunk) on any index size, and nothing is
shared between calls but the LRUs.

Snapshot discipline: every read filters partitions to the chunk
set of the registry snapshot corpus_stats references — chunks
appended by the streaming path since the last refresh are invisible,
chunks merged away by compaction but not yet pruned never double-
count, and partitions left on disk by a previous larger build can
never leak into results.

Division of labor at scale (the Lucene/ES shape, reached from Spark):
Spark builds/refreshes the artifact; any number of stateless serving
processes mmap-read the bucket files they need.  A 10^12-doc index
doesn't fit one server — there you partition serving by bucket range
and fan out, which this reader supports for free because a bucket is
a self-contained directory.
"""

from __future__ import annotations

import operator
from collections import Counter, OrderedDict

import numpy as np
import pyarrow.parquet as pq

from ..functions import codec, scoring
from ..functions.tokenizer import (
    STOPWORDS, bool_query_term, vector_query_terms,
)
from ..functions.xxhash import spark_term_bucket
from .query_bool import _eval_ast_numpy, parse_boolean
from .query_vector import (
    SCHEME_COL, Snapshot, _check_k, _topk_select, score_shard,
)

SNIPPET_RADIUS = 8  # snippet window = 2*radius+1 tokens

# a (positions, weights) block of LocalSearcher's decoded postings
# already carries its weight matrix
_WEIGHTS = operator.itemgetter(1)


class LocalSearcher(Snapshot):
    """In-process searcher over a built index directory (one
    snapshot, see :class:`~.query_vector.Snapshot`)."""

    def __init__(self, index_dir: str, max_cached_buckets: int = 64,
                 corpus_dir: str | None = None,
                 at_version: int | None = None):
        super().__init__(index_dir, at_version, max_cached_buckets)
        self._buckets: OrderedDict[int, dict] = OrderedDict()
        # decoded-postings cache: term -> (ids, weights[n,4], per-salt
        # blocks).  The reference keeps every posting list decoded in
        # RAM for the life of the process (trie.go Refs); an LRU over
        # hot terms is the bounded-memory equivalent — steady-state
        # hot-term queries never touch the block codec.
        self._decoded: OrderedDict[str, tuple] = OrderedDict()
        self._max_decoded = 4096
        self._urls: np.ndarray | None = None
        # optional raw-corpus parquet (url, text): enables snippets.
        # The index itself never stores text — snippet reads are
        # O(page) point lookups pushed down to the corpus scan.
        self._corpus_dir = corpus_dir

    # ---- storage ----------------------------------------------------

    def _bucket_postings(self, bucket: int) -> dict:
        """term -> list[(salt, blocks)] for one bucket dir (LRU)."""
        hit = self._buckets.get(bucket)
        if hit is not None:
            self._buckets.move_to_end(bucket)
            return hit
        table: dict[str, list] = {}
        t = self._read_bucket("postings", bucket,
                              ["term", "salt", "blocks"])
        if t is not None:
            for row in t.to_pylist():
                table.setdefault(row["term"], []).append(
                    (row["salt"], row["blocks"]))
        self._buckets[bucket] = table
        if len(self._buckets) > self._max_cached:
            self._buckets.popitem(last=False)
        return table

    def _postings(self, term: str) -> list:
        bucket = spark_term_bucket(term, self.n_buckets)
        return self._bucket_postings(bucket).get(term, [])

    def _decoded_postings(self, term: str) -> tuple:
        """(doc_ids int64[n], weights float64[n,4], {salt: block})
        across all salts/blocks of *term*, decoded + weighted once
        and LRU-cached.  A salt's block is the (shard positions,
        weights) pair :func:`~.query_vector.score_shard` takes; its
        weights are a view of the term's array."""
        hit = self._decoded.get(term)
        if hit is not None:
            self._decoded.move_to_end(term)
            return hit
        ids_l, w_l, by_salt, n = [], [], {}, 0
        params = self.term_params({term: 1}).get(term)
        if params is not None:
            _m, idf_v, bidf_v = params
            for salt, blocks in self._postings(term):
                start = n
                for blk in blocks:
                    ids, tfs, dls, mtfs = codec.unpack_block(
                        bytes(blk["data"]), int(blk["n"]))
                    ids_l.append(ids)
                    w_l.append(scoring.posting_weights(
                        tfs, dls, mtfs, idf_v, bidf_v, self.avgdl,
                        self.k1, self.b))
                    n += ids.size
                by_salt[salt] = slice(start, n)
        if ids_l:
            ids, w = np.concatenate(ids_l), np.vstack(w_l)
            out = (ids, w, {
                salt: (ids[sl] - self.salt_map[salt][0], w[sl])
                for salt, sl in by_salt.items()})
        else:
            out = (np.zeros(0, dtype=np.int64), np.zeros((0, 4)), {})
        self._decoded[term] = out
        if len(self._decoded) > self._max_decoded:
            self._decoded.popitem(last=False)
        return out

    def _load_urls(self) -> np.ndarray:
        if self._urls is None:
            # chunk filter: ignore partitions beyond this snapshot
            # (streaming appends or a previous larger build)
            t = pq.read_table(self.paths.docs, columns=["doc_id", "url"],
                              filters=[("chunk", "in",
                                        sorted(self.salt_map))])
            urls = np.empty(self._id_cap + 1, dtype=object)
            ids = t.column("doc_id").to_numpy()
            for i, u in zip(ids, t.column("url").to_pylist()):
                urls[i] = u
            self._urls = urls
        return self._urls

    # ---- ranked -----------------------------------------------------

    def vector_query(self, query: str, scheme: str = "bm25",
                     k: int = 20, with_urls: bool = False,
                     stopwords: frozenset[str] = STOPWORDS,
                     with_total: bool = False):
        """Top-k [(doc_id, score[, url])] — rank-identical (scores
        bit-equal) to the Spark path: each salt is scored by the same
        :func:`~.query_vector.score_shard` call over the same decoded
        weights (no pruning — weights are computed at load, so WAND
        could skip only additions), and one top-k selection by
        (score desc, doc_id asc) runs over every salt's candidates.

        With ``with_total`` returns ``(results, n_candidates)`` —
        the total hit count (live docs matching >= 1 term, the number
        the reference reports as its result-list size) without
        materializing more than k result rows.
        """
        _check_k(k)
        wcol = SCHEME_COL[scheme]
        mult = Counter(vector_query_terms(query, stopwords,
                                          use_stem=self.stemmed))
        postings = [(mult[t], self._decoded_postings(t))
                    for t in sorted(mult)]
        ids_parts, score_parts, total = [], [], 0
        for salt in sorted({s for _m, p in postings for s in p[2]}):
            base, span = self.salt_map[salt]
            terms = [(m, [by_salt[salt]], _WEIGHTS, None)
                     for m, (_ids, _w, by_salt) in postings
                     if salt in by_salt]
            dead = self.dead_by_salt.get(salt)
            pos, scores, n_live = score_shard(
                terms, span + 2, None if dead is None else dead - base,
                k, wcol)
            ids_parts.append(pos + base)
            score_parts.append(scores)
            total += n_live
        if not ids_parts:
            return ([], 0) if with_total else []
        ids, scores = _topk_select(np.concatenate(ids_parts),
                                   np.concatenate(score_parts), k)
        if with_urls:
            urls = self._load_urls()
            out = [(int(d), float(s), urls[d])
                   for d, s in zip(ids, scores)]
        else:
            out = [(int(d), float(s)) for d, s in zip(ids, scores)]
        return (out, total) if with_total else out

    # ---- boolean ----------------------------------------------------

    def _term_ids(self, word: str) -> np.ndarray:
        ids, _w, _s = self._decoded_postings(
            bool_query_term(word, self.stemmed))
        return np.sort(ids)

    def boolean_query_np(self, query: str) -> np.ndarray:
        """Same set-algebra spec as the Spark path
        (query_bool._eval_ast_numpy); sorted int64 ids.  The numpy
        form lets servers slice a page without materializing the
        whole result as Python objects."""
        ast = parse_boolean(query)
        if ast is None:
            return np.zeros(0, dtype=np.int64)
        out = _eval_ast_numpy(ast, self._term_ids,
                              np.zeros(0, dtype=np.int64))
        if self.tombstones.size and out.size:
            out = out[~np.isin(out, self.tombstones)]
        return out

    def boolean_query(self, query: str) -> list[int]:
        return [int(x) for x in self.boolean_query_np(query)]

    # ---- suggest / autocomplete ---------------------------------------

    def _load_dictionary(self) -> tuple[np.ndarray, np.ndarray,
                                        np.ndarray]:
        """(terms, dfs, term_lengths) over the WHOLE dictionary
        snapshot, loaded once and cached.  The dictionary is the
        Heaps-law-sublinear table (distinct terms, not postings) —
        small enough to hold locally even for large corpora; the
        Spark operator (operators/suggest.py) is the cluster-scale
        twin of these two methods."""
        if getattr(self, "_dict_all", None) is None:
            t = pq.read_table(self._dict_dir, columns=["term", "df"])
            terms = np.array(t.column("term").to_pylist(), dtype=object)
            dfs = t.column("df").to_numpy()
            lens = np.array([len(x) for x in terms], dtype=np.int32)
            self._dict_all = (terms, dfs, lens)
        return self._dict_all

    def suggest(self, word: str, k: int = 5,
                max_dist: int = 2) -> list[tuple[str, int, int]]:
        """Did-you-mean candidates for one query token →
        [(suggestion, dist, df)], ranked (dist, -df, term) — the same
        deterministic rule as suggest.spell_suggest.  The token is
        normalized with the index rule first (stem iff len>3 on a
        stemmed index) so candidates come from the same term space
        the query would search.  Length-band prefilter (edit distance
        ≥ length difference) then a banded Wagner-Fischer capped at
        ``max_dist`` (early row-exit)."""
        term = bool_query_term(word, self.stemmed)
        terms, dfs, lens = self._load_dictionary()
        cand = np.where(np.abs(lens - len(term)) <= max_dist)[0]
        scored = []
        for i in cand:
            d = _lev_capped(term, terms[i], max_dist)
            if d is not None:
                scored.append((d, -int(dfs[i]), str(terms[i])))
        scored.sort()
        return [(t, d, -ndf) for d, ndf, t in scored[:k]]

    def complete(self, prefix: str, k: int = 10
                 ) -> list[tuple[str, int]]:
        """Prefix completions → [(term, df)] ranked (-df, term)."""
        terms, dfs, _ = self._load_dictionary()
        hits = [(-int(dfs[i]), str(terms[i]))
                for i in range(len(terms))
                if terms[i].startswith(prefix)]
        hits.sort()
        return [(t, -ndf) for ndf, t in hits[:k]]

    # ---- snippets ----------------------------------------------------

    def _texts_for(self, doc_ids: list[int]) -> dict[int, str]:
        """(doc_id → text) for a RESULT PAGE of ids: urls from the
        docs table, texts via a url-IN filter pushed down to the
        corpus parquet — O(page) rows materialized, never O(corpus)."""
        urls = self._load_urls()
        want = {urls[d]: int(d) for d in doc_ids
                if 0 <= d <= self._id_cap and urls[d] is not None}
        if not want:
            return {}
        t = pq.read_table(self._corpus_dir, columns=["url", "text"],
                          filters=[("url", "in", list(want))])
        return {want[u]: x
                for u, x in zip(t.column("url").to_pylist(),
                                t.column("text").to_pylist())
                if u in want}

    def snippets(self, query: str, doc_ids: list[int],
                 radius: int = SNIPPET_RADIUS,
                 stopwords: frozenset = STOPWORDS
                 ) -> dict[int, dict]:
        """Query-focused snippets for result ids (requires
        ``corpus_dir``): terms normalized exactly like the vector
        query (so highlights are what scored), best window per doc
        via :func:`best_snippet`."""
        if self._corpus_dir is None:
            raise ValueError("LocalSearcher needs corpus_dir for "
                             "snippets")
        terms = set(vector_query_terms(query, stopwords,
                                       use_stem=self.stemmed))
        return {d: best_snippet(text, terms, self.stemmed, radius)
                for d, text in self._texts_for(doc_ids).items()}


def _lev_capped(a: str, b: str, cap: int) -> int | None:
    """Banded unit-cost Levenshtein: exact distance if ≤ cap, else
    None (rows whose banded minimum exceeds the cap exit early)."""
    la, lb = len(a), len(b)
    if abs(la - lb) > cap:
        return None
    if la == 0 or lb == 0:
        return max(la, lb)  # ≤ cap by the band check above
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        lo = max(1, i - cap)
        hi = min(lb, i + cap)
        if lo > hi:
            return None
        cur = [i] + [cap + 1] * lb
        ca = a[i - 1]
        for j in range(lo, hi + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (ca != b[j - 1]))
        if min(cur[lo:hi + 1]) > cap:
            return None
        prev = cur
    return prev[lb] if prev[lb] <= cap else None


# ---- snippets -------------------------------------------------------


def best_snippet(text: str, match_terms: set[str], stemmed: bool,
                 radius: int = SNIPPET_RADIUS) -> dict:
    """Best (2·radius+1)-token window of *text* for *match_terms*
    (already query-normalized: the caller passes
    ``vector_query_terms`` output).  Each text token is normalized
    with the INDEX rule (stem iff len>3 when the index is stemmed)
    so the snippet highlights exactly what scored.  Window choice:
    most DISTINCT matched terms, then most matched tokens, then
    leftmost — deterministic.  Returns the original character span
    (``text``), match offsets within it (``spans``), and clip
    flags."""
    from ..functions.porter2 import stem
    from ..functions.tokenizer import TOKEN_RE

    toks = [(m.group(0), m.start(), m.end())
            for m in TOKEN_RE.finditer(text)]
    if not toks:
        return {"text": "", "spans": [],
                "clipped_left": False, "clipped_right": False}
    termat = []
    for w, _s, _e in toks:
        t = stem(w) if stemmed and len(w) > 3 else w
        termat.append(t if t in match_terms else None)
    w = min(len(toks), 2 * radius + 1)
    cnt = Counter(t for t in termat[:w] if t)
    best_i, best = 0, (len(cnt), sum(cnt.values()))
    for i in range(1, len(toks) - w + 1):
        gone, new = termat[i - 1], termat[i + w - 1]
        if gone:
            cnt[gone] -= 1
            if not cnt[gone]:
                del cnt[gone]
        if new:
            cnt[new] += 1
        score = (len(cnt), sum(cnt.values()))
        if score > best:
            best_i, best = i, score
    lo, hi = toks[best_i][1], toks[best_i + w - 1][2]
    return {
        "text": text[lo:hi],
        "spans": [(s - lo, e - lo)
                  for (tok, s, e), t in zip(toks[best_i:best_i + w],
                                            termat[best_i:best_i + w])
                  if t],
        "clipped_left": best_i > 0,
        "clipped_right": best_i + w < len(toks),
    }
