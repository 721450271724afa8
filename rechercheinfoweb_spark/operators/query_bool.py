"""Boolean query engine — SURVEY.md §2.4 Q1-Q6.

The parser reproduces the reference's shunting-yard grammar exactly
(bool_query.go:178-297), including its quirks, because rank-identity
on the reference query set is the goal:

* the splitter keeps only letters+digits (vector_query.go:14-16), so
  parentheses can never appear as tokens — the reference's paren
  branches are dead code and the effective grammar is paren-free;
* precedence is AND < OR < NOT (bool_query.go:17-24 enum order, the
  shunting-yard pops while ``op < oldOp``) — OR binds *tighter* than
  AND, unlike SQL;
* an implicit AND is inserted between adjacent bare words — the
  comment says OR, the code pushes ``and`` (bool_query.go:228-250);
  note "NOT" is absent from the next-word operator list, so
  "a NOT b" becomes "a AND (NOT b)";
* malformed queries are silently "fixed" by dropping unsatisfiable
  operators (bool_query.go:265-297);
* operator words match case-insensitively; everything else is left
  in original case, stemmed iff len>3, and NOT stopword-filtered
  (bool_query.go:52-58);
* NOT is only ever evaluated against the already-bound left side —
  never a global complement (bool_query.go:38-44,67-72): AND swaps
  its operands so the non-NOT side binds first, and a NOT under OR
  (or at top level) sees an empty bound set → empty result.

Evaluation is document-partitioned, like the ranked path, and runs
the same one-job plan (:meth:`IndexReader.scan`): one task reads the
query terms' postings of its salts with pyarrow, and the whole AST
evaluates independently inside each ``salt`` shard over numpy id
arrays.  This is correct because shards are disjoint doc-id ranges and
every reference set operation distributes over disjoint ranges —
including the bound NOT, whose ``prec`` operand is itself
shard-local.  Tasks hold their salts in doc-id order
(:meth:`IndexReader.scan_tasks`), so sorting ids within each task
(``sortWithinPartitions``) orders the whole result with no exchange
and no range-partition sample job: a query is one Spark job with one
Python task per task of the scan.  Postings are already
co-partitioned by salt, so AND/OR/NOT never move id lists;
join-based set algebra would pay a shuffle per operator.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..functions import codec
from ..functions.tokenizer import QUERY_TOKEN_RE, bool_query_term
from .query_vector import IndexReader

# AST ----------------------------------------------------------------


@dataclass
class Word:
    w: str
    def is_not(self) -> bool: return False


@dataclass
class Not:
    b: object
    def is_not(self) -> bool: return True


@dataclass
class And:
    b1: object
    b2: object
    def is_not(self) -> bool: return False


@dataclass
class Or:
    b1: object
    b2: object
    def is_not(self) -> bool: return False


_AND, _OR, _NOT, _LPAREN = 0, 1, 2, 3  # precedence enum, reference order


def _add_operator(out: list, op: int) -> list:
    """bool_query.go:265-297 addBOperator, silent fixes included."""
    if op == _NOT:
        if len(out) < 1:
            return out
        out[-1] = Not(out[-1])
        return out
    if len(out) < 2:
        return out
    b1 = out.pop()   # right operand first — reference order
    b2 = out.pop()
    if op == _OR:
        out.append(Or(b1, b2))
    elif op == _AND:
        out.append(And(b1, b2))
    # leftParen (dead in practice): operands dropped, like the Go code
    return out


def parse_boolean(query: str):
    """Shunting-yard over letter/digit tokens; returns AST or None."""
    words = QUERY_TOKEN_RE.findall(query)
    out: list = []
    ops: list[int] = []
    opcode = {"OR": _OR, "AND": _AND, "NOT": _NOT}
    for i, word in enumerate(words):
        up = word.upper()
        if up in opcode:
            op = opcode[up]
            while ops:
                old = ops.pop()
                if op < old:
                    out = _add_operator(out, old)
                else:
                    ops.append(old)
                    break
            ops.append(op)
        else:
            out.append(Word(word))
            if i + 1 < len(words) and words[i + 1].upper() not in (
                    "OR", "AND"):
                op = _AND
                while ops:
                    old = ops.pop()
                    if old < op:
                        out = _add_operator(out, old)
                    else:
                        ops.append(old)
                        break
                ops.append(op)
    for op in reversed(ops):
        out = _add_operator(out, op)
    if len(out) != 1:
        return None
    return out[0]


# Evaluation ----------------------------------------------------------


def _eval_ast_numpy(node, term_ids, prec: np.ndarray) -> np.ndarray:
    """Evaluate the AST over sorted numpy id arrays — the shared
    set-algebra spec (reference semantics: bound NOT via prec,
    AND operand swap so the non-NOT side binds first,
    bool_query.go:38-102).  ``term_ids(word)`` supplies one
    (shard-local) sorted id array per word."""
    empty = np.zeros(0, dtype=np.int64)
    if isinstance(node, Word):
        return term_ids(node.w)
    if isinstance(node, Not):
        inner = _eval_ast_numpy(node.b, term_ids, empty)
        return np.setdiff1d(prec, inner, assume_unique=False)
    if isinstance(node, And):
        b1, b2 = node.b1, node.b2
        if b1.is_not() and not b2.is_not():
            b1, b2 = b2, b1
        r1 = _eval_ast_numpy(b1, term_ids, prec)
        r2 = _eval_ast_numpy(b2, term_ids, r1)
        return np.intersect1d(r1, r2)
    if isinstance(node, Or):
        return np.union1d(_eval_ast_numpy(node.b1, term_ids, prec),
                          _eval_ast_numpy(node.b2, term_ids, prec))
    raise TypeError(f"unknown node {node!r}")


def _eval_shard_kernel(ast, use_stem: bool = True, dead_bc=None):
    """Boolean kernel over one salt shard's posting rows (see
    :meth:`IndexReader.scan`): decode each term's ids (first varint
    section only — no statistics decode), evaluate the AST on the
    shard's disjoint doc-id range, emit matching ids.

    Tombstones (operators/delete.py) are removed from the RESULT,
    not the operands: the result of any boolean AST is a subset of
    its positive operands, so post-filtering equals evaluating over
    the live corpus — and keeps the set algebra untouched."""

    def fn(pdf):
        import pandas as pd
        by_word: dict[str, np.ndarray] = {}
        by_term: dict[str, list[np.ndarray]] = {}
        for term, blocks in zip(pdf["term"], pdf["blocks"]):
            lists = by_term.setdefault(term, [])
            for blk in blocks:
                lists.append(codec.unpack_block_ids(
                    bytes(blk["data"]), int(blk["n"])))

        def term_ids(word: str) -> np.ndarray:
            hit = by_word.get(word)
            if hit is None:
                lists = by_term.get(
                    bool_query_term(word, use_stem), [])
                hit = (np.sort(np.concatenate(lists)) if lists
                       else np.zeros(0, dtype=np.int64))
                by_word[word] = hit
            return hit

        out = _eval_ast_numpy(ast, term_ids,
                              np.zeros(0, dtype=np.int64))
        if dead_bc is not None and len(pdf):
            dead = dead_bc.value.get(int(pdf["salt"].iloc[0]))
            if dead is not None and dead.size:
                out = out[~np.isin(out, dead)]
        return pd.DataFrame({"doc_id": out.astype(np.int64)})

    return fn


def boolean_search(spark: SparkSession, index_dir: str | IndexReader,
                   query: str, with_urls: bool = False) -> DataFrame:
    """Boolean retrieval; result ordered by doc_id asc (the
    reference's posting-list order, search.go:82-85)."""
    reader = (index_dir if isinstance(index_dir, IndexReader)
              else IndexReader(spark, index_dir))
    ast = parse_boolean(query)
    if ast is None:
        res = spark.createDataFrame([], "doc_id long")
    else:
        terms = sorted({bool_query_term(w, reader.stemmed)
                        for w in _collect_words(ast, [])})
        res = reader.scan(terms,
                          _eval_shard_kernel(ast, reader.stemmed,
                                             reader._dead_bc),
                          pa.schema([("doc_id", pa.int64())]))
    if with_urls:
        # NO broadcast hint on the result side: a boolean result is
        # unbounded (an OR over hot terms can match most of a web
        # corpus), and broadcasting it would OOM executors at scale —
        # the ranked path may hint because its result is k rows.
        # Both sides are id-partitioned, so AQE picks a sort-merge /
        # shuffled-hash join whose cost tracks the result size;
        # interactive callers page the ids first and join urls for
        # one page only.
        docs = reader.docs().select("doc_id", "url")
        return docs.join(res, "doc_id").orderBy("doc_id")
    # tasks cover ascending, disjoint id ranges: in-task order is
    # the global order
    return res.sortWithinPartitions("doc_id")


def _collect_words(node, acc: list):
    if isinstance(node, Word):
        acc.append(node.w)
    elif isinstance(node, Not):
        _collect_words(node.b, acc)
    elif isinstance(node, (And, Or)):
        _collect_words(node.b1, acc)
        _collect_words(node.b2, acc)
    return acc
