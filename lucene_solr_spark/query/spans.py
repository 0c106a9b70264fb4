"""Span queries: SpanTerm / SpanNear (ordered + unordered) / SpanOr /
SpanNot / SpanFirst, over the positions already stored in the postings
tables.

Semantics re-derived from the reference iterators:

- TermSpans.java:40-90 — a term's spans are (pos, pos+1) per occurrence.
- NearSpansOrdered.java:190-345 — repeat { stretchToOrder (advance each
  clause until strictly after its predecessor: start<start, ties by
  end<end, docSpansOrdered:150-158), then shrinkToAfterShortestMatch
  (:275-345): walking clauses last→first, advance each as far as possible
  while still before its successor; slop = sum of non-overlapping gaps
  (matchStart - prevEnd when positive); emit when slop ≤ allowed }.
  Advancing during the shrink is what steps the enumeration forward.
- NearSpansUnordered.java:161-211,332-335 — a PQ of clause spans ordered
  by (start, end); at each state emit (min.start, max.end) when
  max.end - min.start - totalLength ≤ slop, then advance the min cell
  (max.end is a running maximum: SpansCell.adjust:85-96).
- SpanOrQuery.java:170-244 — PQ merge of clause spans by (start, end).
- SpanNotQuery.java:85-137 — include spans dropped when an exclude span
  overlaps (exclude.start < include.end AND exclude.end > include.start).
- SpanFirstQuery.java:30-55 (SpanPositionRangeQuery.acceptPosition) —
  keep spans with end ≤ limit.
- SpanScorer.java:73-92 — freq = Σ sloppyFreq(end - start) over the
  enumerated top-level spans (1/(distance+1), BM25Similarity sloppy
  scorer), scored with the summed idf of every term under the query
  (SpanWeight.java:45-70), same BM25 weight/norm arithmetic as the
  phrase path.

Execution: the per-(doc, term) position lists are fetched exactly like the
phrase path (postings scan restricted to the tree's terms, positions
decoded in an Arrow kernel, one groupBy(doc_id) shuffle whose per-doc
payload is bounded by the query's term count), then the span tree is
evaluated per doc inside the same kernel that scores it. The per-doc
evaluation is Python (faithful iterator transcription) — spans are a
precision tool over a handful of terms, so the volume that reaches Python
is Σdf of the query's terms, never the corpus; the mandatory-term
prefilter below cuts that to docs that can possibly match.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator, Union

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bm25 import norm_cache, phrase_weight, posting_scores

SpanNode = Union["SpanTerm", "SpanNear", "SpanOr", "SpanNot", "SpanFirst"]


@dataclass(frozen=True)
class SpanTerm:
    term: str


@dataclass(frozen=True)
class SpanNear:
    clauses: tuple
    slop: int = 0
    in_order: bool = True


@dataclass(frozen=True)
class SpanOr:
    clauses: tuple


@dataclass(frozen=True)
class SpanNot:
    include: "SpanNode"
    exclude: "SpanNode"


@dataclass(frozen=True)
class SpanFirst:
    match: "SpanNode"
    end: int


def tree_terms(node: SpanNode) -> set[str]:
    """Every term under the node (SpanWeight extracts all of them for the
    summed-idf weight, SpanWeight.java:45-52)."""
    if isinstance(node, SpanTerm):
        return {node.term}
    if isinstance(node, (SpanNear, SpanOr)):
        out: set[str] = set()
        for c in node.clauses:
            out |= tree_terms(c)
        return out
    if isinstance(node, SpanNot):
        return tree_terms(node.include) | tree_terms(node.exclude)
    if isinstance(node, SpanFirst):
        return tree_terms(node.match)
    raise TypeError(type(node))


def mandatory_terms(node: SpanNode) -> set[str]:
    """Terms a doc MUST contain to produce any span — used only as a
    prefilter (exactness comes from the evaluator)."""
    if isinstance(node, SpanTerm):
        return {node.term}
    if isinstance(node, SpanNear):
        out: set[str] = set()
        for c in node.clauses:
            out |= mandatory_terms(c)
        return out
    if isinstance(node, SpanOr):
        if len(node.clauses) == 1:
            return mandatory_terms(node.clauses[0])
        return set()
    if isinstance(node, SpanNot):
        return mandatory_terms(node.include)
    if isinstance(node, SpanFirst):
        return mandatory_terms(node.match)
    raise TypeError(type(node))


def _ordered_before(a: tuple[int, int], b: tuple[int, int]) -> bool:
    """docSpansOrdered (NearSpansOrdered.java:150-158): span a strictly
    before span b — starts ordered, equal starts broken by end."""
    return a[1] < b[1] if a[0] == b[0] else a[0] < b[0]


def _near_ordered(subs: list[list[tuple[int, int]]], slop: int) -> list[tuple[int, int]]:
    """NearSpansOrdered enumeration within one doc (see module docstring)."""
    n = len(subs)
    if any(not s for s in subs):
        return []
    idx = [0] * n
    out: list[tuple[int, int]] = []
    more = True
    while more:
        # stretchToOrder (:243-253)
        for i in range(1, n):
            while not _ordered_before(subs[i - 1][idx[i - 1]], subs[i][idx[i]]):
                idx[i] += 1
                if idx[i] >= len(subs[i]):
                    return out
        # shrinkToAfterShortestMatch (:275-345)
        match_start, match_end = subs[n - 1][idx[n - 1]]
        match_slop = 0
        last = (match_start, match_end)
        for i in range(n - 2, -1, -1):
            prev_start, prev_end = subs[i][idx[i]]
            while True:  # advance prev until after `last`
                idx[i] += 1
                if idx[i] >= len(subs[i]):
                    more = False
                    break
                pp = subs[i][idx[i]]
                if not _ordered_before(pp, last):
                    break
                prev_start, prev_end = pp
            if match_start > prev_end:  # only non-overlapping gaps add slop
                match_slop += match_start - prev_end
            match_start = prev_start
            last = (prev_start, prev_end)
        if match_slop <= slop:
            out.append((match_start, match_end))
    return out


def _near_unordered(subs: list[list[tuple[int, int]]], slop: int) -> list[tuple[int, int]]:
    """NearSpansUnordered enumeration within one doc (see module docstring)."""
    import heapq

    n = len(subs)
    if any(not s for s in subs):
        return []
    idx = [0] * n
    heap = [(subs[i][0][0], subs[i][0][1], i) for i in range(n)]
    heapq.heapify(heap)
    total_len = sum(s[0][1] - s[0][0] for s in subs)
    max_end = max(s[0][1] for s in subs)
    out: list[tuple[int, int]] = []
    while True:
        mstart, mend, i = heap[0]
        if max_end - mstart - total_len <= slop:
            out.append((mstart, max_end))
        idx[i] += 1
        if idx[i] >= len(subs[i]):
            return out
        ns, ne = subs[i][idx[i]]
        total_len += (ne - ns) - (mend - mstart)
        if ne > max_end:
            max_end = ne
        heapq.heapreplace(heap, (ns, ne, i))


def eval_spans(node: SpanNode, positions: dict[str, np.ndarray]) -> list[tuple[int, int]]:
    """Evaluate the span tree for ONE doc given its per-term sorted
    position arrays; returns the enumerated spans in iterator order."""
    if isinstance(node, SpanTerm):
        p = positions.get(node.term)
        if p is None:
            return []
        return [(int(x), int(x) + 1) for x in p]
    if isinstance(node, SpanNear):
        if len(node.clauses) == 1:  # SpanNearQuery.getSpans single-clause
            return eval_spans(node.clauses[0], positions)  # delegation
        subs = [eval_spans(c, positions) for c in node.clauses]
        if node.in_order:
            return _near_ordered(subs, node.slop)
        return _near_unordered(subs, node.slop)
    if isinstance(node, SpanOr):
        merged: list[tuple[int, int]] = []
        for c in node.clauses:
            merged.extend(eval_spans(c, positions))
        return sorted(merged)
    if isinstance(node, SpanNot):
        inc = eval_spans(node.include, positions)
        exc = eval_spans(node.exclude, positions)
        if not exc:
            return inc
        return [
            s
            for s in inc
            if not any(e[0] < s[1] and e[1] > s[0] for e in exc)
        ]
    if isinstance(node, SpanFirst):
        return [s for s in eval_spans(node.match, positions) if s[1] <= node.end]
    raise TypeError(type(node))


def span_freq(node: SpanNode, positions: dict[str, np.ndarray]) -> float:
    """SpanScorer.setFreqCurrentDoc (SpanScorer.java:73-86): float32
    accumulation of sloppyFreq(end - start) over the enumerated spans."""
    freq = np.float32(0.0)
    for s, e in eval_spans(node, positions):
        freq = np.float32(freq + np.float32(1.0) / np.float32((e - s) + 1))
    return float(freq)


def span_search(
    searcher, node: SpanNode, k: int | None = 10,
    filter_docs: DataFrame | None = None,
) -> DataFrame:
    """Top-k docs for a span query through the real index: postings scan
    restricted to the tree's terms → positions decoded per (doc, term) →
    one groupBy(doc_id) → per-doc tree evaluation + BM25 scoring in a
    single Arrow kernel → TakeOrderedAndProject. `k=None` skips the top-k
    and returns the full scored match frame — the composition hook the
    surround parser's boolean combine uses (no global sort happens in
    that mode; the only ordering is the caller's final top-k)."""
    terms = sorted(tree_terms(node))
    tinfo = searcher.lookup_terms(terms)
    found = set(tinfo["term"])
    missing_mandatory = mandatory_terms(node) - found
    if tinfo.empty or missing_mandatory:
        return searcher.spark.createDataFrame([], "doc_id long, score float")

    weight = phrase_weight(tinfo["df"], searcher.stats.max_doc)
    cache = norm_cache(searcher.stats)
    qterms = sorted(found)
    n_mandatory = len(mandatory_terms(node) & found)
    pos_rows = searcher._position_rows(qterms)
    grouped = (
        pos_rows.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("nt"),
            F.max("norm_byte").alias("norm_byte"),
            F.collect_list(F.struct("term", "positions")).alias("plists"),
        )
        .where(F.col("nt") >= n_mandatory)
    )

    def kernel(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdf_iter:
            doc_ids, freqs, nbs = [], [], []
            for row in pdf.itertuples(index=False):
                positions = {
                    e["term"]: np.asarray(e["positions"], dtype=np.int64)
                    for e in row.plists
                }
                freq = span_freq(node, positions)
                if freq > 0:
                    doc_ids.append(row.doc_id)
                    freqs.append(freq)
                    nbs.append(row.norm_byte)
            yield pd.DataFrame(
                {
                    "doc_id": np.asarray(doc_ids, dtype=np.int64),
                    "score": posting_scores(weight, freqs, nbs, cache),
                }
            )

    scored = grouped.mapInPandas(kernel, schema="doc_id long, score float")
    scored = searcher._apply_filter(scored, filter_docs)
    scored = searcher._drop_deleted(scored)
    return scored if k is None else searcher._topk(scored, k)
