"""BM25 scoring, bit-faithful to the reference's float32 evaluation.

All semantics from BM25Similarity.java (k1=1.2, b=0.75 defaults :59-62):

- idf        = (float) ln(1 + (maxDoc - df + 0.5) / (df + 0.5))   (:64-67, 165-170)
- avgdl      = (float) (sumTotalTermFreq / (double) maxDoc)        (:79-89)
- norm cache = k1 * ((1 - b) + b * NORM_TABLE[byte] / avgdl)       (:207-210)
- score(t,d) = weight * tf / (tf + cache[norm_byte(d)])            (:228-237)
               where weight = idf * (k1 + 1), all float32
- multi-term = sum of per-term scores (BooleanQuery SHOULD; coord and
  queryNorm are 1 for BM25 — Similarity.java:122-141)
- tie-break  = score desc, docID asc (HitQueue.java:76-81)

`brute_force_topk` is the test oracle: naive exhaustive scoring of a token
corpus in numpy float32, mirroring the per-norm-byte cache table so the
lossy length quantization is identical.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..analysis.analyzer import standard_tokenize
from ..index.norms import NORM_DOCLEN_TABLE, encode_norm

K1 = np.float32(1.2)
B = np.float32(0.75)


@dataclass
class BM25Stats:
    """CollectionStatistics for one indexed text field
    (CollectionStatistics.java, consumed at BM25Similarity.java:79-89)."""

    max_doc: int
    sum_total_term_freq: int

    @property
    def avgdl(self) -> np.float32:
        return np.float32(self.sum_total_term_freq / float(self.max_doc))


def bm25_idf(df: np.ndarray | int, max_doc: int) -> np.ndarray:
    """float32 idf; df may be scalar or vector."""
    dfv = np.asarray(df, dtype=np.float64)
    return np.log(1.0 + (max_doc - dfv + 0.5) / (dfv + 0.5)).astype(np.float32)


def norm_cache(stats: BM25Stats) -> np.ndarray:
    """256-entry float32 table: cache[b] = k1*((1-b) + b*decodedLen/avgdl)
    (BM25Similarity.java:207-210)."""
    avgdl = stats.avgdl
    one = np.float32(1.0)
    return (K1 * ((one - B) + B * NORM_DOCLEN_TABLE / avgdl)).astype(np.float32)


def term_weight(df: int, max_doc: int) -> np.float32:
    """float32 weight = idf * (k1 + 1) of one term (BM25Similarity.java:185-198)."""
    return np.float32(bm25_idf(int(df), max_doc) * (K1 + np.float32(1.0)))


def phrase_weight(dfs, max_doc: int) -> np.float32:
    """float32 phrase weight: the idf of every distinct phrase term summed in
    double, rounded once, times (k1 + 1) (BM25Similarity.java:185-198)."""
    idf_sum = np.float32(sum(float(bm25_idf(int(df), max_doc)) for df in dfs))
    return np.float32(idf_sum * (K1 + np.float32(1.0)))


def posting_scores(
    w: np.float32, tfs: np.ndarray, norm_bytes: np.ndarray, cache: np.ndarray
) -> np.ndarray:
    """float32 score of every posting of one term (or phrase): w * tf /
    (tf + cache[norm_byte]), each step rounded to float32
    (BM25Similarity.java:228-237). `tfs` may be fractional (sloppy phrase
    freqs)."""
    tf32 = np.asarray(tfs, dtype=np.float32)
    norms = cache[np.asarray(norm_bytes, dtype=np.int64) & 0xFF]
    return (np.float32(w) * tf32 / (tf32 + norms)).astype(np.float32)


def posting_bounds(
    w: float, tfs: np.ndarray, norm_bytes: np.ndarray, cache: np.ndarray
) -> np.ndarray:
    """float64 twin of `posting_scores` for block-max upper bounds: the
    score is increasing in tf and decreasing in cache[norm_byte], so the
    bound of a block's (max tf, min-length norm byte) bounds every posting
    in it."""
    tf64 = np.asarray(tfs, dtype=np.float64)
    return float(w) * tf64 / (tf64 + cache[np.asarray(norm_bytes, dtype=np.int64)])


def bm25_score(
    tf: np.ndarray, df: int, norm_bytes: np.ndarray, stats: BM25Stats
) -> np.ndarray:
    """Per-doc float32 score of one term (BM25Similarity.java:228-237)."""
    return posting_scores(
        term_weight(df, stats.max_doc), tf, norm_bytes, norm_cache(stats)
    )


def brute_force_topk(
    texts: dict[int, str], query_terms: list[str], k: int = 10
) -> list[tuple[int, float]]:
    """Exhaustive oracle: tokenize every doc with the fidelity analyzer,
    score every query term, sum, return top-k [(doc_id, score)] with the
    reference tie-break (score desc, docID asc)."""
    doc_ids = np.array(sorted(texts), dtype=np.int64)
    token_lists = [[t for _, t in standard_tokenize(texts[d])] for d in doc_ids]
    doc_len = np.array([len(toks) for toks in token_lists], dtype=np.int64)
    stats = BM25Stats(max_doc=len(doc_ids), sum_total_term_freq=int(doc_len.sum()))
    norm_bytes = encode_norm(doc_len)

    total = np.zeros(len(doc_ids), dtype=np.float32)
    matched = np.zeros(len(doc_ids), dtype=bool)
    for term in query_terms:
        tf = np.array([toks.count(term) for toks in token_lists], dtype=np.int64)
        df = int((tf > 0).sum())
        if df == 0:
            continue
        contrib = bm25_score(tf, df, norm_bytes, stats)
        contrib = np.where(tf > 0, contrib, np.float32(0.0))
        # float32 accumulation, like BooleanQuery's sum over sub-scorers
        total = (total + contrib).astype(np.float32)
        matched |= tf > 0

    idx = np.nonzero(matched)[0]
    order = sorted(idx, key=lambda i: (-float(total[i]), int(doc_ids[i])))
    return [(int(doc_ids[i]), float(total[i])) for i in order[:k]]
