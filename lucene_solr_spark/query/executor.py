"""Query execution over the built index: the IndexSearcher equivalent.

Maps the reference's execution stack (IndexSearcher.java:267→685→607-630,
scorer trees from BooleanQuery.java:302-364) onto Spark plans:

- term dictionary lookup  → driver-side filter of the `terms` table
  (BlockTree in-RAM FST analog: tiny broadcastable lookup per query)
- TermScorer              → scan postings rows for the termIDs (parquet
  row-group pruning on the sorted term column), numpy kernel per row:
  `_doc_ids` decodes the gaps, `bm25.posting_scores` gives weight * tf /
  (tf + cache[norm_byte]) — float32, same factorization as
  BM25Similarity.java:228-237
- BooleanQuery            → one clause compiler: `boolean_search`, `search`
  and parsed queries all become parser `Clause`s run by `_clauses_scored`
  - SHOULD sum            → float64 sum per doc, cast once to float32
                            (DisjunctionSumScorer)
  - MUST conjunction      → matched MUST clauses == number of MUST clauses
                            (ConjunctionScorer's leap-frog, as a count)
  - MUST_NOT              → exclusion of the negative clauses' docs
                            (ReqExclScorer)
  - minimumNumberShouldMatch → matched SHOULD clauses >= m
                            (MinShouldMatchSumScorer)
- PhraseQuery             → per-doc position-set intersection of
  (pos_i - i) (ExactPhraseScorer.java:29-82), freq feeds the same BM25 tf
  formula with the idf of the distinct phrase terms summed
  (BM25Similarity.java:185-198)
- top-k                   → orderBy(score desc, docID asc).limit(k) =
  TopScoreDocCollector + HitQueue tie-break (HitQueue.java:76-81), executed
  as Spark's distributed TakeOrderedAndProject, after liveDocs and fq

Placement is decided once per query from dictionary stats
(`Searcher._single_slice`): when the query's Σdf postings and Σttf
positions fit SINGLE_SLICE_POSTINGS / SINGLE_SLICE_POSITIONS, one kernel
over one coalesced scan scores, combines and excludes (`_one_slice`);
otherwise the per-clause scans are combined by a distributed groupBy.
"""

from __future__ import annotations

import json
import math
import os
import re
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analysis.analyzer import jvm_analyze, standard_tokenize
from ..index.build import IndexPaths
from .bm25 import (
    B, BM25Stats, K1, bm25_idf, norm_cache, phrase_weight, posting_bounds,
    posting_scores, term_weight,
)
from .parser import MUST, MUST_NOT, SHOULD, Clause, parse

# "single-slice path not applicable" sentinel (None already means "matches
# nothing" in the clause-execution contract)
_SLICE_NA = object()

# One-slice budgets, checked against the dictionary before any Spark job:
# a query whose postings (Σdf) and phrase positions (Σttf) both fit runs as
# one kernel over one coalesced scan (tens of MB of posting arrays at most);
# anything larger takes the distributed plan, so this is a fixed-cost cut
# for selective queries, not a scale cap. A budget of 0 sends every query
# that reads a posting to the distributed plan.
SINGLE_SLICE_POSTINGS = 1_000_000
SINGLE_SLICE_POSITIONS = 250_000


def _ranges(reps: np.ndarray) -> np.ndarray:
    """[0..r0-1, 0..r1-1, ...] concatenated — vectorized per-group arange."""
    total = int(reps.sum())
    out = np.arange(total, dtype=np.int64)
    starts = np.repeat(np.cumsum(reps) - reps, reps)
    return out - starts


def _wildcard_regex(pattern: str) -> str:
    """Anchored regex of a wildcard pattern: `*` any run, `?` one char
    (WildcardQuery.java:116)."""
    return "^" + "".join(
        ".*" if c == "*" else "." if c == "?" else re.escape(c) for c in pattern
    ) + "$"


def _doc_ids(row) -> np.ndarray:
    """docIDs of one packed posting row: first_doc + running sum of gaps."""
    return row.first_doc + np.cumsum(np.asarray(row.doc_gaps, dtype=np.int64))


def _positions(row, tfs: np.ndarray) -> list[np.ndarray]:
    """Per-doc position lists of one packed posting row (pos_flat cut by tf)."""
    return np.split(np.asarray(row.pos_flat, dtype=np.int64), np.cumsum(tfs)[:-1])


def _term_slots(slots: list[list[str]]) -> dict[str, list[int]]:
    """term → the phrase slots it may fill."""
    out: dict[str, list[int]] = {}
    for i, slot in enumerate(slots):
        for t in slot:
            out.setdefault(t, []).append(i)
    return out


def _phrase_slots(entries, term_slots: dict, n_slots: int) -> list | None:
    """Offset-adjusted positions (pos - slot) of one doc per phrase slot,
    from its (term, positions) entries; alternatives of one slot union.
    None when some slot has no alternative in the doc."""
    slot_arrs: list[np.ndarray | None] = [None] * n_slots
    for term, p in entries:
        for si in term_slots.get(term, ()):
            adj = p - si
            prev = slot_arrs[si]
            slot_arrs[si] = adj if prev is None else np.union1d(prev, adj)
    return None if any(a is None for a in slot_arrs) else slot_arrs


class _Phrase(NamedTuple):
    """One (multi-)phrase clause of the one-slice kernel: a list of slots,
    each a list of term alternatives."""

    slots: list
    weight: np.float32 = np.float32(1.0)
    slop: int = 0
    boost: float = 1.0
    must: bool = False


class Searcher:
    def __init__(
        self, spark: SparkSession, paths: IndexPaths | str, cache_terms: bool = True
    ):
        """cache_terms: persist the term dictionary DataFrame (the in-RAM
        BlockTree/FST index analog — BlockTreeTermsWriter keeps the `.tip`
        index in RAM). MEMORY_AND_DISK, so an oversized dictionary degrades
        gracefully instead of OOMing."""
        self.spark = spark
        self.paths = paths if isinstance(paths, IndexPaths) else IndexPaths(paths)
        self._cache_terms = cache_terms
        # fat posting rows → small columnar reader batches
        spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "128")
        self.reopen()

    def reopen(self) -> "Searcher":
        """Re-read index state — the SearcherManager NRT reopen
        (SearcherManager.java): cheap, because segment data is immutable and
        only the stats/terms snapshot pointers move."""
        with open(self.paths.stats) as fh:
            meta = json.load(fh)
        self.stats = BM25Stats(
            max_doc=meta["max_doc"], sum_total_term_freq=meta["sum_total_term_freq"]
        )
        self.meta = meta
        terms_dir = os.path.join(self.paths.root, meta.get("terms_dir", "terms"))
        if getattr(self, "terms", None) is not None and self._cache_terms:
            self.terms.unpersist()
        self.docs = self.spark.read.parquet(self.paths.docs)
        self.terms = self.spark.read.parquet(terms_dir)
        if self._cache_terms:
            from pyspark.storagelevel import StorageLevel

            self.terms = self.terms.persist(StorageLevel.MEMORY_AND_DISK)
        # lineage-aware segment resolution: only segments whose latest lineage
        # row is 'complete' are read, so a crash between a merge's lineage
        # append and its source-dir removal cannot double-count postings
        # (SegmentInfos-generation semantics; see index/lineage.py)
        from ..index.lineage import live_seg_ids

        live = live_seg_ids(self.spark, self.paths.lineage)
        if live is None:
            seg_glob = [os.path.join(self.paths.postings, "seg_id=*")]
        else:
            seg_glob = [
                os.path.join(self.paths.postings, f"seg_id={s}")
                for s in live
                if os.path.exists(os.path.join(self.paths.postings, f"seg_id={s}"))
            ]
        self.postings = self.spark.read.option("basePath", self.paths.postings).parquet(
            *seg_glob
        )
        # driver-side term-info cache (the in-RAM term index: BlockTree keeps
        # the .tip FST in heap) — repeated queries skip the dictionary job
        # entirely. Entry None = known-absent term. Cleared on reopen.
        self._term_info_cache = {}
        # dictionary impact metadata (build.py §6): usable only while the
        # index still matches the build the sketches describe — appended
        # docs are absent from the superchunk bounds (their chunks would be
        # wrongly pruned) and deletions can make a sketched θ unattainable
        # (over-pruning); max_doc mismatch or a live tombstone set disables
        im = meta.get("impact_meta") or {}
        self._impact_meta = im
        self._impacts_on = bool(im) and im.get("max_doc") == meta["max_doc"] and {
            "sc_ids",
            "sc_ubs",
            "imp_tfs",
            "imp_nbs",
        }.issubset(set(self.terms.columns))
        # imp_docs (docIDs of the kept pairs) additionally enables the
        # zero-action single-term top-k (absent on pre-imp_docs indexes)
        self._impact_docs_on = self._impacts_on and "imp_docs" in self.terms.columns
        self._impact_cache = {}
        # optional bloom sidecar over the term dictionary (index/bloom.py),
        # re-read on every reopen and used only while it describes this
        # index: terms appended after it was built would be answered NO
        from ..index.bloom import BloomDict

        bloom = (
            BloomDict(self.spark, self.paths.root)
            if BloomDict.exists(self.paths.root) else None
        )
        self._bloom = (
            bloom if bloom is not None and bloom.max_doc == meta["max_doc"] else None
        )
        self._deletes = None
        deletes_dir = os.path.join(self.paths.root, "deletes")
        if os.path.exists(deletes_dir):
            tomb = self.spark.read.parquet(deletes_dir).select("doc_id").distinct()
            if tomb.limit(1).count() > 0:
                self._deletes = F.broadcast(tomb)
        return self

    def _drop_deleted(self, scored: DataFrame) -> DataFrame:
        """Apply liveDocs: anti-join scored/matched docs against the tombstone
        table (BufferedDeletesStream semantics — deletes are live at search
        time, physically reclaimed at merge)."""
        if self._deletes is None:
            return scored
        return scored.join(self._deletes, "doc_id", "left_anti")

    # --- stored fields / doc sets / facets --------------------------------
    def fetch_docs(self, hits: DataFrame, source: DataFrame | None = None,
                   key_col: str = "url") -> DataFrame:
        """Stored-field retrieval for result docs — the distributed
        GET_FIELDS stage (QueryComponent scatter-gather stage 2) /
        documentCache path: join the (small) hits frame back to the docs
        table and optionally the source corpus. `hits` is tiny (top-k), so
        Spark broadcasts it into the join."""
        out = F.broadcast(hits).join(self.docs.select("doc_id", key_col), "doc_id")
        if source is not None:
            out = out.join(source, key_col, "left")
        return out

    def match_docs(self, terms: list[str]) -> DataFrame:
        """Non-scoring DocSet of every doc matching ≥1 term (the filterCache
        DocSet analog, SolrIndexSearcher.java:144) — feeds faceting."""
        tinfo = self.lookup_terms(terms)
        if tinfo.empty:
            return self.spark.createDataFrame([], "doc_id long")
        return self._drop_deleted(self._scored(tinfo).select("doc_id").distinct())

    def facet_field(
        self,
        terms: list[str],
        source: DataFrame,
        facet_col: str,
        key_col: str = "url",
        limit: int = 20,
        mincount: int = 1,
        offset: int = 0,
        prefix: str | None = None,
        sort: str = "count",
        missing: bool = False,
    ) -> DataFrame:
        """facet.field over the match set (SimpleFacets.java:336-448) with
        the full parameter surface: facet.limit/mincount/offset/prefix/
        sort (count desc | index asc — FacetParams.FACET_SORT)/missing
        (a NULL-keyed bucket counting matching docs with no value,
        appended after the ordered buckets).

        Multi-valued fields (array columns) facet per UnInvertedField
        semantics (UnInvertedField.java:48-66, getCounts): a doc counts
        once per DISTINCT value it holds (a term's count is |DocSet ∩
        docsWithTerm|, so duplicate values in one doc don't double-count);
        a doc with no values (NULL or empty array) lands in the missing
        bucket. explode_outer keeps those docs on the NULL row."""
        matches = self.match_docs(terms)
        joined = (
            matches.join(self.docs.select("doc_id", key_col), "doc_id")
            .join(source.select(key_col, facet_col), key_col)
        )
        if dict(joined.dtypes)[facet_col].startswith("array<"):
            joined = joined.withColumn(
                facet_col, F.explode_outer(F.array_distinct(F.col(facet_col)))
            )
        buckets = (
            joined.where(F.col(facet_col).isNotNull() if prefix is None
                         else F.col(facet_col).startswith(prefix))
            .groupBy(facet_col)
            .agg(F.count(F.lit(1)).alias("facet_count"))
            .where(F.col("facet_count") >= mincount)
        )
        if sort == "index":
            buckets = buckets.orderBy(F.col(facet_col).asc())
        else:
            buckets = buckets.orderBy(
                F.col("facet_count").desc(), F.col(facet_col).asc()
            )
        if offset:
            buckets = buckets.offset(offset)
        buckets = buckets.limit(limit)
        if missing:
            miss = joined.where(F.col(facet_col).isNull()).agg(
                F.lit(None).cast(dict(joined.dtypes)[facet_col]).alias(facet_col),
                F.count(F.lit(1)).alias("facet_count"),
            )
            buckets = buckets.unionByName(miss)
        return buckets

    # --- term dictionary -------------------------------------------------
    def lookup_terms(self, terms: list[str]) -> pd.DataFrame:
        """Query-term metadata (term, term_id, df, ttf) — the Weight's
        TermStatistics (TermQuery.java:45-74). Driver-cached per searcher
        (incl. negative entries), so a repeated query costs zero jobs here."""
        uniq = sorted(set(terms))
        cache = self._term_info_cache
        missing = [t for t in uniq if t not in cache]
        if missing and self._bloom is not None:
            # BloomFilteringPostingsFormat consult: a NO is definitive, so
            # the term caches as a negative entry with zero Spark jobs —
            # when every probe misses (primary-key/tail-term checks) the
            # dictionary scan is skipped entirely
            maybe = set(self._bloom.filter_terms(missing))
            for t in missing:
                if t not in maybe:
                    cache[t] = None
            missing = [t for t in missing if t in maybe]
        if missing:
            cols = ["term", "term_id", "df", "ttf"]
            if self._impacts_on:
                # impact sketches ride the SAME lookup (and the same driver
                # cache) — the single-action WAND path costs no extra job
                cols += ["sc_ids", "sc_ubs", "imp_tfs", "imp_nbs"]
            if self._impact_docs_on:
                cols += ["imp_docs"]
            fetched = (
                self.terms.where(F.col("term").isin(missing)).select(*cols).toPandas()
            )
            for r in fetched.itertuples(index=False):
                cache[r.term] = (int(r.term_id), int(r.df), int(r.ttf))
                if self._impacts_on:
                    self._impact_cache[r.term] = (
                        np.asarray(r.sc_ids, dtype=np.int64),
                        np.asarray(r.sc_ubs, dtype=np.float64),
                        np.asarray(r.imp_tfs, dtype=np.int64),
                        np.asarray(r.imp_nbs, dtype=np.int64),
                        np.asarray(r.imp_docs, dtype=np.int64)
                        if self._impact_docs_on
                        else None,
                    )
            for t in missing:
                cache.setdefault(t, None)
        rows = [(t, *cache[t]) for t in uniq if cache[t] is not None]
        return pd.DataFrame(rows, columns=["term", "term_id", "df", "ttf"])

    def analyze_query(self, query_text: str) -> list[str]:
        """Query-time analysis under the INDEX's chain (stats.json records
        the build tokenizer) — the QueryParser-uses-the-field-analyzer rule
        (QueryParserBase.newFieldQuery). For a tokenizer='lang' index the
        query language comes from `self.query_lang` (settable per request,
        the fl=lang analog of Solr's per-field analyzer choice)."""
        if self.meta.get("tokenizer") in ("lang", "lang-fidelity"):
            from ..analysis.lang import lang_analyze

            lang = getattr(self, "query_lang", None)
            return [t for _, t in lang_analyze(query_text, lang)]
        if self.meta.get("tokenizer") == "english":
            from ..analysis.english import english_analyze

            return [t for _, t in english_analyze(query_text)]
        if self.meta.get("tokenizer") == "folding":
            from ..analysis.analyzer import folding_analyze

            return [t for _, t in folding_analyze(query_text)]
        if self.meta.get("tokenizer") == "icu_folding":
            from ..analysis.analyzer import icu_folding_analyze

            return [t for _, t in icu_folding_analyze(query_text)]
        if self.meta.get("tokenizer") == "icu":
            from ..analysis.analyzer import icu_analyze

            return [t for _, t in icu_analyze(query_text)]
        if self.meta.get("tokenizer", "jvm") == "jvm":
            return [t for _, t in jvm_analyze(query_text)]
        return [t for _, t in standard_tokenize(query_text)]

    # --- scoring scan -----------------------------------------------------
    def _posting_scores(self, scorers: dict, with_term: bool = False) -> DataFrame:
        """(doc_id[, term], score float) for every posting of the scorers'
        terms: one term-pruned scan, one Arrow kernel, no joins (norms are in
        the rows). `scorers[term](tfs, norm_bytes)` gives the float32 posting
        scores — BM25 and every other similarity share this scan."""
        schema = "doc_id long, score float"
        if with_term:
            schema = "doc_id long, term string, score float"

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out_doc, out_term, out_score = [], [], []
                for row in pdf.itertuples(index=False):
                    docs = _doc_ids(row)
                    out_doc.append(docs)
                    if with_term:
                        out_term.extend([row.term] * len(docs))
                    out_score.append(
                        scorers[row.term](
                            np.asarray(row.tfs, dtype=np.int64),
                            np.asarray(row.norm_bytes, dtype=np.int64),
                        )
                    )
                if out_doc:
                    out = {"doc_id": np.concatenate(out_doc)}
                    if with_term:
                        out["term"] = out_term
                    out["score"] = np.concatenate(out_score)
                    yield pd.DataFrame(out)

        rows = self.postings.where(F.col("term").isin(sorted(scorers))).select(
            "term", "first_doc", "doc_gaps", "tfs", "norm_bytes"
        )
        return rows.mapInPandas(kernel, schema=schema)

    def _scored(self, tinfo: pd.DataFrame) -> DataFrame:
        """(doc_id, term, score float) BM25 score of every posting of the
        query terms."""
        if tinfo.empty:
            return self.spark.createDataFrame([], "doc_id long, term string, score float")
        cache = norm_cache(self.stats)
        scorers = {
            str(t): (
                lambda tfs, nbs, w=term_weight(df_, self.stats.max_doc):
                posting_scores(w, tfs, nbs, cache)
            )
            for t, df_ in zip(tinfo["term"], tinfo["df"])
        }
        return self._posting_scores(scorers, with_term=True)

    # --- block-max WAND (lossless pruned top-k) ---------------------------
    @staticmethod
    def _pad_theta(theta: float) -> float:
        """θ lowered by two float32 ulps for pruning comparisons: block/chunk
        upper bounds are evaluated in double while real scores round through
        float32 (one multiply + one divide), so a doc attaining its block
        maxima can exceed the double bound by up to ~2 ulps. Comparing bounds
        against the padded θ keeps the pruning provably lossless."""
        if theta == float("-inf"):
            return theta
        t = np.float32(theta)
        t = np.nextafter(t, np.float32("-inf"))
        t = np.nextafter(t, np.float32("-inf"))
        return float(t)

    def _impact_topk_single(
        self, term: str, k: int, pruning_stats: dict | None = None
    ):
        """Single-term BM25 top-k answered ENTIRELY from the dictionary's
        impact pairs — ZERO Spark scan actions once the term is in the
        driver cache (the impact-sorted-postings-head / ImpactsEnum early
        termination of Lucene 8; reference ground truth is still the
        exhaustive TopScoreDocCollector.java:40-63 ranking, which this
        reproduces exactly).

        Returns None when the sketch cannot PROVE sufficiency, and the
        caller falls back to a scan:
        - impact docIDs absent (old index), tombstones live, term's pairs
          missing, or k > kept pairs while more postings exist;
        - the k-th replayed float32 score is not strictly above the padded
          score bound of every excluded posting.

        Soundness: build kept the global top-K postings under the total
        order (r64 = tf/(tf+cache64[nb]) desc, docID asc). Every excluded
        posting has r64 ≤ min kept r64, and the float32 kernel
        fl(fl(w·tf)/fl(tf+c)) is within ~3 ulps of w·r64, so its score is
        ≤ fl32(w·min_r64) padded up 6 ulps. If the k-th best replayed
        score strictly exceeds that bound, no excluded posting can enter
        the top k or steal a docID-asc tie — the replayed ranking equals
        the exhaustive one in both scores and docIDs."""
        if not self._impact_docs_on or self._deletes is not None:
            return None
        if term not in self._term_info_cache:
            self.lookup_terms([term])
        info = self._term_info_cache.get(term)
        if info is None:
            return self.spark.createDataFrame([], "doc_id long, score float")
        ent = self._impact_cache.get(term)
        if ent is None or ent[4] is None:
            return None
        _, _, imp_tfs, imp_nbs, imp_docs = ent
        df_ = int(info[1])
        n_kept = len(imp_tfs)
        if n_kept == 0:
            return None
        if df_ > n_kept and k > n_kept:
            return None
        w = term_weight(df_, self.stats.max_doc)
        cache32 = norm_cache(self.stats)
        scores = posting_scores(w, imp_tfs, imp_nbs, cache32)
        order = np.lexsort((imp_docs, -scores.astype(np.float64)))[:k]
        if df_ > n_kept:
            r64 = posting_bounds(1.0, imp_tfs, imp_nbs, cache32)
            bound = np.float32(float(w) * float(r64.min()))
            for _ in range(6):
                bound = np.nextafter(bound, np.float32("inf"))
            if not scores[order[-1]] > bound:
                return None
        if pruning_stats is not None:
            pruning_stats["impact_head"] = True
            pruning_stats["chunks_total"] = int(
                self.stats.max_doc // int(self.meta.get("chunk_span") or 1 << 16)
                + 1
            )
            pruning_stats["chunks_live"] = 0
        # Arrow local relation (pandas), not a rows-list parallelize: the
        # latter schedules a defaultParallelism-partition Python job at
        # collect time (~1 s on local[32]) — slower than the scan this
        # path exists to avoid. The pandas path ships one Arrow batch and
        # collects without launching tasks.
        out = pd.DataFrame(
            {
                "doc_id": imp_docs[order].astype(np.int64),
                "score": scores[order].astype(np.float32),
            }
        )
        return self.spark.createDataFrame(out)

    def _bmw_chunk_topk(
        self,
        survivors: DataFrame,
        weights: dict[str, float],
        theta_pad: float,
        k: int,
        chunk_span: int,
        pruning_stats: dict | None = None,
    ) -> DataFrame:
        """True block-max-WAND execution shape: shuffle the (already
        chunk-pruned) posting rows BY CHUNK into one Arrow kernel that, per
        chunk, (a) builds JOINT doc-aligned 128-doc bucket bounds from the
        block metadata riding with the rows (Σ over terms of each term's
        max block bound intersecting the bucket — the BlockMaxScoreSkipper
        idea, no separate metadata action), (b) skips dead buckets and
        whole dead chunks, (c) scores the live buckets exactly via dense
        float64 accumulation (a doc's postings across terms share its
        bucket, so live docs get their FULL sum), and (d) emits only the
        chunk's top-k — so the downstream global top-k reads ≤ k rows per
        chunk instead of one (doc, score) row per posting. Compared to the
        exhaustive plan this replaces the posting-wide groupBy(doc) shuffle
        with a shuffle of the compact packed rows (positions pruned out).

        Lossless: every skipped doc has provable float32 score < θ_pad ≤
        the true kth score (see _pad_theta); emitted scores reproduce
        exhaustive's float32(float64-sum-of-float32-terms) arithmetic."""
        cache = norm_cache(self.stats)
        w32 = {t: np.float32(w) for t, w in weights.items()}
        bucket = 128
        nbuckets = (chunk_span + bucket - 1) // bucket
        use_prune = theta_pad != float("-inf")
        sc = self.spark.sparkContext
        want_stats = pruning_stats is not None
        acc_chunks_pruned = sc.accumulator(0) if want_stats else None
        acc_buckets_total = sc.accumulator(0) if want_stats else None
        acc_buckets_live = sc.accumulator(0) if want_stats else None

        def score_chunk(key, pdf: pd.DataFrame) -> pd.DataFrame:
            chunk_start = int(key[0]) * chunk_span
            empty = pd.DataFrame(
                {"doc_id": np.array([], dtype=np.int64),
                 "score": np.array([], dtype=np.float32)}
            )
            live = None
            if use_prune:
                joint = np.zeros(nbuckets, dtype=np.float64)
                per_term: dict[str, np.ndarray] = {}
                for row in pdf.itertuples(index=False):
                    last = np.asarray(row.skip_last_doc, dtype=np.int64)
                    starts = np.empty_like(last)
                    starts[0] = row.first_doc
                    starts[1:] = last[:-1] + 1
                    ub = posting_bounds(
                        w32[row.term], row.block_max_tf, row.block_max_nb, cache
                    )
                    lo = (starts - chunk_start) // bucket
                    hi = (last - chunk_start) // bucket
                    arr = per_term.setdefault(
                        row.term, np.zeros(nbuckets, dtype=np.float64)
                    )
                    for j in range(len(lo)):
                        a, b = int(lo[j]), int(hi[j]) + 1
                        seg = arr[a:b]
                        np.maximum(seg, ub[j], out=seg)
                for arr in per_term.values():
                    joint += arr
                live = joint >= theta_pad
                n_live = int(live.sum())
                if want_stats:
                    nz_b = int((joint > 0.0).sum())
                    acc_buckets_total.add(nz_b)
                    acc_buckets_live.add(min(n_live, nz_b))
                if n_live == 0:
                    if want_stats:
                        acc_chunks_pruned.add(1)
                    return empty
                if n_live == nbuckets:
                    live = None  # nothing prunable: skip the mask cost
            acc = np.zeros(chunk_span, dtype=np.float64)
            for row in pdf.itertuples(index=False):
                off = _doc_ids(row) - chunk_start
                tfs = np.asarray(row.tfs, dtype=np.int64)
                nbs = np.asarray(row.norm_bytes, dtype=np.int64)
                if live is not None:
                    m = live[off // bucket]
                    if not m.any():
                        continue
                    off, tfs, nbs = off[m], tfs[m], nbs[m]
                s = posting_scores(w32[row.term], tfs, nbs, cache)
                np.add.at(acc, off, s.astype(np.float64))
            nz = np.flatnonzero(acc)
            if len(nz) == 0:
                return empty
            scores32 = acc[nz].astype(np.float32)
            if len(nz) > k:
                # exact tie-safe top-k: keep EVERY doc at or above the kth
                # score, then (score desc, doc asc) — ties beyond k resolve
                # by doc id, matching HitQueue.java:76-81
                kth = np.partition(scores32, len(scores32) - k)[len(scores32) - k]
                idx = np.flatnonzero(scores32 >= kth)
                order = idx[np.lexsort((nz[idx], -scores32[idx]))][:k]
            else:
                order = np.lexsort((nz, -scores32))
            return pd.DataFrame(
                {
                    "doc_id": (chunk_start + nz[order]).astype(np.int64),
                    "score": scores32[order],
                }
            )

        cols = [
            "chunk_id", "term", "first_doc", "doc_gaps", "tfs", "norm_bytes",
            "skip_last_doc", "block_max_tf", "block_max_nb",
        ]
        cand = (
            survivors.select(*cols)
            .groupBy("chunk_id")
            .applyInPandas(score_chunk, schema="doc_id long, score float")
        )
        out = self._topk(cand, k)
        if want_stats:
            rows_out = out.collect()  # force the job so accumulators settle
            pruning_stats["kernel"] = True
            pruning_stats["buckets_total"] = int(acc_buckets_total.value)
            pruning_stats["buckets_live"] = int(acc_buckets_live.value)
            pruning_stats["chunks_kernel_pruned"] = int(acc_chunks_pruned.value)
            return self.spark.createDataFrame(
                pd.DataFrame(
                    {
                        "doc_id": np.array([r.doc_id for r in rows_out], dtype=np.int64),
                        "score": np.array([r.score for r in rows_out], dtype=np.float32),
                    }
                ),
                schema="doc_id long, score float",
            )
        return out

    def search_wand(
        self,
        query: str | list[str],
        k: int = 10,
        pruning_stats: dict | None = None,
        bucket_prune: bool | str = "auto",
    ) -> DataFrame:
        """Top-k disjunction with block-max pruning, rank- and
        score-identical to exhaustive scoring (`search`) — bounds are
        compared against a θ padded by 2 float32 ulps (`_pad_theta`) so
        float32 rounding can never prune a true top-k doc.

        The reference (Lucene 4.4) scores exhaustively into a bounded PQ
        (TopScoreDocCollector.java:40-63); WAND/BMW arrived in Lucene 8. We
        keep the reference's exhaustive results as ground truth and use the
        per-block metadata the index already stores (block_max_tf /
        block_max_nb every 128 docs, the skip-list analog) for *lossless*
        skipping, adapted to a batch engine:

        1. bound pass (JVM-only): per posting row, upper-bound the row's best
           score from its block maxima — score is increasing in tf and
           decreasing in cache[norm_byte], and cache[] is monotone decreasing
           in the byte, so w*bmtf/(bmtf+cache[bmnb]) bounds every doc in the
           block;
        2. θ seed: exhaustively score the single doc-range chunk with the
           highest summed bound (chunks are global docID ranges shared by
           all terms, so per-chunk bounds are doc-aligned and summable
           across terms); θ = kth best seed score;
        3. prune: drop whole chunks with Σ_t bound < θ, then inside
           surviving rows drop 128-doc blocks by doc-aligned bucket bounds
           (Σ_t max over blocks intersecting the bucket < θ);
        4. exhaustively score what survives; top-k.

        Every dropped doc has provable score < θ ≤ true kth score, so the
        result is rank- and score-identical to `search`.
        """
        terms = self.analyze_query(query) if isinstance(query, str) else list(query)
        if len(terms) == 1:
            fast = self._impact_topk_single(terms[0], k, pruning_stats)
            if fast is not None:
                return fast
        chunk_span = int(self.meta.get("chunk_span") or 1 << 16)
        if self.stats.max_doc <= chunk_span:
            # one chunk: chunk pruning cannot drop anything, so WAND would
            # only add fixed job overhead — fall through to exhaustive with
            # ZERO extra actions (the crossover begins at multi-chunk size)
            return self.search(terms, k=k)
        tinfo = self.lookup_terms(terms)
        if tinfo.empty:
            return self.spark.createDataFrame([], "doc_id long, score float")

        # --- df-stats head+tail pre-classifier (round 5). The navigational
        # web-query shape — one common word + one rare word — is where joint
        # chunk/bucket pruning provably bites (the rare term confines the
        # candidate set; the head term's huge postings are what pruning
        # skips). The dictionary already tells us this BEFORE any Spark
        # action: df ratio ≥ ~100× says head+tail, Σdf over a floor says
        # the decode is large enough that the kernel's extra exchange can
        # pay for itself (measured crossover, BASELINE.md round-5 table).
        # Only upgrades 'auto' — explicit True/False is always respected.
        if (
            bucket_prune == "auto"
            and len(tinfo) > 1
            and self._deletes is None
        ):
            dfs = tinfo["df"].astype("int64")
            df_min, df_max, df_sum = int(dfs.min()), int(dfs.max()), int(dfs.sum())
            if (
                df_min > 0
                and df_max >= 100 * df_min
                and df_sum >= int(self.meta.get("kernel_auto_min_postings") or 6_000_000)
            ):
                bucket_prune = True
                if pruning_stats is not None:
                    pruning_stats["auto_head_tail"] = True

        weights = {
            str(t): float(term_weight(df_, self.stats.max_doc))
            for t, df_ in zip(tinfo["term"], tinfo["df"])
        }
        cache = norm_cache(self.stats)
        qterms = sorted(weights)

        rows = self.postings.where(F.col("term").isin(qterms))

        # --- SINGLE-ACTION path: dictionary impact sketches (build.py §6,
        # the Lucene ImpactsDISI idea hoisted driver-side). θ and the live
        # chunk set both come from metadata already in the driver's term
        # cache, so the only Spark action is the pruned scan itself — WAND
        # can no longer lose to exhaustive on fixed job cost.
        if (
            self._impacts_on
            and self._deletes is None
            and k <= int(self._impact_meta.get("k", 0))
            and all(t in self._impact_cache for t in qterms)
        ):
            sc_factor = int(self._impact_meta["sc_factor"])
            n_sc = (self.stats.max_doc // chunk_span) // sc_factor + 1
            theta = float("-inf")
            ub = np.zeros(n_sc, dtype=np.float64)
            pool: dict[int, float] = {}  # doc → Σ known float64 contributions
            have_docs = True
            for t in qterms:
                sc_ids, sc_ubs, imp_tfs, imp_nbs, imp_docs = self._impact_cache[t]
                # exact float32 replay of the scoring kernel on the sketched
                # (tf, norm_byte) pairs — k distinct real docs, so the k-th
                # best of these scores is ≤ the global k-th best: a valid θ
                s = posting_scores(weights[t], imp_tfs, imp_nbs, cache)
                if len(s) >= k:
                    theta = max(theta, float(np.sort(s)[::-1][k - 1]))
                if imp_docs is None:
                    have_docs = False
                else:
                    # pool contributions BY DOC across terms: a doc present
                    # in several sketches accumulates its known partial sum
                    # (≤ its true float64 sum, and fl32 is monotone, so the
                    # k-th best pooled fl32 score is still a valid θ — and
                    # a much tighter one for correlated terms)
                    for d, sc in zip(imp_docs.tolist(), s.astype(np.float64)):
                        pool[d] = pool.get(d, 0.0) + sc
                ub[sc_ids] += float(weights[t]) * sc_ubs
            if have_docs and len(pool) >= k:
                pooled = np.sort(
                    np.asarray(list(pool.values()), dtype=np.float64).astype(
                        np.float32
                    )
                )[::-1]
                theta = max(theta, float(pooled[k - 1]))
            theta_pad = self._pad_theta(theta)
            nz = np.flatnonzero(ub > 0.0)
            live = nz[ub[nz] >= theta_pad] if theta != float("-inf") else nz
            if pruning_stats is not None:
                pruning_stats["chunks_total"] = int(len(nz))
                pruning_stats["chunks_live"] = int(len(live))
                pruning_stats["theta"] = theta
                pruning_stats["impact_path"] = True
                pruning_stats["bucket_pass"] = bucket_prune is True
            if len(live) == 0 or len(live) >= 0.95 * max(1, len(nz)):
                # empty live set cannot happen for a θ attained by real docs
                # (their superchunk's bound dominates it) — defensive fall
                # back rather than an empty predicate; pruning that drops
                # <5% makes the predicate (and the chunk-kernel's extra
                # shuffle) pure overhead — measured 0.62× at 200k docs on a
                # saturated-bounds corpus, so exhaustive is the right plan
                # when the driver-side superchunk analysis says unprunable
                return self.search(terms, k=k)
            survivors = rows.where(self._sc_predicate(live, sc_factor))
            if len(qterms) > 1 and bucket_prune is True:
                # multi-term BMW chunk kernel (EXPLICIT opt-in): joint
                # in-kernel 128-doc bucket bounds prune inside surviving
                # chunks (measured 22/1152 buckets live on a head+tail
                # query) and each chunk emits only its top-k, replacing the
                # posting-wide groupBy(doc) shuffle — the 100 TB-shape
                # plan. NOT the default: at sandbox scale fixed stage costs
                # dominate and the extra exchange loses ~25% wall-clock
                # (BASELINE.md round-4 table), so 'auto' keeps the
                # single-scan plan. This path guarantees _deletes is None.
                return self._bmw_chunk_topk(
                    survivors, weights, self._pad_theta(theta), k, chunk_span,
                    pruning_stats,
                )
            scored = self._scored_rows(
                survivors,
                weights,
                theta=theta if bucket_prune is True else float("-inf"),
            )
            agg = scored.groupBy("doc_id").agg(
                F.sum("score").cast("float").alias("score")
            )
            return self._topk(self._drop_deleted(agg), k)

        cache_arr = F.array(*[F.lit(float(c)) for c in cache.tolist()])
        w_col = F.element_at(
            F.create_map(
                *[c for t in qterms for c in (F.lit(t), F.lit(weights[t]))]
            ),
            F.col("term"),
        )
        # per-block bound, then max over the row's blocks — all JVM exprs
        block_bounds = F.zip_with(
            F.col("block_max_tf").cast("array<double>"),
            F.transform(F.col("block_max_nb"), lambda nb: F.element_at(cache_arr, nb + 1)),
            lambda t, c: w_col * t / (t + c),
        )
        bounds = rows.select(
            "term",
            "chunk_id",
            F.array_max(block_bounds).alias("row_ub"),
        )
        chunk_ub = bounds.groupBy("chunk_id").agg(F.sum("row_ub").alias("ub"))
        n_chunks_est = self.stats.max_doc // chunk_span + 1
        # θ from ANY seed chunk is lossless (a chunk's k-th best score is ≤
        # the global k-th best), so on a SORTED index we seed from chunk 0 —
        # which holds the BM25-favored short docs, i.e. it is also the BEST
        # seed — WITHOUT first ranking chunk bounds. That breaks the
        # bounds→seed dependency: the two jobs run concurrently (small path)
        # or the bounds never leave the final job's plan at all (large
        # path), cutting WAND's sequential action count from 3 to 2. The
        # fixed per-action cost is what made WAND lose to exhaustive at 2M
        # docs (BASELINE.md).
        sorted_idx = bool(self.meta.get("sort_col"))
        auto_buckets_ok = False  # only the small path measures frac_live

        if n_chunks_est <= 1024:
            # small index: the whole bound table is ≤1024 rows — one action
            # pulls it, pruning is planned driver-side and survivors filter
            # with a bounded `isin` literal (pushdown-friendly, no join)
            if sorted_idx:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=2) as pool:
                    f_bounds = pool.submit(chunk_ub.toPandas)
                    f_theta = pool.submit(self._wand_theta, rows, weights, 0, k)
                    pdf = f_bounds.result()
                    theta, theta_pad = f_theta.result()
                if len(pdf) <= 1:
                    return self.search(terms, k=k)
            else:
                pdf = chunk_ub.orderBy(F.col("ub").desc()).toPandas()
                if len(pdf) <= 1:
                    return self.search(terms, k=k)
                seed_chunk = int(pdf["chunk_id"].iloc[0])
                theta, theta_pad = self._wand_theta(rows, weights, seed_chunk, k)
            live_chunks = [
                int(c) for c, u in zip(pdf["chunk_id"], pdf["ub"]) if u >= theta_pad
            ]
            survivors = rows.where(F.col("chunk_id").isin(live_chunks))
            frac_live = len(live_chunks) / max(1, len(pdf))
            auto_buckets_ok = True
            if pruning_stats is not None:
                pruning_stats["chunks_total"] = len(pdf)
                pruning_stats["chunks_live"] = len(live_chunks)
                pruning_stats["theta"] = theta
        elif sorted_idx:
            # large SORTED index — the 2-action plan: action 1 seeds θ from
            # chunk 0; action 2 is the final scan whose plan embeds the
            # bound computation and the chunk semi-join (bounds never
            # materialize driver-side, AQE broadcasts the post-prune side)
            theta, theta_pad = self._wand_theta(rows, weights, 0, k)
            live = chunk_ub.where(F.col("ub") >= theta_pad).select("chunk_id")
            survivors = rows.join(live, "chunk_id", "left_semi")
            frac_live = 1.0
            if pruning_stats is not None:
                pruning_stats["chunks_total"] = chunk_ub.count()
                pruning_stats["chunks_live"] = live.count()
                pruning_stats["theta"] = theta
        else:
            # large UNSORTED index: chunk bounds STAY DISTRIBUTED
            # (maxDoc/chunk_span rows — ~15M at 10^12 docs; never pulled to
            # the driver). The driver only sees the 2-row head and the k-row
            # seed; survivors prune by semi-join. Cached across this query's
            # jobs; released on the next call.
            if getattr(self, "_wand_cache", None) is not None:
                self._wand_cache.unpersist()
            chunk_ub = chunk_ub.persist()
            self._wand_cache = chunk_ub
            head = chunk_ub.orderBy(F.col("ub").desc()).limit(2).collect()
            if len(head) <= 1:
                return self.search(terms, k=k)
            seed_chunk = int(head[0]["chunk_id"])
            theta, theta_pad = self._wand_theta(rows, weights, seed_chunk, k)
            live = chunk_ub.where(F.col("ub") >= theta_pad).select("chunk_id")
            survivors = rows.join(live, "chunk_id", "left_semi")
            frac_live = 1.0
            if pruning_stats is not None:
                pruning_stats["chunks_total"] = chunk_ub.count()
                pruning_stats["chunks_live"] = live.count()
                pruning_stats["theta"] = theta

        # the block-level bucket pass costs one more metadata scan + action;
        # when chunk pruning already dropped half the index it rarely pays
        # for itself (measured at 2M docs, BASELINE.md), so 'auto' engages
        # it only where the small path MEASURED weak chunk pruning — on the
        # large paths (frac_live unknown without an extra action) it is
        # strictly opt-in
        if (
            len(qterms) > 1
            and bucket_prune is True
            and self._deletes is None
            and frac_live < 0.95
        ):
            # multi-term BMW chunk kernel — explicit opt-in, see above
            return self._bmw_chunk_topk(
                survivors, weights, self._pad_theta(theta), k, chunk_span,
                pruning_stats,
            )
        use_buckets = (
            bucket_prune is True
            or (bucket_prune == "auto" and auto_buckets_ok and frac_live > 0.5)
        )
        if pruning_stats is not None:
            pruning_stats["bucket_pass"] = bool(use_buckets)
        scored = self._scored_rows(
            survivors, weights, theta=theta if use_buckets else float("-inf")
        )
        agg = scored.groupBy("doc_id").agg(F.sum("score").cast("float").alias("score"))
        return self._topk(self._drop_deleted(agg), k)

    @staticmethod
    def _sc_predicate(live_sc: np.ndarray, sc_factor: int):
        """chunk_id predicate covering the live superchunks. Consecutive
        superchunks coalesce into BETWEEN ranges (pushdown-friendly — on a
        sorted index the survivors cluster at the low chunks, so this is
        typically ONE range); a pathologically fragmented set falls back to
        an isin on the superchunk ordinal (correct, no row-group pushdown)."""
        from functools import reduce
        from operator import or_

        runs: list[tuple[int, int]] = []
        lo = prev = int(live_sc[0])
        for s in live_sc[1:]:
            s = int(s)
            if s == prev + 1:
                prev = s
                continue
            runs.append((lo, prev))
            lo = prev = s
        runs.append((lo, prev))
        if len(runs) <= 256:
            return reduce(
                or_,
                [
                    F.col("chunk_id").between(
                        a * sc_factor, b * sc_factor + sc_factor - 1
                    )
                    for a, b in runs
                ],
            )
        return (
            (F.col("chunk_id") / F.lit(sc_factor))
            .cast("long")
            .isin([int(s) for s in live_sc])
        )

    def _wand_theta(
        self, rows: DataFrame, weights: dict, seed_chunk: int, k: int
    ) -> tuple[float, float]:
        """θ = k-th best score of the most promising chunk, exhaustively
        scored (the seed pass), with its pruning-safe padded twin."""
        seed_agg = (
            self._scored_rows(rows.where(F.col("chunk_id") == seed_chunk), weights)
            .groupBy("doc_id")
            .agg(F.sum("score").cast("float").alias("score"))
        )
        seed = (
            self._drop_deleted(seed_agg)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
            .collect()
        )
        theta = float(seed[-1]["score"]) if len(seed) >= k else float("-inf")
        return theta, self._pad_theta(theta)

    def _scored_rows(
        self,
        rows: DataFrame,
        weights: dict[int, float],
        theta: float = float("-inf"),
        bucket_span: int = 4096,
    ) -> DataFrame:
        """Score posting rows → (doc_id, score). With a finite θ, performs
        doc-aligned bucket pruning first (two kernel passes), else one pass.

        Bucket pruning is only sound for the *sum* of bounds across all
        query terms at the same doc range, which is why buckets are aligned
        on absolute docIDs (doc_id // bucket_span), not per-list block
        ordinals."""
        cache = norm_cache(self.stats)
        w32 = {t: np.float32(w) for t, w in weights.items()}

        live_buckets: np.ndarray | None = None
        if theta != float("-inf"):
            def bucket_bounds(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    out_b, out_t, out_ub = [], [], []
                    for row in pdf.itertuples(index=False):
                        last = np.asarray(row.skip_last_doc, dtype=np.int64)
                        starts = np.empty_like(last)
                        starts[0] = row.first_doc
                        starts[1:] = last[:-1] + 1  # blocks are doc-sorted
                        ub = posting_bounds(
                            w32[row.term], row.block_max_tf, row.block_max_nb, cache
                        )
                        b_lo = starts // bucket_span
                        b_hi = last // bucket_span
                        # expand each block to the buckets it spans
                        reps = (b_hi - b_lo + 1).astype(np.int64)
                        bkt = np.repeat(b_lo, reps) + _ranges(reps)
                        out_b.append(bkt)
                        out_t.extend([row.term] * len(bkt))
                        out_ub.append(np.repeat(ub, reps))
                    if out_b:
                        yield pd.DataFrame(
                            {
                                "bucket": np.concatenate(out_b),
                                "term": out_t,
                                "ub": np.concatenate(out_ub),
                            }
                        )

            bb = rows.select(
                "term", "first_doc", "skip_last_doc", "block_max_tf", "block_max_nb"
            ).mapInPandas(bucket_bounds, schema="bucket long, term string, ub double")
            # survivors only (bounds vs padded θ — lossless, see _pad_theta);
            # capped: if pruning leaves too many buckets to broadcast, the
            # block-level pass isn't selective enough to pay for itself and
            # chunk-level pruning (already applied upstream) stands alone
            max_live = 2_000_000
            per_bucket = (
                bb.groupBy("bucket", "term")
                .agg(F.max("ub").alias("ub"))
                .groupBy("bucket")
                .agg(F.sum("ub").alias("ub"))
                .where(F.col("ub") >= self._pad_theta(float(theta)))
                .select("bucket")
                .limit(max_live + 1)
                .toPandas()
            )
            if len(per_bucket) > max_live:
                live_buckets = None
            else:
                live_buckets = np.sort(per_bucket["bucket"].values.astype(np.int64))

        # ship the live-bucket set as a broadcast variable (once per executor,
        # not per task closure)
        bc_buckets = (
            rows.sparkSession.sparkContext.broadcast(live_buckets)
            if live_buckets is not None
            else None
        )

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            lb = bc_buckets.value if bc_buckets is not None else None
            for pdf in batches:
                out_doc, out_score = [], []
                for row in pdf.itertuples(index=False):
                    docs = _doc_ids(row)
                    tfs = np.asarray(row.tfs, dtype=np.int64)
                    nbs = np.asarray(row.norm_bytes, dtype=np.int64)
                    if lb is not None:
                        if len(lb) == 0:
                            continue
                        bkt = docs // bucket_span
                        idx = np.minimum(np.searchsorted(lb, bkt), len(lb) - 1)
                        mask = lb[idx] == bkt
                        if not mask.any():
                            continue
                        docs, tfs, nbs = docs[mask], tfs[mask], nbs[mask]
                    out_doc.append(docs)
                    out_score.append(posting_scores(w32[row.term], tfs, nbs, cache))
                if out_doc:
                    yield pd.DataFrame(
                        {"doc_id": np.concatenate(out_doc), "score": np.concatenate(out_score)}
                    )

        return rows.select(
            "term", "first_doc", "doc_gaps", "tfs", "norm_bytes"
        ).mapInPandas(kernel, schema="doc_id long, score float")

    def _topk(self, scored_docs: DataFrame, k: int) -> DataFrame:
        return (
            scored_docs.orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
            .select("doc_id", "score")
        )

    # --- fq / filterCache (SolrIndexSearcher.java:144,1243-1352) -----------
    def filter_docs_from_source(
        self, source: DataFrame, predicate, key_col: str = "url"
    ) -> DataFrame:
        """Build a non-scoring DocSet (doc_id frame) from a predicate over
        the source corpus — the fq evaluation step. The result composes with
        `search(..., filter_docs=...)`; persist it via `put_filter` to get
        filterCache reuse semantics."""
        return (
            source.where(predicate)
            .select(key_col)
            .join(self.docs.select("doc_id", key_col), key_col)
            .select("doc_id")
        )

    def put_filter(self, key: str, docset: DataFrame) -> DataFrame:
        """filterCache insert: persist the DocSet for reuse across queries
        (the DocSet-per-fq cache, SolrIndexSearcher.java:144)."""
        from pyspark.storagelevel import StorageLevel

        cache = getattr(self, "_filter_cache", None)
        if cache is None:
            cache = self._filter_cache = {}
        if key in cache:
            cache[key].unpersist()
        cache[key] = docset.select("doc_id").distinct().persist(
            StorageLevel.MEMORY_AND_DISK
        )
        return cache[key]

    def get_filter(self, key: str) -> DataFrame | None:
        return getattr(self, "_filter_cache", {}).get(key)

    def _apply_filter(self, matched: DataFrame, filter_docs: DataFrame | None) -> DataFrame:
        """FilteredQuery semantics (FilteredQuery.java): the filter restricts
        RESULT docs only — collection stats (df/avgdl/norms) stay global, so
        scores of surviving docs are unchanged."""
        if filter_docs is None:
            return matched
        return matched.join(filter_docs.select("doc_id"), "doc_id", "left_semi")

    # --- public query surface ---------------------------------------------
    def search(
        self,
        query: str | list[str],
        k: int = 10,
        filter_docs: DataFrame | None = None,
    ) -> DataFrame:
        """Free-text query = BooleanQuery of SHOULD TermQuery clauses."""
        terms = self.analyze_query(query) if isinstance(query, str) else list(query)
        return self.boolean_search(should=terms, k=k, filter_docs=filter_docs)

    def explain(self, query: str | list[str], doc_id: int) -> dict:
        """IndexSearcher.explain / Solr debugQuery=true: the nested
        Explanation tree for one doc's BM25 score (BM25Similarity.explain,
        BM25Similarity.java:244-278; Explanation.java:29).

        The total and every per-term value reproduce `search()` float32-
        exactly (same idf/(k1+1) weight product, same 256-entry norm cache
        lookup, same float32(double-sum) combine as boolean_search's
        sum.cast(float)).

        Scale: explain is per-doc diagnostics. The scan reads ONLY the
        posting blocks that can contain doc_id — `term IN (...)` plus the
        `first_doc <= doc_id` pushdown prune at the parquet level, and the
        skip-list last_doc check drops the remaining non-covering chunks
        before decode — so cost is O(query terms), not O(postings).
        """
        terms = self.analyze_query(query) if isinstance(query, str) else list(query)
        tinfo = self.lookup_terms(terms)
        doc_id = int(doc_id)
        details: list[dict] = []
        hits: dict[str, tuple[int, int]] = {}
        if not tinfo.empty:
            qterms = sorted(set(tinfo["term"]))
            rows = (
                self.postings.where(
                    F.col("term").isin(qterms)
                    & (F.col("first_doc") <= doc_id)
                    & (F.element_at("skip_last_doc", -1) >= doc_id)
                )
                .select("term", "first_doc", "doc_gaps", "tfs", "norm_bytes")
                .toPandas()
            )
            for r in rows.itertuples(index=False):
                docs = _doc_ids(r)
                pos = np.searchsorted(docs, doc_id)
                if pos < len(docs) and docs[pos] == doc_id:
                    hits[r.term] = (int(r.tfs[pos]), int(r.norm_bytes[pos]) & 0xFF)
        if self._deletes is not None and hits:
            if self._deletes.where(F.col("doc_id") == doc_id).limit(1).count():
                hits = {}
        cache = norm_cache(self.stats)
        n, avgdl = self.stats.max_doc, float(self.stats.avgdl)
        from ..index.norms import decode_norm_doclen

        for r in tinfo.itertuples(index=False):
            if r.term not in hits:
                continue
            tf, nb = hits[r.term]
            idf = bm25_idf(int(r.df), n)
            value = posting_scores(term_weight(r.df, n), [tf], [nb], cache)[0]
            dl = float(decode_norm_doclen(np.array([nb]))[0])
            tf_norm = float(value / idf) if idf else 0.0
            details.append(
                {
                    "match": True,
                    "value": float(value),
                    "description": f"weight({r.term} in {doc_id}) [BM25Similarity], product of:",
                    "details": [
                        {
                            "value": float(idf),
                            "description": f"idf(docFreq={int(r.df)}, docCount={n})",
                        },
                        {
                            "value": tf_norm,
                            "description": "tfNorm, computed from:",
                            "details": [
                                {"value": float(tf), "description": "termFreq"},
                                {"value": float(K1), "description": "parameter k1"},
                                {"value": float(B), "description": "parameter b"},
                                {"value": avgdl, "description": "avgFieldLength"},
                                {"value": dl, "description": "fieldLength (norm-decoded)"},
                            ],
                        },
                    ],
                }
            )
        total = float(np.float32(np.sum([d["value"] for d in details], dtype=np.float64)))
        return {
            "match": bool(details),
            "value": total if details else 0.0,
            "description": f"sum of {len(details)} clause(s):" if details else (
                f"no matching terms in doc {doc_id}"
            ),
            "details": details,
        }

    def boolean_search(
        self,
        must: list[str] | None = None,
        should: list[str] | None = None,
        must_not: list[str] | None = None,
        min_should_match: int = 0,
        k: int = 10,
        filter_docs: DataFrame | None = None,
    ) -> DataFrame:
        """BooleanQuery of TermQuery clauses, compiled to parser `Clause`s and
        run by `_clauses_scored` like a parsed query. Repeated terms collapse
        to one clause, and a term in both `must` and `should` is MUST only."""
        must, should, must_not = must or [], should or [], must_not or []
        if (
            len(should) == 1
            and not must
            and not must_not
            and min_should_match <= 1
            and filter_docs is None
        ):
            # pure single-term query: try the zero-action dictionary answer
            fast = self._impact_topk_single(should[0], k)
            if fast is not None:
                return fast
        must = list(dict.fromkeys(must))
        clauses = [Clause(MUST, "term", [t]) for t in must]
        clauses += [
            Clause(SHOULD, "term", [t]) for t in dict.fromkeys(should) if t not in must
        ]
        clauses += [Clause(MUST_NOT, "term", [t]) for t in dict.fromkeys(must_not)]
        scored = self._clauses_scored(clauses, min_should_match=min_should_match)
        if scored is None:
            return self._empty()
        scored = self._apply_filter(scored, filter_docs)
        return self._topk(self._drop_deleted(scored), k)

    def max_score_search(
        self,
        must: list[str] | None = None,
        should: list[str] | None = None,
        must_not: list[str] | None = None,
        tie: float = 0.0,
        k: int = 10,
        filter_docs: DataFrame | None = None,
    ) -> DataFrame:
        """MaxScoreQParser (MaxScoreQParser.java:32-80): parses like the
        classic parser but every SHOULD clause is folded into ONE
        DisjunctionMaxQuery(tie) added as a single SHOULD clause — so the
        optional part of the score is max(should scores) + tie·(Σ − max)
        (DisjunctionMaxScorer.java) instead of the plain sum, while MUST
        clauses keep their summed contribution. tie=0 (the parser default)
        makes the optional part a pure max. A term listed in both `must`
        and `should` is treated as MUST only.

        Plan: identical one-scan shape to `boolean_search` — the max/sum
        split is two conditional aggregates in the same groupBy."""
        must, should, must_not = must or [], should or [], must_not or []
        should = [t for t in should if t not in set(must)]
        tinfo = self.lookup_terms(must + should)
        found = set(tinfo["term"])
        if any(t not in found for t in must) or tinfo.empty:
            return self.spark.createDataFrame([], "doc_id long, score float")
        must_terms = sorted({t for t in must if t in found})
        per_term = self._scored(tinfo)
        is_must = F.col("term").isin(must_terms)
        agg = per_term.groupBy("doc_id").agg(
            F.sum(F.when(is_must, F.col("score"))).alias("must_sum"),  # double
            F.count(F.when(is_must, 1)).alias("n_must"),
            F.max(F.when(~is_must, F.col("score"))).cast("float").alias("mx"),
            F.sum(F.when(~is_must, F.col("score"))).cast("float").alias("sm"),
            F.count(F.when(~is_must, 1)).alias("n_should"),
        )
        cond = F.col("n_must") == len(must_terms)
        if not must_terms:
            # BooleanQuery with only the dmq SHOULD clause: it must match
            cond = F.col("n_should") >= 1
        matched = agg.where(cond)
        tie32 = float(np.float32(tie))
        dmq = F.when(F.col("mx").isNull(), F.lit(0.0).cast("float")).otherwise(
            (F.col("mx") + F.lit(tie32) * (F.col("sm") - F.col("mx"))).cast("float")
        )
        score = (
            (F.coalesce(F.col("must_sum"), F.lit(0.0)) + dmq.cast("double"))
            .cast("float")
            .alias("score")
        )
        matched = matched.select("doc_id", score)
        if must_not:
            neg_info = self.lookup_terms(must_not)
            if not neg_info.empty:
                neg_docs = self._posting_docs(neg_info)
                if len(neg_info) > 1:
                    neg_docs = neg_docs.distinct()
                matched = matched.join(neg_docs, "doc_id", "left_anti")
        matched = self._apply_filter(matched, filter_docs)
        return self._topk(self._drop_deleted(matched), k)

    @staticmethod
    def _low_freq_mm(min_should_match: float, n_low: int) -> int:
        """calcLowFreqMinimumNumberShouldMatch (CommonTermsQuery.java:163-168):
        values >= 1 or == 0 are absolute counts; a fraction in (0,1) is
        Math.round(frac * numOptional) — half-up, like Java."""
        if min_should_match >= 1.0 or min_should_match == 0.0:
            return int(min_should_match)
        return int(math.floor(min_should_match * n_low + 0.5))

    def common_terms_search(
        self,
        query: str | list[str],
        max_term_frequency: float = 0.01,
        low_freq_occur: str = "should",
        high_freq_occur: str = "should",
        min_should_match: float = 0.0,
        k: int = 10,
        filter_docs: DataFrame | None = None,
    ) -> DataFrame:
        """CommonTermsQuery (lucene/queries/src/java/org/apache/lucene/
        queries/CommonTermsQuery.java:146-226): query terms are classified by
        their ACTUAL document frequency at query time — low-frequency terms
        form the selective clause, high-frequency "common" terms an optional
        clause whose scores only top up docs the low-frequency clause already
        matched. Index-statistics stopwording: at web scale this is what
        keeps 'http' or 'com' in a query from DRIVING a 10^11-posting match —
        the common terms never expand the match set, they only add score on
        the (small) low-df DocSet.

        Classification (CommonTermsQuery.java:182-186): high-frequency iff
        (max_term_frequency >= 1 and df > max_term_frequency) or
        df > ceil(max_term_frequency * maxDoc); terms absent from the
        dictionary are low-frequency clauses (the termContext == null branch,
        :181). The df lookup hits the driver's term-info cache — zero extra
        Spark jobs over a plain boolean query.

        Rewrites exactly like buildQuery (:170-226):
        - single term        -> plain TermQuery (rewrite(), :150-153);
        - only high-freq     -> conjunction of ALL of them (:199-216 — the
          "prevent slow queries" rewrite, SHOULD promoted to MUST);
        - only low-freq      -> plain boolean query of them;
        - mixed              -> BooleanQuery( lowFreq as MUST, highFreq as
          SHOULD ), evaluated here in ONE term-pruned scan with conditional
          aggregates — the same plan shape as boolean_search (scan →
          partial/final hash agg → TakeOrderedAndProject), so the common
          terms cost one posting decode, never a second scan.
        min_should_match applies to the low-frequency SHOULD clause
        (:163-168, :194-197). BM25 coord = 1, so the rewritten query's score
        is the sum of member term scores (inner sums cast to float32 per
        sub-scorer, ReqOptSumScorer.java)."""
        if low_freq_occur not in ("must", "should") or high_freq_occur not in (
            "must",
            "should",
        ):
            raise ValueError("occur must be 'must' or 'should' (never MUST_NOT)")
        terms = self.analyze_query(query) if isinstance(query, str) else list(query)
        # BooleanQuery clause order is irrelevant under coord=1; duplicate
        # terms collapse to one clause (declared divergence from repeated
        # add() calls, which no query parser produces).
        uniq = list(dict.fromkeys(terms))
        if not uniq:
            return self._empty()
        if len(uniq) == 1:
            return self.boolean_search(should=uniq, k=k, filter_docs=filter_docs)
        tinfo = self.lookup_terms(uniq)
        df_of = dict(zip(tinfo["term"], (int(v) for v in tinfo["df"])))
        # Java computes the fractional cutoff in float32: ceil(mtf * (float) maxDoc)
        frac_cut = math.ceil(
            float(np.float32(max_term_frequency) * np.float32(self.stats.max_doc))
        )
        high = [
            t
            for t in uniq
            if t in df_of
            and (
                (max_term_frequency >= 1.0 and df_of[t] > max_term_frequency)
                or df_of[t] > frac_cut
            )
        ]
        low = [t for t in uniq if t not in high]
        low_present = [t for t in low if t in df_of]
        if not low:
            # every term is common: conjunction so the query stays cheap
            return self.boolean_search(must=high, k=k, filter_docs=filter_docs)
        if not high:
            if low_freq_occur == "must":
                return self.boolean_search(must=low, k=k, filter_docs=filter_docs)
            mm = self._low_freq_mm(min_should_match, len(low))
            return self.boolean_search(
                should=low, min_should_match=mm, k=k, filter_docs=filter_docs
            )
        if low_freq_occur == "must" and len(low_present) < len(low):
            return self._empty()  # a required term is absent from the index
        per_term = self._scored(tinfo)
        is_low = F.col("term").isin(low_present)
        agg = per_term.groupBy("doc_id").agg(
            F.sum(F.when(is_low, F.col("score"))).cast("float").alias("low_s"),
            F.count(F.when(is_low, 1)).alias("n_low"),
            F.sum(F.when(~is_low, F.col("score"))).cast("float").alias("high_s"),
            F.count(F.when(~is_low, 1)).alias("n_high"),
        )
        if low_freq_occur == "must":
            matched = agg.where(F.col("n_low") == len(low_present))
        else:
            mm = self._low_freq_mm(min_should_match, len(low))
            matched = agg.where(F.col("n_low") >= max(1, mm))
        if high_freq_occur == "must":
            # inner highFreq BooleanQuery of MUST clauses: contributes only
            # when ALL common terms are present
            opt = F.when(F.col("n_high") == len(high), F.col("high_s"))
        else:
            opt = F.col("high_s")
        score = (
            (F.col("low_s") + F.coalesce(opt, F.lit(0.0).cast("float")))
            .cast("float")
            .alias("score")
        )
        matched = matched.select("doc_id", score)
        matched = self._apply_filter(matched, filter_docs)
        return self._topk(self._drop_deleted(matched), k)

    def search_classic(
        self, query: str | list[str], k: int = 10
    ) -> DataFrame:
        """DefaultSimilarity (practical TF-IDF) top-k — the similarity every
        unconfigured core in the reference tree actually scores with (see
        query/classic.py for the float32-faithful formula trail:
        DefaultSimilarity.java:55-140, TFIDFSimilarity.java:703-766,
        DisjunctionSumScorer.java:96-98). Same index, same postings scan
        shape as BM25 (`_scored`): Similarity is a search-time choice over
        the shared byte315 norms, exactly as in Lucene. Each distinct term
        is one clause (duplicates collapse); absent terms still weigh into
        queryNorm and maxOverlap (TermQuery builds their Weight, only the
        scorer is null)."""
        from .classic import classic_scores, classic_term_values

        terms = self.analyze_query(query) if isinstance(query, str) else list(query)
        uniq = sorted(set(terms))
        if not uniq:
            return self.spark.createDataFrame([], "doc_id long, score float")
        tinfo = self.lookup_terms(uniq)
        if tinfo.empty:
            return self.spark.createDataFrame([], "doc_id long, score float")
        dfs = {str(t): int(d) for t, d in zip(tinfo["term"], tinfo["df"])}
        values = classic_term_values(uniq, dfs, self.stats.max_doc)
        scorers = {
            str(t): (lambda tf, nb, v=values[str(t)]: classic_scores(tf, nb, v))
            for t in tinfo["term"]
        }
        return self._search_tfidf(scorers, len(uniq), k)

    def search_sweetspot(
        self,
        query: str | list[str],
        k: int = 10,
        tf_mode: str = "baseline",
        ln_min: int = 1,
        ln_max: int = 1,
        steep: float = 0.5,
        **tf_kwargs,
    ) -> DataFrame:
        """SweetSpotSimilarity top-k (SweetSpotSimilarity.java:137-227 —
        plateau lengthNorm + baseline/hyperbolic tf; idf/queryNorm/coord
        inherited from DefaultSimilarity). Search-time over the same
        default-encoded norms — see query/sweetspot.py for the
        re-quantization trail. Completes the reference similarity-factory
        registry: all seven factories now have engine counterparts."""
        from .classic import classic_term_values
        from .sweetspot import sweetspot_norm_table, sweetspot_scores

        terms = self.analyze_query(query) if isinstance(query, str) else list(query)
        uniq = sorted(set(terms))
        if not uniq:
            return self._empty()
        tinfo = self.lookup_terms(uniq)
        if tinfo.empty:
            return self._empty()
        dfs = {str(t): int(d) for t, d in zip(tinfo["term"], tinfo["df"])}
        values = classic_term_values(uniq, dfs, self.stats.max_doc)
        table = sweetspot_norm_table(ln_min, ln_max, steep)
        scorers = {
            str(t): (
                lambda tf, nb, v=values[str(t)]: sweetspot_scores(
                    tf, nb, v, table, tf_mode, **tf_kwargs
                )
            )
            for t in tinfo["term"]
        }
        return self._search_tfidf(scorers, len(uniq), k)

    def _search_tfidf(self, scorers, max_overlap: int, k: int) -> DataFrame:
        """Shared TFIDFSimilarity-family execution (classic + SweetSpot):
        per-posting float32 scores → float32(double sum) × float32 coord
        (DisjunctionSumScorer.java:96-98) → top-k."""
        agg = self._posting_scores(scorers).groupBy("doc_id").agg(
            F.sum("score").cast("float").alias("s32"),
            F.count(F.lit(1)).alias("n_matched"),
        )
        if max_overlap > 1:
            # Java's float ops == the double op rounded ONCE to float32
            # (operands are exact in double), so cast at each rounding point
            coord = (
                F.col("n_matched").cast("double") / F.lit(float(max_overlap))
            ).cast("float")
            score = (F.col("s32").cast("double") * coord.cast("double")).cast(
                "float"
            )
        else:
            score = F.col("s32")
        scored = agg.select("doc_id", score.alias("score"))
        return self._topk(self._drop_deleted(scored), k)

    def search_lm_dirichlet(
        self, query: str | list[str], k: int = 10, mu: float = 2000.0
    ) -> DataFrame:
        """LMDirichletSimilarity top-k — the third search-time similarity
        over the same index/norms (see query/lmdirichlet.py for the formula
        trail: LMDirichletSimilarity.java:64-70, LMSimilarity.java:148-155,
        SimilarityBase.java:215-244). Same one-scan shape as `search` /
        `search_classic`; boolean combine is the DisjunctionSumScorer
        double-sum (coord/queryNorm are the Similarity.java:122,139
        defaults of 1, so no coord factor)."""
        from .lmdirichlet import lm_dirichlet_scores

        mu32 = np.float32(mu)
        return self._search_lm(
            query, k, lambda tf, nb, p: lm_dirichlet_scores(tf, nb, p, mu32)
        )

    def search_lm_jm(
        self, query: str | list[str], k: int = 10, lam: float = 0.7
    ) -> DataFrame:
        """LMJelinekMercerSimilarity top-k (LMJelinekMercerSimilarity.java:
        53-58) — linear interpolation smoothing over the same index/norms;
        λ=0.7 (the long-query setting Zhai & Lafferty recommend and the
        Solr LMJelinekMercerSimilarityFactory default)."""
        from .lmdirichlet import lm_jelinek_mercer_scores

        lam32 = np.float32(lam)
        return self._search_lm(
            query, k, lambda tf, nb, p: lm_jelinek_mercer_scores(tf, nb, p, lam32)
        )

    def search_dfr(
        self,
        query: str | list[str],
        k: int = 10,
        basic_model: str = "ine",
        after_effect: str = "b",
        normalization: str = "h2",
        c: float = 1.0,
        mu: float = 800.0,
        z: float = 0.30,
    ) -> DataFrame:
        """DFRSimilarity top-k (DFRSimilarity.java:108-111; the full
        reference model registry — basic models Be/D/G/I(F)/I(n)/I(ne)/P,
        after effects no/L/B, normalizations no/H1/H2/H3/Z — see
        query/dfr.py). Default I(ne)B2, the DFRSimilarityFactory example
        combination. Same one-scan plan as every other similarity."""
        from .dfr import TermStats, dfr_scores

        n_docs, sum_ttf = self.stats.max_doc, self.stats.sum_total_term_freq

        def make(term, df, ttf):
            st = TermStats.make(n_docs, df, ttf, sum_ttf)
            return lambda tf, nb: dfr_scores(
                tf, nb, st, basic_model, after_effect, normalization, c, mu, z
            )

        return self._search_simbase(query, k, make)

    def search_ib(
        self,
        query: str | list[str],
        k: int = 10,
        distribution: str = "spl",
        lam: str = "df",
        normalization: str = "h2",
        c: float = 1.0,
        mu: float = 800.0,
        z: float = 0.30,
    ) -> DataFrame:
        """IBSimilarity top-k (IBSimilarity.java:98-104; distributions
        LL/SPL, lambdas df/ttf, shared normalizations — query/dfr.py)."""
        from .dfr import TermStats, ib_scores

        n_docs, sum_ttf = self.stats.max_doc, self.stats.sum_total_term_freq

        def make(term, df, ttf):
            st = TermStats.make(n_docs, df, ttf, sum_ttf)
            return lambda tf, nb: ib_scores(
                tf, nb, st, distribution, lam, normalization, c, mu, z
            )

        return self._search_simbase(query, k, make)

    def _search_lm(self, query, k, score_fn) -> DataFrame:
        """Shared LM execution: per-posting float32 scores from
        `score_fn(tfs, norm_bytes, p_collection)` via the generic
        SimilarityBase path."""
        from .lmdirichlet import collection_probability

        sum_ttf = self.stats.sum_total_term_freq

        def make(term, df, ttf):
            p = collection_probability(ttf, sum_ttf)
            return lambda tf, nb: score_fn(tf, nb, p)

        return self._search_simbase(query, k, make)

    def _search_simbase(self, query, k, make_scorer) -> DataFrame:
        """Shared SimilarityBase execution (SimilarityBase.java:215-244
        family — LM Dirichlet/JM, DFR, IB): term-pruned postings scan →
        per-posting float32 scores from `make_scorer(term, df, ttf)`'s
        kernel → double-sum disjunction combine (unit coord/queryNorm,
        Similarity.java:122,139 defaults) → top-k."""
        terms = self.analyze_query(query) if isinstance(query, str) else list(query)
        uniq = sorted(set(terms))
        if not uniq:
            return self._empty()
        tinfo = self.lookup_terms(uniq)
        if tinfo.empty:
            return self._empty()
        scorers = {
            str(t): make_scorer(str(t), int(df), int(ttf))
            for t, df, ttf in zip(tinfo["term"], tinfo["df"], tinfo["ttf"])
        }
        # unit coord: the TF-IDF combine without its coord step
        return self._search_tfidf(scorers, 1, k)

    # --- placement and the one-slice kernel --------------------------------
    def _single_slice(self, postings: int, positions: int = 0) -> bool:
        """Placement, decided once per query from dictionary stats: True when
        the Σdf postings and Σttf positions the query reads both fit one
        executor slice (SINGLE_SLICE_POSTINGS / SINGLE_SLICE_POSITIONS).

        This is the SolrCore-local search regime: a Lucene searcher scores a
        whole (small) segment in one thread with no cross-process merge
        (IndexSearcher.java:581-619 single-slice path; Lucene only fans out
        when multiple leaves warrant it)."""
        return postings <= SINGLE_SLICE_POSTINGS and positions <= SINGLE_SLICE_POSITIONS

    def _single_slice_clauses(self, scoring, negative, min_should_match: int = 0):
        """One-slice execution of one boolean level of term and phrase
        clauses on this searcher's field. Returns the sentinel `_SLICE_NA`
        when not applicable (groups, multi-term rewrites, duplicate-term
        clause sets, an index without positions, or a query over the
        `_single_slice` budget) and None when nothing can match — the
        `_clauses_scored` contract, whose missing-term semantics it mirrors."""
        if any(c.kind not in ("term", "phrase") for c in scoring + negative):
            return _SLICE_NA
        term_clauses = [c for c in scoring if c.kind == "term"]
        tterms = [c.terms[0] for c in term_clauses]
        if len(set(tterms)) != len(tterms):
            return _SLICE_NA  # duplicate-term clause sets keep the join path
        phrase_clauses = [c for c in scoring if c.kind == "phrase"]
        neg_phrase_clauses = [c for c in negative if c.kind == "phrase"]
        if (
            phrase_clauses or neg_phrase_clauses
        ) and "pos_flat" not in self.postings.columns:
            return _SLICE_NA
        neg_terms = {c.terms[0] for c in negative if c.kind == "term"}
        phrase_terms = {t for c in phrase_clauses + neg_phrase_clauses for t in c.terms}
        tinfo = self.lookup_terms(sorted(set(tterms) | neg_terms | phrase_terms))
        dfmap = {str(t): int(d) for t, d in zip(tinfo["term"], tinfo["df"])}
        ttfmap = {str(t): int(x) for t, x in zip(tinfo["term"], tinfo["ttf"])}
        n = self.stats.max_doc

        if any(c.occur == MUST and c.terms[0] not in dfmap for c in term_clauses):
            return None
        phrases = []
        for c in phrase_clauses:
            if any(t not in dfmap for t in c.terms):
                if c.occur == MUST:
                    return None
                continue  # SHOULD phrase with a missing term matches nothing
            weight = phrase_weight([dfmap[t] for t in sorted(set(c.terms))], n)
            phrases.append(
                _Phrase([[t] for t in c.terms], weight, boost=c.boost, must=c.occur == MUST)
            )
        terms = [
            (c.terms[0], term_weight(dfmap[c.terms[0]], n), c.boost, c.occur == MUST)
            for c in term_clauses
            if c.terms[0] in dfmap
        ]
        if not terms and not phrases:
            return None
        neg_phrases = [
            _Phrase([[t] for t in c.terms])
            for c in neg_phrase_clauses
            if all(t in dfmap for t in c.terms)
        ]
        neg_terms = sorted(neg_terms & dfmap.keys())
        pos_terms = {t for p in phrases + neg_phrases for slot in p.slots for t in slot}
        read = {t for t, _, _, _ in terms} | pos_terms | set(neg_terms)
        if not self._single_slice(
            sum(dfmap[t] for t in read), sum(ttfmap[t] for t in pos_terms)
        ):
            return _SLICE_NA
        return self._one_slice(terms, phrases, neg_terms, neg_phrases, min_should_match)

    def _one_slice(
        self, terms=(), phrases=(), neg_terms=(), neg_phrases=(), min_should_match: int = 0
    ) -> DataFrame:
        """The single-slice kernel: (doc_id, score) of every doc matching one
        boolean level, from ONE term-pruned scan coalesced to one partition —
        the plan is scan → kernel, no exchange, no anti-join.

        `terms` are `(term, weight, boost, is_must)` term clauses, `phrases`
        `_Phrase` clauses; a doc matches when it satisfies every MUST clause
        and at least `min_should_match` SHOULD clauses, and no doc of
        `neg_terms` / `neg_phrases`. Each clause's float32 score (× float32
        boost) is summed in float64 and cast once — exactly the distributed
        `sum(score)::float` (Spark sums FloatType in double)."""
        cache = norm_cache(self.stats)
        pos_terms = {t for p in [*phrases, *neg_phrases] for slot in p.slots for t in slot}
        scan = sorted({t for t, _, _, _ in terms} | pos_terms | set(neg_terms))
        cols = ["term", "first_doc", "doc_gaps", "tfs", "norm_bytes"]
        if pos_terms:
            cols.append("pos_flat")
        total_must = sum(1 for *_, m in terms if m) + sum(1 for p in phrases if p.must)
        msm = int(min_should_match)
        phrase_freq = Searcher._phrase_freq

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            store: dict[str, list] = {}  # term → [(docs, tfs, norm bytes)]
            by_doc: dict[int, list] = {}  # doc → [(phrase term, positions)]
            norms: dict[int, int] = {}
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    docs = _doc_ids(row)
                    tfs = np.asarray(row.tfs, dtype=np.int64)
                    nbs = np.asarray(row.norm_bytes, dtype=np.int64)
                    store.setdefault(row.term, []).append((docs, tfs, nbs))
                    if row.term in pos_terms:
                        for d, nb, p in zip(docs.tolist(), nbs.tolist(), _positions(row, tfs)):
                            by_doc.setdefault(d, []).append((row.term, p))
                            norms[d] = nb

            def term_docs(t: str) -> list[np.ndarray]:
                return [docs for docs, _, _ in store.get(t, [])]

            def eval_phrase(ph: _Phrase):
                term_slots = _term_slots(ph.slots)
                cand = None
                for slot in ph.slots:
                    have = np.unique(
                        np.concatenate([d for t in slot for d in term_docs(t)] or [[]])
                    ).astype(np.int64)
                    cand = have if cand is None else np.intersect1d(cand, have)
                d_out, f_out = [], []
                for d in cand.tolist():
                    slot_arrs = _phrase_slots(by_doc[d], term_slots, len(ph.slots))
                    freq = phrase_freq(slot_arrs, ph.slop)
                    if freq > 0:
                        d_out.append(d)
                        f_out.append(freq)
                sc = posting_scores(ph.weight, f_out, [norms[d] for d in d_out], cache)
                if ph.boost != 1.0:
                    sc = (sc * np.float32(ph.boost)).astype(np.float32)
                return np.asarray(d_out, dtype=np.int64), sc

            parts_docs, parts_score, parts_nm = [], [], []
            for t, w, boost, must in terms:
                for docs, tfs, nbs in store.get(t, []):
                    sc = posting_scores(w, tfs, nbs, cache)
                    parts_docs.append(docs)
                    parts_score.append((sc * np.float32(boost)).astype(np.float32))
                    parts_nm.append(np.full(len(docs), int(must), dtype=np.int64))
            for ph in phrases:
                d, sc = eval_phrase(ph)
                parts_docs.append(d)
                parts_score.append(sc)
                parts_nm.append(np.full(len(d), int(ph.must), dtype=np.int64))
            if not parts_docs:
                return
            u, inv = np.unique(np.concatenate(parts_docs), return_inverse=True)
            ssum = np.zeros(len(u), dtype=np.float64)
            np.add.at(ssum, inv, np.concatenate(parts_score).astype(np.float64))
            nmust = np.zeros(len(u), dtype=np.int64)
            np.add.at(nmust, inv, np.concatenate(parts_nm))
            mask = nmust == total_must
            if msm > 0:
                mask &= np.bincount(inv, minlength=len(u)) - nmust >= msm
            neg = [d for t in neg_terms for d in term_docs(t)]
            neg += [eval_phrase(ph)[0] for ph in neg_phrases]
            if neg:
                mask &= ~np.isin(u, np.concatenate(neg))
            yield pd.DataFrame({"doc_id": u[mask], "score": ssum[mask].astype(np.float32)})

        return (
            self.postings.where(F.col("term").isin(scan))
            .select(*cols)
            .coalesce(1)
            .mapInPandas(kernel, schema="doc_id long, score float")
        )

    def _posting_docs(self, tinfo: pd.DataFrame) -> DataFrame:
        """doc_ids (with duplicates across terms) of all postings of the given
        terms — the non-scoring DocIdSetIterator path: no BM25 kernel, no
        norm lookup, just gap decode."""
        qterms = sorted(set(tinfo["term"]))

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                outs = []
                for row in pdf.itertuples(index=False):
                    outs.append(_doc_ids(row))
                if outs:
                    yield pd.DataFrame({"doc_id": np.concatenate(outs)})

        rows = self.postings.where(F.col("term").isin(qterms)).select(
            "first_doc", "doc_gaps"
        )
        return rows.mapInPandas(kernel, schema="doc_id long")

    # --- MultiTermQuery rewrites (§2.4): pattern → term set → boolean ------
    MAX_EXPANSIONS = 1024  # BooleanQuery.maxClauseCount analog

    def _rewrite_terms(self, cond, max_expansions: int | None = None) -> list[str]:
        """Scan the term dictionary for matching terms — the
        MultiTermQuery.rewrite step (MultiTermQuery.java:333): concrete
        terms are then executed as a SHOULD disjunction.

        Expansion is CAPPED at the highest-df `max_expansions` terms, the
        TopTermsRewrite discipline (TopTermsRewrite.java keeps a bounded
        priority queue; BooleanQuery.maxClauseCount bounds the rewritten
        query) — a prefix like 's' can never materialize the whole
        dictionary into the plan. The filter itself runs distributed on the
        persisted terms table; only the ≤cap winners reach the driver,
        exactly as Lucene's rewrite materializes concrete terms."""
        cap = max_expansions or self.MAX_EXPANSIONS
        rows = (
            self.terms.where(cond)
            .select("term", "df")
            .orderBy(F.col("df").desc(), F.col("term").asc())
            .limit(cap)
            .collect()
        )
        return [r.term for r in rows]

    def _expand(self, c) -> list[str]:
        """Dictionary rewrite of a prefix / wildcard / range / fuzzy clause
        to its concrete terms. Fuzzy is capped at 50 expansions like
        FuzzyQuery.defaultMaxExpansions, behind a length-band prefilter
        (|len(t)-len(q)| ≤ edits, a necessary condition) pushed to the
        parquet scan before the UDF-free levenshtein runs."""
        term = F.col("term")
        if c.kind == "prefix":
            lit = c.terms[0].replace("%", r"\%").replace("_", r"\_")
            return self._rewrite_terms(term.like(lit + "%"))
        if c.kind == "wildcard":
            return self._rewrite_terms(term.rlike(_wildcard_regex(c.terms[0])))
        if c.kind == "range":
            lo = term >= c.terms[0] if c.include_lower else term > c.terms[0]
            hi = term <= c.terms[1] if c.include_upper else term < c.terms[1]
            return self._rewrite_terms(lo & hi)
        if c.kind == "fuzzy":
            word = c.terms[0]
            band = (F.length("term") >= len(word) - c.max_edits) & (
                F.length("term") <= len(word) + c.max_edits
            )
            return self._rewrite_terms(
                band & (F.levenshtein(term, F.lit(word)) <= c.max_edits),
                max_expansions=50,
            )
        raise ValueError(c.kind)

    def _expanded_search(self, terms: list[str], k: int) -> DataFrame:
        """The rewritten terms executed as a scoring SHOULD disjunction."""
        return self.boolean_search(should=terms, k=k) if terms else self._empty()

    def prefix_search(self, prefix: str, k: int = 10) -> DataFrame:
        """PrefixQuery (PrefixQuery.java:96)."""
        return self._expanded_search(self._expand(Clause(SHOULD, "prefix", [prefix])), k)

    def wildcard_search(self, pattern: str, k: int = 10) -> DataFrame:
        """WildcardQuery: `*` any run, `?` one char (WildcardQuery.java:116),
        compiled to an anchored regex against the term dictionary."""
        return self._expanded_search(self._expand(Clause(SHOULD, "wildcard", [pattern])), k)

    def build_reversed_dictionary(self, path: str | None = None) -> str:
        """ReversedWildcardFilter analog (solr/core/src/java/org/apache/
        solr/analysis/ReversedWildcardFilter.java, Factory:32-70): the
        reference indexes a REVERSED copy of every token so a leading
        wildcard becomes a prefix query on the reversed form. Here the
        reversed copy lives in the TERM DICTIONARY only — postings are
        shared, the dictionary maps back to the original term — as a
        parquet table (rterm, term, df) SORTED by rterm, so `*ing` turns
        into `rterm LIKE 'gni%'`: a pushdown-able prefix with row-group
        pruning instead of a full-dictionary regex scan. At a 10^8-term
        web dictionary that is the difference between reading ~one row
        group and reading all of them."""
        path = path or os.path.join(self.paths.root, "rterms")
        (
            self.terms.select(
                F.reverse(F.col("term")).alias("rterm"), "term", "df"
            )
            .repartition(1)
            .sortWithinPartitions("rterm")
            .write.mode("overwrite")
            .parquet(path)
        )
        self._rterms = None  # reload on next use
        return path

    def _reversed_dictionary(self) -> DataFrame:
        if getattr(self, "_rterms", None) is None:
            path = os.path.join(self.paths.root, "rterms")
            if os.path.exists(path):
                self._rterms = self.spark.read.parquet(path)
            else:
                # fallback: derive on the fly (no parquet pushdown, still
                # avoids the anchored-regex full scan shape)
                self._rterms = self.terms.select(
                    F.reverse(F.col("term")).alias("rterm"), "term", "df"
                )
        return self._rterms

    def leading_wildcard_search(self, pattern: str, k: int = 10) -> DataFrame:
        """Leading-wildcard query (`*ing`, `?at`) via the reversed
        dictionary: the longest literal SUFFIX of the pattern becomes a
        reversed PREFIX pushdown, the full anchored regex then verifies
        only the pruned candidates (ReversedWildcardFilter's query-time
        rule: reverse the pattern when the wildcard is leading)."""
        m = re.search(r"[^*?]+$", pattern)
        suffix = m.group(0) if m else ""
        rdict = self._reversed_dictionary()
        cond = F.col("term").rlike(_wildcard_regex(pattern))
        if suffix:
            lit = suffix[::-1].replace("%", r"\%").replace("_", r"\_")
            cond = F.col("rterm").like(lit + "%") & cond
        rows = (
            rdict.where(cond)
            .select("term", "df")
            .orderBy(F.col("df").desc(), F.col("term").asc())
            .limit(self.MAX_EXPANSIONS)
            .collect()
        )
        return self._expanded_search([r.term for r in rows], k)

    def regexp_search(self, regex: str, k: int = 10) -> DataFrame:
        """RegexpQuery (RegexpQuery.java:107) — anchored like Lucene."""
        terms = self._rewrite_terms(F.col("term").rlike(f"^(?:{regex})$"))
        return self._expanded_search(terms, k)

    def fuzzy_search(self, term: str, max_edits: int = 2, k: int = 10) -> DataFrame:
        """FuzzyQuery: Levenshtein ≤ max_edits over the dictionary
        (FuzzyQuery.java:28-76); executed as the rewritten disjunction."""
        c = Clause(SHOULD, "fuzzy", [term], max_edits=max_edits)
        return self._expanded_search(self._expand(c), k)

    def range_search(self, lower: str, upper: str, k: int = 10,
                     include_lower: bool = True, include_upper: bool = False) -> DataFrame:
        """TermRangeQuery over the sorted dictionary (TermRangeQuery.java)."""
        c = Clause(SHOULD, "range", [lower, upper], include_lower=include_lower,
                   include_upper=include_upper)
        return self._expanded_search(self._expand(c), k)

    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame([], "doc_id long, score float")

    def span_search(self, node, k: int = 10,
                    filter_docs: DataFrame | None = None) -> DataFrame:
        """Span query (SpanTerm/SpanNear/SpanOr/SpanNot/SpanFirst tree over
        this index's positions) — see query/spans.py for the iterator
        semantics (NearSpansOrdered.java / NearSpansUnordered.java /
        SpanScorer.java)."""
        from .spans import span_search as _span_search

        return _span_search(self, node, k=k, filter_docs=filter_docs)

    # --- parsed boolean queries (classic QueryParser surface) --------------
    def query(self, query_string: str, k: int = 10) -> DataFrame:
        """Parse classic syntax (+must -not "phrases" boosts AND/OR) and
        execute as one mixed boolean query (QueryParserBase.java:494-790 →
        BooleanQuery execution)."""
        return self.execute_clauses(parse(query_string), k=k)

    def execute_clauses(self, clauses, k: int = 10) -> DataFrame:
        """Execute a parsed clause tree: SHOULD sum + MUST constraints +
        MUST_NOT anti-join, nested groups, multi-term syntax, per-clause
        boosts (BooleanQuery over TermScorer / ExactPhraseScorer /
        MultiTermQuery-rewrite / nested-BooleanQuery children)."""
        scored = self._clauses_scored(clauses)
        if scored is None:
            return self._empty()
        return self._topk(self._drop_deleted(scored), k)

    def _multi_term_clause(self, c) -> DataFrame | None:
        """MultiTermQuery clause via dictionary rewrite. Prefix/wildcard/
        range execute constant-score (the 4.4 default rewrite,
        CONSTANT_SCORE_AUTO_REWRITE_DEFAULT in MultiTermQuery.java); fuzzy
        uses the scoring top-terms rewrite like FuzzyQuery."""
        terms = self._expand(c)
        if not terms:
            return None
        tinfo = self.lookup_terms(terms)
        if tinfo.empty:
            return None
        if c.kind == "fuzzy":
            return (
                self._scored(tinfo)
                .groupBy("doc_id")
                .agg(F.sum("score").cast("float").alias("score"))
            )
        return self._posting_docs(tinfo).distinct().select(
            "doc_id", F.lit(1.0).cast("float").alias("score")
        )

    def _clauses_scored(
        self, clauses, field_searchers: dict | None = None, min_should_match: int = 0
    ) -> DataFrame | None:
        """(doc_id, score) of one boolean level — None when nothing can
        match. Recurses into `group` clauses (nested BooleanQuery scoring:
        the group's summed score becomes one sub-scorer contribution). A doc
        matches every MUST clause, at least `min_should_match` SHOULD
        clauses, and no MUST_NOT clause.

        `field_searchers` maps a clause's `field` to the Searcher of that
        field's sub-index (multi-field indexes share docIDs, so scores and
        DocSets compose directly); clauses without a field run on self —
        the field-generic QueryParserBase.java:494-790 surface."""
        from functools import reduce

        fs = field_searchers or {}
        scoring = [c for c in clauses if c.occur in (MUST, SHOULD)]
        negative = [c for c in clauses if c.occur == MUST_NOT]
        if not scoring:
            return None
        if not fs:
            fast = self._single_slice_clauses(scoring, negative, min_should_match)
            if fast is not _SLICE_NA:
                return fast

        def res(c) -> "Searcher":
            f = getattr(c, "field", None)
            return fs.get(f, self) if f is not None else self

        parts = []
        total_must = 0
        # ALL term clauses of one field ride ONE postings scan. Each part
        # row carries nm = number of MUST clauses that row satisfies; the
        # final agg just sums it. Common case (each term in one clause per
        # field): boost/must lookups are LITERAL maps — zero extra plan
        # nodes, no per-query createDataFrame; duplicate-term clause sets
        # fall back to the tiny broadcast join to keep per-clause float32
        # boost rounding identical.
        groups: dict[int, tuple["Searcher", list]] = {}
        for c in scoring:
            if c.kind == "term":
                s = res(c)
                groups.setdefault(id(s), (s, []))[1].append(c)
        for s, cls in groups.values():
            tinfo = s.lookup_terms(sorted({c.terms[0] for c in cls}))
            found = set(tinfo["term"])
            # a MUST clause on a nonexistent term matches nothing
            for c in cls:
                if c.occur == MUST and c.terms[0] not in found:
                    return None
            term_entries = [
                (c.terms[0], float(np.float32(c.boost)), c.occur == MUST)
                for c in cls
                if c.terms[0] in found
            ]
            total_must += sum(1 for _, _, m in term_entries if m)
            if not term_entries:
                continue
            scored_terms = s._scored(tinfo[tinfo["term"].isin(found)])
            if len({t for t, _, _ in term_entries}) == len(term_entries):
                boost_map = F.create_map(
                    *[x for t, b, _ in term_entries for x in (F.lit(t), F.lit(b))]
                )
                must_map = F.create_map(
                    *[
                        x
                        for t, _, m in term_entries
                        for x in (F.lit(t), F.lit(1 if m else 0))
                    ]
                )
                parts.append(
                    scored_terms.select(
                        "doc_id",
                        (F.col("score") * F.element_at(boost_map, F.col("term")))
                        .cast("float")
                        .alias("score"),
                        F.element_at(must_map, F.col("term")).alias("nm"),
                    )
                )
            else:
                mdf = self.spark.createDataFrame(
                    [(t, b, 1 if m else 0) for t, b, m in term_entries],
                    "term string, boost float, nm int",
                )
                parts.append(
                    scored_terms.join(F.broadcast(mdf), "term").select(
                        "doc_id",
                        (F.col("score") * F.col("boost")).cast("float").alias("score"),
                        "nm",
                    )
                )
        for c in scoring:
            if c.kind == "term":
                continue  # scored via the shared per-field scan above
            elif c.kind == "phrase":
                df_c = res(c)._phrase_scored(c.terms)
            elif c.kind == "group":
                df_c = self._clauses_scored(c.children, field_searchers=fs)
            else:
                df_c = res(c)._multi_term_clause(c)
            if df_c is None:
                if c.occur == MUST:
                    return None
                continue
            if c.occur == MUST:
                total_must += 1
            if c.boost != 1.0:
                b32 = float(np.float32(c.boost))
                df_c = df_c.select(
                    "doc_id", (F.col("score") * b32).cast("float").alias("score")
                )
            parts.append(
                df_c.select("doc_id", "score").withColumn(
                    "nm", F.lit(1 if c.occur == MUST else 0)
                )
            )
        if not parts:
            return None

        union = reduce(DataFrame.unionByName, parts)
        agg = union.groupBy("doc_id").agg(
            F.sum("score").cast("float").alias("score"),
            F.sum("nm").alias("n_must"),
            F.count(F.lit(1)).alias("n_matched"),  # one part row per clause hit
        )
        cond = F.col("n_must") == total_must
        if min_should_match > 0:
            cond = cond & (F.col("n_matched") - F.col("n_must") >= min_should_match)
        matched = agg.where(cond).select("doc_id", "score")

        if negative:
            neg_docs = None
            neg_groups: dict[int, tuple["Searcher", list]] = {}
            for c in negative:
                if c.kind == "term":
                    s = res(c)
                    neg_groups.setdefault(id(s), (s, []))[1].append(c.terms[0])
            for s, ts in neg_groups.values():
                neg_term_info = s.lookup_terms(ts)
                if not neg_term_info.empty:
                    nd = s._posting_docs(neg_term_info)
                    neg_docs = nd if neg_docs is None else neg_docs.unionByName(nd)
            for c in negative:
                sel = None
                if c.kind == "phrase":
                    ph = res(c)._phrase_scored(c.terms)
                    sel = ph.select("doc_id") if ph is not None else None
                elif c.kind == "group":
                    grp = self._clauses_scored(c.children, field_searchers=fs)
                    sel = grp.select("doc_id") if grp is not None else None
                elif c.kind != "term":
                    mt = res(c)._multi_term_clause(c)
                    sel = mt.select("doc_id") if mt is not None else None
                if sel is not None:
                    neg_docs = sel if neg_docs is None else neg_docs.unionByName(sel)
            if neg_docs is not None:
                matched = matched.join(neg_docs.distinct(), "doc_id", "left_anti")
        return matched

    # --- phrase -------------------------------------------------------------
    def phrase_search(
        self,
        phrase: str | list[str],
        k: int = 10,
        slop: int = 0,
        filter_docs: DataFrame | None = None,
    ) -> DataFrame:
        """PhraseQuery: slop=0 → exact adjacency (stopword slots in the
        original text break adjacency, matching Lucene's position-increment
        semantics); slop>0 → sloppy matching with sloppyFreq weighting
        (SloppyPhraseScorer.java; BM25Similarity.java:70-72)."""
        terms = self.analyze_query(phrase) if isinstance(phrase, str) else list(phrase)
        if not terms:
            return self.spark.createDataFrame([], "doc_id long, score float")
        scored = self._phrase_scored(terms, slop=slop)
        if scored is None:
            return self.spark.createDataFrame([], "doc_id long, score float")
        scored = self._apply_filter(scored, filter_docs)
        return self._topk(self._drop_deleted(scored), k)

    def multi_phrase_search(
        self, slots: list[list[str]], k: int = 10, slop: int = 0
    ) -> DataFrame:
        """MultiPhraseQuery (MultiPhraseQuery.java): each position slot holds
        one or more term alternatives; a match takes any alternative per
        slot. Alternatives missing from the dictionary are dropped; a slot
        with no surviving alternative matches nothing."""
        scored = self._phrase_scored(slots, slop=slop)
        if scored is None:
            return self.spark.createDataFrame([], "doc_id long, score float")
        return self._topk(self._drop_deleted(scored), k)

    @staticmethod
    def _sloppy_freq(slot_arrs: list, slop: int) -> float:
        """SloppyPhraseScorer.phraseFreq (SloppyPhraseScorer.java) for the
        repeats-free case: a PQ-driven leap-frog over offset-adjusted
        position lists; every minimal window with spread (matchLength)
        ≤ slop contributes sloppyFreq = 1/(matchLength+1)
        (BM25Similarity.java:70-72) to the phrase tf."""
        import heapq

        if len(slot_arrs) == 1:
            return float(len(slot_arrs[0]))
        nexts = [0] * len(slot_arrs)
        heap = [(int(a[0]), s) for s, a in enumerate(slot_arrs)]
        heapq.heapify(heap)
        end = max(int(a[0]) for a in slot_arrs)
        freq = 0.0
        pos, s = heapq.heappop(heap)
        match_length = end - pos
        next_pos = heap[0][0]
        while True:
            nexts[s] += 1
            if nexts[s] >= len(slot_arrs[s]):
                break
            newpos = int(slot_arrs[s][nexts[s]])
            if newpos > end:
                end = newpos
            if newpos > next_pos:
                if match_length <= slop:
                    freq += 1.0 / (match_length + 1)
                heapq.heappush(heap, (newpos, s))
                pos, s = heapq.heappop(heap)
                next_pos = heap[0][0]
                match_length = end - pos
            else:
                ml2 = end - newpos
                if ml2 < match_length:
                    match_length = ml2
        if match_length <= slop:
            freq += 1.0 / (match_length + 1)
        return freq

    @staticmethod
    def _sloppy_freq_k(slot_arrs: list, slop: int) -> float | None:
        """Vectorized k-slot sloppyFreq, exactly equal to `_sloppy_freq` on
        tie-free inputs (returns None when any two lists share an adjusted
        position — the caller falls back to the PQ reference loop; ties
        only arise from repeated terms at phrase-compatible distances).

        Derivation from the PQ loop: consumption order of the leap-frog IS
        the merged position order (each step advances the global minimum),
        a window is recorded exactly at every cross-list SWITCH of that
        merged sequence, its length is (max over the OTHER lists of their
        first position after the switch index) − p[i] (same-list runs keep
        only their last element — the running shrink in the loop), the walk
        stops at the first list exhaustion (the merged index of the
        smallest per-list maximum), and one tail window is recorded there.
        """
        k = len(slot_arrs)
        lens = np.fromiter((len(a) for a in slot_arrs), dtype=np.int64, count=k)
        p = np.concatenate(slot_arrs).astype(np.int64)
        s = np.repeat(np.arange(k, dtype=np.int64), lens)
        order = np.argsort(p, kind="stable")
        p, s = p[order], s[order]
        if bool(np.any(p[1:] == p[:-1])):
            return None
        n = len(p)
        INF = np.int64(1) << 62
        # m[L, i] = first position of list L strictly after merged index i
        m = np.empty((k, n), dtype=np.int64)
        for L in range(k):
            col = np.where(s == L, p, INF)
            rev = np.minimum.accumulate(col[::-1])[::-1]  # rev[i] = min col[i:]
            m[L, :-1] = rev[1:]
            m[L, -1] = INF
        m[s, np.arange(n)] = -1  # exclude the own list from the max
        E = m.max(axis=0)
        # stop = merged index of the smallest per-list last element
        stop_val = min(int(a[-1]) for a in slot_arrs)
        stop = int(np.searchsorted(p, stop_val))
        idx = np.flatnonzero(s[:-1] != s[1:])
        idx = idx[idx < stop]
        d = np.concatenate((E[idx] - p[idx], [E[stop] - p[stop]]))
        d = d[d <= slop]
        return float((1.0 / (d + 1.0)).sum())

    @staticmethod
    def _sloppy_freq_2(a: np.ndarray, b: np.ndarray, slop: int) -> float:
        """Vectorized 2-slot sloppyFreq, exactly equal to `_sloppy_freq`:
        with two sorted offset-adjusted lists, the PQ leap-frog records one
        minimal window per ADJACENT CROSS-LIST PAIR of the merged order
        (runs from the same list keep only their last element before a
        switch), each contributing 1/(dist+1) when dist ≤ slop. At an equal
        position in both lists, the loop lets the CURRENTLY-ADVANCING run
        absorb the tie (newpos == next_pos does not complete a crossing), so
        the tied element from the preceding element's list sorts first."""
        pos = np.concatenate((a, b))
        slot = np.concatenate(
            (np.zeros(len(a), dtype=np.int8), np.ones(len(b), dtype=np.int8))
        )
        order = np.lexsort((slot, pos))
        p, s = pos[order], slot[order]
        ties = np.flatnonzero(p[1:] == p[:-1])  # one per value, cross-list
        for i in ties:  # rare; left-to-right so chains see updated runs
            if i > 0 and s[i - 1] == s[i + 1]:
                s[i], s[i + 1] = s[i + 1], s[i]
        cross = s[1:] != s[:-1]
        d = (p[1:] - p[:-1])[cross]
        d = d[d <= slop]
        return float((1.0 / (d + 1.0)).sum())

    @staticmethod
    def _phrase_freq(slot_arrs: list, slop: int) -> float:
        """Phrase freq of one doc from its offset-adjusted slot positions:
        slop=0 → exact alignment count (ExactPhraseScorer.java:29-82);
        slop>0 → sloppyFreq via the vectorized 2-slot / k-slot forms, with
        the PQ reference loop for adjusted-position ties."""
        if slop == 0:
            c = slot_arrs[0]
            for a in slot_arrs[1:]:
                c = np.intersect1d(c, a)
            return float((c >= 0).sum())
        if len(slot_arrs) == 2:
            return Searcher._sloppy_freq_2(slot_arrs[0], slot_arrs[1], slop)
        freq = Searcher._sloppy_freq_k(slot_arrs, slop)
        return Searcher._sloppy_freq(slot_arrs, slop) if freq is None else freq

    def _position_rows(self, qterms: list[str]) -> DataFrame:
        """(doc_id, term, norm_byte, positions): one row per posting of the
        terms, positions decoded — the input of the distributed position
        plans (phrases here, spans in query/spans.py)."""

        def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                recs = {"doc_id": [], "term": [], "norm_byte": [], "positions": []}
                for row in pdf.itertuples(index=False):
                    docs = _doc_ids(row)
                    tfs = np.asarray(row.tfs, dtype=np.int64)
                    recs["doc_id"].extend(docs.tolist())
                    recs["term"].extend([row.term] * len(docs))
                    recs["norm_byte"].extend(np.asarray(row.norm_bytes).tolist())
                    recs["positions"].extend([p.tolist() for p in _positions(row, tfs)])
                yield pd.DataFrame(recs)

        return (
            self.postings.where(F.col("term").isin(qterms))
            .select("term", "first_doc", "doc_gaps", "tfs", "norm_bytes", "pos_flat")
            .mapInPandas(
                explode,
                schema="doc_id long, term string, norm_byte int, positions array<long>",
            )
        )

    def _phrase_scored(
        self, terms: list[str] | list[list[str]], slop: int = 0
    ) -> DataFrame | None:
        """(doc_id, score) for every doc matching the (multi-)phrase, or
        None when a slot has no alternative in the dictionary.

        `terms` is a list of slots; a plain string element is a
        single-alternative slot. The phrase freq (`_phrase_freq`) feeds the
        standard BM25 formula with the idf of the distinct dictionary terms
        summed (`bm25.phrase_weight`, BM25Similarity.java:185-198). Small
        position volumes run in the one-slice kernel; the rest shuffle
        position lists by doc."""
        if not terms:
            return None
        slots: list[list[str]] = [[t] if isinstance(t, str) else list(t) for t in terms]
        tinfo = self.lookup_terms(sorted({t for slot in slots for t in slot}))
        found_terms = set(tinfo["term"])
        slots = [[t for t in slot if t in found_terms] for slot in slots]
        if any(not slot for slot in slots):
            return None
        weight = phrase_weight(tinfo["df"], self.stats.max_doc)
        if self._single_slice(int(tinfo["df"].sum()), int(tinfo["ttf"].sum())):
            return self._one_slice(phrases=[_Phrase(slots, weight, slop)])

        term_slots = _term_slots(slots)
        qterms = sorted(term_slots)
        n_slots = len(slots)
        single_alternative = all(len(s) == 1 for s in slots)
        pos_rows = self._position_rows(qterms)
        # prefilter pays one extra postings pass to shrink the heavy position
        # shuffle — worth it only when the position volume is actually heavy
        prefilter = (
            single_alternative
            and len(qterms) > 1
            and int(tinfo["df"].sum()) >= 500_000
        )
        if prefilter:
            # conjunction prefilter BEFORE the position shuffle: a cheap
            # doc-id-only pass (no pos_flat decode) finds docs containing all
            # phrase terms, so full position lists are only shuffled for
            # candidate docs — for a phrase with one head term + one rare
            # term this cuts the heavy shuffle from df(head) to df(rare)
            def doc_term(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    d_out, t_out = [], []
                    for row in pdf.itertuples(index=False):
                        d_out.append(_doc_ids(row))
                        t_out.extend([row.term] * len(d_out[-1]))
                    if d_out:
                        yield pd.DataFrame(
                            {"doc_id": np.concatenate(d_out), "term": t_out}
                        )

            cand = (
                self.postings.where(F.col("term").isin(qterms))
                .select("term", "first_doc", "doc_gaps")
                .mapInPandas(doc_term, schema="doc_id long, term string")
                .groupBy("doc_id")
                .agg(F.count_distinct("term").alias("nt"))
                .where(F.col("nt") == len(qterms))
                .select("doc_id")
            )
            pos_rows = pos_rows.join(cand, "doc_id", "left_semi")
        # per-doc alignment check over the (bounded: ≤ len(qterms) rows/doc)
        # collected position lists
        # a doc needs every distinct query term (single-alternative phrases)
        # or at least one row (alternatives verified slot-by-slot in the
        # kernel) before the alignment check runs
        required_nt = len(qterms) if single_alternative else 1
        grouped = (
            pos_rows.groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("nt"),
                F.max("norm_byte").alias("norm_byte"),
                F.collect_list(F.struct("term", "positions")).alias("plists"),
            )
            .where(F.col("nt") >= required_nt)
        )
        cache = norm_cache(self.stats)
        phrase_freq = Searcher._phrase_freq

        def phrase_scores(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # alignment check AND BM25 scoring in ONE Python eval — a second
            # mapInPandas in the same stage would pay a full extra
            # JVM→Arrow→Python round trip per batch for one vectorized line
            for pdf in pdf_iter:
                doc_ids, freqs, nbs = [], [], []
                for row in pdf.itertuples(index=False):
                    slot_arrs = _phrase_slots(
                        (
                            (e["term"], np.asarray(e["positions"], dtype=np.int64))
                            for e in row.plists
                        ),
                        term_slots,
                        n_slots,
                    )
                    if slot_arrs is None:
                        continue  # some slot has no alternative in this doc
                    freq = phrase_freq(slot_arrs, slop)
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

        return grouped.mapInPandas(phrase_scores, schema="doc_id long, score float")

    def paged_search(
        self,
        query: str | list[str],
        start: int = 0,
        rows: int = 10,
        filter_docs: DataFrame | None = None,
        filter_key: str | None = None,
    ):
        """offset/rows windowing through the queryResultCache: fetch a
        superset rounded up to queryResultWindowSize, cache it, slice pages
        out of it (SolrIndexSearcher.java:1243-1352) — page 2 of a repeated
        query never replans. Returns a pandas frame (pages are top-k-sized
        driver objects by definition).

        Filtered pages are cached only under an explicit stable `filter_key`
        (the `put_filter` key string). An anonymous filter frame bypasses the
        cache entirely — keying on `id(df)` is unsound because a collected
        frame's id can be recycled by a NEW filter object."""
        from .components import QueryResultCache

        if getattr(self, "_qr_cache", None) is None:
            self._qr_cache = QueryResultCache()
        terms = tuple(
            self.analyze_query(query) if isinstance(query, str) else query
        )

        def fetch(n: int):
            return self.search(list(terms), k=n, filter_docs=filter_docs).toPandas()

        if filter_docs is not None and filter_key is None:
            return fetch(start + rows).iloc[start : start + rows]
        key = (terms, filter_key)
        return self._qr_cache.windowed(key, start, rows, fetch)

    def count(self, query: str | list[str]) -> int:
        """TotalHitCountCollector (TotalHitCountCollector.java:51)."""
        terms = self.analyze_query(query) if isinstance(query, str) else list(query)
        tinfo = self.lookup_terms(terms)
        if tinfo.empty:
            return 0
        return int(
            self._drop_deleted(self._posting_docs(tinfo).distinct()).count()
        )
