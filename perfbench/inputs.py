"""Seeded inputs: the page corpus and the query streams.

Everything here is a pure function of the seed. The corpus comes from
`sources.webgen.generate_pages(..., tail=True)` (Zipf head vocabulary, a
rare-term tail, ~1% duplicate URLs with a newer crawl time); query terms are
drawn from the corpus dictionary as computed by the reference tokenizer, by
document-frequency class, so the engine's own output never shapes its input.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

# dictionary classes of drawn query terms, in turn: 30% head (df >= 10% of
# docs), 30% mid, 25% tail (df <= 3), 15% absent. A fixed order keeps each
# run's class mix the same whatever the seed. These weights, like the
# Zipf(1.5) repeat rank below, are an assumed synthetic mix: no query log
# backs them (see README.md).
CLASS_CYCLE = ("head", "mid", "tail", "head", "mid", "absent", "head", "tail", "mid", "head",
               "mid", "tail", "absent", "head", "mid", "tail", "head", "mid", "absent", "tail")
FAMILIES = ("term1", "or2", "or3", "and", "not", "phrase", "msm", "parsed")


def generate_corpus(spark, n: int, seed: int) -> pd.DataFrame:
    """url, warc_ts, text of n generated pages, in generation order."""
    from lucene_solr_spark.sources.webgen import generate_pages

    pdf = generate_pages(spark, n, seed=seed, tail=True).select(
        "url", "warc_ts", "text"
    ).toPandas()
    # warc_ts is base + row index seconds: sorting restores generation order
    return pdf.sort_values("warc_ts", kind="stable").reset_index(drop=True)


def digest(pages: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for url, ts, text in pages[["url", "warc_ts", "text"]].itertuples(index=False):
        h.update(f"{url}\0{pd.Timestamp(ts).isoformat()}\0{text}\n".encode())
    return h.hexdigest()[:16]


def input_bytes(pages: pd.DataFrame) -> int:
    return int(sum(len(u.encode()) + len(t.encode()) for u, t in zip(pages["url"], pages["text"])))


def dedup_latest(pages: pd.DataFrame) -> pd.DataFrame:
    """One row per url, the newest crawl (the index's update semantics)."""
    return pages.sort_values(["url", "warc_ts"]).drop_duplicates("url", keep="last")


class TermPicker:
    """Draws query terms by document-frequency class of a dictionary."""

    def __init__(self, dictionary: pd.DataFrame, n_docs: int, rng: np.random.RandomState):
        d = dictionary.sort_values("term")
        head_df = max(4, int(0.1 * n_docs))
        self.rng = rng
        self.drawn = 0
        self.phrases = 0
        self.known = set(d["term"])
        self.classes = {
            "head": d.loc[d["df"] >= head_df, "term"].tolist(),
            "mid": d.loc[(d["df"] > 3) & (d["df"] < head_df), "term"].tolist(),
            "tail": d.loc[d["df"] <= 3, "term"].tolist(),
        }

    def term(self, cls: str | None = None) -> str:
        if cls is None:
            cls = CLASS_CYCLE[self.drawn % len(CLASS_CYCLE)]
            self.drawn += 1
        if cls == "absent":
            while True:  # a tail-shaped id that no document contains
                t = f"t{int(self.rng.randint(0, 400_000)):06d}"
                if t not in self.known:
                    return t
        pool = self.classes[cls] or self.classes["mid"] or self.classes["head"]
        return pool[int(self.rng.randint(0, len(pool)))]

    def other(self, taken: list[str], cls: str | None = None) -> str:
        """A term not in `taken`, redrawn until it differs."""
        t = self.term(cls)
        while t in taken:
            t = self.term(cls)
        return t

    def distinct(self, n: int) -> list[str]:
        out: list[str] = []
        while len(out) < n:
            out.append(self.other(out))
        return out


def make_query(family: str, terms: list[str]) -> dict:
    """A query as the engine call sees it (`text`) and as the reference
    scores it (`clauses` of (occur, kind, terms), `msm`)."""
    a, b, c = (terms + [None, None, None])[:3]
    if family == "term1":
        return {"family": family, "text": a, "clauses": [("SHOULD", "term", [a])], "msm": 0}
    if family in ("or2", "or3"):
        return {"family": family, "text": " ".join(terms),
                "clauses": [("SHOULD", "term", [t]) for t in terms], "msm": 0}
    if family == "and":
        return {"family": family, "text": f"{a} {b}",
                "clauses": [("MUST", "term", [a]), ("MUST", "term", [b])], "msm": 0}
    if family == "not":
        return {"family": family, "text": f"{a} -{b}",
                "clauses": [("MUST", "term", [a]), ("MUST_NOT", "term", [b])], "msm": 0}
    if family == "phrase":
        return {"family": family, "text": f"{a} {b}",
                "clauses": [("SHOULD", "phrase", [a, b])], "msm": 0}
    if family == "msm":
        return {"family": family, "text": f"{a} {b} {c}",
                "clauses": [("SHOULD", "term", [t]) for t in (a, b, c)], "msm": 2}
    if family == "parsed":
        return {"family": family, "text": f"+{a} {b} -{c}",
                "clauses": [("MUST", "term", [a]), ("SHOULD", "term", [b]),
                            ("MUST_NOT", "term", [c])], "msm": 0}
    raise ValueError(family)


def new_query(family: str, picker: TermPicker, bigrams: list[tuple[str, str]]) -> dict:
    if family == "phrase":
        picker.phrases += 1
        if bigrams and picker.phrases % 3:  # two in three are pairs that occur
            a, b = bigrams[int(picker.rng.randint(0, len(bigrams)))]
            return make_query(family, [a, b])
        return make_query(family, picker.distinct(2))
    if family == "and":  # a head term and a distinct term by the cycle
        a = picker.term("head")
        return make_query(family, [a, picker.other([a])])
    n = {"term1": 1, "or2": 2, "or3": 3, "not": 2, "msm": 3, "parsed": 3}[family]
    return make_query(family, picker.distinct(n))


def query_stream(picker: TermPicker, bigrams, length: int) -> list[dict]:
    """Closed-loop stream: even positions issue a new query, the families in
    turn; odd positions re-issue an earlier one, by a Zipf(1.5) rank over
    first appearance. The rank sequence does not depend on the seed, so
    every run has the same family and repeat pattern; the seed picks the
    terms."""
    ranks = np.random.RandomState(0).zipf(1.5, size=length) - 1
    distinct: list[dict] = []
    stream: list[dict] = []
    for i in range(length):
        if i % 2:
            stream.append(distinct[min(int(ranks[i]), len(distinct) - 1)])
            continue
        q = new_query(FAMILIES[(i // 2) % len(FAMILIES)], picker, bigrams)
        q["qid"] = len(distinct)
        distinct.append(q)
        stream.append(q)
    return stream


def stream_digest(stream: list[dict]) -> str:
    h = hashlib.sha256()
    for q in stream:
        h.update(f"{q['family']}\0{q['text']}\n".encode())
    return h.hexdigest()[:16]
