"""DuckDB BM25 reference for the benchmark's answers.

Built on the correctness gates' SQL (`lucene_solr_spark/gate.py`): the same
tokenizer CTE (`tok_cte`), the same byte315 doc-length quantization
(`quantized_doclen_sql`) and the same BM25 expression as `bm25_sql`, in
float64 with the float32 avgdl. The token table is materialized once per
index state so that one query costs a few milliseconds; `self_check` runs
`bm25_sql` itself on one query and requires the same ranking.

Collection statistics follow Lucene: `documents` holds every document the
index has taken in, including versions tombstoned by a later update (maxDoc,
df and avgdl keep counting them until a purge), while only `live` documents
can be returned.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from lucene_solr_spark.gate import bm25_sql, tok_cte
from lucene_solr_spark.index.norms import quantized_doclen_sql

K1, B = 1.2, 0.75
TOL = 1e-4  # the gates compare scores rounded to 4 decimals


def _double(x: float) -> str:
    # a bare literal would be a DECIMAL, which overflows in products
    return f"CAST({float(x)!r} AS DOUBLE)"


def _sql_list(terms) -> str:
    return ", ".join("'" + t.replace("'", "''") + "'" for t in terms)


class Oracle:
    def __init__(self, threads: int):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {int(threads)}")

    def close(self) -> None:
        self.con.close()

    def load(self, docs: pd.DataFrame) -> None:
        """docs: doc_id, url, text, live — every document of the index."""
        con = self.con
        con.register("docs_in", docs[["doc_id", "url", "text", "live"]])
        con.execute("CREATE OR REPLACE TABLE documents AS SELECT * FROM docs_in")
        con.unregister("docs_in")
        con.execute(f"CREATE OR REPLACE TABLE tok AS {tok_cte('duckdb')}")
        qdl = quantized_doclen_sql("dl", dialect="duckdb")
        con.execute(
            "CREATE OR REPLACE TABLE qdl AS SELECT doc_id, "
            f"{qdl} AS qdl FROM (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id)"
        )
        self.n, self.avgdl = con.execute(
            "SELECT CAST((SELECT COUNT(*) FROM documents) AS DOUBLE), "
            "CAST((SELECT CAST(COUNT(*) AS DOUBLE) FROM tok) / "
            "(SELECT COUNT(*) FROM documents) AS REAL)"
        ).fetchone()
        self.live = set(
            con.execute("SELECT doc_id FROM documents WHERE live").df()["doc_id"].tolist()
        )

    def dictionary(self) -> pd.DataFrame:
        """term, df, ttf over every indexed document (the index's term table)."""
        return self.con.execute(
            "SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df, "
            "CAST(COUNT(*) AS BIGINT) AS ttf FROM tok GROUP BY term"
        ).df()

    def bigrams(self, doc_ids) -> list[tuple[str, str]]:
        """Adjacent (pre-stop position) term pairs of the given documents."""
        ids = ",".join(str(int(d)) for d in doc_ids) or "-1"
        return [
            tuple(r)
            for r in self.con.execute(
                "SELECT a.term, b.term FROM tok a JOIN tok b "
                "ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 "
                f"WHERE a.doc_id IN ({ids}) AND a.term <> b.term "
                "ORDER BY a.doc_id, a.pos"
            ).fetchall()
        ]

    def stale_terms(self, doc_ids) -> list[str]:
        """Terms of the given documents that no live document contains."""
        ids = ",".join(str(int(d)) for d in doc_ids) or "-1"
        return [
            r[0]
            for r in self.con.execute(
                f"SELECT DISTINCT term FROM tok WHERE doc_id IN ({ids}) AND term NOT IN "
                "(SELECT t.term FROM tok t JOIN documents d ON d.doc_id = t.doc_id WHERE d.live) "
                "ORDER BY 1"
            ).fetchall()
        ]

    def _norm(self) -> str:
        return f"({K1} * ((1.0 - {B}) + {B} * q.qdl / {_double(self.avgdl)}))"

    def _idf(self, df: str) -> str:
        return f"LN(1.0 + ({_double(self.n)} - {df} + 0.5) / ({df} + 0.5))"

    def _term_scores(self, term: str) -> pd.Series:
        sql = f"""
WITH tf AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok
            WHERE term = {_sql_list([term])} GROUP BY doc_id),
dfv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS df FROM tf)
SELECT tf.doc_id, {self._idf('dfv.df')} * ({K1} + 1.0) * tf.tf
       / (tf.tf + {self._norm()}) AS s
FROM tf CROSS JOIN dfv JOIN qdl q ON q.doc_id = tf.doc_id"""
        df = self.con.execute(sql).df()
        return pd.Series(df["s"].to_numpy(), index=df["doc_id"].to_numpy())

    def _phrase_scores(self, terms: list[str]) -> pd.Series:
        """Exact phrase: freq of aligned positions, summed idf (unique terms)."""
        joins = " ".join(
            f"JOIN tok t{i} ON t{i}.doc_id = t0.doc_id AND t{i}.pos = t0.pos + {i}"
            for i in range(1, len(terms))
        )
        where = " AND ".join(
            f"t{i}.term = {_sql_list([t])}" for i, t in enumerate(terms)
        )
        idfs = self.con.execute(
            f"SELECT term, {self._idf('CAST(COUNT(DISTINCT doc_id) AS DOUBLE)')} "
            f"FROM tok WHERE term IN ({_sql_list(set(terms))}) GROUP BY term"
        ).fetchall()
        if len(idfs) < len(set(terms)):
            return pd.Series(dtype=float)
        idf_sum = sum(v for _, v in idfs)
        sql = f"""
WITH pf AS (SELECT t0.doc_id, CAST(COUNT(*) AS DOUBLE) AS f FROM tok t0 {joins}
            WHERE {where} GROUP BY t0.doc_id)
SELECT pf.doc_id, {_double(idf_sum)} * ({K1} + 1.0) * pf.f / (pf.f + {self._norm()}) AS s
FROM pf JOIN qdl q ON q.doc_id = pf.doc_id"""
        df = self.con.execute(sql).df()
        return pd.Series(df["s"].to_numpy(), index=df["doc_id"].to_numpy())

    def ranking(self, clauses: list[tuple[str, str, list[str]]], msm: int = 0) -> pd.DataFrame:
        """Every live matching doc, ordered by score desc then doc_id asc.

        clauses: (occur, kind, terms) with occur MUST / SHOULD / MUST_NOT and
        kind "term" (one term) or "phrase". Lucene BooleanQuery semantics:
        every MUST matches; without MUST at least one SHOULD (or `msm` of
        them) matches; no MUST_NOT matches; score = sum of matched MUST and
        SHOULD clause scores."""
        scored: dict[str, list[pd.Series]] = {"MUST": [], "SHOULD": [], "MUST_NOT": []}
        for occur, kind, terms in clauses:
            s = self._term_scores(terms[0]) if kind == "term" else self._phrase_scores(terms)
            scored[occur].append(s)
        must, should = scored["MUST"], scored["SHOULD"]
        if must:
            cand = set.intersection(*(set(s.index) for s in must))
        else:
            cand = set().union(*(set(s.index) for s in should))
        if msm:
            n_should = pd.Series(0, index=sorted(cand))
            for s in should:
                n_should = n_should.add(pd.Series(1, index=s.index), fill_value=0)
            cand = {d for d in cand if n_should.get(d, 0) >= msm}
        for s in scored["MUST_NOT"]:
            cand -= set(s.index)
        cand &= self.live
        ids = np.array(sorted(cand), dtype=np.int64)
        total = np.zeros(len(ids))
        for s in must + should:
            total += s.reindex(ids).fillna(0.0).to_numpy()
        out = pd.DataFrame({"doc_id": ids, "score": total})
        return out.sort_values(["score", "doc_id"], ascending=[False, True], kind="stable")

    def self_check(self, terms: list[str], k: int = 10) -> bool:
        """The gates' own bm25_sql (restricted to live docs) ranks one SHOULD
        query exactly as `ranking` does."""
        gate = self.con.execute(
            bm25_sql("duckdb", terms, k=k, doc_filter="live")
        ).df()
        mine = self.ranking([("SHOULD", "term", [t]) for t in terms]).head(k)
        return gate["doc_id"].tolist() == mine["doc_id"].tolist() and bool(
            np.allclose(gate["score"].to_numpy(), mine["score"].round(4).to_numpy(), atol=TOL)
        )


def compare_topk(got: list[tuple[int, float]], ranking: pd.DataFrame, k: int = 10) -> str | None:
    """None when the engine's top-k equals the reference, else the reason.

    Scores must agree within TOL, an absolute 1e-4 (the gates' rounding to
    4 decimals); a doc may stand at a rank other than the reference's only
    inside a group of reference scores within TOL of each other (float32 vs
    float64 near-ties); equal engine scores must be in doc_id order."""
    ref_ids = ranking["doc_id"].to_numpy()
    ref_sc = ranking["score"].to_numpy()
    if len(got) != min(k, len(ref_ids)):
        return f"{len(got)} hits, reference has {min(k, len(ref_ids))}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate doc_id in top-k"
    for i, (doc, score) in enumerate(got):
        if abs(score - ref_sc[i]) > TOL:
            return f"rank {i}: score {score:.6f}, reference {ref_sc[i]:.6f}"
        if doc != ref_ids[i]:
            tied = ref_ids[np.abs(ref_sc - ref_sc[i]) <= TOL]
            if doc not in set(tied.tolist()):
                return f"rank {i}: doc {doc}, reference doc {int(ref_ids[i])}"
        if i and score == got[i - 1][1] and doc < got[i - 1][0]:
            return f"rank {i}: tie not broken by doc_id ascending"
    return None
