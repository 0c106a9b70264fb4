"""Single-slice plan == the distributed plan.

Placement (executor.Searcher._single_slice) runs a query whose dictionary
Σdf / Σttf fit SINGLE_SLICE_POSTINGS / SINGLE_SLICE_POSITIONS as one
coalesced kernel; the correctness contract is bit-identical (doc_id,
float32 score) output versus the distributed plan it replaces. The
distributed plan is forced per call by setting both budgets to 0.
"""

import pytest

from lucene_solr_spark.index.build import build_index
from lucene_solr_spark.query import executor
from lucene_solr_spark.query.executor import Searcher
from tests.test_index_e2e import make_corpus


def _both_plans(monkeypatch, run):
    """(single-slice rows, distributed rows) of one query."""
    fast = run().toPandas()
    with monkeypatch.context() as m:
        m.setattr(executor, "SINGLE_SLICE_POSTINGS", 0)
        m.setattr(executor, "SINGLE_SLICE_POSITIONS", 0)
        dist = run().toPandas()
    return fast, dist


def _assert_identical(fast, dist):
    assert list(fast["doc_id"]) == list(dist["doc_id"])
    assert list(fast["score"]) == list(dist["score"])


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    corpus = make_corpus(n=150, seed=13)
    rows = [(u, t, 1000) for u, t in corpus.items()]
    pages = spark.createDataFrame(rows, "url string, text string, warc_ts long")
    out = str(tmp_path_factory.mktemp("ss_idx"))
    paths = build_index(spark, pages, out, num_segments=2, positions=False)
    return Searcher(spark, paths)


CASES = [
    dict(should=["fast", "dog"]),
    dict(should=["fast", "dog", "cat"], min_should_match=2),
    dict(must=["fast", "dog"]),
    dict(must=["fast"], must_not=["cat"]),
    dict(must=["fast"], should=["dog", "cat"]),
    dict(must=["fast"], must_not=["zzznope"]),
    dict(should=["zzznope", "qqqnope"]),
]


@pytest.mark.parametrize("case", CASES)
def test_fast_path_matches_distributed(index, case, monkeypatch):
    _assert_identical(*_both_plans(monkeypatch, lambda: index.boolean_search(k=50, **case)))


@pytest.mark.parametrize("case", CASES)
def test_fast_path_matches_distributed_with_filter(index, case, monkeypatch):
    s = index
    docs = s.docs.select("doc_id").where("doc_id % 3 = 0")
    fast, dist = _both_plans(
        monkeypatch, lambda: s.boolean_search(k=50, filter_docs=docs, **case)
    )
    _assert_identical(fast, dist)
    assert all(d % 3 == 0 for d in fast["doc_id"])


@pytest.fixture(scope="module")
def tomb_index(spark, tmp_path_factory):
    from lucene_solr_spark.index.deletes import delete_by_term

    corpus = make_corpus(n=150, seed=13)
    rows = [(u, t, 1000) for u, t in corpus.items()]
    pages = spark.createDataFrame(rows, "url string, text string, warc_ts long")
    out = str(tmp_path_factory.mktemp("ss_tomb_idx"))
    paths = build_index(spark, pages, out, num_segments=2, positions=False)
    assert delete_by_term(spark, paths, "dog") > 0
    return Searcher(spark, paths)


@pytest.mark.parametrize("case", CASES)
def test_fast_path_matches_distributed_with_tombstones(tomb_index, case, monkeypatch):
    s = tomb_index
    assert s._deletes is not None
    fast, dist = _both_plans(monkeypatch, lambda: s.boolean_search(k=50, **case))
    _assert_identical(fast, dist)
    dead = {r.doc_id for r in s._deletes.collect()}
    assert not dead & set(fast["doc_id"])


@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory):
    corpus = make_corpus(n=150, seed=13)
    rows = [(u, t, 1000) for u, t in corpus.items()]
    pages = spark.createDataFrame(rows, "url string, text string, warc_ts long")
    out = str(tmp_path_factory.mktemp("ss_pos_idx"))
    paths = build_index(spark, pages, out, num_segments=2, positions=True)
    return Searcher(spark, paths)


@pytest.mark.parametrize("phrase,slop", [
    (["fast", "dog"], 0),
    (["fast", "dog"], 2),
    (["fast", "dog", "cat"], 3),
    (["fast"], 0),
    (["fast", "fast"], 0),
])
def test_phrase_fast_path_matches_distributed(pos_index, phrase, slop, monkeypatch):
    s = pos_index
    _assert_identical(
        *_both_plans(monkeypatch, lambda: s.phrase_search(phrase, k=1000, slop=slop))
    )


PARSED = [
    '+fast -slow "fast dog" cat^2',
    'fast AND dog',
    '+fast +dog -"slow cat"',
    'fast^3 dog "dog cat"',
    '"fast dog" OR "dog cat"',
    '+zzznope fast',
    'fast -zzznope',
    '"fast fast" dog',
]


@pytest.mark.parametrize("q", PARSED)
def test_parsed_fast_path_matches_distributed(pos_index, q, monkeypatch):
    _assert_identical(*_both_plans(monkeypatch, lambda: pos_index.query(q, k=100)))


def test_repeated_term_phrase_scores_alike_on_every_path(pos_index, monkeypatch):
    """One phrase weight: `"fast fast"` scores the same through the parser
    (either plan) and through phrase_search."""
    s = pos_index
    parsed, parsed_dist = _both_plans(monkeypatch, lambda: s.query('"fast fast"', k=100))
    _assert_identical(parsed, parsed_dist)
    _assert_identical(parsed, s.phrase_search(["fast", "fast"], k=100).toPandas())


def test_fast_path_engages_and_big_df_declines(index, monkeypatch):
    s = index
    tinfo = s.lookup_terms(["fast", "dog"])
    postings = int(tinfo["df"].sum())

    def plan():
        q = s.boolean_search(should=["fast", "dog"], k=10)
        return q._jdf.queryExecution().executedPlan().toString()

    assert s._single_slice(postings)
    assert "Coalesce" in plan() and "HashAggregate" not in plan()
    monkeypatch.setattr(executor, "SINGLE_SLICE_POSTINGS", postings - 1)
    assert not s._single_slice(postings)
    assert s._single_slice(postings - 1)
    assert "Coalesce" not in plan() and "HashAggregate" in plan()
    monkeypatch.setattr(executor, "SINGLE_SLICE_POSITIONS", 0)
    assert not s._single_slice(1, positions=1)
