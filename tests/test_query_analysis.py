"""Query-time analysis of a default (tokenizer='jvm') index: `jvm_analyze`
must produce exactly the terms and positions the index build's
`tokens_with_positions` emits, so a CJK run the index keeps whole is also
one query term."""

import pytest

from lucene_solr_spark.analysis.analyzer import jvm_analyze, tokens_with_positions

TEXTS = [
    "The quick brown fox",
    "Hello, World! U.S.A. o'brien 3.14 1,000 naïve café",
    "日本 東京 tokyo",
    "日本の首都は東京です",
    "カタカナ ひらがな ハングル 한국어",
    "ΣΟΦΟΣ İstanbul Straße",
    "हिन्दी العربية",
    "a_b x-ray it's " + "z" * 300 + " end",
    "",
]


def test_jvm_analyze_matches_index_tokens(spark):
    rows = [(i, t) for i, t in enumerate(TEXTS)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = tokens_with_positions(df).collect()
    index_side = {i: [] for i in range(len(TEXTS))}
    for r in sorted(got, key=lambda r: (r.doc_id, r.pos)):
        index_side[r.doc_id].append((r.pos, r.term))
    for i, text in enumerate(TEXTS):
        assert jvm_analyze(text) == index_side[i], text


@pytest.fixture(scope="module")
def cjk_searcher(spark, tmp_path_factory):
    from lucene_solr_spark.index.build import build_index
    from lucene_solr_spark.query.executor import Searcher

    pages = spark.createDataFrame(
        [("u0", "日本 東京 tokyo"), ("u1", "日曜 本屋"), ("u2", "plain latin text")],
        "url string, text string",
    )
    paths = build_index(spark, pages, str(tmp_path_factory.mktemp("cjk_idx")))
    return Searcher(spark, paths)


def test_cjk_query_term_hits_default_index(cjk_searcher):
    s = cjk_searcher
    assert s.meta.get("tokenizer", "jvm") == "jvm"
    assert s.analyze_query("日本") == ["日本"]
    hits = s.search("日本", k=10).collect()
    assert [r.doc_id for r in hits] == [0]
    assert [r.doc_id for r in s.search("Latin", k=10).collect()] == [2]
