"""Unit tests: more_like_this, plain-highlighter snippets, multi_match."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from elasticsearch_aggregation_geoclustering_spark.functions.highlight import (
    highlight_first_match,
)
from elasticsearch_aggregation_geoclustering_spark.functions import bm25
from elasticsearch_aggregation_geoclustering_spark.plans import query
from elasticsearch_aggregation_geoclustering_spark.plans.index_build import build_index
from elasticsearch_aggregation_geoclustering_spark.plans.multimatch import (
    multi_match_best_fields,
    score_field,
)
from elasticsearch_aggregation_geoclustering_spark.plans.query import (
    InvertedIndex,
    bm25_search_docs,
)

SF_DIR = "/root/testdata/sf0.001"


TOY_ROWS = [
    (1, "apple apple banana cherry"),
    (2, "apple banana banana date"),
    (3, "cherry cherry cherry apple"),
    (4, "date egg fig grape"),
    (5, "apple banana cherry date egg"),
    (6, "banana cherry date egg fig"),
    (7, "apple apple apple banana"),
]


def _build_toy(spark, tmp_path_factory, rows):
    d = str(tmp_path_factory.mktemp("mltidx"))
    build_index(
        spark, spark.createDataFrame(rows, "orig_id long, text string"), d,
        content_col="text", key_cols=("orig_id",),
    )
    return InvertedIndex.open(spark, d)


@pytest.fixture(scope="module")
def toy_index(spark, tmp_path_factory):
    return _build_toy(spark, tmp_path_factory, TOY_ROWS)


@pytest.fixture(scope="module")
def null_toy_index(spark, tmp_path_factory):
    """The toy corpus plus one doc whose text is NULL (it counts toward N)."""
    return _build_toy(spark, tmp_path_factory, [*TOY_ROWS, (8, None)])


@pytest.fixture(params=["true", "false"])
def ansi(spark, request):
    """Run a test under one setting of ``spark.sql.ansi.enabled``, restored after."""
    key = "spark.sql.ansi.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield request.param
    spark.conf.set(key, old)


# --- more_like_this ----------------------------------------------------------


def test_mlt_term_selection_filters_and_ranks(toy_index):
    # tf: apple 2, banana 1, cherry 1 -> min_term_freq=2 keeps only apple
    terms = toy_index.more_like_this_terms(
        "apple apple banana cherry", min_term_freq=2, min_doc_freq=1
    )
    assert terms == ["apple"]
    # min_doc_freq prunes corpus-rare terms: "zebra" appears in 0 docs
    terms = toy_index.more_like_this_terms(
        "zebra zebra apple apple", min_term_freq=2, min_doc_freq=1
    )
    assert terms == ["apple"]
    # ranking: tf*(ln(N/(df+1))+1) — higher tf with equal df wins the cap
    terms = toy_index.more_like_this_terms(
        "fig fig fig date date", min_term_freq=2, min_doc_freq=1, max_query_terms=1
    )
    # fig tf=3 df=2; date tf=2 df=4 -> fig scores higher
    assert terms == ["fig"]
    with pytest.raises(ValueError):
        toy_index.more_like_this_terms("x", max_query_terms=0)


def test_mlt_excludes_source_and_ranks(toy_index):
    out = toy_index.more_like_this(
        "apple apple banana", k=10, exclude_doc_ids=None,
        min_term_freq=1, min_doc_freq=1,
    )
    ids = [r["doc_id"] for r in out.collect()]
    assert len(ids) >= 5  # apple or banana docs
    internal = ids[0]
    out2 = toy_index.more_like_this(
        "apple apple banana", k=10, exclude_doc_ids=[internal],
        min_term_freq=1, min_doc_freq=1,
    ).collect()
    assert internal not in {r["doc_id"] for r in out2}
    # no interesting terms -> empty frame, stable schema
    empty = toy_index.more_like_this("zzz qqq", min_term_freq=2, min_doc_freq=1)
    assert empty.count() == 0 and empty.columns == ["doc_id", "score"]


# --- highlight ---------------------------------------------------------------


def test_highlight_wraps_first_match(spark):
    df = spark.createDataFrame(
        [
            (1, "The QUICK brown-fox jumps; spark window functions rule"),
            (2, "no match here at all"),
            (3, "window spark"),  # window occurs first -> window wrapped
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["snip"]
        for r in df.select(
            "doc_id",
            highlight_first_match(F.col("text"), ["spark", "window"]).alias("snip"),
        ).collect()
    }
    assert "<em>spark</em>" in out[1] and "<em>window</em>" not in out[1]
    assert out[2] is None
    assert "<em>window</em>" in out[3] and "<em>spark</em>" not in out[3]


def test_highlight_fragment_window_and_validation(spark):
    long_text = ("x " * 200) + "needle" + (" y" * 200)
    df = spark.createDataFrame([(1, long_text)], "doc_id long, text string")
    snip = df.select(
        highlight_first_match(
            F.col("text"), ["needle"], frag_size=50, pad=10
        ).alias("s")
    ).collect()[0]["s"]
    assert len(snip) <= 50 + len("<em></em>")
    assert "<em>needle</em>" in snip
    with pytest.raises(ValueError):
        highlight_first_match(F.col("text"), [])
    with pytest.raises(ValueError):
        highlight_first_match(F.col("text"), ["x"], frag_size=10, pad=10)


# --- multi_match -------------------------------------------------------------


#: grape has df=1 in the toy corpus, and at N=7 math.log and np.log give that
#: idf different last bits: a scorer with an idf of its own drifts there
TOY_TERMS = ["apple", "banana", "grape"]


def _by_orig_id(index, scored) -> dict:
    ids = {r["doc_id"]: r["orig_id"] for r in index.docmap().collect()}
    return {ids[r["doc_id"]]: r["score"] for r in scored.collect()}


def _scores(df) -> dict:
    return {r["doc_id"]: r["score"] for r in df.collect()}


def _assert_index_free_equals_index(spark, index, rows, params=bm25.Bm25Params()):
    """score_field, bm25_search_docs (OR, AND) and one-field multi_match
    return the index's scores bit for bit over the same docs."""
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = _by_orig_id(index, index.score_matches(TOY_TERMS, params=params))
    assert _scores(score_field(docs, TOY_TERMS, params=params)) == want
    for mode in ("OR", "AND"):
        top = _by_orig_id(index, index.search(TOY_TERMS, k=10, mode=mode, params=params))
        got = bm25_search_docs(docs, TOY_TERMS, text_col="text", k=10, mode=mode, params=params)
        assert _scores(got) == top, mode
    top = _by_orig_id(index, index.search(TOY_TERMS, k=10, params=params))
    got = multi_match_best_fields(docs, TOY_TERMS, ["text"], k=10, params=params)
    assert _scores(got) == top


def test_score_field_matches_index_scores(spark, toy_index):
    """The index-free scorers reproduce the index's BM25 exactly on the same field."""
    _assert_index_free_equals_index(spark, toy_index, TOY_ROWS)


def test_index_free_scores_with_null_text_equal_index(spark, null_toy_index, ansi):
    """A NULL-text doc has dl = 0 and still counts toward N under both ANSI
    settings (``size(NULL)`` is -1 with ANSI off)."""
    _assert_index_free_equals_index(spark, null_toy_index, [*TOY_ROWS, (8, None)])


def test_index_free_scores_equal_index_at_k1_zero(spark, toy_index):
    """k1 = 0 makes tf/(tf + norm) 0/0 where tf = 0; like the index, only a
    doc's present terms are scored, so there is no division by zero."""
    _assert_index_free_equals_index(spark, toy_index, TOY_ROWS, bm25.Bm25Params(k1=0.0))


def test_index_free_scorers_reject_lucene_norms(spark):
    docs = spark.createDataFrame(TOY_ROWS, "doc_id long, text string")
    norms = bm25.Bm25Params(lucene_norms=True)
    with pytest.raises(ValueError, match="lucene_norms"):
        score_field(docs, ["apple"], params=norms)
    with pytest.raises(ValueError, match="lucene_norms"):
        bm25_search_docs(docs, ["apple"], text_col="text", params=norms)
    with pytest.raises(ValueError, match="lucene_norms"):
        multi_match_best_fields(docs, ["apple"], ["text"], params=norms)


#: the BM25 expression of the indexed read path on the toy index, ``{idf}``
#: standing for each row's idf lookup
TOY_BM25_SQL = (
    "({idf} * (CAST(tf AS DOUBLE) / (CAST(tf AS DOUBLE) + (1.2D * ((1.0D - 0.75D)"
    " + ((0.75D * CAST(dl AS DOUBLE)) / 4.285714285714286D))))))"
)
TOY_IDFS = {"apple": 0.3746934494414107, "banana": 0.3746934494414107, "grape": 1.6739764335716714}


def test_indexed_bm25_sql_text_pinned(toy_index, monkeypatch):
    """score_matches, search_batch and explain splice the one BM25 expression
    the index-free scorers also use; pin its text on the indexed path so an
    edit made for the index-free callers cannot change it."""
    idf_maps, texts = [], []
    idf_sql, bm25_sql = query._idf_sql, query._bm25_sql

    def record_idf(idfs):
        idf_maps.append(dict(idfs))
        return idf_sql(idfs)

    def record_bm25(idf, *args, **kwargs):
        texts.append((idf, bm25_sql(idf, *args, **kwargs)))
        return texts[-1][1]

    monkeypatch.setattr(query, "_idf_sql", record_idf)
    monkeypatch.setattr(query, "_bm25_sql", record_bm25)
    toy_index.score_matches(TOY_TERMS)
    toy_index.search_batch([["apple", "grape"], ["banana"]], k=3)
    toy_index.explain(1, ["apple", "grape"])
    assert idf_maps == [
        TOY_IDFS,
        TOY_IDFS,
        {t: TOY_IDFS[t] for t in ("apple", "grape")},
    ]
    all3 = (
        "element_at(map('apple', 0.3746934494414107D, 'banana', 0.3746934494414107D,"
        " 'grape', 1.6739764335716714D), term)"
    )
    two = "element_at(map('apple', 0.3746934494414107D, 'grape', 1.6739764335716714D), term)"
    assert [idf for idf, _text in texts] == [all3, all3, two]
    for idf, text in texts:
        assert text == TOY_BM25_SQL.replace("{idf}", idf)


def test_idf_sql_ignores_dict_order():
    """The idf map text lists its pairs in term order, whatever the dict's
    insertion (and so hash-seeded set iteration) order."""
    fwd = dict(TOY_IDFS)
    rev = dict(reversed(list(TOY_IDFS.items())))
    assert list(fwd) != list(rev)
    assert query._idf_sql(fwd) == query._idf_sql(rev)


def test_multi_match_tie_breaker_semantics(spark):
    docs = spark.createDataFrame(
        [
            (1, "apple", "banana"),   # matches f1 only on 'apple'
            (2, "banana", "apple"),   # matches f2 only
            (3, "apple", "apple"),    # matches both
        ],
        "doc_id long, f1 string, f2 string",
    )
    s1 = {r["doc_id"]: r["score"] for r in score_field(docs, ["apple"], text_col="f1").collect()}
    s2 = {r["doc_id"]: r["score"] for r in score_field(docs, ["apple"], text_col="f2").collect()}
    for tie in (0.0, 0.5):
        got = {
            r["doc_id"]: r["score"]
            for r in multi_match_best_fields(
                docs, ["apple"], ["f1", "f2"], k=10, tie_breaker=tie
            ).collect()
        }
        for d in (1, 2, 3):
            a, b = s1.get(d, 0.0), s2.get(d, 0.0)
            want = max(a, b) + tie * (a + b - max(a, b))
            assert got[d] == pytest.approx(want, rel=1e-12), (d, tie)
    with pytest.raises(ValueError):
        multi_match_best_fields(docs, ["apple"], ["f1"], tie_breaker=1.5)
    with pytest.raises(ValueError):
        multi_match_best_fields(docs, ["apple"], [])


def test_multi_match_field_with_no_tokens(spark, ansi):
    """A field no doc has a token in (avgdl 0) adds nothing: no division by
    zero under ANSI, no NaN without it."""
    docs = spark.createDataFrame(
        [(1, "", "apple"), (2, None, "apple banana"), (3, None, "banana")],
        "doc_id long, f1 string, f2 string",
    )
    want = _scores(score_field(docs, ["apple"], text_col="f2"))
    got = _scores(multi_match_best_fields(docs, ["apple"], ["f1", "f2"], k=10, tie_breaker=0.5))
    assert got == want and set(got) == {1, 2}
