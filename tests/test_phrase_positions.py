"""Positional postings (pos_vb) and exact match_phrase queries (H3+/H5+).

The reference's host engine (Lucene) stores term positions for text fields
by default; ES match_phrase consumes them.  These tests pin the Spark
implementation against a transparent pure-Python truth.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from elasticsearch_aggregation_geoclustering_spark.functions.tokenizer import (
    doc_term_positions,
    tokenize_python,
)
from elasticsearch_aggregation_geoclustering_spark.plans.index_build import (
    build_index,
    merge_segments,
)
from elasticsearch_aggregation_geoclustering_spark.plans.query import InvertedIndex

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "quick brown foxes jump; the quick brown fox rests"),
    (2, "brown quick fox"),
    (3, ""),
    (4, "fox fox fox quick brown fox"),
    (5, "a b a b a b"),
]


def _python_positions(texts):
    out = {}
    for i, t in texts:
        toks = tokenize_python(t)
        for p, tok in enumerate(toks):
            out.setdefault((i, tok), []).append(p)
    return out


def _python_phrase(texts, phrase):
    got = {}
    k = len(phrase)
    for i, t in texts:
        toks = tokenize_python(t)
        c = sum(
            1
            for s in range(len(toks) - k + 1)
            if all(toks[s + j] == phrase[j] for j in range(k))
        )
        if c:
            got[i] = c
    return got


def test_doc_term_positions_roundtrip_pandas():
    import pandas as pd

    texts = pd.Series([t for _, t in DOCS])
    frame, pos = doc_term_positions(texts)
    # reassemble per (row, term) and compare with the scalar tokenizer
    truth = _python_positions(list(enumerate(texts)))
    cum = 0
    for _, r in frame.iterrows():
        got = list(pos[cum : cum + r["tf"]])
        assert got == truth[(r["row"], r["term"])]
        cum += r["tf"]
    assert cum == len(pos)


@pytest.fixture(scope="module")
def small_index(spark):
    d = tempfile.mkdtemp(prefix="posidx_")
    docs = spark.createDataFrame(DOCS, "orig_id long, text string")
    build_index(
        spark, docs, d, content_col="text", key_cols=("orig_id",), docs_per_segment=2
    )
    yield InvertedIndex.open(spark, d)
    shutil.rmtree(d, ignore_errors=True)


def test_term_position_rows_match_python(spark, small_index):
    rows = small_index.term_position_rows(["quick", "fox", "brown"]).collect()
    dm = {r["doc_id"]: r["orig_id"] for r in small_index.docmap().collect()}
    got = {}
    for r in rows:
        got.setdefault((dm[r["doc_id"]], r["term"]), []).append(r["pos"])
    truth = _python_positions(DOCS)
    for key, poss in got.items():
        assert sorted(poss) == truth[key], key
    want_keys = {k for k in truth if k[1] in {"quick", "fox", "brown"}}
    assert set(got) == want_keys


@pytest.mark.parametrize(
    "phrase",
    [["quick", "brown"], ["quick", "brown", "fox"], ["fox", "fox"], ["a", "b", "a"]],
)
def test_phrase_occurrences_match_python(spark, small_index, phrase):
    dm = {r["doc_id"]: r["orig_id"] for r in small_index.docmap().collect()}
    occ = {
        dm[r["doc_id"]]: r["ptf"]
        for r in small_index._phrase_occurrences(phrase).collect()
    }
    assert occ == _python_phrase(DOCS, phrase)
    assert small_index.phrase_match_count(phrase) == len(_python_phrase(DOCS, phrase))


def test_phrase_absent_term_matches_nothing(spark, small_index):
    assert small_index.phrase_match_count(["quick", "zebra"]) == 0
    assert small_index.phrase_search(["quick", "zebra"], k=5).count() == 0
    assert small_index.phrase_match_count([]) == 0


def test_phrase_search_scores_rank(spark, small_index):
    top = small_index.phrase_search(["quick", "brown"], k=10).collect()
    dm = {r["doc_id"]: r["orig_id"] for r in small_index.docmap().collect()}
    ids = [dm[r["doc_id"]] for r in top]
    # doc 1 has ptf=2 and short dl -> must rank first; all scores positive desc
    assert ids[0] == 1
    scores = [r["score"] for r in top]
    assert scores == sorted(scores, reverse=True)
    assert set(ids) == set(_python_phrase(DOCS, ["quick", "brown"]))


def test_merge_preserves_positions(spark, small_index):
    out = tempfile.mkdtemp(prefix="posmerge_")
    try:
        merge_segments(spark, small_index.index_dir, out, fanin=8)
        merged = spark.read.parquet(os.path.join(out, "segments"))
        orig = spark.read.parquet(
            os.path.join(small_index.index_dir, "segments")
        )
        from elasticsearch_aggregation_geoclustering_spark.functions import codec
        import numpy as np

        def positions_of(df):
            got = {}
            for r in df.collect():
                tfs = codec.varbyte_decode(r["tfs_vb"]).astype(np.int64)
                ids = codec.decode_posting_ids(r["doc_ids_vb"])
                starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
                pos = codec.segmented_delta_decode(
                    codec.varbyte_decode(r["pos_vb"]), starts
                )
                cum = 0
                for did, tf in zip(ids, tfs):
                    got[(r["term"], int(did))] = list(pos[cum : cum + tf])
                    cum += tf
            return got

        assert positions_of(merged) == positions_of(orig)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _python_phrase_prefix(texts, phrase, max_expansions):
    """Transparent truth for match_phrase_prefix: expansion = first
    max_expansions dictionary terms with the prefix in TERM order; a start
    matches iff fixed terms sit at their offsets and ANY expanded term sits
    at the last offset."""
    vocab = sorted({t for _, txt in texts for t in tokenize_python(txt)})
    exp = [t for t in vocab if t.startswith(phrase[-1])][:max_expansions]
    counts = {}
    for i, txt in texts:
        toks = tokenize_python(txt)
        n = 0
        for p in range(len(toks) - len(phrase) + 1):
            if all(toks[p + j] == phrase[j] for j in range(len(phrase) - 1)) and toks[
                p + len(phrase) - 1
            ] in exp:
                n += 1
        if n:
            counts[i] = n
    return counts, exp


@pytest.mark.parametrize(
    "phrase,max_exp",
    [
        (["quick", "brown", "fox"], 50),   # fox, foxes both match
        (["quick", "brown", "fox"], 1),    # cap -> only 'fox' (term order)
        (["the", "quick"], 50),
        (["fox", "f"], 50),                # fox fox / fox foxes runs
        (["b"], 2),                        # single-position phrase = prefix
    ],
)
def test_phrase_prefix_matches_python(spark, small_index, phrase, max_exp):
    idx = small_index
    want, exp = _python_phrase_prefix(DOCS, phrase, max_exp)
    occ = {
        r["doc_id"]: r["ptf"]
        for r in idx._phrase_occurrences_from_offsets(
            idx._phrase_prefix_offsets(phrase, max_exp) or [], len(phrase)
        ).collect()
    } if exp else {}
    dm = {r["doc_id"]: r["orig_id"] for r in idx.docmap().collect()}
    assert {dm[d]: n for d, n in occ.items()} == want, (phrase, max_exp, exp)
    assert idx.phrase_prefix_match_count(phrase, max_expansions=max_exp) == len(want)


def test_phrase_prefix_empty_expansion_and_scoring(spark, small_index):
    idx = small_index
    assert idx.phrase_prefix_match_count(["quick", "zz"]) == 0
    assert idx.phrase_prefix_search(["quick", "zz"], k=5).count() == 0
    # scored: rank by ptf/dl like the phrase scorer; idf sums fixed + exp
    rows = idx.phrase_prefix_search(["quick", "brown", "f"], k=10).collect()
    assert rows and all(
        rows[i]["score"] >= rows[i + 1]["score"] for i in range(len(rows) - 1)
    )
    want, _ = _python_phrase_prefix(DOCS, ["quick", "brown", "f"], 50)
    dm = {r["doc_id"]: r["orig_id"] for r in idx.docmap().collect()}
    assert sorted(dm[r["doc_id"]] for r in rows) == sorted(want)
    with pytest.raises(ValueError, match="max_expansions"):
        idx.phrase_prefix_match_count(["quick", "b"], max_expansions=0)
