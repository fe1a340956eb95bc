"""Top-k tie-break at the k boundary: score desc, then doc_id asc.

Documents with identical content score bit-identically under BM25, so a k
that cuts through such a tied run must keep the smallest doc_ids — for
``search``, ``search_batch`` and ``phrase_search`` alike, whatever the
segment and partition layout.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest

from elasticsearch_aggregation_geoclustering_spark.plans.index_build import build_index
from elasticsearch_aggregation_geoclustering_spark.plans.query import InvertedIndex

#: ten identical docs (one exact BM25 tie) and, under the LARGEST key, one
#: shorter doc that outscores them — so the order is score first, doc_id second
TIED = [(i, "alpha beta gamma") for i in range(10)]
TOP = (99, "alpha beta")
K = 4  # inside the tied run: TOP plus the three smallest tied ids


@pytest.fixture(scope="module")
def index(spark):
    d = tempfile.mkdtemp(prefix="tieidx_")
    docs = spark.createDataFrame([*TIED, TOP], "orig_id long, text string").repartition(3)
    build_index(
        spark, docs, d, content_col="text", key_cols=("orig_id",), docs_per_segment=3
    )
    idx = InvertedIndex.open(spark, d)
    dm = {r["orig_id"]: r["doc_id"] for r in idx.docmap().collect()}
    yield idx, dm
    shutil.rmtree(d, ignore_errors=True)


def _expected(dm):
    tied_ids = sorted(dm[o] for o, _ in TIED)
    return [dm[TOP[0]], *tied_ids[: K - 1]]


def _check(rows, dm):
    ids = [r["doc_id"] for r in rows]
    scores = [r["score"] for r in rows]
    assert ids == _expected(dm)
    assert scores[0] > scores[1]
    assert len(set(scores[1:])) == 1  # an exact tie, not a near one


def test_search_keeps_smallest_doc_ids_in_a_tie(index):
    idx, dm = index
    _check(idx.search(["alpha"], k=K).collect(), dm)
    _check(idx.search(["alpha", "beta"], k=K, mode="AND").collect(), dm)


def test_search_after_continues_the_tied_run(index):
    idx, dm = index
    first = idx.search(["alpha"], k=K).collect()
    last = first[-1]
    page2 = idx.search(["alpha"], k=3, search_after=(last["score"], last["doc_id"])).collect()
    tied_ids = sorted(dm[o] for o, _ in TIED)
    assert [r["doc_id"] for r in page2] == tied_ids[K - 1 : K + 2]


def test_search_batch_keeps_smallest_doc_ids_in_a_tie(index):
    idx, dm = index
    rows = idx.search_batch([["alpha"], ["alpha", "beta"]], k=K).collect()
    for qid in (0, 1):
        got = sorted(
            (r for r in rows if r["query_id"] == qid),
            key=lambda r: (-r["score"], r["doc_id"]),
        )
        _check(got, dm)


def test_phrase_search_keeps_smallest_doc_ids_in_a_tie(index):
    idx, dm = index
    _check(idx.phrase_search(["alpha", "beta"], k=K).collect(), dm)
