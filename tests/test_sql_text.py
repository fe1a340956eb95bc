"""SQL-text literals (``functions.sql_text``) and the read path built on them.

The search and aggregation plans splice terms, names and doubles into SQL
text.  These tests pin that a spliced value parses back to exactly itself
under both settings of ``spark.sql.parser.escapedStringLiterals``, that
aggregation bucket names and values come back exactly, and that search,
match_count and phrase_search over an index whose terms hold quotes,
backslashes, a newline, non-ASCII, ``${…}`` and an injection-shaped string
equal a pure-Python oracle, with the term filter still pushed into the
parquet scan.
"""

from __future__ import annotations

import math
import os
import re
import shutil
import struct
import tempfile

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from elasticsearch_aggregation_geoclustering_spark.functions import bm25
from elasticsearch_aggregation_geoclustering_spark.functions import sql_text as sql
from elasticsearch_aggregation_geoclustering_spark.functions.tokenizer import tokenize_python
from elasticsearch_aggregation_geoclustering_spark.plans import aggs, query
from elasticsearch_aggregation_geoclustering_spark.plans.index_build import build_index
from elasticsearch_aggregation_geoclustering_spark.sources import segments as seg_store

#: placeholder token → the term it is renamed to in the built index
HOSTILE = {
    "hq0": "it's",
    "hq1": "back\\slash",
    "hq2": "new\nline",
    "hq3": "café ü",
    "hq4": "') OR ('1'='1",
    "hq5": "${x} \\' '' \\n",
}
DOCS = [
    (0, "hq0 hq1 alpha hq2 hq0 hq1"),
    (1, "hq1 hq0 hq1 beta hq4"),
    (2, "alpha hq3 hq4 hq0 hq1 hq5"),
    (3, "hq4 hq4 gamma hq3 hq5"),
    (4, "beta gamma alpha"),
    (5, "hq2 hq2 hq0 hq1"),
]
TERMS = [*HOSTILE.values(), "alpha", "not' indexed"]
PHRASE = ["it's", "back\\slash"]


@pytest.fixture
def escaped_literals(spark, request):
    """Run a test under one setting of escapedStringLiterals."""
    key = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield request.param
    spark.conf.set(key, old)


@pytest.mark.parametrize("escaped_literals", ["false", "true"], indirect=True)
def test_string_literal_parses_back_exactly(spark, escaped_literals):
    values = [*HOSTILE.values(), "", "'", "\\", "$", "tab\there", "日本語"]
    got = spark.range(1).selectExpr(
        *[f"{sql.string(v)} AS c{i}" for i, v in enumerate(values)]
    ).first()
    assert list(got) == values


def test_double_literal_parses_back_bit_identical(spark):
    values = [0.1, 1 / 3, 5e-324, 1.7976931348623157e308, -0.0, 2.0, -1.5e-7,
              math.inf, -math.inf]
    got = spark.range(1).selectExpr(
        *[f"{sql.dbl(v)} AS c{i}" for i, v in enumerate(values)], f"{sql.dbl(math.nan)} AS n"
    ).first()
    bits = lambda x: struct.pack(">d", x)  # noqa: E731
    assert [bits(x) for x in list(got)[:-1]] == [bits(v) for v in values]
    assert math.isnan(got["n"])


def test_aggregation_keys_and_values_parse_back(spark):
    """Bucket names and values spliced into ``stack`` come back exactly: a
    quote in a name used to end its literal and fail the parse, and an
    infinite value was spelled ``infD``."""
    df = spark.range(10).selectExpr("CAST(id AS DOUBLE) AS v")
    names = ["it's", "back\\slash", "${x}"]
    ranges = [(n, 3.0 * i, None) for i, n in enumerate(names)]
    assert dict(map(tuple, aggs.range_agg(df, "v", ranges).collect())) == {
        "it's": 10, "back\\slash": 7, "${x}": 4,
    }
    filters = {n: F.col("v") < 3.0 * (i + 1) for i, n in enumerate(names)}
    assert dict(map(tuple, aggs.filters_agg(df, filters).collect())) == {
        "it's": 3, "back\\slash": 6, "${x}": 9,
    }
    assert dict(map(tuple, aggs.adjacency_matrix(df, filters).collect())) == {
        "${x}": 9, "back\\slash": 6, "it's": 3,
        "${x}&back\\slash": 6, "${x}&it's": 3, "back\\slash&it's": 3,
    }
    ranks = aggs.percentile_ranks(df, "v", [4.5, math.inf]).collect()
    assert [tuple(r) for r in ranks] == [(4.5, 50.0), (math.inf, 100.0)]


def _rename_terms(table):
    terms = [HOSTILE.get(t, t) for t in table.column("term").to_pylist()]
    table = table.set_column(table.schema.get_field_index("term"), "term", [terms])
    return table.sort_by("term")


@pytest.fixture(scope="module")
def hostile_index(spark):
    """An index built over placeholder tokens, then rewritten so that its
    dictionary holds the hostile terms (the tokenizer never emits them)."""
    d = tempfile.mkdtemp(prefix="hostile_")
    docs = spark.createDataFrame(DOCS, "orig_id long, text string")
    build_index(spark, docs, d, content_col="text", key_cols=("orig_id",), docs_per_segment=2)
    seg_dir = seg_store.segments_glob(d)
    for fn in os.listdir(seg_dir):
        path = os.path.join(seg_dir, fn)
        seg_store.write_segment_file(path, _rename_terms(pq.read_table(path)))
    ts_dir = os.path.join(d, "term_stats")
    for fn in os.listdir(ts_dir):
        if fn.endswith(".parquet"):
            path = os.path.join(ts_dir, fn)
            pq.write_table(_rename_terms(pq.read_table(path)), path)
            os.remove(os.path.join(ts_dir, f".{fn}.crc"))  # Spark's checksum of the old bytes
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _oracle(idx):
    """(postings, dl_by_doc, token lists by internal doc id)."""
    ids = {r["orig_id"]: r["doc_id"] for r in idx.docmap().collect()}
    toks = {ids[o]: [HOSTILE.get(t, t) for t in tokenize_python(text)] for o, text in DOCS}
    dl = np.zeros(max(toks) + 1, dtype=np.int64)
    postings: dict[str, dict[int, int]] = {}
    for doc, ts in sorted(toks.items()):
        dl[doc] = len(ts)
        for t in ts:
            postings.setdefault(t, {}).setdefault(doc, 0)
            postings[t][doc] += 1
    arrays = {
        t: (np.array(list(p), dtype=np.int64), np.array(list(p.values()), dtype=np.int64))
        for t, p in postings.items()
    }
    return arrays, dl, toks


def _phrase_oracle(idx, toks, dl, phrase):
    n = len(phrase)
    idf_sum = sum(float(bm25.idf(idx.n_docs, len(_docs_with(toks, t)))) for t in phrase)
    scores = []
    for doc, ts in toks.items():
        ptf = sum(ts[s : s + n] == phrase for s in range(len(ts) - n + 1))
        if ptf:
            scores.append((doc, float(idf_sum * bm25.tf_weight(ptf, dl[doc], idx.avgdl))))
    return sorted(scores, key=lambda x: (-x[1], x[0]))


def _docs_with(toks, term):
    return [d for d, ts in toks.items() if term in ts]


def _pushed_filters(df) -> str:
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)
    return re.search(r"PushedFilters: \[(.*?)\], ReadSchema", plan, re.S).group(1)


@pytest.mark.parametrize("escaped_literals", ["false", "true"], indirect=True)
def test_hostile_terms_match_oracle(spark, hostile_index, escaped_literals, monkeypatch):
    idx = query.InvertedIndex.open(spark, hostile_index)
    postings, dl, toks = _oracle(idx)
    for mode in ("OR", "AND"):
        terms = TERMS if mode == "OR" else PHRASE
        want = bm25.score_topk_numpy(postings, dl, idx.n_docs, idx.avgdl, terms, 10, mode)
        got = [(r["doc_id"], r["score"]) for r in idx.search(terms, k=10, mode=mode).collect()]
        assert got == want, mode
    assert len(want) > 1
    for msm in (1, 2):
        hits = [d for d, ts in toks.items() if len(set(TERMS) & set(ts)) >= msm]
        assert idx.match_count(TERMS, minimum_should_match=msm) == len(hits)
    got = [(r["doc_id"], r["score"]) for r in idx.phrase_search(PHRASE, k=10).collect()]
    assert got == _phrase_oracle(idx, toks, dl, PHRASE) and len(got) == 4
    pushed = _pushed_filters(idx.postings(TERMS))
    assert pushed == f"In(term, [{','.join(sorted(TERMS))}])"
    # a dictionary too large for the driver: df lookups filter term_stats
    monkeypatch.setattr(query, "DF_CACHE_MAX_TERMS", 0)
    big = query.InvertedIndex.open(spark, hostile_index)
    assert big.df_of(TERMS) == {t: len(_docs_with(toks, t)) for t in TERMS if t in postings}
