"""search_batch: one-scan multi-query BM25 must be bit-identical to search()."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from elasticsearch_aggregation_geoclustering_spark.plans import aggs, query
from elasticsearch_aggregation_geoclustering_spark.plans.index_build import (
    build_index,
    delete_docs,
)
from elasticsearch_aggregation_geoclustering_spark.plans.query import InvertedIndex

DOCS = [
    (0, "spark window merge table value"),
    (1, "table value customer join hash"),
    (2, "spark spark spark merge"),
    (3, "window window value"),
    (4, "customer hash join join join"),
    (5, "merge table spark window"),
    (6, ""),
    (7, "value value value value table"),
]

QUERIES = [
    ["spark", "window", "merge"],
    ["table", "value", "customer"],
    ["join", "hash"],
    ["spark"],
    ["zebra", "spark"],  # partly unindexed
    ["zebra"],  # fully unindexed
]


@pytest.fixture(scope="module")
def index(spark):
    d = tempfile.mkdtemp(prefix="batchidx_")
    docs = spark.createDataFrame(DOCS, "orig_id long, text string")
    build_index(
        spark, docs, d, content_col="text", key_cols=("orig_id",), docs_per_segment=3
    )
    yield InvertedIndex.open(spark, d)
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("mode", ["OR", "AND"])
def test_batch_matches_per_query(spark, index, mode):
    batch = {
        r["query_id"]: []
        for r in spark.createDataFrame([(i,) for i in range(len(QUERIES))], "query_id int").collect()
    }
    got = index.search_batch(QUERIES, k=5, mode=mode).collect()
    for r in got:
        batch.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, terms in enumerate(QUERIES):
        want = [
            (r["doc_id"], r["score"])
            for r in index.search(terms, k=5, mode=mode).collect()
        ]
        have = sorted(batch.get(qid, []), key=lambda t: (-t[1], t[0]))
        assert have == want, (qid, terms, mode)  # bit-identical scores


def test_batch_empty_queries(spark, index):
    assert index.search_batch([], k=5).count() == 0
    assert index.search_batch([["zebra"], []], k=5).count() == 0


def test_batch_respects_deletes(spark, index):
    # tombstones must mask batch results exactly as they mask search()
    d = tempfile.mkdtemp(prefix="batchdel_")
    try:
        docs = spark.createDataFrame(DOCS, "orig_id long, text string")
        build_index(
            spark, docs, d, content_col="text", key_cols=("orig_id",),
            docs_per_segment=3,
        )
        idx = InvertedIndex.open(spark, d)
        victim = [
            r["doc_id"] for r in idx.docmap().where("orig_id = 2").collect()
        ]
        delete_docs(spark, d, victim)
        idx2 = InvertedIndex.open(spark, d)
        got = idx2.search_batch([["spark"]], k=10).collect()
        want = idx2.search(["spark"], k=10).collect()
        assert [(r["doc_id"], r["score"]) for r in sorted(got, key=lambda r: -r["score"])] == [
            (r["doc_id"], r["score"]) for r in want
        ]
        assert all(r["doc_id"] not in victim for r in got)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_minimum_should_match_semantics(spark, tmp_path):
    """ES bool minimum_should_match: msm=1 == OR, msm=len == AND, msm=2 is
    strictly between; scores unchanged (matched-term contributions sum)."""
    from elasticsearch_aggregation_geoclustering_spark.plans.index_build import (
        build_index,
    )
    from elasticsearch_aggregation_geoclustering_spark.plans.query import InvertedIndex

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma"),
            (1, "alpha beta"),
            (2, "alpha"),
            (3, "beta"),
            (4, "gamma delta"),
            (5, "delta"),
        ],
        "orig_id long, text string",
    )
    d = str(tmp_path / "msmidx")
    build_index(spark, docs, d, content_col="text", key_cols=("orig_id",), docs_per_segment=2)
    idx = InvertedIndex.open(spark, d)
    terms = ["alpha", "beta", "gamma"]
    assert idx.match_count(terms, minimum_should_match=1) == idx.match_count(terms, "OR") == 5
    assert idx.match_count(terms, minimum_should_match=3) == idx.match_count(terms, "AND") == 1
    assert idx.match_count(terms, minimum_should_match=2) == 2  # docs 0, 1
    # search: msm filters but does not rescore
    full = {r["doc_id"]: r["score"] for r in idx.search(terms, k=10).collect()}
    msm2 = {r["doc_id"]: r["score"] for r in idx.search(terms, k=10, minimum_should_match=2).collect()}
    assert set(msm2) < set(full)
    assert all(full[d_] == s_ for d_, s_ in msm2.items())
    import pytest as _pytest

    with _pytest.raises(ValueError, match="minimum_should_match"):
        idx.match_count(terms, minimum_should_match=4)
    with _pytest.raises(ValueError, match="minimum_should_match"):
        idx.search(terms, minimum_should_match=0).collect()


def test_fuzzy_and_prefix_queries(spark, tmp_path):
    from elasticsearch_aggregation_geoclustering_spark.plans.index_build import (
        build_index,
    )
    from elasticsearch_aggregation_geoclustering_spark.plans.query import InvertedIndex

    docs = spark.createDataFrame(
        [
            (0, "table cable stable"),
            (1, "tables fable"),
            (2, "tbale"),          # transposition = distance 2
            (3, "chair bench"),
            (4, "tab tables"),
        ],
        "orig_id long, text string",
    )
    d = str(tmp_path / "fuzidx")
    build_index(spark, docs, d, content_col="text", key_cols=("orig_id",), docs_per_segment=2)
    idx = InvertedIndex.open(spark, d)
    # distance-1 neighborhood of "table": cable, fable, stable (prepend s),
    # table, tables
    assert sorted(idx.expand_fuzzy("table", 1)) == [
        "cable", "fable", "stable", "table", "tables"
    ]
    assert idx.fuzzy_match_count("table", 1) == 3  # docs 0, 1, 4
    # Levenshtein counts transposition as 2 (plain edit distance, no
    # Damerau): "tbale" joins at fuzziness=2
    assert idx.fuzzy_match_count("table", 2) >= 4
    assert idx.expand_prefix("tab") == ["tab", "table", "tables"]
    assert idx.prefix_match_count("tab") == 3  # docs 0, 1, 4
    assert idx.prefix_match_count("zz") == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="prefix"):
        idx.expand_prefix("")
    with _pytest.raises(ValueError, match="fuzziness"):
        idx.expand_fuzzy("table", -1)
    # the prefix expansion's filter reaches the term_stats scan
    plan = (
        idx.term_stats().where(__import__("pyspark.sql.functions", fromlist=["col"]).col("term").startswith("tab"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "StringStartsWith" in plan


def test_expansion_cap_and_scored_multiterm(spark, tmp_path):
    """max_expansions (ES top_terms_N rewrite): the expansion keeps the cap
    highest-df terms (ties by term asc), the driver never collects more,
    and scored prefix/fuzzy/wildcard queries equal search() over exactly
    that expansion."""
    from elasticsearch_aggregation_geoclustering_spark.plans.index_build import (
        build_index,
    )
    from elasticsearch_aggregation_geoclustering_spark.plans.query import InvertedIndex

    docs = spark.createDataFrame(
        [
            # dfs: tab=1, table=4, tables=2, tablet=2, tabby=3
            (0, "table tabby tablet"),
            (1, "table tabby tables"),
            (2, "table tabby tablet"),
            (3, "table tables tab"),
            (4, "chair bench"),
        ],
        "orig_id long, text string",
    )
    d = str(tmp_path / "capidx")
    build_index(spark, docs, d, content_col="text", key_cols=("orig_id",), docs_per_segment=2)
    idx = InvertedIndex.open(spark, d)
    # uncapped expansion sees all five; df-ranked cap keeps top-3 by
    # (df desc, term asc): table(4), tabby(3), then the df=2 tie breaks to
    # 'tables' over 'tablet'
    assert idx.expand_prefix("tab", max_expansions=None) == [
        "tab", "tabby", "table", "tables", "tablet"
    ]
    assert sorted(idx.expand_prefix("tab", max_expansions=3)) == [
        "tabby", "table", "tables"
    ]
    assert idx.expand_prefix("tab", max_expansions=1) == ["table"]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_expansions"):
        idx.expand_prefix("tab", max_expansions=0)
    # scored prefix search == bool OR over exactly the capped expansion
    got = idx.prefix_search("tab", k=10, max_expansions=3).collect()
    want = idx.search(["tabby", "table", "tables"], k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]
    # match_count stays EXACT (constant_score over the full expansion —
    # never truncated by the scoring cap)
    assert idx.prefix_match_count("tab") == 4
    # wildcard / regexp term queries
    assert idx.expand_wildcard("tab*t") == ["tablet"]
    # * matches the EMPTY string too, so 'table' itself is in the expansion
    assert idx.expand_wildcard("tab?e*") == ["table", "tables", "tablet"]
    assert idx.wildcard_match_count("tab?e*") == 4  # docs 0..3
    assert idx.wildcard_match_count("*air") == 1  # chair, doc 4
    assert idx.regexp_match_count("tab(le|by)") == 4
    assert idx.regexp_match_count("(chair|bench)") == 1
    # regexp is whole-term anchored (Lucene semantics): 'able' alone
    # matches nothing even though it occurs inside 'table'
    assert idx.regexp_match_count("able") == 0
    # scored wildcard == OR-search over its expansion
    got_w = idx.wildcard_search("tab?e*", k=10).collect()
    want_w = idx.search(["table", "tables", "tablet"], k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in got_w] == [
        (r["doc_id"], r["score"]) for r in want_w
    ]
    # fuzzy cap: distance-1 neighborhood of 'table' = {table, tables};
    # cap 1 keeps the higher-df 'table'
    assert idx.expand_fuzzy("table", 1, max_expansions=1) == ["table"]


def _plan_nodes(df) -> list[str]:
    """Node names of ``df``'s executed plan, through AQE wrappers but not
    into a cached relation's stored lineage (an InMemoryTableScan is a
    leaf: a cache hit never re-executes what sits under it)."""

    def walk(node):
        if node.nodeName() == "AdaptiveSparkPlan":
            return walk(node.executedPlan())
        names = [node.nodeName()]
        it = node.children().iterator()
        while it.hasNext():
            names += walk(it.next())
        return names

    return walk(df._jdf.queryExecution().executedPlan())


def _hits(idx, terms):
    return idx.score_matches(terms).join(idx.docmap(), on="doc_id")


def _answers(idx, terms):
    """Every cached-reader answer shape, as plain rows for bitwise
    comparison: the ranked page, all hits joined to the docmap and the
    three aggregations over them."""
    hits = _hits(idx, terms).withColumn("parity", F.col("orig_id") % 2)
    return (
        [tuple(r) for r in idx.search(terms, k=5).collect()],
        sorted(tuple(r) for r in hits.select("doc_id", "score", "orig_id").collect()),
        [tuple(r) for r in aggs.extended_stats(hits, "orig_id", round_to=4).collect()],
        sorted(tuple(r) for r in aggs.histogram(hits, "score", 0.25).collect()),
        sorted(
            tuple(r)
            for r in aggs.top_hits(hits, "parity", [F.desc("score"), F.asc("doc_id")], 2)
            .select("parity", "doc_id", "score")
            .collect()
        ),
    )


def test_cache_postings_bit_identical(spark, index, monkeypatch):
    """cache_postings pins the decoded stream and the docmap co-partitioned
    by doc_id; every query path over them must return exactly the uncached
    results, the cached plan must be free of Python stages, and a
    terms-subset cache only serves covered queries.  The pins are forced
    to 3 partitions, so the partition-local fold and docmap join are
    checked where rows are spread over several partitions."""
    import shutil as _shutil
    import tempfile as _tempfile

    monkeypatch.setattr(query, "_partitions_for_rows", lambda rows_est: 3)
    d = _tempfile.mkdtemp(prefix="cacheidx_")
    try:
        docs = spark.createDataFrame(DOCS, "orig_id long, text string")
        build_index(
            spark, docs, d, content_col="text", key_cols=("orig_id",),
            docs_per_segment=3,
        )
        idx = InvertedIndex.open(spark, d)
        terms = ["spark", "window", "merge"]
        want_search = [(r["doc_id"], r["score"]) for r in idx.search(terms, k=5).collect()]
        want_count = idx.match_count(terms, "OR")
        want_batch = sorted(map(tuple, idx.search_batch(QUERIES, k=3).collect()))

        want_prefix = idx.prefix_match_count("s")
        want_wild = idx.wildcard_match_count("*dow")
        want_answers = _answers(idx, terms)
        idx.cache_postings()
        assert idx.docmap().rdd.getNumPartitions() == 3
        assert _answers(idx, terms) == want_answers
        nodes = _plan_nodes(_hits(idx, terms))
        assert "Exchange" not in nodes and "BroadcastExchange" not in nodes, nodes
        assert [(r["doc_id"], r["score"]) for r in idx.search(terms, k=5).collect()] == want_search
        assert idx.match_count(terms, "OR") == want_count
        # multi-term counts route through the whole-index cache too
        assert idx.prefix_match_count("s") == want_prefix
        assert idx.wildcard_match_count("*dow") == want_wild
        assert sorted(map(tuple, idx.search_batch(QUERIES, k=3).collect())) == want_batch
        # the cached per-query plan never leaves the JVM: everything ABOVE
        # the InMemoryTableScan is JVM-only (the MapInPandas that appears
        # BELOW it is the cached relation's stored lineage, which a cache
        # hit never re-executes)
        plan = idx.term_doc_rows(terms)._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
        above = plan.split("InMemoryTableScan", 1)[0]
        assert "EvalPython" not in above and "MapInPandas" not in above
        # lucene_norms queries bypass the cache (different dl encoding)
        import elasticsearch_aggregation_geoclustering_spark.functions.bm25 as _bm25

        ln = _bm25.Bm25Params(lucene_norms=True)
        got_ln = [(r["doc_id"], r["score"]) for r in idx.search(terms, k=5, params=ln).collect()]
        idx2 = InvertedIndex.open(spark, d)
        assert got_ln == [
            (r["doc_id"], r["score"]) for r in idx2.search(terms, k=5, params=ln).collect()
        ]
        # subset cache: covered queries hit it, uncovered fall back correctly
        idx3 = InvertedIndex.open(spark, d).cache_postings(["spark", "window"])
        assert [
            (r["doc_id"], r["score"]) for r in idx3.search(["spark", "window"], k=5).collect()
        ] == [(r["doc_id"], r["score"]) for r in idx2.search(["spark", "window"], k=5).collect()]
        assert idx3.match_count(terms, "OR") == want_count  # 'merge' uncovered
        # tombstones still mask cached rows
        victim = [r["doc_id"] for r in idx.docmap().where("orig_id = 2").collect()]
        delete_docs(spark, d, victim)
        idx4 = InvertedIndex.open(spark, d).cache_postings()
        assert all(r["doc_id"] not in victim for r in idx4.search(["spark"], k=10).collect())
        assert all(r["doc_id"] not in victim for r in _hits(idx4, ["spark"]).collect())
        assert _answers(idx4, terms) == _answers(InvertedIndex.open(spark, d), terms)
        # refresh drops both pins; the docmap is the plain relation again
        idx4.refresh()
        assert idx4._decoded_cache is None and idx4._pins == ()
        assert "InMemoryTableScan" not in _plan_nodes(idx4.docmap())
    finally:
        _shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def cached(spark, index):
    """A second reader over the module index with its postings cached."""
    reader = InvertedIndex.open(spark, index.index_dir).cache_postings()
    yield reader
    reader.refresh()


def test_cached_hits_plan_has_no_exchange(spark, cached):
    """At one pinned partition the cached BM25 fold and the docmap join
    are partition-local: no shuffle and no broadcast in the hits plan."""
    assert cached.docmap().rdd.getNumPartitions() == 1
    nodes = _plan_nodes(_hits(cached, ["spark", "window", "merge"]))
    assert "InMemoryTableScan" in nodes
    assert "Exchange" not in nodes and "BroadcastExchange" not in nodes, nodes


def test_cached_hits_collect_one_job(spark, index, cached):
    """Collecting the cached hits joined to the docmap runs ONE Spark job
    (a broadcast of the docmap or an exchange before the fold would each
    add jobs) and returns the uncached reader's rows bit for bit."""
    terms = ["spark", "window", "merge"]
    want = sorted(map(tuple, _hits(index, terms).collect()))
    sc = spark.sparkContext
    sc.setJobGroup("cached_hits_jobs", "cached hits collect")
    try:
        got = sorted(map(tuple, _hits(cached, terms).collect()))
    finally:
        sc.setJobGroup(None, None)
    assert got == want
    jobs = sc.statusTracker().getJobIdsForGroup("cached_hits_jobs")
    assert len(jobs) == 1, f"{len(jobs)} jobs"


def test_refresh_keeps_other_readers_cache(spark, index):
    """Two readers over one index cache the same relations; one reader's
    refresh must not drop the other's cache (Spark shares one cache entry
    between equal plans unless each reader's pins differ)."""
    a = InvertedIndex.open(spark, index.index_dir).cache_postings()
    b = InvertedIndex.open(spark, index.index_dir).cache_postings()
    try:
        b.refresh()
        assert "InMemoryTableScan" in _plan_nodes(a.term_doc_rows(["spark"]))
        assert "InMemoryTableScan" in _plan_nodes(a.docmap())
    finally:
        a.refresh()


def test_fuzzy_gram_index_identical_to_sweep(spark, tmp_path):
    """The q-gram secondary index (build_term_gram_index) must reproduce
    the full-sweep fuzzy expansion EXACTLY — the gram bound is a
    guaranteed superset, the Levenshtein refine makes it equal — while the
    probe's plan stays gram-pruned."""
    from elasticsearch_aggregation_geoclustering_spark.plans.index_build import (
        build_index,
        build_term_gram_index,
    )
    from elasticsearch_aggregation_geoclustering_spark.plans.query import InvertedIndex

    docs = spark.createDataFrame(
        [
            (0, "table cable stable tables tablet"),
            (1, "fable gable tale tbale able"),
            (2, "chair bench tab le a"),
            (3, "tale tales stale"),
        ],
        "orig_id long, text string",
    )
    d = str(tmp_path / "gramidx")
    build_index(spark, docs, d, content_col="text", key_cols=("orig_id",), docs_per_segment=2)
    plain = InvertedIndex.open(spark, d)
    sweep = {
        (q, k): plain.expand_fuzzy(q, k, max_expansions=None)
        for q in ("table", "tale", "able", "a")
        for k in (0, 1, 2)
    }
    build_term_gram_index(spark, d)
    gidx = InvertedIndex.open(spark, d)
    assert gidx._gram_index() is not None
    for (q, k), want in sweep.items():
        assert gidx.expand_fuzzy(q, k, max_expansions=None) == want, (q, k)
    # capped expansion agrees too (df-ranked boundary identical)
    for q in ("table", "tale"):
        assert gidx.expand_fuzzy(q, 2, max_expansions=3) == plain.expand_fuzzy(
            q, 2, max_expansions=3
        )
    # the probe prunes by gram membership (no full-dictionary levenshtein
    # before the gram filter); short queries degenerate to the sweep
    assert gidx.expand_fuzzy("a", 1, max_expansions=None) == sweep[("a", 1)]
    # refresh re-checks the artifact
    gidx.refresh()
    assert gidx.expand_fuzzy("table", 1) == plain.expand_fuzzy("table", 1)
