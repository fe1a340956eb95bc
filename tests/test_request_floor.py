"""Fixed per-request costs: py4j round trips while building a plan, and the
JVM in-bucket pair expansion that replaced a Python worker stage.

Round trips are counted by wrapping the gateway client's ``send_command``;
every command is one synchronous driver → JVM round trip.  The bounds sit
just above the counts of the SQL-text plan builders, so a regression to
functions-API trees (one round trip per expression node, ~1,500 per
clustering call, ~1,000 per ``minhash_lsh_pairs`` plan, ~550 per cached
``search``, ~1,000 for the hits ⋈ docmap plan with three aggregations and
~600 per uncached ``search`` or ``phrase_search``) fails here.
"""

from __future__ import annotations

import contextlib
import gc
import shutil
import tempfile
import threading
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from elasticsearch_aggregation_geoclustering_spark import testing
from elasticsearch_aggregation_geoclustering_spark.extras import dedup
from elasticsearch_aggregation_geoclustering_spark.operators.clustering import (
    geo_point_clustering,
)
from elasticsearch_aggregation_geoclustering_spark.plans import aggs, query
from elasticsearch_aggregation_geoclustering_spark.plans.index_build import build_index
from elasticsearch_aggregation_geoclustering_spark.plans.query import InvertedIndex

#: round trips of one geo_point_clustering call (plan, collect, merge)
CLUSTER_CALL_MAX_ROUND_TRIPS = 170
#: round trips of building one minhash_lsh_pairs plan (no action)
MINHASH_PLAN_MAX_ROUND_TRIPS = 125
#: round trips of one cached 3-term search, plan and collect
CACHED_SEARCH_MAX_ROUND_TRIPS = 55
#: the hits ⋈ docmap plan and its extended_stats, histogram and top_hits
HITS_AGGS_MAX_ROUND_TRIPS = 150
#: one uncached search on a refreshed reader, plan and collect
UNCACHED_SEARCH_MAX_ROUND_TRIPS = 115
#: one 4-term phrase_search on a refreshed reader, plan and collect
PHRASE_SEARCH_MAX_ROUND_TRIPS = 175

SEARCH_TERMS = ["return", "id_3", "uniq_7"]
PHRASE = ["for", "i", "in", "range"]


@contextlib.contextmanager
def _round_trips(spark):
    """Count the gateway commands this thread sends inside the block.  The
    cyclic garbage collector is held off so unrelated objects' release
    commands do not land in the count."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    caller = threading.get_ident()
    n = [0]

    def counting(*args, **kwargs):
        if threading.get_ident() == caller:
            n[0] += 1
        return send(*args, **kwargs)

    gc.collect()
    gc.disable()
    client.send_command = counting
    try:
        yield n
    finally:
        client.send_command = send
        gc.enable()


def test_cluster_call_round_trip_budget(spark):
    df = spark.createDataFrame(testing.PARIS_POINTS, "id long, lon double, lat double")
    geo_point_clustering(df, "lon", "lat", zoom=9)  # first-use lookups
    with _round_trips(spark) as n:
        res = geo_point_clustering(df, "lon", "lat", zoom=9)
    assert len(res.clusters) == 2
    assert n[0] <= CLUSTER_CALL_MAX_ROUND_TRIPS, n[0]


def test_minhash_plan_round_trip_budget(spark):
    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 3} jumps over") for i in range(20)],
        "doc_id long, text string",
    )
    dedup.minhash_lsh_pairs(docs, "text", "doc_id")  # first-use lookups
    with _round_trips(spark) as n:
        dedup.minhash_lsh_pairs(docs, "text", "doc_id")
    assert n[0] <= MINHASH_PLAN_MAX_ROUND_TRIPS, n[0]


def test_bucket_pairs_match_combinations(spark):
    """The JVM expansion emits exactly the distinct itertools.combinations
    pairs of every bucket within the cap: buckets of size 1, 2, cap and
    cap + 1 (dropped), and pairs that several bands share."""
    cap = 5
    buckets = {
        (0, "solo"): [7],
        (0, "two"): [3, 1],
        (0, "cap"): [10, 11, 12, 13, 14],
        (0, "over"): [20, 21, 22, 23, 24, 25],
        # the same docs co-bucketed in two more bands: shared pairs
        (1, "two"): [1, 3],
        (2, "cap"): [14, 12, 10, 3, 1],
    }
    rows = [(band, key, doc) for (band, key), docs in buckets.items() for doc in docs]
    df = spark.createDataFrame(rows, "band int, band_key string, doc_id long")
    want = {
        pair
        for docs in buckets.values()
        if len(docs) <= cap
        for pair in combinations(sorted(docs), 2)
    }
    got = [
        (r["doc_a"], r["doc_b"])
        for r in dedup._bucket_pairs(df, ["band", "band_key"], cap).collect()
    ]
    assert len(got) == len(set(got))  # distinct across bands
    assert set(got) == want
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup._bucket_pairs(df, ["band", "band_key"], None).collect()
    }
    assert uncapped == want | set(combinations(buckets[(0, "over")], 2))


def test_simhash_hamming_matches_python_popcount(spark):
    """Every co-chunked pair with its hamming distance equal to a Python
    popcount of the xor of the two fingerprints (max_hamming = 60 keeps all
    candidates), and the max_hamming filter applied to the same values."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    texts = [base, base + " nu", base.replace("gamma", "omega"), "one two three four", base + " xi omicron"]
    texts += [f"unrelated words number {i} here" for i in range(6)]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    fp = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, "text", "doc_id").collect()}
    bands, width = 5, dedup.SIMHASH_BITS // 5
    chunk = {d: {(i, (h >> (i * width)) & ((1 << width) - 1)) for i in range(bands)} for d, h in fp.items()}
    candidates = {(a, b) for a, b in combinations(sorted(fp), 2) if chunk[a] & chunk[b]}
    want = {(a, b, bin(fp[a] ^ fp[b]).count("1")) for a, b in candidates}
    assert want  # the planted near-duplicates share chunks
    for max_hamming in (60, 3):
        got = [
            tuple(r)
            for r in dedup.simhash_near_pairs(
                docs, "text", "doc_id", max_hamming=max_hamming, bands=bands
            ).collect()
        ]
        assert len(got) == len(set(got))
        assert set(got) == {p for p in want if p[2] <= max_hamming}, max_hamming


@pytest.fixture(scope="module")
def readers(spark):
    """A cached and an uncached reader over one 40-document index."""
    d = tempfile.mkdtemp(prefix="floor_")
    docs = spark.createDataFrame(testing.synth_documents(40, 1))
    build_index(spark, docs, d, docmap_cols=("lon", "lat"), docs_per_segment=10)
    cached = InvertedIndex.open(spark, d).cache_postings()
    yield cached, InvertedIndex.open(spark, d)
    cached.refresh()
    shutil.rmtree(d, ignore_errors=True)


def _budget(spark, request, limit):
    """Round trips of ``request()`` after one first-use call."""
    request()
    with _round_trips(spark) as n:
        request()
    assert n[0] <= limit, n[0]


def test_cached_search_round_trip_budget(spark, readers):
    cached, _ = readers
    _budget(spark, lambda: cached.search(SEARCH_TERMS, k=10).collect(), CACHED_SEARCH_MAX_ROUND_TRIPS)


def test_hits_aggregations_round_trip_budget(spark, readers):
    cached, _ = readers

    def request():
        hits = cached.score_matches(SEARCH_TERMS).join(cached.docmap(), on="doc_id")
        aggs.extended_stats(hits, "lon", round_to=4).collect()
        aggs.histogram(hits, "score", 0.5).collect()
        aggs.top_hits(hits, "repo", [F.desc("score"), F.asc("doc_id")], 2).collect()

    _budget(spark, request, HITS_AGGS_MAX_ROUND_TRIPS)


def test_uncached_search_round_trip_budget(spark, readers):
    _, live = readers
    _budget(
        spark,
        lambda: live.refresh().search(SEARCH_TERMS, k=10).collect(),
        UNCACHED_SEARCH_MAX_ROUND_TRIPS,
    )


def test_phrase_search_round_trip_budget(spark, readers):
    _, live = readers
    _budget(
        spark,
        lambda: live.refresh().phrase_search(PHRASE, k=10).collect(),
        PHRASE_SEARCH_MAX_ROUND_TRIPS,
    )


@pytest.mark.parametrize("target", [1, 2, 1000])
def test_decode_partitions_follow_row_sizing(readers, monkeypatch, target):
    """The uncached decode stage coalesces to the Σ df target without asking
    for the scan's partition count: a target below the segment-file split
    narrows it, a target above it leaves the split as it is."""
    _, live = readers
    files = live.refresh().postings(SEARCH_TERMS).rdd.getNumPartitions()
    assert files >= 3
    monkeypatch.setattr(query, "_partitions_for_rows", lambda rows_est: target)
    assert live.term_doc_rows(SEARCH_TERMS).rdd.getNumPartitions() == min(target, files)
