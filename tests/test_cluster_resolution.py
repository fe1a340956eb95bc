"""Near-dup cluster resolution (connected components + fuzzy keep-one) and
the bucket-size caps that bound the LSH pair generators at scale."""

from __future__ import annotations

import pytest

from elasticsearch_aggregation_geoclustering_spark.extras import dedup, similarity


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "doc_a long, doc_b long")


def test_connected_components_basic(spark):
    # two chains and one singleton edge: {1,2,3,4}, {10,11}, {20,21}
    pairs = _pairs(spark, [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)])
    got = {r["doc_id"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_chain_diameter(spark):
    # a long path graph exercises multi-round propagation (diameter 9)
    pairs = _pairs(spark, [(i, i + 1) for i in range(9, 0, -1)])
    got = {r["doc_id"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert got == {i: 1 for i in range(1, 11)}


def test_connected_components_empty(spark):
    pairs = _pairs(spark, [])
    assert dedup.connected_components(pairs).count() == 0


def test_fuzzy_keep_one(spark):
    df = spark.createDataFrame(
        [(i, f"text {i}") for i in range(1, 8)], "doc_id long, text string"
    )
    # clusters {1,2,3} and {5,6}; 4 and 7 untouched singletons
    pairs = _pairs(spark, [(1, 2), (2, 3), (5, 6)])
    kept = sorted(
        r["doc_id"] for r in dedup.dedup_fuzzy_keep_one(df, pairs, "doc_id").collect()
    )
    assert kept == [1, 4, 5, 7]


def test_simhash_pairs_bucket_cap(spark):
    # 4 identical docs -> identical fingerprints -> one 4-member bucket per
    # chunk; cap=3 drops every bucket, cap=1000 keeps all 6 pairs
    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(4)], "doc_id long, text string"
    )
    full = dedup.simhash_near_pairs(df, "text", "doc_id", max_bucket_size=1000)
    assert full.count() == 6
    capped = dedup.simhash_near_pairs(df, "text", "doc_id", max_bucket_size=3)
    assert capped.count() == 0


def test_rp_band_pairs_bucket_cap(spark):
    vec = [1.0, 0.5, -0.25, 2.0]
    df = spark.createDataFrame(
        [(i, vec) for i in range(5)], "vec_id long, embedding array<double>"
    )
    full = similarity.rp_band_near_pairs(
        df, "vec_id", "embedding", threshold=0.9, n_planes=16, bands=4,
        max_bucket_size=1000,
    )
    assert full.count() == 10  # all 5 identical vectors pair up
    capped = similarity.rp_band_near_pairs(
        df, "vec_id", "embedding", threshold=0.9, n_planes=16, bands=4,
        max_bucket_size=4,
    )
    assert capped.count() == 0


def test_rp_band_wide_defaults_match_narrow_semantics(spark):
    # the >64-plane path (per-band keys straight from the UDF) still finds
    # exact duplicates — every band agrees for identical vectors
    vec = [0.1 * i for i in range(8)]
    df = spark.createDataFrame(
        [(1, vec), (2, vec), (3, [float(7 - i) for i in range(8)])],
        "vec_id long, embedding array<double>",
    )
    pairs = similarity.rp_band_near_pairs(df, "vec_id", "embedding", threshold=0.99)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got


def test_cell_expr_out_of_range_raises(spark):
    from elasticsearch_aggregation_geoclustering_spark.geo.geohash_expr import cell_expr

    bad = spark.createDataFrame([(181.0, 0.0)], "lon double, lat double")
    with pytest.raises(Exception, match="out of range"):
        bad.select(cell_expr("lon", "lat", 9)).collect()
    # NULL coordinates propagate (absent, not invalid)
    nul = spark.createDataFrame([(None, 10.0)], "lon double, lat double")
    assert nul.select(cell_expr("lon", "lat", 9).alias("c")).collect()[0]["c"] is None


def test_dropped_bucket_stats_observability(spark):
    # the cap's truncation is observable: dropped_bucket_stats reports the
    # exact buckets (and sizes) a given cap would drop
    from pyspark.sql import functions as F

    rows = [(i, "bucket_a" if i < 8 else "bucket_b") for i in range(10)]
    buckets = spark.createDataFrame(rows, "doc_id long, band_key string")
    dropped = dedup.dropped_bucket_stats(buckets, ["band_key"], 5).collect()
    assert [(r["band_key"], r["n"]) for r in dropped] == [("bucket_a", 8)]
    assert dedup.dropped_bucket_stats(buckets, ["band_key"], 100).count() == 0


def _union_find_labels(pairs):
    """Independent reference: python union-find, min-id labels."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@pytest.mark.parametrize("method", ["propagation", "star", "auto"])
def test_cc_methods_match_union_find(spark, method):
    import random

    rng = random.Random(5)
    pairs = set()
    # mixed shapes: cliques, chains, stars, random edges
    for base in (0, 40, 80):
        ids = list(range(base, base + 8))
        pairs |= {(a, b) for a in ids for b in ids if a < b and rng.random() < 0.5}
    pairs |= {(200 + i, 201 + i) for i in range(30)}           # chain
    pairs |= {(300, 300 + i) for i in range(1, 12)}            # star
    pairs |= {(rng.randrange(400, 440), rng.randrange(400, 440)) for _ in range(25)}
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["component"]
        for r in dedup.connected_components(df, method=method).collect()
    }
    assert got == _union_find_labels(pairs)


def test_star_contraction_chain_1k_few_jobs(spark):
    """A 1024-node chain (diameter 1023): min-label propagation would need
    ~1023 rounds; star contraction must land it in < 20 Spark jobs."""
    n = 1024
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    sc = spark.sparkContext
    # AQE splits each shuffle materialization into its own job id, inflating
    # the COUNT (not the work) ~5x; measure the engine's round structure
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("cc_chain_star", "star contraction 1k chain")
    try:
        got = dedup.connected_components(df, method="star").collect()
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    jobs = sc.statusTracker().getJobIdsForGroup("cc_chain_star")
    assert len(jobs) < 20, f"{len(jobs)} jobs"
    assert len(got) == n
    assert all(r["component"] == 0 for r in got)


def test_auto_switches_to_star_on_deep_chain(spark):
    """auto with a tiny propagation budget must still resolve a chain whose
    diameter exceeds it (the silent-fallback path)."""
    n = 200
    df = spark.createDataFrame(
        [(i + 1000, i + 1001) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    got = dedup.connected_components(df, method="auto", switch_after=3).collect()
    assert len(got) == n and all(r["component"] == 1000 for r in got)
    # propagation alone with the same budget fails loudly instead
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(df, method="propagation", max_iterations=3)
