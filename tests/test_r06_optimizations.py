"""Round-6 optimization internals: every rewritten hot path must be
bit-identical to the shape it replaced, and the driver-planned hash
partitioner must agree with Spark's own hash.

These pin the equivalences the optimization round's plan rewrites rely on:
- the conditional-sum score fold vs the sort(collect_list)+aggregate fold,
- the broadcast-matrix pair verify vs the per-pair join verify,
- the broadcast set-lookup jaccard vs the melted-join jaccard,
- _murmur3_hash_int vs Spark's hash(), and slot routing landing each
  bucket on its planned partition.
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from elasticsearch_aggregation_geoclustering_spark.extras import dedup, similarity
from elasticsearch_aggregation_geoclustering_spark.plans import index_build as ib
from elasticsearch_aggregation_geoclustering_spark.plans import query as q


DOCS = [
    (i, t)
    for i, t in enumerate(
        [
            "alpha beta gamma delta",
            "alpha alpha beta",
            "gamma delta epsilon zeta",
            "beta beta beta gamma",
            "delta epsilon",
            "alpha gamma epsilon",
            "zeta eta theta",
            "alpha beta gamma delta epsilon zeta",
        ]
    )
]


def _bits(rows):
    return sorted(
        tuple(
            struct.pack("<d", v).hex() if isinstance(v, float) else v for v in r
        )
        for r in rows
    )


@pytest.fixture(scope="module")
def toy_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("r06idx"))
    docs = spark.createDataFrame(DOCS, "orig_id long, text string")
    ib.build_index(
        spark, docs, d, content_col="text", key_cols=("orig_id",), docs_per_segment=3
    )
    return q.InvertedIndex.open(spark, d)


def test_pivot_fold_bit_identical(toy_index, monkeypatch):
    """Conditional-sum fold == sort+aggregate fold, bitwise, for search,
    search_batch and score_matches across OR/AND/msm."""
    queries = [["alpha", "beta", "gamma"], ["delta", "epsilon"], ["zeta"]]

    def snap():
        out = {}
        for i, terms in enumerate(queries):
            out[f"s{i}"] = _bits(
                tuple(r) for r in toy_index.search(terms, k=10).collect()
            )
        out["b"] = _bits(
            tuple(r) for r in toy_index.search_batch(queries, k=10).collect()
        )
        out["m"] = _bits(
            tuple(r)
            for r in toy_index.score_matches(
                ["alpha", "beta", "gamma"], minimum_should_match=2
            ).collect()
        )
        return out

    pivot = snap()
    monkeypatch.setattr(q, "PIVOT_MAX_TERMS", -1)  # force the legacy fold
    legacy = snap()
    assert pivot == legacy


def test_band_verify_paths_bit_identical(spark, monkeypatch):
    """Broadcast-matrix verify == per-pair join verify (same einsum over
    the same float64 rows)."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [(int(i), [float(x) for x in rng.standard_normal(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.2, n_planes=8, bands=4, max_bucket_size=50)
    lookup = _bits(
        tuple(r)
        for r in similarity.rp_band_near_pairs(emb, "vec_id", "embedding", **kw).collect()
    )
    spark.catalog.clearCache()
    monkeypatch.setattr(similarity, "BROADCAST_VERIFY_MAX_BYTES", 0)  # force join
    join = _bits(
        tuple(r)
        for r in similarity.rp_band_near_pairs(emb, "vec_id", "embedding", **kw).collect()
    )
    spark.catalog.clearCache()
    assert lookup == join and len(lookup) > 0


def test_ngram_verify_paths_bit_identical(spark, monkeypatch):
    """Broadcast set-lookup jaccard == melted-join jaccard, bitwise."""
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    kw = dict(shingle_k=1, threshold=0.1)
    lookup = _bits(
        tuple(r)
        for r in dedup.ngram_jaccard_pairs_minhash(docs, "text", "doc_id", **kw).collect()
    )
    spark.catalog.clearCache()
    monkeypatch.setattr(dedup, "SET_LOOKUP_MAX_BYTES", 0)  # force melt path
    melt = _bits(
        tuple(r)
        for r in dedup.ngram_jaccard_pairs_minhash(docs, "text", "doc_id", **kw).collect()
    )
    spark.catalog.clearCache()
    assert lookup == melt and len(lookup) > 0


def test_murmur3_matches_spark_hash(spark):
    vals = list(range(-40, 200)) + [2**31 - 1, -(2**31), 123456789, -987654321]
    got = {
        r["v"]: r["h"]
        for r in spark.createDataFrame([(v,) for v in vals], "v int")
        .select("v", F.hash("v").alias("h"))
        .collect()
    }
    for v in vals:
        assert ib._murmur3_hash_int(v) == got[v], v


def test_slot_routing_lands_on_planned_partition(spark):
    """Each bucket's rows land exactly on the partition the driver packed
    it into, and partitions hold contiguous bucket runs."""
    counts = {b: 10 + b for b in range(16)}
    P = 8
    expr = ib._partition_slot_expr(counts, P)
    rows = [(b,) for b in counts for _ in range(3)]
    df = (
        spark.createDataFrame(rows, "_b int")
        .withColumn("_slot", expr)
        .repartition(P, F.col("_slot"))
    )
    placed = (
        df.withColumn("p", F.spark_partition_id())
        .select("_b", "p")
        .distinct()
        .collect()
    )
    by_bucket = {}
    for r in placed:
        by_bucket.setdefault(r["_b"], set()).add(r["p"])
    # every bucket on exactly one partition
    assert all(len(ps) == 1 for ps in by_bucket.values())
    # partitions hold contiguous bucket runs (sorted buckets -> sorted by
    # partition-first-bucket never interleave)
    part_of = {b: next(iter(ps)) for b, ps in by_bucket.items()}
    seen = []
    for b in sorted(part_of):
        if not seen or seen[-1] != part_of[b]:
            assert part_of[b] not in seen, f"bucket {b} revisits partition"
            seen.append(part_of[b])


def test_uncached_decode_coalesce_preserves_rows(toy_index):
    """The Σdf-sized coalesce changes partitioning only — decoded rows are
    identical to the raw postings content."""
    rows = sorted(
        tuple(r) for r in toy_index.term_doc_rows(["alpha", "beta"]).collect()
    )
    assert len(rows) == len(set(rows)) and len(rows) > 0
    dfm = toy_index.df_of(["alpha", "beta"])
    from collections import Counter

    per_term = Counter(r[0] for r in rows)
    assert per_term == Counter({t: dfm[t] for t in dfm})


def test_multi_match_persist_releases_and_scores_match(spark):
    """The persisted numeric projection (1-tokenize-pass multi_match) must
    score identically to first principles and unpersist its frame before
    returning — no cached relation may outlive the call."""
    from elasticsearch_aggregation_geoclustering_spark.plans import multimatch

    docs = spark.createDataFrame(
        [(i, t, t[:10]) for i, t in DOCS], "doc_id long, text string, title string"
    )
    # snapshot the shared session's persistent-RDD ids: earlier tests'
    # dropped caches are reclaimed by the ContextCleaner on GC time, so an
    # absolute ==0 is order/GC-dependent — the hygiene contract is that THIS
    # call adds nothing (comparing sizes would let a new cache hide behind
    # an old one the cleaner reclaimed meanwhile)
    jsc = spark.sparkContext._jsc

    def persisted_ids() -> set[int]:
        return set(jsc.getPersistentRDDs().keySet())

    persisted_before = persisted_ids()
    got = _bits(
        (r["doc_id"], r["score"])
        for r in multimatch.multi_match_best_fields(
            docs, ["alpha", "beta"], ["title", "text"], k=20, tie_breaker=0.3
        ).collect()
    )
    again = _bits(
        (r["doc_id"], r["score"])
        for r in multimatch.multi_match_best_fields(
            docs, ["alpha", "beta"], ["title", "text"], k=20, tie_breaker=0.3
        ).collect()
    )
    assert got == again and len(got) > 0
    # the query-scoped persist must be released (snapshot hygiene: a long
    # session running many multi_match queries must not accumulate caches)
    assert persisted_ids() <= persisted_before
