"""P6 (multi-valued points + duplicate-cell skip) and P20 (sampling rescale)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from elasticsearch_aggregation_geoclustering_spark.geo.geohash import long_encode
from elasticsearch_aggregation_geoclustering_spark.operators.clustering import (
    explode_multi_points,
    geo_cell_aggregate,
    geo_point_clustering,
)

POINTS_SCHEMA = "doc_id long, points array<struct<lon: double, lat: double>>"


def test_duplicate_cell_skip(spark):
    """A doc's repeated points in one cell count once; distinct cells count
    separately (GeoPointClusteringAggregator.java:106-123)."""
    rows = [
        # doc 1: three points in the SAME precision-5 cell (Paris, ~2 km apart)
        (1, [(2.336267, 48.822021), (2.338677, 48.822672), (2.336643, 48.822493)]),
        # doc 2: two points in DIFFERENT cells (Paris vs London)
        (2, [(2.34521, 48.849358), (-0.1278, 51.5074)]),
    ]
    df = spark.createDataFrame(rows, POINTS_SCHEMA)
    pts = explode_multi_points(df, "points", "doc_id", precision=5)
    out = {(r["doc_id"], r["lon"], r["lat"]) for r in pts.collect()}
    assert len(out) == 3  # 1 for doc1 + 2 for doc2
    # doc1 keeps the FIRST point in Lucene-encoded order (min full-precision key)
    doc1 = [p for p in out if p[0] == 1]
    encs = long_encode(
        np.array([2.336267, 2.338677, 2.336643]),
        np.array([48.822021, 48.822672, 48.822493]),
        12,
    )
    first = int(np.argmin(encs))
    expect = [(2.336267, 48.822021), (2.338677, 48.822672), (2.336643, 48.822493)][first]
    assert doc1[0][1:] == expect

    cells = geo_cell_aggregate(pts, zoom=9)
    counts = {r["cell"]: r["doc_count"] for r in cells.collect()}
    assert sorted(counts.values()) == [1, 1, 1]
    # the level-12 sort key is a JVM expression like every other cell key
    plan = cells._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_multivalue_single_point_docs_match_plain_path(spark):
    """Single-point docs through the multi-value path == plain path."""
    rng = np.random.default_rng(3)
    lons = rng.uniform(2.0, 2.5, 40)
    lats = rng.uniform(48.5, 49.0, 40)
    rows_mv = [(i, [(float(lons[i]), float(lats[i]))]) for i in range(40)]
    mv = explode_multi_points(
        spark.createDataFrame(rows_mv, POINTS_SCHEMA), "points", "doc_id", precision=5
    )
    plain = spark.createDataFrame(
        [(i, float(lons[i]), float(lats[i])) for i in range(40)],
        "doc_id long, lon double, lat double",
    )
    r1 = geo_point_clustering(mv, zoom=9)
    r2 = geo_point_clustering(plain, zoom=9)
    assert [(c.cell, c.doc_count) for c in r1.clusters] == [
        (c.cell, c.doc_count) for c in r2.clusters
    ]
    for a, b in zip(r1.clusters, r2.clusters):
        assert a.lat == pytest.approx(b.lat, abs=1e-12)
        assert a.lon == pytest.approx(b.lon, abs=1e-12)


def test_sampling_rescale(spark):
    """P20: doc counts scale back up by 1/fraction after sampled clustering."""
    n = 2000
    rng = np.random.default_rng(7)
    df = spark.createDataFrame(
        [(i, float(2.3 + rng.uniform(-0.01, 0.01)), float(48.85 + rng.uniform(-0.01, 0.01))) for i in range(n)],
        "doc_id long, lon double, lat double",
    )
    full = geo_point_clustering(df, zoom=5)
    sampled = geo_point_clustering(df, zoom=5, sample_fraction=0.5, sample_seed=1)
    assert len(sampled.clusters) >= 1
    total_full = sum(c.doc_count for c in full.clusters)
    total_sampled = sum(c.doc_count for c in sampled.clusters)
    assert total_full == n
    assert total_sampled == pytest.approx(n, rel=0.15)  # Bernoulli noise
    with pytest.raises(ValueError):
        geo_point_clustering(df, zoom=5, sample_fraction=0.0)
