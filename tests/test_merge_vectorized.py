"""Property test: vectorized greedy merge ≡ element-by-element reference loop."""

from __future__ import annotations

import copy

import numpy as np
import pytest

from elasticsearch_aggregation_geoclustering_spark.operators.merge import (
    Cluster,
    _may_absorb,
    merge_clusters,
    merge_clusters_reference,
)


def _random_candidates(rng: np.random.Generator, n: int) -> list[Cluster]:
    lats = rng.uniform(-85, 85, n)
    lons = rng.uniform(-179, 179, n)
    # mix in tight clumps so merges actually happen
    clump = rng.integers(0, max(1, n // 5), n)
    lats = np.where(rng.random(n) < 0.6, lats[clump], lats)
    lons = np.where(rng.random(n) < 0.6, lons[clump], lons)
    counts = rng.integers(1, 50, n)
    cells = np.sort(rng.choice(10**9, size=n, replace=False))[::-1]
    return [
        Cluster(cell=int(c), lat=float(la), lon=float(lo), doc_count=int(dc))
        for c, la, lo, dc in zip(cells, lats, lons, counts)
    ]


@pytest.mark.parametrize("seed", range(8))
@pytest.mark.parametrize("ratio", [0.0, 0.8, 1.5])
def test_vectorized_matches_reference(seed, ratio):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 300))
    cands = _random_candidates(rng, n)
    radius_m = float(rng.uniform(1_000, 2_000_000))
    got = merge_clusters(copy.deepcopy(cands), radius_m, ratio)
    want = merge_clusters_reference(copy.deepcopy(cands), radius_m, ratio)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g.cell == w.cell
        assert g.doc_count == w.doc_count
        assert g.cells == w.cells
        assert g.lat == pytest.approx(w.lat, abs=1e-12)
        assert g.lon == pytest.approx(w.lon, abs=1e-12)


def _clumped_candidates(rng: np.random.Generator, n: int, radius_m: float) -> list[Cluster]:
    """World-scattered candidates plus small clumps a radius wide, and
    near-misses just past it, so some anchors absorb, some only come close
    (ratio revisits) and most have no neighbour at all."""
    deg = radius_m / 111_195.0
    lats = rng.uniform(-80, 80, n)
    lons = rng.uniform(-179, 179, n)
    near = rng.random(n) < 0.3
    src = rng.integers(0, max(1, n // 10), n)
    step = deg * rng.choice([0.3, 0.9, 1.1], n)
    lats = np.where(near, lats[src] + step * rng.choice([-1, 1], n), lats)
    lons = np.where(near, lons[src], lons)
    counts = rng.integers(1, 50, n)
    cells = np.sort(rng.choice(10**9, size=n, replace=False))[::-1]
    return [
        Cluster(cell=int(c), lat=float(la), lon=float(lo), doc_count=int(dc))
        for c, la, lo, dc in zip(cells, lats, lons, counts)
    ]


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("ratio", [0.0, 1.2])
def test_absorb_prepass_matches_reference(seed, ratio):
    """Anchors the pre-pass proves unable to absorb skip the exact scan; the
    result stays bit-identical to the reference loop."""
    rng = np.random.default_rng(100 + seed)
    n = int(rng.integers(300, 601))
    radius_m = float(rng.uniform(5_000, 60_000))
    cands = _clumped_candidates(rng, n, radius_m)
    lat = np.array([c.lat for c in cands])
    lon = np.array([c.lon for c in cands])
    may = _may_absorb(lat, lon, np.argsort(lat, kind="stable"), radius_m)
    assert may is not None and 0 < may.sum() < n  # some anchors are skipped
    got = merge_clusters(copy.deepcopy(cands), radius_m, ratio)
    want = merge_clusters_reference(copy.deepcopy(cands), radius_m, ratio)
    assert [(c.cell, c.doc_count, c.cells, c.lat, c.lon) for c in got] == [
        (c.cell, c.doc_count, c.cells, c.lat, c.lon) for c in want
    ]
    assert len(got) < n  # merges happened


def test_empty_and_single():
    assert merge_clusters([], 1000.0, 0.0) == []
    one = [Cluster(cell=5, lat=1.0, lon=2.0, doc_count=3)]
    out = merge_clusters(copy.deepcopy(one), 1000.0, 0.0)
    assert len(out) == 1 and out[0].doc_count == 3 and out[0].cells == [5]


def test_batched_reduce_single_batch_equals_oneshot():
    """batch_size >= n degenerates to the one-shot key-desc merge."""
    from elasticsearch_aggregation_geoclustering_spark.operators.merge import (
        Cluster,
        merge_clusters,
        merge_clusters_batched,
    )

    def mk():
        return [
            Cluster(cell=c, lat=48.8 + 0.001 * i, lon=2.3 + 0.001 * i, doc_count=1 + i)
            for i, c in enumerate([900, 800, 700, 600, 500])
        ]

    one = merge_clusters(mk(), radius_m=500.0, ratio=0.0)
    batched = merge_clusters_batched(mk(), radius_m=500.0, ratio=0.0, batch_size=10)
    assert [(c.cell, c.doc_count, c.lat, c.lon) for c in one] == [
        (c.cell, c.doc_count, c.lat, c.lon) for c in batched
    ]


def test_batched_reduce_can_differ_from_oneshot():
    """The ES merge-of-merged quirk: per-batch centroid movement changes the
    final clustering vs a single global pass (the documented deviation the
    default mode avoids)."""
    from elasticsearch_aggregation_geoclustering_spark.operators.merge import (
        Cluster,
        merge_clusters,
        merge_clusters_batched,
    )

    # A-B-C on a line, adjacent pairs within radius, C heavy. One-shot
    # (key-desc): A absorbs B, the merged centroid lands mid A-B, C escapes
    # -> {A+B: 2, C: 100}. Arrival order [A, X, B, C] with batch_size=2
    # puts B and C in one batch: B absorbs C, the weighted centroid lands
    # next to C, A escapes -> {A: 1, B+C: 101}. X is far-away filler that
    # only shapes the batching.
    def mk():
        return [
            Cluster(cell=900, lat=48.0, lon=2.000, doc_count=1),
            Cluster(cell=100, lat=-10.0, lon=100.0, doc_count=1),
            Cluster(cell=800, lat=48.0, lon=2.008, doc_count=1),
            Cluster(cell=700, lat=48.0, lon=2.016, doc_count=100),
        ]

    # adjacent gap 0.008° lon at lat 48 ≈ 596 m; effective radius is
    # radius·cos(48°) ≈ 602 m -> adjacent pairs merge, skip-pairs don't
    radius = 900.0
    one = merge_clusters(
        sorted(mk(), key=lambda c: c.cell, reverse=True), radius, 0.0
    )
    batched = merge_clusters_batched(mk(), radius, 0.0, batch_size=2)
    sig = lambda cl: sorted((c.cell, c.doc_count) for c in cl)
    assert sig(one) == [(100, 1), (700, 100), (900, 2)]
    assert sig(batched) == [(100, 1), (800, 101), (900, 1)]


def test_batched_reduce_api_wiring(spark):
    """geo_point_clustering(batched_reduce=N) reaches merge_clusters_batched
    (degenerate N >= n equals the default single reduce; metrics refuse)."""
    import pytest

    from elasticsearch_aggregation_geoclustering_spark import testing
    from elasticsearch_aggregation_geoclustering_spark.operators.clustering import (
        geo_point_clustering,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        testing.PARIS_POINTS, "id long, lon double, lat double"
    )
    base = geo_point_clustering(df, "lon", "lat", zoom=9)
    quirky = geo_point_clustering(df, "lon", "lat", zoom=9, batched_reduce=10_000)
    sig = lambda r: sorted((c.cell, c.doc_count, c.lat, c.lon) for c in r.clusters)
    assert sig(base) == sig(quirky)
    with pytest.raises(ValueError, match="batched_reduce"):
        geo_point_clustering(
            df, "lon", "lat", zoom=9, batched_reduce=2,
            metrics={"m": F.lit(1)},
        )
