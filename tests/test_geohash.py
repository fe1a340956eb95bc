"""Unit pins for geohash codec, planner, and haversine (SURVEY.md §5.1)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from elasticsearch_aggregation_geoclustering_spark.geo import geohash
from elasticsearch_aggregation_geoclustering_spark.geo.distance import (
    EARTH_EQUATOR,
    arc_distance,
)
from elasticsearch_aggregation_geoclustering_spark.geo.planner import (
    geohash_levels_for_precision,
    plan_clustering,
    suggest_shard_side_queue_size,
)
from elasticsearch_aggregation_geoclustering_spark.testing import paris_arrays


def test_classic_public_vector():
    assert geohash.string_encode([-5.6], [42.6], 5)[0] == "ezs42"


def test_known_city_geohashes():
    # public geohash.org vectors
    assert geohash.string_encode([-0.1278], [51.5074], 6)[0] == "gcpvj0"
    assert geohash.string_encode([139.6917], [35.6895], 7)[0] == "xn774c0"
    assert geohash.string_encode([2.3522], [48.8566], 4)[0] == "u09t"


def test_paris_golden_cells_precision5():
    """The 9 distinct cells of the reference fixture (README.md:117-141)."""
    lons, lats = paris_arrays()
    cells = set(geohash.string_encode(lons, lats, 5))
    assert cells == {
        "u09wn", "u09tz", "u09ty", "u09tx", "u09tv", "u09tt",  # cluster 1
        "u09w5", "u09tg", "u09tf",  # cluster 2
    }


def test_long_key_level_packing():
    key = geohash.long_encode(np.array([2.35]), np.array([48.85]), 5)[0]
    assert key & 15 == 5
    assert geohash.string_encode_from_long(np.array([key]))[0] == geohash.string_encode([2.35], [48.85], 5)[0]


def test_string_decode_roundtrip():
    for gh in ("u09tz", "ezs42", "0", "zzzzzzzzzzzz"):
        key = geohash.string_decode_to_long(gh)
        assert geohash.string_encode_from_long(np.array([key]))[0] == gh


@given(
    lon=st.floats(min_value=-180.0, max_value=180.0, allow_nan=False),
    lat=st.floats(min_value=-90.0, max_value=90.0, allow_nan=False),
    precision=st.integers(min_value=1, max_value=12),
)
@settings(max_examples=200, deadline=None)
def test_prefix_property(lon, lat, precision):
    """Lower-precision geohash is a prefix of the higher-precision one."""
    full = geohash.string_encode([lon], [lat], 12)[0]
    part = geohash.string_encode([lon], [lat], precision)[0]
    assert full.startswith(part)
    assert len(part) == precision


def test_edge_coordinates():
    # +90/+180 are stepped down one ulp, not overflowed (Lucene semantics)
    out = geohash.string_encode([180.0, -180.0, 0.0], [90.0, -90.0, 0.0], 12)
    assert all(len(s) == 12 for s in out)
    with pytest.raises(ValueError):
        geohash.long_encode(np.array([181.0]), np.array([0.0]), 5)
    with pytest.raises(ValueError):
        geohash.long_encode(np.array([0.0]), np.array([91.0]), 5)


# --- planner -------------------------------------------------------------


def test_zoom_precision_pins():
    """zoom → precision pins observable from the reference goldens."""
    assert plan_clustering(9).precision == 5  # 5-char cells in README goldens
    assert plan_clustering(11).precision == 6  # 9 buckets at zoom 11
    assert plan_clustering(25).precision == 12  # 15 singletons
    assert plan_clustering(0).precision == 2
    assert plan_clustering(1).precision == 2


def test_radius_m_zoom9():
    # 40 px · EARTH_EQUATOR / (256 · 2^9) ≈ 12,229.9 m (SURVEY.md P3)
    plan = plan_clustering(9)
    assert plan.radius_m == pytest.approx(40 * EARTH_EQUATOR / (256 * 2**9))
    assert plan.radius_m == pytest.approx(12229.92, abs=0.5)


def test_precision_monotone_in_zoom():
    precisions = [plan_clustering(z).precision for z in range(26)]
    assert precisions == sorted(precisions)
    assert all(1 <= p <= 12 for p in precisions)


def test_levels_for_precision_edges():
    assert geohash_levels_for_precision(0) == 12
    assert geohash_levels_for_precision(1e12) == 1
    assert geohash_levels_for_precision(0.001) == 12


def test_shard_size_heuristic():
    # BucketUtils.suggestShardSideQueueSize ≈ size·1.5 + 10, clamped ≥ size
    assert suggest_shard_side_queue_size(10) == 25
    assert plan_clustering(9, size=100).shard_size == 160
    assert plan_clustering(9, size=100, shard_size=5).shard_size == 100  # clamp


def test_param_validation():
    with pytest.raises(ValueError):
        plan_clustering(26)
    with pytest.raises(ValueError):
        plan_clustering(9, extent=0)
    with pytest.raises(ValueError):
        plan_clustering(9, radius=0)
    with pytest.raises(ValueError):
        plan_clustering(9, ratio=2.5)
    with pytest.raises(ValueError):
        plan_clustering(9, size=0)


# --- haversine -----------------------------------------------------------


def test_arc_distance_known_values():
    # Paris <-> London ≈ 343.5 km (public great-circle fact, mean radius)
    d = arc_distance(48.8566, 2.3522, 51.5074, -0.1278)
    assert d == pytest.approx(343_500, rel=0.01)
    assert arc_distance(0, 0, 0, 0) == 0.0
    # one degree of longitude at the equator ≈ EARTH_MEAN_RADIUS·π/180
    assert arc_distance(0, 0, 0, 1) == pytest.approx(111_195, rel=1e-3)


def test_arc_distance_symmetry():
    a = arc_distance(48.82, 2.45, 48.87, 2.24)
    b = arc_distance(48.87, 2.24, 48.82, 2.45)
    assert a == b


def test_jvm_cell_expr_matches_numpy(spark):
    """The codegen bit-arithmetic encoder is bit-identical to the numpy one
    for every precision 1..11, on edge and random coordinates — as one
    Column and as the staged projections the clustering plan uses."""
    import numpy as np

    from elasticsearch_aggregation_geoclustering_spark.geo import geohash_expr
    from elasticsearch_aggregation_geoclustering_spark.geo.geohash import long_encode

    rng = np.random.default_rng(11)
    lons = np.concatenate(
        [np.array([-180.0, 180.0, 0.0, -5.6, 2.454929, 179.999999]),
         rng.uniform(-180, 180, 200)]
    )
    lats = np.concatenate(
        [np.array([-90.0, 90.0, 0.0, 42.6, 48.821578, 89.999999]),
         rng.uniform(-90, 90, 200)]
    )
    df = spark.createDataFrame(
        [(float(lo), float(la)) for lo, la in zip(lons, lats)], "lon double, lat double"
    )
    for precision in (1, 2, 5, 9, 11):
        got = [
            r["k"]
            for r in df.select(
                geohash_expr.cell_expr("lon", "lat", precision).alias("k")
            ).collect()
        ]
        expect = long_encode(lons, lats, precision).tolist()
        assert got == expect, f"precision {precision}"
        staged = geohash_expr.with_cell_column(df, "lon", "lat", precision, "k")
        assert staged.columns == ["lon", "lat", "k"]
        assert [r["k"] for r in staged.collect()] == expect, f"staged precision {precision}"


def test_jvm_cell_expr_rejects_precision_12():
    import pytest as _pytest

    from elasticsearch_aggregation_geoclustering_spark.geo import geohash_expr

    with _pytest.raises(ValueError):
        geohash_expr.cell_expr("lon", "lat", 12)


def test_geo_distance_filter_matches_numpy(spark):
    """bbox-prefiltered haversine filter == brute-force numpy haversine on
    a deterministic scatter, incl. a pole-adjacent and a wrap-adjacent
    center (where the lon prefilter must drop, not wrongly exclude)."""
    import numpy as np

    from elasticsearch_aggregation_geoclustering_spark.geo.distance import (
        arc_distance,
    )
    from elasticsearch_aggregation_geoclustering_spark.operators.clustering import (
        geo_distance_filter,
    )

    rng = np.random.default_rng(3)
    lon = rng.uniform(-180, 180, 4000)
    lat = rng.uniform(-89.9, 89.9, 4000)
    df = spark.createDataFrame(
        [(int(i), float(lon[i]), float(lat[i])) for i in range(lon.size)],
        "id long, lon double, lat double",
    )
    cases = [
        (2.35, 48.85, 1_200_000.0),   # ordinary
        (179.5, 10.0, 500_000.0),     # antimeridian-adjacent: lon band drops
        (0.0, 89.0, 400_000.0),       # pole-adjacent: lon band drops
        (0.0, 0.0, 30_000.0),         # tiny radius (empty or near-empty)
    ]
    for clon, clat, r in cases:
        want = {
            int(i)
            for i in np.flatnonzero(arc_distance(lat, lon, clat, clon) <= r)
        }
        got = {
            row["id"]
            for row in geo_distance_filter(
                df, center_lon=clon, center_lat=clat, radius_m=r
            ).collect()
        }
        assert got == want, (clon, clat, r)


def test_geo_distance_filter_pushes_bbox(spark):
    """The literal bbox prefilter must reach the parquet scan."""
    import os
    import shutil
    import tempfile

    from elasticsearch_aggregation_geoclustering_spark.operators.clustering import (
        geo_distance_filter,
    )

    d = tempfile.mkdtemp(prefix="geodist_")
    try:
        spark.range(1000).selectExpr(
            "id",
            "cast((id % 360) - 180.0 as double) as lon",
            "cast((id % 170) / 2.0 - 42.0 as double) as lat",
        ).write.mode("overwrite").parquet(d)
        flt = geo_distance_filter(
            spark.read.parquet(d), center_lon=10.0, center_lat=20.0, radius_m=500_000.0
        )
        # PushedFilters is scan metadata, truncated at
        # spark.sql.maxMetadataStringLength chars by default
        old_len = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
        spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
        try:
            plan = flt._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.maxMetadataStringLength", old_len)
        assert "PushedFilters" in plan
        import re

        pushed = re.search(r"PushedFilters: \[([^\]]*)", plan).group(1)
        assert "GreaterThanOrEqual(lat" in pushed and "LessThanOrEqual(lat" in pushed
        assert "GreaterThanOrEqual(lon" in pushed and "LessThanOrEqual(lon" in pushed
    finally:
        shutil.rmtree(d, ignore_errors=True)
