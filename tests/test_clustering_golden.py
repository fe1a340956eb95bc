"""End-to-end golden tests: the 7 reference YAML cases (SURVEY.md §5.2).

Ported from /root/reference/src/yamlRestTest/resources/rest-api-spec/test/
GeoPointClusteringAggregation/20_geo_clustering.yml:119-280, run through both
the numpy oracle and the Spark operator.

Centroid tolerance: the YAML asserts exact doubles produced by a 3-shard ES
run whose shard-partial centroids cross the wire quantized to the Lucene
32-bit grid (~4.2e-8° per step — InternalGeoPointClustering.java:54-73).  Our
exact-arithmetic centroids therefore agree to ~1e-7; `quantize_wire=True`
demonstrates the quantization mechanism itself.
"""

from __future__ import annotations

import numpy as np
import pytest

from elasticsearch_aggregation_geoclustering_spark.geo.geohash import (
    string_encode_from_long,
)
from elasticsearch_aggregation_geoclustering_spark.operators.clustering import (
    geo_point_clustering,
)
from elasticsearch_aggregation_geoclustering_spark.operators.oracle import (
    cluster_points_oracle,
)
from elasticsearch_aggregation_geoclustering_spark.testing import (
    PARIS_POINTS,
    paris_arrays,
)

# Pinned at ~2 wire-grid steps (lat step 4.19e-8°, lon 8.38e-8°): measured
# deltas vs the YAML doubles are ≤ 5.6e-8 — fully explained by the reference
# quantizing shard-partial centroids to the Lucene 32-bit grid.  This test
# FAILS if the delta ever grows beyond the quantization envelope (i.e. if a
# real arithmetic divergence appears).
CENTROID_TOL = 1e-7


def _grids(cluster) -> set[str]:
    return set(string_encode_from_long(np.array(cluster.cells, dtype=np.int64)))


@pytest.fixture(scope="module")
def paris_df(spark):
    df = spark.createDataFrame(PARIS_POINTS, "doc_id long, lon double, lat double")
    return df.repartition(3, "doc_id").cache()  # 3 partitions ≈ the 3-shard index


def _both(spark_df, zoom, **params):
    """Run Spark operator and numpy oracle; assert they agree; return clusters."""
    lons, lats = paris_arrays()
    oracle = cluster_points_oracle(lons, lats, zoom, **params)
    result = geo_point_clustering(spark_df, "lon", "lat", zoom, **params).clusters
    assert [c.doc_count for c in result] == [c.doc_count for c in oracle]
    assert [c.cell for c in result] == [c.cell for c in oracle]
    for r, o in zip(result, oracle):
        assert r.lat == pytest.approx(o.lat, abs=1e-9)
        assert r.lon == pytest.approx(o.lon, abs=1e-9)
        assert sorted(r.cells) == sorted(o.cells)
    return result


def test_zoom1(paris_df, spark):
    """yml:119-132 — 1 bucket, count 15, exact centroid."""
    clusters = _both(paris_df, 1)
    assert len(clusters) == 1
    assert clusters[0].doc_count == 15
    assert clusters[0].lat == pytest.approx(48.8468417795375, abs=CENTROID_TOL)
    assert clusters[0].lon == pytest.approx(2.331401154398918, abs=CENTROID_TOL)


def test_zoom9(paris_df, spark):
    """yml:137-153 — 2 buckets with exact counts, centroids and grids."""
    clusters = _both(paris_df, 9)
    assert len(clusters) == 2
    assert clusters[0].doc_count == 9
    assert clusters[0].lat == pytest.approx(48.83695897646248, abs=CENTROID_TOL)
    assert clusters[0].lon == pytest.approx(2.380013056099415, abs=CENTROID_TOL)
    assert _grids(clusters[0]) == {"u09wn", "u09tz", "u09ty", "u09tx", "u09tv", "u09tt"}
    assert clusters[1].doc_count == 6
    assert clusters[1].lat == pytest.approx(48.86166598415002, abs=CENTROID_TOL)
    assert clusters[1].lon == pytest.approx(2.258483301848173, abs=CENTROID_TOL)
    assert _grids(clusters[1]) == {"u09w5", "u09tg", "u09tf"}


def test_zoom0(paris_df, spark):
    """yml:158-177 — everything in one bucket."""
    clusters = _both(paris_df, 0)
    assert len(clusters) == 1
    assert clusters[0].doc_count == 15


def test_zoom25(paris_df, spark):
    """yml:182-201 — max precision: 15 singleton buckets."""
    clusters = _both(paris_df, 25)
    assert len(clusters) == 15
    assert all(c.doc_count == 1 for c in clusters)


def test_zoom11(paris_df, spark):
    """yml:206-226 — 9 buckets; positional counts in key-descending order."""
    clusters = _both(paris_df, 11)
    assert len(clusters) == 9
    assert clusters[0].doc_count == 1
    assert clusters[1].doc_count == 2


def test_zoom9_size1(paris_df, spark):
    """yml:231-250 — size=1 truncates by key before the merge."""
    clusters = _both(paris_df, 9, size=1)
    assert len(clusters) == 1


def test_zoom9_bbox_filter(paris_df, spark):
    """yml:255-280 — geo_bounding_box filter composes with the aggregation."""
    from pyspark.sql import functions as F

    filtered = paris_df.where(
        (F.col("lon") >= 2.23) & (F.col("lon") <= 2.29)
        & (F.col("lat") >= 48.84) & (F.col("lat") <= 48.88)
    )
    assert filtered.count() >= 1  # hits.total (H6)
    result = geo_point_clustering(filtered, "lon", "lat", 9)
    assert len(result.clusters) == 1


def test_quantize_wire_stays_within_grid_step(paris_df, spark):
    """Wire quantization (P11) moves centroids by less than one grid step."""
    exact = geo_point_clustering(paris_df, "lon", "lat", 9).clusters
    quant = geo_point_clustering(paris_df, "lon", "lat", 9, quantize_wire=True).clusters
    assert [c.doc_count for c in quant] == [c.doc_count for c in exact]
    for q, e in zip(quant, exact):
        assert q.lat == pytest.approx(e.lat, abs=5e-8)
        assert q.lon == pytest.approx(e.lon, abs=1e-7)


@pytest.mark.parametrize("zoom, quantize_wire", [(25, False), (25, True), (9, True)])
def test_cell_aggregate_plans_without_python(paris_df, zoom, quantize_wire):
    """The cell key at every zoom (max zoom included) and the wire quantizer
    are JVM expressions: no Python evaluation node in the plan."""
    from elasticsearch_aggregation_geoclustering_spark.operators.clustering import (
        geo_cell_aggregate,
    )

    df = geo_cell_aggregate(paris_df, "lon", "lat", zoom, quantize_wire=quantize_wire)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_unmapped_field_returns_empty(paris_df, spark):
    """P19: unmapped field → well-formed empty aggregation."""
    result = geo_point_clustering(paris_df, "nope_lon", "nope_lat", 9)
    assert result.clusters == []


def test_empty_input(spark):
    df = spark.createDataFrame([], "doc_id long, lon double, lat double")
    result = geo_point_clustering(df, "lon", "lat", 9)
    assert result.clusters == []


def test_rendered_buckets_shape(paris_df, spark):
    buckets = geo_point_clustering(paris_df, "lon", "lat", 9).to_buckets()
    assert buckets[0]["doc_count"] == 9
    assert set(buckets[0]) >= {"geohash_grids", "doc_count", "centroid"}


def test_sub_aggregation_metrics(paris_df, spark):
    """P18: additive sub-aggregations survive the merge."""
    from pyspark.sql import functions as F

    result = geo_point_clustering(
        paris_df, "lon", "lat", 9, metrics={"sum_doc_id": F.col("doc_id")}
    )
    total = sum(c.metrics["sum_doc_id"] for c in result.clusters)
    assert total == sum(range(1, 16))


def test_general_metric_specs(paris_df, spark):
    """P18 general form: min/max/count monoid sub-aggregations survive both
    the cell aggregation and the greedy merge."""
    from pyspark.sql import functions as F

    from elasticsearch_aggregation_geoclustering_spark.operators.clustering import (
        MetricSpec,
    )

    result = geo_point_clustering(
        paris_df,
        "lon",
        "lat",
        9,
        metrics={
            "min_id": MetricSpec(F.min, F.col("doc_id"), min),
            "max_id": MetricSpec(F.max, F.col("doc_id"), max),
            "n": MetricSpec(F.sum, F.lit(1)),
        },
    )
    by_count = {c.doc_count: c for c in result.clusters}
    assert set(by_count) == {9, 6}
    for c in result.clusters:
        assert c.metrics["n"] == c.doc_count
        assert c.metrics["min_id"] <= c.metrics["max_id"]
    # ids 1..15: the two clusters partition them, so the global min/max land
    # in exactly one cluster each
    assert min(c.metrics["min_id"] for c in result.clusters) == 1
    assert max(c.metrics["max_id"] for c in result.clusters) == 15


def test_metric_specs_in_shard_parity_mode(paris_df, spark):
    from pyspark.sql import functions as F

    from elasticsearch_aggregation_geoclustering_spark.operators.clustering import (
        MetricSpec,
        geo_cell_aggregate,
    )

    df = paris_df.withColumn("shard", F.col("doc_id") % 3)
    cells = geo_cell_aggregate(
        df,
        zoom=9,
        shard_parity=True,
        shard_col="shard",
        metrics={"max_id": MetricSpec(F.max, F.col("doc_id"), max)},
        size=100,
    )
    rows = {r["cell"]: r["max_id"] for r in cells.collect()}
    exact = geo_cell_aggregate(
        df, zoom=9, metrics={"max_id": MetricSpec(F.max, F.col("doc_id"), max)}
    )
    exact_rows = {r["cell"]: r["max_id"] for r in exact.collect()}
    assert rows == exact_rows  # under shard_size: parity == exact, max re-agg correct
