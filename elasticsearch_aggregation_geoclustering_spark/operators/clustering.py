"""The geo_point_clustering operator, Spark-first.

Maps the reference pipeline (SURVEY.md §3.1) onto one declarative plan:

    df.where(<query>)                        # P5: Catalyst pushes to the scan
      .select(cell_udf(lon, lat), lat, lon)  # P7: Arrow-vectorized geohash
      .groupBy("cell")                       # P8/P9/P12: partial+final
      .agg(count, sum(lat), sum(lon), ...)   #   HashAggregate, one shuffle
      .orderBy(desc("cell")).limit(size)     # P13: TakeOrderedAndProject
      -> collect (≤ size rows)               # driver boundary
      -> greedy merge (P14-P17, sequential by design, operators.merge)

The per-cell centroid is ``sum/count``: the reference's per-shard running
mean (GeoPointClusteringAggregator.java:140-143) combined with the
doc-count-weighted reduce (BucketReducer.java:41-46) is mathematically the
same quantity; Spark's partial/final HashAggregate is the same two-phase
shape as the shard-collect → coordinator-reduce protocol.

Scale notes: the only shuffle is keyed by the geohash cell (bounded
cardinality: 32^precision, in practice ≤ millions of occupied cells at
precision 12 for clustered data); partial aggregation collapses points
map-side, so shuffle volume is O(occupied cells × partitions), independent of
row count.  The driver only ever sees ≤ ``size`` rows (default 10,000 —
GeoPointClusteringAggregationBuilder.java:42).

``quantize_wire=True`` additionally reproduces the reference's partial-result
quantization (InternalGeoPointClustering.java:54-73: centroids cross the wire
packed into one long at ~1e-7° resolution) by inserting a per-partition
pre-aggregation whose centroid is snapped to the Lucene 32-bit grid — this is
why the reference goldens' centroid doubles differ from the exact mean by
~2e-8 (see tests/test_clustering_golden.py).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

import operator
from collections.abc import Callable

from ..geo import geohash, geohash_expr
from ..geo.geohash import MAX_PRECISION as MAX_PRECISION_LEVEL
from ..geo.planner import ClusteringPlan, plan_clustering
from .merge import Cluster, merge_clusters


@dataclass(frozen=True)
class MetricSpec:
    """A per-bucket sub-aggregation (P18, general form).

    ``agg_fn(expr)`` runs inside the cell groupBy; in the shard-parity /
    quantize modes the SAME ``agg_fn`` re-aggregates the shard partials, so
    it must be self-mergeable (sum, min, max — express count as
    ``sum(lit(1))``).  ``combine`` is the Python monoid the greedy merge
    applies when one bucket absorbs another — the analog of
    InternalAggregations.reduce for the absorbed child payloads.
    """

    agg_fn: Callable
    expr: Column
    combine: Callable = operator.add


def _normalize_metrics(metrics: dict | None) -> dict[str, MetricSpec]:
    """Back-compat: a bare Column means an additive sum metric."""
    out: dict[str, MetricSpec] = {}
    for name, v in (metrics or {}).items():
        out[name] = v if isinstance(v, MetricSpec) else MetricSpec(F.sum, v)
    return out


def cell_column(lon_col: str, lat_col: str, precision: int) -> Column:
    """Geohash long-key column over the named coordinate columns (P7).

    Precision 1..11 (every zoom the planner produces below max) compiles to a
    pure JVM bit-arithmetic expression — the whole cell aggregation stays in
    whole-stage codegen with zero Python workers.  Precision 12 packs bit 63
    and uses the Arrow-batched numpy encoder instead; both produce identical
    keys (tests/test_geohash.py pins JVM == numpy on edge + random points).
    """
    if precision <= 11:
        return geohash_expr.cell_expr(lon_col, lat_col, precision)

    @F.pandas_udf(LongType())
    def _encode(lon_s: pd.Series, lat_s: pd.Series) -> pd.Series:
        keys = geohash.long_encode(
            lon_s.to_numpy(dtype=np.float64), lat_s.to_numpy(dtype=np.float64), precision
        )
        return pd.Series(keys)

    return _encode(lon_col, lat_col)


def geohash_string_column(cells: Column) -> Column:
    """Render geohash long keys (or arrays of them) to base-32 strings (P22)."""

    @F.pandas_udf(StringType())
    def _render(cell_s: pd.Series) -> pd.Series:
        return pd.Series(geohash.string_encode_from_long(cell_s.to_numpy(dtype=np.int64)))

    return _render(cells)


def _quantize_centroid(lat: Column, lon: Column) -> tuple[Column, Column]:
    """Round-trip a centroid through the Lucene 32-bit wire grid (P11).

    encodeLatLon/decodeLatitude/decodeLongitude in
    InternalGeoPointClustering.java:173-185: encode = floor(deg/step) (with
    the +edge stepped down), decode = encoded * step.
    """

    @F.pandas_udf(DoubleType())
    def _qlat(s: pd.Series) -> pd.Series:
        v = s.to_numpy(dtype=np.float64)
        enc = geohash._encode_axis(v, geohash.LATITUDE_DECODE, 90.0)
        return pd.Series(enc * geohash.LATITUDE_DECODE)

    @F.pandas_udf(DoubleType())
    def _qlon(s: pd.Series) -> pd.Series:
        v = s.to_numpy(dtype=np.float64)
        enc = geohash._encode_axis(v, geohash.LONGITUDE_DECODE, 180.0)
        return pd.Series(enc * geohash.LONGITUDE_DECODE)

    return _qlat(lat), _qlon(lon)


def explode_multi_points(
    df: DataFrame,
    points_col: str,
    doc_col: str,
    precision: int,
    lon_field: str = "lon",
    lat_field: str = "lat",
) -> DataFrame:
    """Multi-valued geo_point handling with duplicate-cell skip (P6).

    The reference iterates a doc's points in doc_values order (sorted by the
    Lucene encoding) and skips a value whose cell equals the previous value's
    cell (GeoPointClusteringAggregator.java:106-123, 144-147) — i.e. each doc
    contributes at most ONE point per cell, the first in encoded-sort order.

    Spark shape: explode the ``array<struct<lon,lat>>`` column, compute the
    cell, keep ``min_by(point, encoded)`` per (doc, cell) — ``min`` of the
    full-precision encoding IS the doc_values-first point, without assuming
    any input order.  One extra shuffle keyed by (doc, cell); the downstream
    cell aggregation then proceeds exactly as in the single-valued path.

    Returns ``(doc, lon, lat)`` rows ready for geo_cell_aggregate /
    geo_point_clustering.
    """
    pt = F.explode(F.col(points_col)).alias("_pt")
    base = df.select(F.col(doc_col).alias("_doc"), pt).select(
        "_doc",
        F.col(f"_pt.{lon_field}").cast("double").alias("lon"),
        F.col(f"_pt.{lat_field}").cast("double").alias("lat"),
    )
    # full-precision (level 12) encoding = Lucene doc_values sort key
    enc = cell_column("lon", "lat", MAX_PRECISION_LEVEL).alias("_enc")
    cell = cell_column("lon", "lat", precision).alias("_cell")
    with_keys = base.select("_doc", "lon", "lat", enc, cell)
    # ordering key carries (lon, lat) tiebreakers: two DISTINCT raw points can
    # share a level-12 encoding (~3.7 cm cells), and a bare min_by would then
    # pick either one nondeterministically across retries/engines
    first = with_keys.groupBy("_doc", "_cell").agg(
        F.min_by(
            F.struct("lon", "lat"), F.struct(F.col("_enc"), F.col("lon"), F.col("lat"))
        ).alias("_p")
    )
    return first.select(
        F.col("_doc").alias(doc_col),
        F.col("_p.lon").alias("lon"),
        F.col("_p.lat").alias("lat"),
    )


def geo_cell_aggregate(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    zoom: int = 1,
    *,
    quantize_wire: bool = False,
    shard_parity: bool = False,
    shard_col: str | None = None,
    metrics: dict[str, Column] | None = None,
    **params,
) -> DataFrame:
    """Distributed part of the clustering: per-cell counts and centroids.

    Returns a DataFrame ``(cell, doc_count, centroid_lat, centroid_lon,
    <metrics...>)`` — the candidate buckets before truncation and merge.
    This is the SQL-checkable core (P5, P7, P8/P9/P12 fused into one
    groupBy); callers chain ``.orderBy(F.desc("cell")).limit(size)`` for P13.

    ``shard_parity=True`` (P10) truncates each shard's cells to the plan's
    shard_size largest keys before the reduce, reproducing ES multi-shard
    output when #cells/shard > shard_size; exact mode (default) is strictly
    more accurate.  The shard is the physical partition unless ``shard_col``
    names an explicit shard-id column (deterministic, oracle-checkable).
    """
    plan = plan_clustering(zoom, **params)
    return _cell_aggregate(
        df, lon_col, lat_col, plan, quantize_wire, metrics, shard_parity, shard_col
    )


def _cell_aggregate(
    df: DataFrame,
    lon_col: str,
    lat_col: str,
    plan: ClusteringPlan,
    quantize_wire: bool,
    metrics: dict[str, Column] | None,
    shard_parity: bool = False,
    shard_col: str | None = None,
) -> DataFrame:
    specs = _normalize_metrics(metrics)
    # the fixed parts of the plan are SQL text: a functions-API tree costs a
    # py4j round trip per node, a parsed string one call
    base = df.select(
        F.expr(f"CAST(`{lat_col}` AS DOUBLE) AS _lat"),
        F.expr(f"CAST(`{lon_col}` AS DOUBLE) AS _lon"),
        *([F.expr(f"`{shard_col}` AS _shard")] if shard_col else []),
        *[spec.expr.alias(f"_m_{name}") for name, spec in specs.items()],
    )
    if plan.precision <= 11:
        # staged projections: identical bits to cell_column, but the codegen
        # source stays linear instead of 2^5-expanded — saves ~2 s of janino
        # compile on the first query at each distinct precision
        base = geohash_expr.with_cell_column(base, "_lon", "_lat", plan.precision, "cell")
    else:
        base = base.withColumn(
            "cell", cell_column("_lon", "_lat", plan.precision)
        )
    # NULL coords = absent values: skipped, as the reference's doc_values
    # iterator does for docs without the field.  The filter tests the RAW
    # inputs, not the computed cell (cell is NULL iff an input is NULL —
    # validate raises on out-of-range): predicating on the alias would
    # substitute the whole morton expression into the Filter and evaluate
    # it twice per row (no cross-operator CSE), and a raw-column IsNotNull
    # also pushes down into the parquet scan.
    base = base.where("_lon IS NOT NULL AND _lat IS NOT NULL")
    metric_aggs = [
        spec.agg_fn(F.col(f"_m_{name}")).alias(name) for name, spec in specs.items()
    ]

    if not quantize_wire and not shard_parity:
        return base.groupBy("cell").agg(
            F.expr("count(1) AS doc_count"),
            F.expr("sum(_lat) / count(1) AS centroid_lat"),
            F.expr("sum(_lon) / count(1) AS centroid_lon"),
            *metric_aggs,
        )

    # Parity modes reproduce the reference's shard → coordinator protocol:
    # per-partition ("shard") partials, optionally quantized to the Lucene
    # wire grid (quantize_wire, InternalGeoPointClustering.java:54-73) and/or
    # truncated to the shard_size largest cell keys BEFORE the reduce
    # (shard_parity, GeoPointClusteringAggregator.java:206-244 — a shard with
    # more than shard_size occupied cells drops the smallest keys, which the
    # exact mode never does), then doc-count-weighted combine.
    # the "shard" is the physical partition by default (ES shard == data
    # split); an explicit shard_col makes the protocol deterministic for
    # oracle checks and for callers with a logical shard key
    shard_expr = F.col("_shard") if shard_col else F.spark_partition_id()
    partial = (
        base.withColumn("_pid", shard_expr)
        .groupBy("cell", "_pid")
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            (F.sum("_lat") / F.count(F.lit(1))).alias("_plat"),
            (F.sum("_lon") / F.count(F.lit(1))).alias("_plon"),
            *[
                spec.agg_fn(F.col(f"_m_{name}")).alias(f"_m_{name}")
                for name, spec in specs.items()
            ],
        )
    )
    if shard_parity:
        from pyspark.sql import Window

        w = Window.partitionBy("_pid").orderBy(F.desc("cell"))
        partial = (
            partial.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= plan.shard_size)
            .drop("_rn")
        )
    if quantize_wire:
        qlat, qlon = _quantize_centroid(F.col("_plat"), F.col("_plon"))
        partial = partial.withColumn("_qlat", qlat).withColumn("_qlon", qlon)
    else:
        partial = partial.withColumn("_qlat", F.col("_plat")).withColumn(
            "_qlon", F.col("_plon")
        )
    return partial.groupBy("cell").agg(
        F.sum("_cnt").alias("doc_count"),
        (F.sum(F.col("_qlat") * F.col("_cnt")) / F.sum("_cnt")).alias("centroid_lat"),
        (F.sum(F.col("_qlon") * F.col("_cnt")) / F.sum("_cnt")).alias("centroid_lon"),
        *[
            spec.agg_fn(F.col(f"_m_{name}")).alias(name)
            for name, spec in specs.items()
        ],
    )


@dataclass(frozen=True)
class ClusteringResult:
    """Final clusters plus the folded plan, renderable like the plugin."""

    plan: ClusteringPlan
    clusters: list[Cluster]

    def to_buckets(self) -> list[dict]:
        """JSON-shaped buckets (InternalGeoPointClustering.java:107-114)."""
        return [
            {
                "geohash_grids": list(geohash.string_encode_from_long(np.array(c.cells, dtype=np.int64))),
                "doc_count": c.doc_count,
                "centroid": {"lat": c.lat, "lon": c.lon},
                **({"metrics": dict(c.metrics)} if c.metrics else {}),
            }
            for c in self.clusters
        ]


_RESULT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        # rendered as a comma-joined sorted scalar, not array<string>: flat
        # columns sort/compare everywhere (the driver gate canonicalizes by
        # sorting every column; JSON consumers get the array via to_buckets)
        StructField("geohash_grids", StringType()),
        StructField("doc_count", LongType()),
        StructField("centroid_lat", DoubleType()),
        StructField("centroid_lon", DoubleType()),
    ]
)


def _cell_aggregate_es(
    df: DataFrame,
    lon_col: str,
    lat_col: str,
    plan: ClusteringPlan,
    shard_col: str,
    order_col: str,
) -> DataFrame:
    """Bit-exact ES centroid association (opt-in parity mode).

    Reproduces the reference's two-level association arithmetic double for
    double — the YAML goldens assert FULL rendered centroids
    (20_geo_clustering.yml:131-132, 148-153) and this mode matches them
    exactly (tests/test_es_association.py):

    1. doc coordinates round-trip the Lucene 32-bit doc_values grid
       (GeoEncodingUtils encode/decode) BEFORE any arithmetic — the
       aggregator reads decoded doc_values, never the raw source;
    2. per (shard, cell): a RUNNING mean in doc order,
       ``m += (x - m) / k`` (GeoPointClusteringAggregator.java:140-143);
    3. per cell: doc-count-weighted combine of the shard partials in
       shard-id order (BucketReducer.java:41-46).  Partials are NOT
       re-quantized between 2 and 3: on a single-node cluster (the YAML
       test environment) the reduce reads the in-memory GeoPoint and skips
       the wire encode of InternalGeoPointClustering.java:68-70.

    ``shard_col``/``order_col`` define the association order (for ES parity:
    murmur3 id routing via geo.es_routing.es_shard_column, and Lucene docID
    = indexing order).  The sequential running mean cannot be vectorized
    without changing fp results, so step 2 loops per row inside each Arrow
    batch — this mode exists for parity validation and modest per-cell
    volumes, not the 100 TB hot path (the exact mode's fused sum/count
    groupBy is the scale path; its centroids differ from ES only by the
    association order, ≤ ~1e-7).
    """
    lat_step = float(geohash.LATITUDE_DECODE)
    lon_step = float(geohash.LONGITUDE_DECODE)
    lat_d, lon_d = F.col(lat_col).cast("double"), F.col(lon_col).cast("double")
    # Lucene encode steps the +edge down one ulp; everything else floors
    qlat = (
        F.floor(F.least(lat_d, F.lit(geohash_expr._LAT_MAX)) / F.lit(lat_step))
        .cast("double") * F.lit(lat_step)
    )
    qlon = (
        F.floor(F.least(lon_d, F.lit(geohash_expr._LON_MAX)) / F.lit(lon_step))
        .cast("double") * F.lit(lon_step)
    )
    base = (
        df.where(lat_d.isNotNull() & lon_d.isNotNull())
        .select(
            F.col(shard_col).cast("int").alias("_shard"),
            F.col(order_col).cast("long").alias("_ord"),
            qlat.alias("_qlat"),
            qlon.alias("_qlon"),
        )
    )
    # cell keys from the QUANTIZED coords — the reference encodes from the
    # decoded doc_values, not the raw source
    if plan.precision <= 11:
        base = geohash_expr.with_cell_column(base, "_qlon", "_qlat", plan.precision, "cell")
    else:  # max zoom: level-12 keys pack bit 63, Arrow/numpy path
        base = base.withColumn(
            "cell", cell_column("_qlon", "_qlat", plan.precision)
        )

    def assoc(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["_shard", "_ord"], kind="stable")
        partials: list[tuple[float, float, int]] = []  # (lat, lon, n) per shard
        cur_shard = None
        mlat = mlon = 0.0
        n = 0
        for shard, plat, plon in zip(pdf["_shard"], pdf["_qlat"], pdf["_qlon"]):
            if shard != cur_shard:
                if n:
                    partials.append((mlat, mlon, n))
                cur_shard, mlat, mlon, n = shard, 0.0, 0.0, 0
            n += 1
            mlon = mlon + (plon - mlon) / n
            mlat = mlat + (plat - mlat) / n
        if n:
            partials.append((mlat, mlon, n))
        slat = slon = 0.0
        cnt = 0
        for plat, plon, pn in partials:  # shard-ascending (sorted above)
            slat += plat * pn
            slon += plon * pn
            cnt += pn
        return pd.DataFrame(
            [
                {
                    "cell": key[0],
                    "doc_count": cnt,
                    "centroid_lat": slat / cnt,
                    "centroid_lon": slon / cnt,
                }
            ]
        )

    return base.groupBy("cell").applyInPandas(
        assoc, "cell long, doc_count long, centroid_lat double, centroid_lon double"
    )


def geo_cell_aggregate_es(
    df: DataFrame,
    lon_col: str,
    lat_col: str,
    zoom: int = 1,
    *,
    shard_col: str,
    order_col: str,
    **params,
) -> DataFrame:
    """Public wrapper over _cell_aggregate_es (plan derived from zoom)."""
    plan = plan_clustering(zoom, **params)
    return _cell_aggregate_es(df, lon_col, lat_col, plan, shard_col, order_col)


def geo_point_clustering(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    zoom: int = 1,
    *,
    quantize_wire: bool = False,
    shard_parity: bool = False,
    metrics: dict[str, Column] | None = None,
    sample_fraction: float | None = None,
    sample_seed: int = 42,
    es_association: bool = False,
    shard_col: str | None = None,
    order_col: str | None = None,
    batched_reduce: int | None = None,
    **params,
) -> ClusteringResult:
    """Full aggregation: distributed cell agg + driver-side greedy merge.

    Unmapped-field short-circuit (P19,
    GeoPointClusteringAggregatorFactory.java:57-73): a missing lon/lat column
    yields a well-formed empty result rather than an error.

    ``sample_fraction`` reproduces the sampling finalize (P20,
    InternalGeoPointClustering.java:339-353): cluster over a Bernoulli sample
    and scale each bucket's doc_count back up by 1/fraction
    (``SamplingContext.scaleUp``); centroids stay the sample means.

    ``batched_reduce=N`` reproduces ES's batched-coordination quirk
    (InternalGeoPointClustering.java:295-297): the coordinator runs
    ``mergeBuckets`` on every NON-final reduce too (skipping only the
    truncation), so with ``batched_reduce_size`` batches of shard responses
    the greedy merge applies per batch and then AGAIN over the survivors —
    observably different from the engine's default single final merge
    (which is the strictly-more-accurate answer, documented SURVEY §3.1).
    N is the per-batch bucket count; incompatible with ``metrics`` (merged
    payload identity across the two passes isn't defined by the reference).
    """
    plan = plan_clustering(zoom, **params)
    if lon_col not in df.columns or lat_col not in df.columns:
        return ClusteringResult(plan=plan, clusters=[])
    if sample_fraction is not None:
        if not 0 < sample_fraction <= 1:
            raise ValueError(f"sample_fraction must be in (0, 1]: {sample_fraction}")
        if sample_fraction < 1:
            df = df.sample(fraction=sample_fraction, seed=sample_seed)

    if es_association:
        if metrics or quantize_wire or shard_parity:
            raise ValueError(
                "es_association composes with none of metrics/quantize_wire/"
                "shard_parity (it IS the exact shard protocol)"
            )
        if shard_col is None or order_col is None:
            raise ValueError("es_association requires shard_col and order_col")
        cells_df = _cell_aggregate_es(df, lon_col, lat_col, plan, shard_col, order_col)
    else:
        cells_df = _cell_aggregate(
            df, lon_col, lat_col, plan, quantize_wire, metrics, shard_parity
        )
    rows = (
        cells_df.orderBy(F.desc("cell")).limit(plan.size).collect()
    )  # TakeOrderedAndProject; ≤ size rows reach the driver
    specs = _normalize_metrics(metrics)
    # every cell aggregate yields (cell, doc_count, centroid_lat,
    # centroid_lon, *metrics); unpacking by position skips a name lookup per
    # field (~30 ms of driver time per 10,000 rows on a 4-CPU host).
    # toArrow() would run TakeOrderedAndProject's execute() path: an extra
    # shuffle stage.
    candidates = [
        Cluster(cell=cell, lat=lat, lon=lon, doc_count=n, metrics=dict(zip(specs, vals)))
        for cell, n, lat, lon, *vals in rows
    ]
    metric_merge = {name: spec.combine for name, spec in specs.items()}
    if batched_reduce is not None:
        if specs:
            raise ValueError("batched_reduce does not compose with metrics")
        from .merge import merge_clusters_batched

        clusters = merge_clusters_batched(
            candidates, plan.radius_m, plan.ratio, batch_size=batched_reduce
        )
    else:
        clusters = merge_clusters(candidates, plan.radius_m, plan.ratio, metric_merge)
    if sample_fraction is not None and sample_fraction < 1:
        for c in clusters:
            # SamplingContext.scaleUp rounds (Math.round), not truncates;
            # only additive payloads rescale (a sampled max is still a max)
            c.doc_count = int(round(c.doc_count / sample_fraction))
            c.metrics = {
                k: (v / sample_fraction if specs[k].combine is operator.add else v)
                for k, v in c.metrics.items()
            }
    return ClusteringResult(plan=plan, clusters=clusters)


def clusters_to_dataframe(spark: SparkSession, result: ClusteringResult) -> DataFrame:
    """Render a ClusteringResult as a small DataFrame (driver-gate shape)."""
    data = [
        (
            str(geohash.string_encode_from_long(np.array([c.cell]))[0]),
            ",".join(
                sorted(
                    str(s)
                    for s in geohash.string_encode_from_long(
                        np.array(c.cells, dtype=np.int64)
                    )
                )
            ),
            c.doc_count,
            c.lat,
            c.lon,
        )
        for c in result.clusters
    ]
    return spark.createDataFrame(data, _RESULT_SCHEMA)


def geo_distance_filter(
    df: DataFrame,
    *,
    lon_col: str = "lon",
    lat_col: str = "lat",
    center_lon: float,
    center_lat: float,
    radius_m: float,
) -> DataFrame:
    """ES ``geo_distance`` query: rows within ``radius_m`` of a center.

    The filter the clustering aggregation composes with (the reference runs
    over "documents matching the query" — GeoPointClusteringAggregator
    receives the query's doc set; ``geo_bounding_box`` is covered by plain
    ``.where`` range predicates, this adds the radius form).

    Shape: a LITERAL bounding-box pre-filter — computed driver-side from
    the radius, so both range predicates push into the parquet scan's
    row-group stats — then the exact haversine (pure JVM trig, whole-stage
    codegen) refines, exactly Lucene LatLonPoint.newDistanceQuery's
    bbox-then-haversine structure.  Near the poles or across the
    antimeridian the lon band is dropped (kept correct by the exact
    predicate; only the pre-filter selectivity degrades, as in Lucene).
    """
    import math as _math

    from ..geo.distance import EARTH_MEAN_RADIUS, arc_distance_column

    if radius_m < 0:
        raise ValueError(f"radius_m must be >= 0: {radius_m}")
    dlat = _math.degrees(radius_m / EARTH_MEAN_RADIUS)
    lat_lo, lat_hi = center_lat - dlat, center_lat + dlat
    out = df.where(
        (F.col(lat_col) >= F.lit(lat_lo)) & (F.col(lat_col) <= F.lit(lat_hi))
    )
    # widest |lat| in the band decides the lon shrink; skip the lon band if
    # it would wrap or the band touches a pole
    max_abs_lat = min(90.0, max(abs(lat_lo), abs(lat_hi)))
    cos_lat = _math.cos(_math.radians(max_abs_lat))
    if lat_lo > -90.0 and lat_hi < 90.0 and cos_lat > 1e-9:
        dlon = _math.degrees(radius_m / (EARTH_MEAN_RADIUS * cos_lat))
        if center_lon - dlon >= -180.0 and center_lon + dlon <= 180.0:
            out = out.where(
                (F.col(lon_col) >= F.lit(center_lon - dlon))
                & (F.col(lon_col) <= F.lit(center_lon + dlon))
            )
    dist = arc_distance_column(
        F.col(lat_col), F.col(lon_col), F.lit(center_lat), F.lit(center_lon)
    )
    return out.where(dist <= F.lit(radius_m))
