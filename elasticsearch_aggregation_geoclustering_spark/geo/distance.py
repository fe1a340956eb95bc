"""Great-circle distance as used by the reference's cluster merge.

The reference calls ``GeoUtils.arcDistance`` (haversine on Lucene's mean
earth radius 6,371,008.7714 m) inside the greedy merge —
InternalGeoPointClustering.java:373-378 — and shrinks the merge radius by
``cos(radians(mean latitude))`` — InternalGeoPointClustering.java:380-384.

We use exact numpy trig rather than Lucene SloppyMath's table-based
approximations; merge decisions are binary thresholds and the goldens pin
that the decisions agree (tests/test_clustering_golden.py).
"""

from __future__ import annotations

import numpy as np

#: Lucene/ES mean earth radius in meters (GeoUtils.EARTH_MEAN_RADIUS)
EARTH_MEAN_RADIUS = 6371008.7714

#: ES GeoUtils.EARTH_EQUATOR = 2π · WGS84 semi-major axis (6378137 m)
EARTH_EQUATOR = 2.0 * np.pi * 6378137.0

#: ES GeoUtils.EARTH_POLAR_DISTANCE = π · WGS84 semi-minor axis
EARTH_POLAR_DISTANCE = np.pi * 6356752.314245


def arc_distance(lat1, lon1, lat2, lon2):
    """Haversine distance in meters (vectorized).

    Mirrors GeoUtils.arcDistance / SloppyMath.haversinMeters semantics:
    ``R * 2 * asin(min(1, sqrt(h/2)))``.
    """
    lat1, lon1, lat2, lon2 = (np.asarray(a, dtype=np.float64) for a in (lat1, lon1, lat2, lon2))
    x1 = np.radians(lat1)
    x2 = np.radians(lat2)
    h1 = 1.0 - np.cos(x1 - x2)
    h2 = 1.0 - np.cos(np.radians(lon1 - lon2))
    h = h1 + np.cos(x1) * np.cos(x2) * h2
    return EARTH_MEAN_RADIUS * 2.0 * np.arcsin(np.minimum(1.0, np.sqrt(h * 0.5)))


def arc_distance_column(lat1, lon1, lat2, lon2):
    """``arc_distance`` as a pure-JVM Spark Column (whole-stage codegen).

    Same expression tree as the numpy version — R·2·asin(min(1, √(h/2))) on
    the Lucene mean radius — so the two agree to double precision; binary
    threshold decisions near an exact boundary can differ in the last ulp
    between math libraries, which is why oracle rows pick radii off any
    exact point distance.
    """
    from pyspark.sql import functions as F

    x1 = F.radians(lat1)
    x2 = F.radians(lat2)
    h = (
        (F.lit(1.0) - F.cos(x1 - x2))
        + F.cos(x1) * F.cos(x2) * (F.lit(1.0) - F.cos(F.radians(lon1 - lon2)))
    )
    return F.lit(EARTH_MEAN_RADIUS) * F.lit(2.0) * F.asin(
        F.least(F.lit(1.0), F.sqrt(h * F.lit(0.5)))
    )
