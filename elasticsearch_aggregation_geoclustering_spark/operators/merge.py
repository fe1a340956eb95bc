"""Greedy distance-based cluster merge (the reduce-time heart of the plugin).

Reimplements InternalGeoPointClustering.mergeBuckets/computeDistance
(InternalGeoPointClustering.java:225-248, 366-415):

* candidates are visited in geohash-key-DESCENDING order (the reference pops
  a key-ordered priority queue into a descending array,
  InternalGeoPointClustering.java:311-315, comparator :448-459),
* the first unvisited bucket absorbs every later unvisited bucket whose
  centroid lies within ``radius_m · cos(radians(mean lat))``
  (:380-387); merged centroid is the doc-count-weighted mean (:392-399) and
  the absorbed cell keys accumulate into ``geohashes`` (:409),
* a second pass revisits buckets that just missed the radius when
  ``ratio > 0`` and ``distance / fixedRadius < ratio`` (:411-414) — the
  centroid may have moved toward them during the first pass,
* sub-aggregation payloads merge additively (InternalAggregations.reduce for
  the doc-count-style metrics we support, :401-406).

This is inherently sequential and order-dependent, so it deliberately runs on
the driver over at most ``size`` (default 10,000) collected cluster rows —
O(k²) distance checks, exactly the complexity envelope the reference accepts.
It is NOT a distributed operator and must not become one without changing
semantics.

Implementation note: the inner scan is numpy-vectorized WITHOUT changing
semantics.  The anchor's centroid only moves when a merge happens, so the
scan computes all distances from the current centroid in one vector op, finds
the FIRST in-radius candidate, applies that single merge scalar-side, and
re-vectorizes from the next position — identical decisions to the
element-by-element loop (``merge_clusters_reference``, kept for tests), but
k=10,000 anchors cost O(k) numpy passes instead of 10⁸ Python iterations.

Most anchors absorb nothing (z9 over world-scattered points: ~180 of 10,000
do), and an anchor's centroid only moves once it absorbs, so an anchor with
no later candidate within its radius at its ORIGINAL centroid absorbs
nothing at all — its ratio revisits retry the same centroid and miss again.
One vectorized pass over latitude-sorted neighbour pairs finds the anchors
that may absorb (``_may_absorb``, conservative by a relative margin far above
the last-ulp differences between vector and scalar trig), and only those
run the exact scan; the rest are emitted as they are.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ..geo.distance import EARTH_MEAN_RADIUS

_DEG = np.pi / 180.0


@dataclass
class Cluster:
    """A merged cluster: the Spark-side analog of InternalGeoPointClustering.Bucket."""

    cell: int  # geohash long key of the surviving bucket
    lat: float
    lon: float
    doc_count: int
    cells: list[int] = field(default_factory=list)  # all absorbed geohash keys
    metrics: dict[str, float] = field(default_factory=dict)  # additive sub-aggs
    visited: bool = False

    def __post_init__(self) -> None:
        if not self.cells:
            self.cells = [self.cell]


def _arc_np(lat1: float, lon1: float, lat2: np.ndarray, lon2: np.ndarray) -> np.ndarray:
    """Vectorized haversine (meters), same formula as geo.distance.arc_distance."""
    x1 = lat1 * _DEG
    x2 = lat2 * _DEG
    h1 = 1.0 - np.cos(x1 - x2)
    h2 = 1.0 - np.cos((lon1 - lon2) * _DEG)
    h = h1 + np.cos(x1) * np.cos(x2) * h2
    return EARTH_MEAN_RADIUS * 2.0 * np.arcsin(np.minimum(1.0, np.sqrt(h * 0.5)))


#: the pre-pass is skipped when the latitude band holds more than this many
#: neighbour pairs per candidate: so many neighbours means most anchors
#: absorb (large radii, dense data), and the pair pass would only add cost
_MAX_PAIRS_PER_CANDIDATE = 64

#: neighbour pairs tested per vector pass (bounds the pass's memory)
_PAIRS_PER_PASS = 1 << 17

#: relative slack that keeps the pre-pass conservative: it may flag an
#: anchor that absorbs nothing, never the reverse
_SLACK = 1e-7


def _may_absorb(
    lat: np.ndarray, lon: np.ndarray, order: np.ndarray, radius_m: float
) -> np.ndarray | None:
    """Mask of candidates with a LATER candidate within the merge radius of
    their own centroid, or None when the band is too dense to be worth it.

    A hit needs ``d <= fixed_radius <= radius_m`` and ``d >= R·|Δlat|``, so
    only pairs within ``radius_m / R`` of latitude can hit: sort by latitude,
    take each candidate's window of higher-latitude neighbours by bisection
    and test the pairs in vector passes.  ``order`` sorts ``lat``.
    """
    n = lat.size
    slat = lat[order]
    cut = radius_m / EARTH_MEAN_RADIUS / _DEG * (1.0 + _SLACK)
    width = np.searchsorted(slat, slat + cut, side="right") - np.arange(n) - 1
    ends = np.cumsum(width)
    if ends[-1] > _MAX_PAIRS_PER_CANDIDATE * n:
        return None
    starts = ends - width
    mask = np.zeros(n, dtype=bool)
    lo = 0
    while lo < n:
        stop = int(np.searchsorted(ends, starts[lo] + _PAIRS_PER_PASS, side="right"))
        hi = max(lo + 1, stop)
        w = width[lo:hi]
        # pair (a, b): a runs over sorted positions, b over a's window above it
        a = np.repeat(np.arange(lo, hi), w)
        b = a + 1 + np.arange(a.size) - np.repeat(starts[lo:hi] - starts[lo], w)
        ia, ib = order[a], order[b]
        d = _arc_np(lat[ia], lon[ia], lat[ib], lon[ib])
        fr = radius_m * np.cos(((lat[ia] + lat[ib]) / 2.0) * _DEG)
        hit = d <= fr * (1.0 + _SLACK) + _SLACK
        mask[np.minimum(ia, ib)[hit]] = True
        lo = hi
    return mask


def merge_clusters(
    candidates: list[Cluster],
    radius_m: float,
    ratio: float,
    metric_merge: dict | None = None,
) -> list[Cluster]:
    """Run the two-pass greedy merge over key-descending candidates.

    ``candidates`` must already be sorted by ``cell`` descending and truncated
    to ``size`` (the caller does the reference's P13 truncate-by-key).
    Mutates and returns the surviving clusters in visit order.

    ``metric_merge`` maps metric name → binary combine fn for absorbed
    buckets' sub-aggregation payloads (any commutative monoid: min, max,
    hll-union, ...); unnamed metrics combine additively, the
    InternalAggregations.reduce default for doc-count-style metrics.
    """
    n = len(candidates)
    if n == 0:
        return []
    lat = np.array([c.lat for c in candidates], dtype=np.float64)
    lon = np.array([c.lon for c in candidates], dtype=np.float64)
    cnt = np.array([c.doc_count for c in candidates], dtype=np.float64)
    visited = np.array([c.visited for c in candidates], dtype=bool)
    order = np.argsort(lat, kind="stable")
    slat = lat[order]
    may_absorb = _may_absorb(lat, lon, order, radius_m)
    # first-pass latitude band (see the scan below), and the bisection
    # window around it, wide enough that no rounding of the window bounds
    # can drop a candidate the exact band test keeps
    lat_cut = radius_m * max(1.0, ratio) / EARTH_MEAN_RADIUS / _DEG  # degrees
    window = lat_cut * (1.0 + _SLACK) + _SLACK

    final: list[Cluster] = []
    for i in range(n):
        if visited[i]:
            continue
        visited[i] = True
        bucket = candidates[i]
        blat, blon, bcnt = float(lat[i]), float(lon[i]), float(cnt[i])
        if may_absorb is not None and not may_absorb[i]:
            bucket.lat, bucket.lon, bucket.doc_count = blat, blon, int(bcnt)
            bucket.visited = True
            final.append(bucket)
            continue

        def absorb(j: int) -> None:
            nonlocal blat, blon, bcnt
            visited[j] = True
            other = candidates[j]
            merged = bcnt + float(cnt[j])
            blat = (blat * bcnt + float(lat[j]) * float(cnt[j])) / merged
            blon = (blon * bcnt + float(lon[j]) * float(cnt[j])) / merged
            bcnt = merged
            for key, val in other.metrics.items():
                fn = (metric_merge or {}).get(key)
                if key not in bucket.metrics:
                    bucket.metrics[key] = val
                elif fn is not None:
                    bucket.metrics[key] = fn(bucket.metrics[key], val)
                else:
                    bucket.metrics[key] = bucket.metrics[key] + val
            bucket.cells.append(other.cell)

        # first pass: scan the (unvisited, later) candidates in order; the
        # centroid is constant between merges, so vectorize up to each merge.
        # A conservative latitude-band prefilter skips the haversine for the
        # overwhelming majority of far candidates WITHOUT changing any
        # decision: haversine(d) >= R·|Δlat|, a hit needs d <= fr <=
        # radius_m, and a ratio revisit needs d < ratio·fr — so |Δlat_rad| >
        # radius_m·max(1, ratio)/R can be neither.  The band's members come
        # from bisecting the latitude-sorted order, then return to
        # collection order, so each step costs the band, not all k.
        revisit: list[int] = []
        last = i  # the scan resumes after the last absorbed candidate
        while True:
            lo, hi = np.searchsorted(slat, (blat - window, blat + window), side="left")
            band = order[lo:hi]
            band = np.sort(band[(band > last) & ~visited[band]])
            cand = band[np.abs(lat[band] - blat) <= lat_cut]
            if cand.size == 0:
                break
            d = _arc_np(blat, blon, lat[cand], lon[cand])
            fr = radius_m * np.cos(((blat + lat[cand]) / 2.0) * _DEG)
            hit = d <= fr
            if not hit.any():
                if ratio > 0:
                    with np.errstate(divide="ignore", invalid="ignore"):
                        rm = (fr > 0) & (d / fr < ratio)
                    revisit.extend(int(j) for j in cand[rm])
                break
            first = int(np.argmax(hit))
            if ratio > 0 and first > 0:
                dp, fp = d[:first], fr[:first]
                with np.errstate(divide="ignore", invalid="ignore"):
                    rm = (fp > 0) & (dp / fp < ratio)
                revisit.extend(int(j) for j in cand[:first][rm])
            last = int(cand[first])
            absorb(last)

        # second pass (ratio): retry near-misses against the moved centroid,
        # in collection order, one at a time (the centroid keeps moving)
        for j in revisit:
            if visited[j]:
                continue
            d = float(_arc_np(blat, blon, lat[j : j + 1], lon[j : j + 1])[0])
            fr = float(radius_m * np.cos(((blat + float(lat[j])) / 2.0) * _DEG))
            if d <= fr:
                absorb(j)

        bucket.lat, bucket.lon, bucket.doc_count = blat, blon, int(bcnt)
        bucket.visited = True
        final.append(bucket)
    return final


def merge_clusters_batched(
    candidates: list[Cluster],
    radius_m: float,
    ratio: float,
    batch_size: int,
) -> list[Cluster]:
    """ES batched-coordination reduce (InternalGeoPointClustering.java:295-297).

    Elasticsearch's coordinator reduces shard responses in batches of
    ``batched_reduce_size``; ``mergeBuckets`` runs on every NON-FINAL reduce
    too, so with many shards the greedy merge is applied per batch and then
    AGAIN over the per-batch survivors.  This is observably different from
    the one-shot merge: a bucket absorbed early in a batch can move that
    batch's centroid so a later bucket escapes, whereas the one-shot pass
    over the full key-descending array would have caught it (and vice
    versa).  The engine's default is the single final merge (strictly the
    better answer); this mode reproduces ES output for a given batching.

    ``candidates`` are consumed in the given order (ES: shard arrival
    order); each batch is key-desc sorted before its merge, as is the final
    pass — matching the PQ drain in :311-315.
    """
    if batch_size <= 0:
        raise ValueError(f"batch_size must be positive: {batch_size}")
    if len(candidates) <= batch_size:
        ordered = sorted(candidates, key=lambda c: c.cell, reverse=True)
        return merge_clusters(ordered, radius_m, ratio)
    # partial (non-final) reduce per batch, then ONE final reduce over the
    # accumulated survivors — the coordinator's shape
    survivors: list[Cluster] = []
    for i in range(0, len(candidates), batch_size):
        batch = sorted(candidates[i : i + batch_size], key=lambda c: c.cell, reverse=True)
        merged = merge_clusters(batch, radius_m, ratio)
        for c in merged:
            c.visited = False  # reset for the final reduce
        survivors.extend(merged)
    final = sorted(survivors, key=lambda c: c.cell, reverse=True)
    return merge_clusters(final, radius_m, ratio)


def merge_clusters_reference(
    candidates: list[Cluster],
    radius_m: float,
    ratio: float,
    metric_merge: dict | None = None,
) -> list[Cluster]:
    """Element-by-element transliteration of the reference merge loop.

    Kept as the semantics oracle for property tests: merge_clusters must make
    identical decisions on every input.
    """

    def arc(lat1: float, lon1: float, lat2: float, lon2: float) -> float:
        return float(_arc_np(lat1, lon1, np.array([lat2]), np.array([lon2]))[0])

    def try_merge(bucket: Cluster, other: Cluster, revisit: list[Cluster] | None) -> None:
        if other.visited:
            return
        dist = arc(bucket.lat, bucket.lon, other.lat, other.lon)
        fixed_radius = float(radius_m * np.cos(((bucket.lat + other.lat) / 2.0) * _DEG))
        if dist <= fixed_radius:
            other.visited = True
            merged = bucket.doc_count + other.doc_count
            bucket.lat = (bucket.lat * bucket.doc_count + other.lat * other.doc_count) / merged
            bucket.lon = (bucket.lon * bucket.doc_count + other.lon * other.doc_count) / merged
            bucket.doc_count = merged
            for key, val in other.metrics.items():
                fn = (metric_merge or {}).get(key)
                if key not in bucket.metrics:
                    bucket.metrics[key] = val
                elif fn is not None:
                    bucket.metrics[key] = fn(bucket.metrics[key], val)
                else:
                    bucket.metrics[key] = bucket.metrics[key] + val
            bucket.cells.append(other.cell)
        elif revisit is not None and ratio > 0 and fixed_radius > 0 and dist / fixed_radius < ratio:
            revisit.append(other)

    final: list[Cluster] = []
    for bucket in candidates:
        if bucket.visited:
            continue
        bucket.visited = True
        revisit: list[Cluster] = []
        for other in candidates:
            try_merge(bucket, other, revisit)
        for other in revisit:
            try_merge(bucket, other, None)
        final.append(bucket)
    return final
