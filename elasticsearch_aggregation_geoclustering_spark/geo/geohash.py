"""Vectorized geohash encoding, reproducing Elasticsearch's long-key format.

The reference plugin keys its clustering buckets by
``Geohash.longEncode(lon, lat, precision)`` (see
``GeoPointClusteringAggregator.java:118-120``) and renders them with
``Geohash.stringEncode`` (``InternalGeoPointClustering.java:79-81``).  Both are
public Elasticsearch/Lucene formats:

* lat/lon are quantized to signed 32-bit ints via Lucene ``GeoEncodingUtils``
  (``floor(deg / (span / 2^32))``, with the +90/+180 edge mapped down),
* the sign bit is flipped so the ints sort unsigned,
* the two 32-bit values are bit-interleaved (lon on the odd/higher bits, so
  the morton code starts with a longitude bit, like classic geohash),
* the top ``5 * level`` bits are kept and the level (1..12) is packed into the
  4 least-significant bits of the long.

Everything here is pure numpy on int64/uint64 arrays — no per-row Python —
so it can run inside Arrow-batched pandas UDFs.

Golden pins (tests/test_geohash.py): the classic public vector
(lat 42.6, lon -5.6) -> "ezs42", and the reference's own Paris cells
u09wn/u09tz/... from /root/reference README.md:117-141.
"""

from __future__ import annotations

import numpy as np

#: maximum geohash precision (chars) — Geohash.PRECISION in ES
MAX_PRECISION = 12

#: Lucene GeoEncodingUtils decode steps: degrees per quantization unit
LATITUDE_DECODE = 180.0 / np.float64(2.0**32)
LONGITUDE_DECODE = 360.0 / np.float64(2.0**32)

_BASE32 = np.frombuffer(b"0123456789bcdefghjkmnpqrstuvwxyz", dtype=np.uint8)
_BASE32_STR = "0123456789bcdefghjkmnpqrstuvwxyz"


def _encode_axis(deg: np.ndarray, decode_step: float, limit: float) -> np.ndarray:
    """Lucene GeoEncodingUtils.encodeLatitude/encodeLongitude, vectorized.

    Returns signed 32-bit quantized values as int64 (to keep numpy happy).
    A NaN or out-of-range coordinate raises.
    """
    deg = np.asarray(deg, dtype=np.float64)
    bad = ~((deg >= -limit) & (deg <= limit))  # NaN fails both comparisons
    if np.any(bad):
        raise ValueError(f"coordinate out of range [±{limit}]: {deg[bad][:3]}")
    # the maximum value cannot be encoded without overflow: step down one ulp
    deg = np.where(deg == limit, np.nextafter(limit, -np.inf), deg)
    return np.floor(deg / decode_step).astype(np.int64)


def _spread_bits(x: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of x to the even bit positions of a uint64."""
    x = x.astype(np.uint64) & np.uint64(0xFFFFFFFF)
    x = (x | (x << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    x = (x | (x << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    x = (x | (x << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    x = (x | (x << np.uint64(2))) & np.uint64(0x3333333333333333)
    x = (x | (x << np.uint64(1))) & np.uint64(0x5555555555555555)
    return x


def _interleave_latlon(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """64-bit morton code: lat bits at even positions, lon bits at odd.

    The top bit is therefore a longitude bit — the classic geohash bit order.
    Inputs are the sign-flipped (unsigned-order) 32-bit quantizations.
    """
    return _spread_bits(lat) | (_spread_bits(lon) << np.uint64(1))


def long_encode(
    lon: np.ndarray, lat: np.ndarray, precision: int
) -> np.ndarray:
    """ES ``Geohash.longEncode(lon, lat, level)``, vectorized.

    Returns int64 keys: the top ``5*precision`` morton bits followed by the
    precision in the low 4 bits.  Reference use:
    GeoPointClusteringAggregator.java:120.
    """
    if not 1 <= precision <= MAX_PRECISION:
        raise ValueError(f"precision must be in [1, {MAX_PRECISION}]: {precision}")
    lat_enc = (_encode_axis(lat, LATITUDE_DECODE, 90.0) ^ 0x80000000) & 0xFFFFFFFF
    lon_enc = (_encode_axis(lon, LONGITUDE_DECODE, 180.0) ^ 0x80000000) & 0xFFFFFFFF
    morton = _interleave_latlon(
        np.asarray(lat_enc, dtype=np.uint64), np.asarray(lon_enc, dtype=np.uint64)
    )
    shift = np.uint64(4 + 5 * (MAX_PRECISION - precision))
    key = ((morton >> shift) << np.uint64(4)) | np.uint64(precision)
    return key.astype(np.int64)


def string_encode_from_long(keys: np.ndarray) -> np.ndarray:
    """ES ``Geohash.stringEncode(long)``: base-32 render of a long key.

    Vectorized: returns a numpy object array of python strings.
    Reference use: InternalGeoPointClustering.java:79-81, 109.
    """
    keys = np.asarray(keys, dtype=np.uint64)
    levels = (keys & np.uint64(15)).astype(np.int64)
    if keys.size == 0:
        return np.empty(0, dtype=object)
    max_level = int(levels.max())
    bits = keys >> np.uint64(4)
    # extract 5-bit groups, most significant char first
    chars = np.zeros((keys.size, max_level), dtype=np.uint8)
    for pos in range(max_level):
        # char index pos (0-based from the left) for rows with level > pos
        sel = levels > pos
        shift = ((levels - 1 - pos) * 5).astype(np.uint64)
        vals = ((bits >> shift) & np.uint64(31)).astype(np.int64)
        chars[sel, pos] = _BASE32[vals[sel]]
    out = np.empty(keys.size, dtype=object)
    for i in range(keys.size):  # join loop only at render time (≤ size rows)
        out[i] = chars[i, : levels[i]].tobytes().decode("ascii")
    return out


def string_encode(lon, lat, precision: int):
    """Standard geohash string of (lon, lat) at the given precision."""
    keys = long_encode(np.atleast_1d(lon), np.atleast_1d(lat), precision)
    return string_encode_from_long(keys)


def string_decode_to_long(geohash: str) -> int:
    """Inverse of string_encode_from_long for a single geohash string."""
    bits = 0
    for ch in geohash:
        bits = (bits << 5) | _BASE32_STR.index(ch)
    return (bits << 4) | len(geohash)
