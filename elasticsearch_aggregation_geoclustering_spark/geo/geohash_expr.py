"""ES Geohash.longEncode as a pure JVM column expression (no Python workers).

Same bit algorithm as geo/geohash.py's numpy version (Lucene axis
quantization → sign-flip → morton interleave → keep top 5·level bits → pack
level low), expressed with Spark's long bit ops so the clustering hot path
stays inside whole-stage codegen — no Arrow UDF appears in
geo_cell_aggregate's plan at any zoom.

Valid for every precision 1..12.  At level 12 the packed key keeps bit 63,
so it is a negative long — the same bits numpy's uint64 key has when viewed
as int64.  Out-of-range and NaN coordinates raise at execution time, as the
numpy path does; NULL coordinates yield a NULL key.  The same Lucene axis
quantization, decoded back to degrees, is :func:`quantize_sql` (the
doc_values / wire grid the clustering parity modes round-trip through).

The expressions are written as SQL text and parsed JVM-side: building the
same tree from ``pyspark.sql.functions`` calls costs one py4j round trip
per node (several hundred per key expression, ~0.1 ms each), a fixed
per-request cost that dwarfed the codegen'd evaluation on small inputs.
Double constants are spelled by ``functions.sql_text.dbl``, which parses
back to the identical double, so the keys stay bit-identical.

Java's long shifts/or/and/xor are bit-identical to the numpy uint64 ops for
these masked values — pinned against the numpy implementation on edge and
random coordinates by tests/test_geohash.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.sql_text import dbl, name
from .geohash import LATITUDE_DECODE, LONGITUDE_DECODE, MAX_PRECISION

_SPREAD_STEPS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)

#: the +edge coordinate steps down one ulp before quantization
_LAT_MAX = float(np.nextafter(90.0, -np.inf))
_LON_MAX = float(np.nextafter(180.0, -np.inf))


def _axis_sql(deg: str, decode_step: float, edge_max: float) -> str:
    """Lucene encodeLatitude/encodeLongitude, sign-flipped to unsigned order."""
    q = f"FLOOR(LEAST({deg}, {dbl(edge_max)}) / {dbl(decode_step)})"
    return f"(({q} ^ 2147483648L) & 4294967295L)"


def _spread_sql(x: str, shift: int, mask: int) -> str:
    """One step of spreading the low 32 bits to even bit positions."""
    return f"(({x} | shiftleft({x}, {shift})) & {mask}L)"


def _key_sql(lat_bits: str, lon_bits: str, precision: int) -> str:
    """Morton-interleave spread lat (even bits) and lon (odd bits), keep the
    top 5·precision bits and pack the level low.  lon<<1 may set bit 63
    (negative long, correct bit pattern); the unsigned shift right clears it
    for precision <= 11 (shift >= 9), and at precision 12 (shift 4) the
    shift back left restores it — numpy's uint64 key viewed as int64."""
    morton = f"({lat_bits} | shiftleft({lon_bits}, 1))"
    shift = 4 + 5 * (12 - precision)
    return f"CAST((shiftleft(shiftrightunsigned({morton}, {shift}), 4) | {precision}) AS BIGINT)"


def _validator_sql(lon: str, lat: str) -> str:
    """Additive coordinate guard: NULL when absent, raises when out of
    range/NaN, else 0 — add it to a key expression to validate without
    nesting the key inside a CASE branch.

    The validator rides OUTSIDE the heavy key expression as an additive
    term: ``key + CASE(...)``.  Putting ``key`` inside a CASE branch would
    disable codegen common-subexpression elimination (conditional branches
    are evaluated lazily, so the textual copies of FLOOR(least(...)) in the
    spread-bits expansion each re-evaluate per row — measured 4x slower).
    Here key stays unconditional, NULL coords null-propagate through the
    addition, and the raise fires when the term is evaluated on a bad row.
    """
    bad = (
        f"{lon} < -180.0D OR {lon} > 180.0D OR {lat} < -90.0D OR {lat} > 90.0D"
        f" OR isnan({lon}) OR isnan({lat})"
    )
    err = (
        "raise_error(concat('geo coordinate out of range: lon=', "
        f"CAST({lon} AS STRING), ' lat=', CAST({lat} AS STRING)))"
    )
    return (
        f"CASE WHEN {lon} IS NULL OR {lat} IS NULL THEN CAST(NULL AS BIGINT)"
        f" WHEN {bad} THEN CAST({err} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    )


def _check_precision(precision: int) -> None:
    if not 1 <= precision <= MAX_PRECISION:
        raise ValueError(f"cell keys support precision 1..{MAX_PRECISION}: {precision}")


def quantize_sql(deg: str, decode_step: float, limit: float) -> str:
    """Round-trip the degrees expression ``deg`` through the Lucene 32-bit
    grid: ``floor(deg / step) · step``, the +edge stepped down one ulp
    (GeoEncodingUtils encode/decode; InternalGeoPointClustering.java:173-185).

    Equal to ``geohash._encode_axis(deg, step, limit) * step``.  NULL stays
    NULL and a NaN or out-of-range value raises, where ``least`` alone would
    put either on the edge cell (Spark's ``least`` skips NULLs and orders
    NaN above every number).
    """
    edge = float(np.nextafter(limit, -np.inf))
    grid = (
        f"CAST(FLOOR(LEAST({deg}, {dbl(edge)}) / {dbl(decode_step)}) AS DOUBLE)"
        f" * {dbl(decode_step)}"
    )
    err = f"raise_error(concat('geo coordinate out of range: ', CAST({deg} AS STRING)))"
    return (
        f"CASE WHEN {deg} IS NULL THEN CAST(NULL AS DOUBLE)"
        f" WHEN isnan({deg}) OR {deg} < {dbl(-limit)} OR {deg} > {dbl(limit)}"
        f" THEN CAST({err} AS DOUBLE) ELSE {grid} END"
    )


def cell_expr(lon_col: str, lat_col: str, precision: int) -> Column:
    """``Geohash.longEncode(lon, lat, precision)`` as a codegen-able Column
    over the named coordinate columns.

    Bit-identical to geo.geohash.long_encode for precision 1..12.

    An out-of-range or NaN coordinate raises at execution time instead of
    silently producing an undefined cell key — the same failure mode as
    geo.geohash.long_encode, and the loud analog of the range check
    ES's geo_point mapper applies at index time.  A NULL coordinate yields a
    NULL key (an absent value, not an invalid one — the reference skips docs
    with no value, and the raw expression would otherwise silently encode
    NULL as the +edge cell because Spark's ``least`` SKIPS nulls).  The
    guard is a codegen'd CASE branch.

    The single-expression form textually expands each spread step's input
    twice (2^5-fold); prefer :func:`with_cell_column` on hot paths.
    """
    _check_precision(precision)
    lon = f"CAST({name(lon_col)} AS DOUBLE)"
    lat = f"CAST({name(lat_col)} AS DOUBLE)"
    lat_bits = _axis_sql(lat, LATITUDE_DECODE, _LAT_MAX)
    lon_bits = _axis_sql(lon, LONGITUDE_DECODE, _LON_MAX)
    for shift, mask in _SPREAD_STEPS:
        lat_bits = _spread_sql(lat_bits, shift, mask)
        lon_bits = _spread_sql(lon_bits, shift, mask)
    return F.expr(f"{_key_sql(lat_bits, lon_bits, precision)} + ({_validator_sql(lon, lat)})")


def with_cell_column(
    df,
    lon_col: str,
    lat_col: str,
    precision: int,
    out_col: str = "cell",
):
    """``cell_expr`` as STAGED projections: same bits, linear-size codegen.

    The single-Column form textually expands the 5 spread steps 2^5-fold
    (each step references its input twice); runtime CSE collapses the
    evaluations, but janino still has to compile the expanded source —
    ~2 s of one-time latency per distinct precision.  Staging each spread
    step as its own projection keeps the generated source linear (fast
    compile, identical fused eval): Catalyst's CollapseProject leaves the
    chain alone because merging would duplicate non-cheap expressions, and
    whole-stage codegen fuses the Projects into one function with local
    variables anyway.
    """
    _check_precision(precision)
    lon = f"CAST({name(lon_col)} AS DOUBLE)"
    lat = f"CAST({name(lat_col)} AS DOUBLE)"
    temps = [(f"_gh_{out_col}_lat{i}", f"_gh_{out_col}_lon{i}") for i in range(len(_SPREAD_STEPS) + 1)]
    tlat, tlon = (name(c) for c in temps[0])
    df = df.selectExpr(
        "*",
        f"{_axis_sql(lat, LATITUDE_DECODE, _LAT_MAX)} AS {tlat}",
        f"{_axis_sql(lon, LONGITUDE_DECODE, _LON_MAX)} AS {tlon}",
    )
    for (shift, mask), (nlat, nlon) in zip(_SPREAD_STEPS, temps[1:]):
        df = df.selectExpr(
            "*",
            f"{_spread_sql(tlat, shift, mask)} AS {name(nlat)}",
            f"{_spread_sql(tlon, shift, mask)} AS {name(nlon)}",
        )
        tlat, tlon = name(nlat), name(nlon)
    key = f"{_key_sql(tlat, tlon, precision)} + ({_validator_sql(lon, lat)})"
    return df.withColumn(out_col, F.expr(key)).drop(*[c for pair in temps for c in pair])
