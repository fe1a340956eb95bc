"""The two-job docID pre-plan (_rank_plan): exact global key ranks with no
sampling, through one order-preserving binary key encoding for every
supported key type."""

from __future__ import annotations

import datetime as dt
import math
import random
from decimal import Decimal

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from elasticsearch_aggregation_geoclustering_spark.plans.index_build import (
    _bucket_offsets,
    _encoded_key_sql,
    _pack_fine_counts,
    _rank_plan,
    assign_doc_ids,
)


def _ranks_ok(spark, rows, schema, key_cols, num_partitions=4):
    """doc_id == the key's rank in Spark's ``ORDER BY key_cols`` (values
    compared by repr, so NaN and -0.0 match themselves)."""
    df = spark.createDataFrame(rows, schema)
    out = assign_doc_ids(df, key_cols, num_partitions=num_partitions).collect()
    got = [repr(tuple(r[c] for c in key_cols)) for r in sorted(out, key=lambda r: r["doc_id"])]
    want = [repr(tuple(r)) for r in df.select(*key_cols).orderBy(*key_cols).collect()]
    assert got == want
    assert sorted(r["doc_id"] for r in out) == list(range(len(rows)))


_rng = random.Random(7)
LONGS = sorted(
    {-(2**63), -(2**63) + 1, -(2**62), -(2**31), -257, -256, -1, 0, 1, 255, 256, 2**31, 2**62, 2**63 - 2, 2**63 - 1}
    | {_rng.randrange(-(2**63), 2**63) for _ in range(150)}
    | {_rng.randrange(-300, 300) for _ in range(60)}
)
DOUBLE_EDGES = [
    -math.inf, -1.7976931348623157e308, -1.0, -2.2250738585072014e-308, -5e-324, -0.0,
    5e-324, 2.2250738585072014e-308, 1.0, 1.7976931348623157e308, math.inf, math.nan,
]
DOUBLES = DOUBLE_EDGES + [_rng.uniform(-1e6, 1e6) for _ in range(150)] + [
    _rng.choice((-1, 1)) * 10.0 ** _rng.randint(-300, 300) for _ in range(50)
]
FLOATS = [-math.inf, -3.4028234663852886e38, -1.0, -1.401298464324817e-45, 0.0, 1.401298464324817e-45, 0.5, 3.4028234663852886e38, math.inf, math.nan] + [
    float(f"{_rng.uniform(-1e4, 1e4):.3e}") for _ in range(198)
]
DEC_10_3 = sorted(
    {Decimal("-9999999.999"), Decimal("-0.001"), Decimal("0.000"), Decimal("0.001"), Decimal("9999999.999")}
    | {Decimal(f"{_rng.randrange(-9999999999, 10**10)}E-3") for _ in range(200)}
)
_BIG = 10**38 - 1  # unscaled 10^28 - 10^-10
DEC_38_10 = sorted(
    {Decimal(f"-{_BIG}E-10"), Decimal(f"{_BIG}E-10"), Decimal("-1E-10"), Decimal("0E-10"), Decimal("1E-10")}
    | {Decimal(f"{_rng.choice((-1, 1)) * _rng.randrange(10 ** _rng.randint(1, 38))}E-10") for _ in range(200)}
)
STRINGS = ["", "\x00", "\x00\x00", "\x00\x01", "\x01", "\x01\x00", "a", "a\x00", "a\x00b", "a\x01", "ab", "b", "é", "日本", "\U0001f600", "zz"]
DATES = [dt.date(1, 1, 1), dt.date(1969, 12, 31), dt.date(1970, 1, 1), dt.date(2024, 2, 29), dt.date(9999, 12, 31)]

#: (schema, key columns, rows) per supported key type
KEY_CASES = {
    "long": ("k long", ("k",), [(v,) for v in LONGS]),
    "int_like": (
        "a tinyint, b smallint, c int",
        ("a", "b", "c"),
        [(a, b, c) for a in (-128, -1, 0, 127) for b in (-32768, 0, 32767) for c in (-(2**31), -1, 0, 2**31 - 1)],
    ),
    "double": ("k double", ("k",), [(v,) for v in DOUBLES] + [(0.0,)]),
    "float": ("k float", ("k",), [(v,) for v in FLOATS] + [(-0.0,)]),
    "decimal_10_3": ("k decimal(10,3)", ("k",), [(v,) for v in DEC_10_3]),
    "decimal_38_10": ("k decimal(38,10)", ("k",), [(v,) for v in DEC_38_10]),
    # no integer digits: CAST AS STRING writes a leading "0."
    "decimal_3_3": ("k decimal(3,3)", ("k",), [(Decimal(f"{i}E-3"),) for i in range(-999, 1000, 37)]),
    "string_string_int": (
        "a string, b string, c int",
        ("a", "b", "c"),
        [(a, b, c) for a in STRINGS for b in STRINGS[::3] for c in (-1, 0)],
    ),
    "double_string": ("a double, b string", ("a", "b"), [(a, b) for a in DOUBLE_EDGES for b in STRINGS[:6]]),
    "date_boolean": ("a date, b boolean", ("a", "b"), [(a, b) for a in DATES for b in (False, True)]),
    "timestamp": (
        "k timestamp",
        ("k",),
        [(dt.datetime(1969, 12, 31, 23, 59, 59, 999999),), (dt.datetime(1970, 1, 1),), (dt.datetime(2021, 11, 7, 1, 30),)],
    ),
}


@pytest.mark.parametrize("case", sorted(KEY_CASES))
def test_key_encoding_byte_order_is_spark_order(spark, case):
    """The encoding's unsigned byte order equals Spark's ``ORDER BY`` over
    the key columns, ties (-0.0 = 0.0) included."""
    schema, key_cols, rows = KEY_CASES[case]
    df = spark.createDataFrame(rows, schema)
    enc = _encoded_key_sql(key_cols, dict(df.dtypes))
    out = df.select(
        F.expr(enc).alias("enc"), F.dense_rank().over(Window.orderBy(*key_cols)).alias("r")
    ).collect()
    by_rank = sorted((r["r"], bytes(r["enc"])) for r in out)
    for (r1, e1), (r2, e2) in zip(by_rank, by_rank[1:]):
        assert (e1 < e2) if r1 < r2 else (e1 == e2), (case, r1, r2)


@pytest.mark.parametrize(
    "schema", ["k binary", "k timestamp_ntz", "k array<int>", "k struct<a: int>", "k map<string, int>"]
)
def test_unsupported_key_type_raises_before_any_job(spark, schema):
    df = spark.createDataFrame([], schema)
    sc = spark.sparkContext
    sc.setJobGroup("unsupported_key", "rank plan of an unsupported key")
    try:
        with pytest.raises(TypeError, match="key column 'k' has type"):
            _rank_plan(df, ("k",), 4)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("unsupported_key") == []


def test_string_keys_shared_prefix(spark):
    # every key shares a long common prefix — the proxy must spend its
    # resolution past it, not collapse to one bucket
    rows = [(f"github.com/org/repo{i:05d}", f"src/f{i}.py") for i in range(400)]
    _ranks_ok(spark, rows, "repo string, path string", ("repo", "path"))


def test_mixed_string_int_keys(spark):
    rows = [(f"r{i % 7}", i * 13 % 101, f"c{i}") for i in range(300)]
    # (repo, version, commit) — int column zero-padded into the encoding
    _ranks_ok(
        spark, rows, "repo string, version long, commit string",
        ("repo", "version", "commit"),
    )


@pytest.mark.parametrize(
    "case",
    ["long", "int_like", "double", "float", "decimal_10_3", "decimal_38_10", "decimal_3_3", "date_boolean", "timestamp"],
)
def test_key_type_ranks(spark, case):
    # signed, fractional and NaN/-0.0/±inf keys rank through the one
    # binary encoding, no sampled fallback
    schema, key_cols, rows = KEY_CASES[case]
    if case in ("double", "float"):
        rows = rows[:-1]  # keys are unique: drop the appended zero of the tied pair
    _ranks_ok(spark, rows, schema, key_cols)


def test_signed_long_keys_balance(spark):
    """Longs −5000..4999 cross zero: the fine buckets span the keys present
    (offset from the minimum key's proxy), so P=4 packs 8 near-equal
    coarse buckets."""
    df = spark.createDataFrame([(i - 5000,) for i in range(10_000)], "k long")
    _bucket, counts, n, _ = _rank_plan(df, ("k",), 4)
    assert n == sum(counts.values()) == 10_000
    assert max(counts.values()) <= 0.2 * n


def test_empty_input(spark):
    df = spark.createDataFrame([], "k string")
    _bucket, counts, n, _ = _rank_plan(df, ("k",), 4)
    assert n == 0 and counts == {}


def test_single_key_row(spark):
    _ranks_ok(spark, [("only",)], "k string", ("k",))


def test_pack_fine_counts_balances():
    fine = {i: 10 for i in range(100)}
    bounds, counts = _pack_fine_counts(fine, 8)
    assert sum(counts.values()) == 1000
    assert len(counts) <= 8
    assert max(counts.values()) <= 2 * (1000 // 8)  # near-equal exact packing
    # offsets are dense prefix sums
    offs = _bucket_offsets(counts)
    assert offs[0] == 0 and max(offs.values()) + counts[max(counts)] == 1000


def test_pack_fine_counts_skewed_bucket():
    # one fine bucket holds 90% of rows: it cannot be split, but the rest
    # must still spread across the remaining coarse buckets
    fine = {0: 900, **{i: 2 for i in range(1, 51)}}
    bounds, counts = _pack_fine_counts(fine, 8)
    assert sum(counts.values()) == 1000
    assert counts[0] == 900


def test_rank_plan_counts_match_exactly(spark):
    rows = [(f"key{i:04d}",) for i in range(257)]
    df = spark.createDataFrame(rows, "k string")
    bucket, counts, n, _ = _rank_plan(df, ("k",), 4)
    assert n == 257
    assert sum(counts.values()) == 257
    # bucket expression agrees with the counts the driver derived
    got = {
        r["_b"]: r["c"]
        for r in bucket(df).groupBy("_b").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert got == counts


def test_rank_plan_property_random_keys(spark):
    """Property: doc_id == exact global key rank for adversarial key sets
    (long shared prefixes, unicode, empty strings, mixed int columns)."""
    from hypothesis import given, settings, strategies as st

    key_st = st.tuples(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
            max_size=12,
        ),
        st.integers(min_value=0, max_value=2**40),
    )

    @settings(max_examples=5, deadline=None)
    @given(st.lists(key_st, min_size=1, max_size=60, unique=True))
    def check(keys):
        rows = [(s, n) for s, n in keys]
        df = spark.createDataFrame(rows, "repo string, version long")
        out = assign_doc_ids(df, ("repo", "version"), num_partitions=3).collect()
        got = {(r["repo"], r["version"]): r["doc_id"] for r in out}
        want = {k: i for i, k in enumerate(sorted(got))}
        assert got == want

    check()


def test_rank_plan_shared_prefix_beyond_proxy(spark):
    # keys identical through byte 40, diverging only afterwards: the fine
    # proxy collapses to few buckets (imbalance) but ranks stay exact
    base = "github.com/organization/monorepo/src/deep/"
    rows = [(base + f"{i:03d}.py",) for i in range(50)]
    df = spark.createDataFrame(rows, "path string")
    out = assign_doc_ids(df, ("path",), num_partitions=4).collect()
    got = sorted((r["path"], r["doc_id"]) for r in out)
    assert [d for _p, d in got] == list(range(50))


@pytest.fixture()
def new_york(spark):
    """The session timezone set to America/New_York, restored afterwards."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    yield
    spark.conf.set("spark.sql.session.timeZone", tz)


def test_assign_doc_ids_keeps_dst_fall_back_timestamps(spark, new_york):
    """60 instants two minutes apart across the 2021-11-07 fall-back hour
    keep 60 distinct values (a pandas round trip folds the repeated local
    hour onto one), and doc_id is their unix_micros rank."""
    df = spark.range(60).selectExpr(
        "timestamp_micros(1636261200000000 + id * 120000000) AS ts", "id"
    )
    out = assign_doc_ids(df, ("ts",), num_partitions=3).selectExpr(
        "doc_id", "unix_micros(ts) AS us"
    ).collect()
    us = [r["us"] for r in sorted(out, key=lambda r: r["doc_id"])]
    assert len(set(us)) == 60
    assert us == sorted(us) == [1636261200000000 + i * 120000000 for i in range(60)]


def test_nul_in_string_keys(spark):
    # NUL is escaped ahead of the column separator; must still rank exactly
    rows = [("a\x00b", 1), ("a", 99), ("a\x00", 0), ("b", 2), ("", 5)]
    rows += [(s, 3) for s in STRINGS if s not in ("a\x00b", "a", "a\x00", "b", "")]
    _ranks_ok(spark, rows, "repo string, version long", ("repo", "version"), num_partitions=3)


def test_null_key_values_rejected(spark):
    """A NULL key has no place in the key order (the encoding of a tuple
    holding one is NULL) — NULL keys must fail loudly, not mis-rank."""
    df = spark.createDataFrame(
        [("r", None, "c1"), (None, "b", "c2"), ("r", "b", "c3")],
        "repo string, path string, commit string",
    )
    with pytest.raises(ValueError, match="NULL"):
        assign_doc_ids(df, ("repo", "path", "commit"), 2).collect()


@pytest.mark.parametrize("dtype", ["double", "float"])
def test_null_float_key_values_rejected(spark, dtype):
    # a NULL must not reach the float encoding's java_method (which rejects
    # NULL for a primitive double): the documented ValueError, not a Java one
    df = spark.createDataFrame([(1.0,), (None,), (-2.0,)], f"k {dtype}")
    with pytest.raises(ValueError, match="NULL"):
        assign_doc_ids(df, ("k",), 2).collect()


def test_null_key_values_rejected_on_append(spark, tmp_path):
    import pytest

    from elasticsearch_aggregation_geoclustering_spark.plans.index_build import (
        append_index,
        build_index,
    )

    d = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "beta gamma")], "orig_id long, text string"
    )
    build_index(spark, docs, d, content_col="text", key_cols=("orig_id",), docs_per_segment=2)
    bad = spark.createDataFrame(
        [(None, "delta")], "orig_id long, text string"
    )
    with pytest.raises(ValueError, match="NULL"):
        append_index(spark, bad, d, content_col="text", key_cols=("orig_id",))
