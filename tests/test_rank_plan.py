"""The two-job docID pre-plan (_rank_plan): exact global key ranks with no
sampling, robust to shared key prefixes and mixed key types."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elasticsearch_aggregation_geoclustering_spark.plans.index_build import (
    _bucket_offsets,
    _pack_fine_counts,
    _rank_plan,
    assign_doc_ids,
)


def _ranks_ok(spark, rows, schema, key_cols, num_partitions=4):
    df = spark.createDataFrame(rows, schema)
    out = assign_doc_ids(df, key_cols, num_partitions=num_partitions).collect()
    got = {tuple(r[c] for c in key_cols): r["doc_id"] for r in out}
    want = {k: i for i, k in enumerate(sorted(got))}
    assert got == want  # doc_id == exact global key rank
    assert sorted(r["doc_id"] for r in out) == list(range(len(rows)))


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


def test_negative_int_key_falls_back(spark):
    rows = [(i - 50,) for i in range(100)]
    _ranks_ok(spark, rows, "k long", ("k",))


def test_double_key_falls_back(spark):
    # "10.5" sorts before "2.0" as text: a fractional key must not be
    # bucketed by its string encoding
    rows = [(i * 1.5 - 30.0,) for i in range(240)]
    _ranks_ok(spark, rows, "k double", ("k",))


def test_empty_input(spark):
    df = spark.createDataFrame([], "k string")
    bexpr, counts, n, _ = _rank_plan(df, ("k",), 4)
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
    bexpr, counts, n, _ = _rank_plan(df, ("k",), 4)
    assert n == 257
    assert sum(counts.values()) == 257
    # bucket expression agrees with the counts the driver derived
    got = {
        r["_b"]: r["c"]
        for r in df.select(bexpr.alias("_b")).groupBy("_b").agg(F.count(F.lit(1)).alias("c")).collect()
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


def test_nul_in_key_falls_back(spark):
    # NUL collides with the encoding separator; must still rank exactly
    rows = [("a\x00b", 1), ("a", 99), ("a\x00", 0), ("b", 2), ("", 5)]
    df = spark.createDataFrame(rows, "repo string, version long")
    out = assign_doc_ids(df, ("repo", "version"), num_partitions=3).collect()
    got = {(r["repo"], r["version"]): r["doc_id"] for r in out}
    want = {k: i for i, k in enumerate(sorted(got))}
    assert got == want


def test_null_key_values_rejected(spark):
    """concat_ws drops NULL columns (so (NULL,'b') and ('b',NULL) would
    encode identically) and neither ordering path can place a NULL
    deterministically — NULL keys must fail loudly, not mis-rank."""
    import pytest

    from elasticsearch_aggregation_geoclustering_spark.plans.index_build import (
        assign_doc_ids,
    )

    df = spark.createDataFrame(
        [("r", None, "c1"), (None, "b", "c2"), ("r", "b", "c3")],
        "repo string, path string, commit string",
    )
    with pytest.raises(ValueError, match="NULL"):
        assign_doc_ids(df, ("repo", "path", "commit"), 2).collect()


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
