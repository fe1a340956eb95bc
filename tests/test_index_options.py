"""index_options="freqs" vs "positions" (the ES mapping setting)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from elasticsearch_aggregation_geoclustering_spark.plans.index_build import (
    build_index,
    merge_segments,
)
from elasticsearch_aggregation_geoclustering_spark.plans.query import InvertedIndex

DOCS = [
    (0, "alpha beta gamma alpha"),
    (1, "beta beta delta"),
    (2, "gamma delta epsilon alpha"),
    (3, ""),
    (4, "alpha beta"),
]


def _build(spark, **kw):
    d = tempfile.mkdtemp(prefix="idxopt_")
    docs = spark.createDataFrame(DOCS, "orig_id long, text string")
    build_index(
        spark, docs, d, content_col="text", key_cols=("orig_id",),
        docs_per_segment=2, **kw,
    )
    return d


def test_freqs_matches_positions_for_term_queries(spark):
    dp = _build(spark, index_options="positions")
    df_ = _build(spark, index_options="freqs")
    try:
        a, b = InvertedIndex.open(spark, dp), InvertedIndex.open(spark, df_)
        assert b.index_options == "freqs"
        # identical stats and identical BM25 results — positions change
        # nothing about term-level scoring
        assert (a.n_docs, a.avgdl) == (b.n_docs, b.avgdl)
        ra = [(r["doc_id"], r["score"]) for r in a.search(["alpha", "beta"], k=10).collect()]
        rb = [(r["doc_id"], r["score"]) for r in b.search(["alpha", "beta"], k=10).collect()]
        assert ra == rb
        assert a.match_count(["beta"]) == b.match_count(["beta"]) == 3
        # positions work on one, error loudly on the other (ES behavior)
        assert a.phrase_match_count(["alpha", "beta"]) == 2  # docs 0(via a b?), 4
        with pytest.raises(ValueError, match="index_options"):
            b.phrase_match_count(["alpha", "beta"])
    finally:
        shutil.rmtree(dp, ignore_errors=True)
        shutil.rmtree(df_, ignore_errors=True)


def test_freqs_segments_smaller(spark):
    dp = _build(spark, index_options="positions")
    df_ = _build(spark, index_options="freqs")
    try:
        def seg_bytes(d):
            total = 0
            for root, _dirs, files in os.walk(os.path.join(d, "segments")):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
            return total

        assert seg_bytes(df_) < seg_bytes(dp)
    finally:
        shutil.rmtree(dp, ignore_errors=True)
        shutil.rmtree(df_, ignore_errors=True)


def test_freqs_merge_roundtrip(spark):
    d = _build(spark, index_options="freqs")
    out = tempfile.mkdtemp(prefix="idxoptm_")
    try:
        merge_segments(spark, d, out, fanin=8)
        merged = InvertedIndex.open(spark, out)
        assert merged.index_options == "freqs"
        src = InvertedIndex.open(spark, d)
        assert merged.match_count(["alpha"]) == src.match_count(["alpha"]) == 3
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def test_resume_keeps_index_options(spark):
    d = _build(spark, index_options="freqs")
    try:
        docs = spark.createDataFrame(DOCS, "orig_id long, text string")
        # re-entering the build with a different request keeps the original
        stats = build_index(
            spark, docs, d, content_col="text", key_cols=("orig_id",),
            docs_per_segment=2, index_options="positions",
        )
        assert stats["index_options"] == "freqs"
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_invalid_option_rejected(spark):
    docs = spark.createDataFrame(DOCS, "orig_id long, text string")
    with pytest.raises(ValueError, match="index_options"):
        build_index(
            spark, docs, tempfile.mkdtemp(), content_col="text",
            key_cols=("orig_id",), index_options="offsets",
        )


def test_legacy_layout_without_pos_vb_detected_as_freqs(spark):
    """An index whose segments predate positional postings (no pos_vb
    column, no index_options in its JSON metadata) must resolve to "freqs":
    phrase queries raise the clear rebuild-required error and merges run
    instead of failing on a missing column."""
    import json

    import pyarrow.parquet as pq

    d = _build(spark, index_options="freqs")
    out = tempfile.mkdtemp(prefix="legacymerge_")
    try:
        # simulate the legacy layout: strip pos_vb from every segment and
        # the index_options field from both metadata files
        seg_dir = os.path.join(d, "segments")
        for fn in os.listdir(seg_dir):
            if fn.endswith(".parquet"):
                p = os.path.join(seg_dir, fn)
                t = pq.read_table(p)
                pq.write_table(t.drop_columns(["pos_vb"]), p)
        for name in ("stats.json", "manifest.json"):
            path = os.path.join(d, name)
            with open(path) as fh:
                meta = json.load(fh)
            meta.pop("index_options", None)
            with open(path, "w") as fh:
                json.dump(meta, fh)

        idx = InvertedIndex.open(spark, d)
        assert idx.index_options == "freqs"
        assert idx.match_count(["beta"]) == 3
        with pytest.raises(ValueError, match="index_options"):
            idx.phrase_match_count(["alpha", "beta"])
        merge_segments(spark, d, out, fanin=8)
        merged = InvertedIndex.open(spark, out)
        assert merged.match_count(["beta"]) == 3
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
