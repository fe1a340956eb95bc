"""Incremental append (ES _bulk) + Structured Streaming ingestion.

append_index gives each batch fresh docIDs starting at the next segment
boundary, so batches never rewrite existing segments; search/match results
over the final index must equal a from-scratch python tokenization of the
union corpus.  stream_index drives the same path through a real
readStream → foreachBatch → availableNow query.
"""

from __future__ import annotations

import os
from collections import Counter

import pytest

from elasticsearch_aggregation_geoclustering_spark.functions.tokenizer import (
    tokenize_python,
)
from elasticsearch_aggregation_geoclustering_spark.plans.index_build import (
    append_index,
    build_index,
)
from elasticsearch_aggregation_geoclustering_spark.plans.query import InvertedIndex
from elasticsearch_aggregation_geoclustering_spark.testing import synth_documents

DPS = 32


@pytest.fixture(scope="module")
def corpus():
    return synth_documents(200)


def _expected_counts(frames, terms):
    df_counts = Counter()
    for frame in frames:
        for content in frame["content"]:
            toks = set(tokenize_python(content))
            for t in terms:
                if t in toks:
                    df_counts[t] += 1
    return df_counts


def test_append_index_matches_union(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("appended"))
    part1, part2 = corpus.iloc[:120], corpus.iloc[120:]
    stats1 = build_index(
        spark, spark.createDataFrame(part1), d, docs_per_segment=DPS
    )
    stats2 = append_index(
        spark, spark.createDataFrame(part2), d
    )
    assert stats1["n_docs"] == 120
    assert stats2["n_docs"] == 200
    idx = InvertedIndex.open(spark, d)
    probe = ["return", "import", "error", "uniq_7"]
    expected = _expected_counts([part1, part2], probe)
    for t in probe:
        assert idx.match_count([t]) == expected[t], t
    # docmap covers the union, sha256 intact, ids unique
    rows = idx.docmap().collect()
    assert len(rows) == 200
    ids = [r["doc_id"] for r in rows]
    assert len(set(ids)) == 200
    # batch-2 ids start at the next segment boundary after batch 1
    import math

    base = math.ceil(120 / DPS) * DPS
    assert min(i for i in ids if i >= 120) >= base


def test_docmap_pinned_until_refresh(spark, corpus, tmp_path_factory):
    """An open reader's docmap is a point-in-time view: an append's docmap
    parts stay invisible to it until refresh()."""
    d = str(tmp_path_factory.mktemp("docmap_pit"))
    build_index(spark, spark.createDataFrame(corpus.iloc[:120]), d, docs_per_segment=DPS)
    idx = InvertedIndex.open(spark, d)
    assert idx.docmap().count() == 120
    append_index(spark, spark.createDataFrame(corpus.iloc[120:]), d)
    assert idx.docmap().count() == 120
    assert idx.refresh().docmap().count() == 200


def test_append_to_missing_index_builds(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fresh"))
    stats = append_index(spark, spark.createDataFrame(corpus.iloc[:50]), d)
    assert stats["n_docs"] == 50


def test_stream_index_availablenow(spark, corpus, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("stream_src"))
    d = str(tmp_path_factory.mktemp("stream_idx"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    schema = "repo string, path string, commit string, lang string, content string, lon double, lat double"

    from elasticsearch_aggregation_geoclustering_spark.streaming import stream_index

    spark.createDataFrame(corpus.iloc[:100]).coalesce(1).write.mode("append").parquet(src)
    stream_index(
        spark, src, d, schema=schema, checkpoint_dir=ckpt, num_partitions=2
    )
    idx = InvertedIndex.open(spark, d)
    assert idx.n_docs == 100

    # more files arrive; a second availableNow drain appends only the delta
    spark.createDataFrame(corpus.iloc[100:]).coalesce(1).write.mode("append").parquet(src)
    stream_index(
        spark, src, d, schema=schema, checkpoint_dir=ckpt, num_partitions=2
    )
    idx = InvertedIndex.open(spark, d)
    assert idx.n_docs == 200
    expected = _expected_counts([corpus], ["return", "uniq_3"])
    assert idx.match_count(["return"]) == expected["return"]
    assert idx.match_count(["uniq_3"]) == expected["uniq_3"]


def test_merge_segments_after_append(spark, corpus, tmp_path_factory):
    """H4 over an appended index: segment doc ranges stay disjoint and
    seg_id-ordered even with the append id gaps, so the fanin merge must
    preserve every decoded posting."""
    from elasticsearch_aggregation_geoclustering_spark.plans.index_build import (
        merge_segments,
    )

    d = str(tmp_path_factory.mktemp("app_merge"))
    merged = str(tmp_path_factory.mktemp("app_merged"))
    build_index(spark, spark.createDataFrame(corpus.iloc[:110]), d, docs_per_segment=DPS)
    append_index(spark, spark.createDataFrame(corpus.iloc[110:]), d)
    idx = InvertedIndex.open(spark, d)
    merge_segments(spark, d, merged, fanin=4)
    midx = InvertedIndex(spark, merged, idx.n_docs, idx.avgdl)

    probe = ["return", "import", "uniq_9"]
    key = lambda r: (r["term"], r["doc_id"])
    orig = {key(r): (r["tf"], r["dl"]) for r in idx.term_doc_rows(probe).collect()}
    got = {key(r): (r["tf"], r["dl"]) for r in midx.term_doc_rows(probe).collect()}
    assert orig == got
    assert midx.postings(probe).count() <= idx.postings(probe).count()


def test_append_resume_is_id_stable(spark, corpus, tmp_path_factory):
    """A killed append must resume with the SAME docID base: recomputing it
    from the half-built batch segments would shift ids and duplicate docs."""
    from elasticsearch_aggregation_geoclustering_spark.sources.segments import (
        load_manifest,
        save_manifest,
        segment_postings_path,
    )

    clean = str(tmp_path_factory.mktemp("clean"))
    crashed = str(tmp_path_factory.mktemp("crashed"))
    p1, p2 = corpus.iloc[:100], corpus.iloc[100:]
    for d in (clean, crashed):
        build_index(spark, spark.createDataFrame(p1), d, docs_per_segment=DPS)
        append_index(spark, spark.createDataFrame(p2), d)

    # simulate the crash: drop some of the APPEND batch's segments
    manifest = load_manifest(crashed)
    batch_sids = sorted(
        s for s in manifest.completed_segment_ids() if s >= 100 // DPS + 1
    )
    for sid in batch_sids[::2]:
        os.remove(segment_postings_path(crashed, sid))
        del manifest.segments[str(sid)]
    save_manifest(crashed, manifest)

    append_index(spark, spark.createDataFrame(p2), crashed)  # resume

    a, b = load_manifest(clean), load_manifest(crashed)
    assert a.completed_segment_ids() == b.completed_segment_ids()
    for sid, meta in a.segments.items():
        assert b.segments[sid]["sha256"] == meta["sha256"], f"segment {sid}"


def test_append_replay_is_idempotent(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("replay"))
    p1, p2 = corpus.iloc[:100], corpus.iloc[100:]
    build_index(spark, spark.createDataFrame(p1), d, docs_per_segment=DPS)
    s1 = append_index(spark, spark.createDataFrame(p2), d)
    s2 = append_index(spark, spark.createDataFrame(p2), d)  # redelivery
    assert s1 == s2
    assert s2["n_docs"] == 200


def test_stream_upsert_cdc(spark, corpus, tmp_path_factory):
    """CDC-shaped streaming ingest: a second micro-batch that re-keys
    existing docs supersedes them (old content tombstoned, new searchable),
    while fresh keys append — end to end through readStream/foreachBatch."""
    base = tmp_path_factory.mktemp("supsert")
    src, ckpt, d = str(base / "in"), str(base / "ckpt"), str(base / "idx")
    schema = "repo string, path string, commit string, lang string, content string, lon double, lat double"

    from elasticsearch_aggregation_geoclustering_spark.streaming import stream_upsert

    first = corpus.iloc[:40]
    spark.createDataFrame(first).coalesce(1).write.mode("append").parquet(src)
    stream_upsert(spark, src, d, schema=schema, checkpoint_dir=ckpt, num_partitions=2)

    # batch 2: re-key 5 existing docs with sentinel content + 5 fresh docs
    changed = first.iloc[:5].copy()
    changed["content"] = [
        f"cdc_updated sentinel row {i}" for i in range(len(changed))
    ]
    fresh = corpus.iloc[40:45]
    import pandas as pd

    spark.createDataFrame(pd.concat([changed, fresh])).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream_upsert(spark, src, d, schema=schema, checkpoint_dir=ckpt, num_partitions=2)

    idx = InvertedIndex.open(spark, d)
    # updated content matches exactly the re-keyed docs
    assert idx.match_count(["cdc_updated"]) == 5
    # each re-keyed doc's ORIGINAL unique sentinel no longer matches
    for i in range(5):
        assert idx.match_count([f"uniq_{i}"]) == 0
    # untouched and fresh docs still match their sentinels
    for i in list(range(5, 40)) + list(range(40, 45)):
        assert idx.match_count([f"uniq_{i}"]) == 1, i
    # docmap holds both generations for the 5 re-keyed keys
    dm = idx.docmap()
    assert dm.count() == 45 + 5
