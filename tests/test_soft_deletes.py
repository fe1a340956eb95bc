"""Soft deletes, upserts, and delete-compacting merges (H1 `_bulk` parity).

ES `_bulk` supports update/delete; Lucene models both as tombstone +
re-insert.  These tests pin the repo's semantics:

- tombstoned docs are excluded from MATCHES (match_count, search, phrase)
  but corpus statistics (N, df, avgdl) keep counting them until a merge
  compacts them away — exactly Lucene soft deletes (live docs' scores are
  unchanged by a delete);
- ``upsert_index`` = delete_by_keys + append_index (documents immutable,
  update is delete+reinsert);
- ``merge_segments(apply_deletes=True)`` drops tombstoned rows from the
  postings (positions included), refreshes stats/docmap, and the merged
  dir opens as a normal index.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from elasticsearch_aggregation_geoclustering_spark.plans.index_build import (
    build_index,
    delete_by_keys,
    delete_docs,
    merge_segments,
    upsert_index,
)
from elasticsearch_aggregation_geoclustering_spark.plans.query import InvertedIndex

DOCS = [
    (0, "alpha beta gamma"),
    (1, "alpha beta beta delta"),
    (2, "gamma delta epsilon"),
    (3, "alpha gamma gamma"),
    (4, "beta delta"),
    (5, "zeta eta theta alpha beta"),
]


@pytest.fixture()
def index_dir(spark):
    d = tempfile.mkdtemp(prefix="delidx_")
    docs = spark.createDataFrame(DOCS, "orig_id long, text string")
    build_index(
        spark, docs, d, content_col="text", key_cols=("orig_id",), docs_per_segment=2
    )
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _orig_ids(index, df):
    dm = {r["doc_id"]: r["orig_id"] for r in index.docmap().collect()}
    return sorted(dm[r["doc_id"]] for r in df.collect())


def _internal_ids(spark, index_dir, orig_ids):
    dm = InvertedIndex.open(spark, index_dir).docmap()
    return [
        r["doc_id"]
        for r in dm.where(dm["orig_id"].isin(list(orig_ids))).collect()
    ]


def test_delete_masks_matches_but_not_stats(spark, index_dir):
    before = InvertedIndex.open(spark, index_dir)
    n_alpha = before.match_count(["alpha"])
    assert n_alpha == 4
    delete_docs(spark, index_dir, _internal_ids(spark, index_dir, [0, 3]))

    after = InvertedIndex.open(spark, index_dir)
    # matches exclude tombstones...
    assert after.match_count(["alpha"]) == 2
    assert after.match_count(["alpha", "gamma"], mode="AND") == 0
    assert _orig_ids(after, after.search(["alpha"], k=10)) == [1, 5]
    # ...but corpus stats still count them (Lucene soft-delete semantics)
    assert after.n_docs == before.n_docs
    assert after.avgdl == before.avgdl
    assert after.df_of(["alpha"]) == before.df_of(["alpha"])


def test_delete_is_idempotent_and_scores_stable(spark, index_dir):
    base = InvertedIndex.open(spark, index_dir)
    pre = {
        r["doc_id"]: r["score"] for r in base.search(["beta"], k=10).collect()
    }
    victims = _internal_ids(spark, index_dir, [4])
    delete_docs(spark, index_dir, victims)
    delete_docs(spark, index_dir, victims)  # double delete is harmless
    after = InvertedIndex.open(spark, index_dir)
    post = {
        r["doc_id"]: r["score"] for r in after.search(["beta"], k=10).collect()
    }
    assert set(post) == set(pre) - set(victims)
    for did, s in post.items():
        assert s == pre[did]  # surviving docs' scores unchanged by the delete


def test_phrase_respects_deletes(spark, index_dir):
    idx = InvertedIndex.open(spark, index_dir)
    assert idx.phrase_match_count(["alpha", "beta"]) == 3  # docs 0, 1, 5
    delete_docs(spark, index_dir, _internal_ids(spark, index_dir, [1]))
    idx2 = InvertedIndex.open(spark, index_dir)
    assert idx2.phrase_match_count(["alpha", "beta"]) == 2
    assert _orig_ids(idx2, idx2.phrase_search(["alpha", "beta"], k=10)) == [0, 5]


def test_delete_by_keys(spark, index_dir):
    keys = spark.createDataFrame([(2,), (4,)], "orig_id long")
    delete_by_keys(spark, index_dir, keys, key_cols=("orig_id",))
    idx = InvertedIndex.open(spark, index_dir)
    assert _orig_ids(idx, idx.search(["delta"], k=10)) == [1]


def test_upsert_replaces_by_key(spark, index_dir):
    new = spark.createDataFrame(
        [(1, "omega omega"), (6, "alpha omega")], "orig_id long, text string"
    )
    upsert_index(
        spark, new, index_dir, content_col="text", key_cols=("orig_id",)
    )
    idx = InvertedIndex.open(spark, index_dir)
    # old doc 1 content is gone from matches; new content + new doc visible
    assert idx.match_count(["delta"]) == 2  # docs 2, 4 (old 1 tombstoned)
    assert _orig_ids(idx, idx.search(["omega"], k=10)) == [1, 6]
    assert idx.match_count(["alpha"]) == 4  # 0, 3, 5, new 6
    # docmap now holds both generations of key 1; matches only the live one
    gen = idx.docmap().where("orig_id = 1").count()
    assert gen == 2


def test_upsert_of_new_keys_writes_no_tombstone(spark, index_dir):
    """Nothing matched, nothing written: an upsert of only new keys leaves
    no deletes/ directory, so the reader has no tombstones to anti-join.
    An upsert of an existing key still tombstones its old doc, and a
    further no-match delete adds no file beside that tombstone."""
    deletes = os.path.join(index_dir, "deletes")
    fresh = spark.createDataFrame([(10, "iota kappa"), (11, "kappa lambda")], "orig_id long, text string")
    upsert_index(spark, fresh, index_dir, content_col="text", key_cols=("orig_id",))
    assert not os.path.exists(deletes)
    idx = InvertedIndex.open(spark, index_dir)
    assert idx.deleted_ids() is None
    assert _orig_ids(idx, idx.search(["kappa"], k=10)) == [10, 11]

    old_id = _internal_ids(spark, index_dir, [1])
    update = spark.createDataFrame([(1, "mu nu")], "orig_id long, text string")
    upsert_index(spark, update, index_dir, content_col="text", key_cols=("orig_id",))
    idx = InvertedIndex.open(spark, index_dir)
    assert sorted(r["doc_id"] for r in idx.deleted_ids().collect()) == old_id
    assert _orig_ids(idx, idx.search(["mu"], k=10)) == [1]
    assert idx.match_count(["delta"]) == 2  # old doc 1 no longer matches

    files = sorted(os.listdir(deletes))
    delete_docs(spark, index_dir, [])
    assert sorted(os.listdir(deletes)) == files


def test_upsert_after_plain_append_same_keys_updates(spark, index_dir):
    """A batch appended WITHOUT batch_id/content_xor must still be
    distinguishable from a later upsert of the exact same key set with new
    content: append_index now folds a content_xor into its fingerprint pass
    and records it in the ledger, so the upsert classifies as a NEW batch
    (delete runs, fresh segments built) instead of a replay no-op."""
    from elasticsearch_aggregation_geoclustering_spark.plans.index_build import (
        append_index,
    )

    batch = spark.createDataFrame(
        [(7, "kappa lambda"), (8, "lambda mu")], "orig_id long, text string"
    )
    append_index(spark, batch, index_dir, content_col="text", key_cols=("orig_id",))
    idx = InvertedIndex.open(spark, index_dir)
    assert idx.match_count(["kappa"]) == 1

    # same EXACT key set {7, 8}, new content, no batch_id
    updated = spark.createDataFrame(
        [(7, "nu xi"), (8, "xi omicron")], "orig_id long, text string"
    )
    upsert_index(
        spark, updated, index_dir, content_col="text", key_cols=("orig_id",)
    )
    idx2 = InvertedIndex.open(spark, index_dir)
    assert idx2.match_count(["kappa"]) == 0  # old generation tombstoned
    assert _orig_ids(idx2, idx2.search(["xi"], k=10)) == [7, 8]
    # and a true REPLAY of that upsert is still a no-op (ledger has cxor)
    upsert_index(
        spark, updated, index_dir, content_col="text", key_cols=("orig_id",)
    )
    idx3 = InvertedIndex.open(spark, index_dir)
    assert _orig_ids(idx3, idx3.search(["xi"], k=10)) == [7, 8]
    assert idx3.match_count(["nu"]) == 1


def test_upsert_replay_keeps_batch_live(spark, index_dir):
    """An at-least-once redelivery of the SAME upsert batch must be a no-op.

    Regression: the replayed delete_by_keys used to tombstone the docs the
    first attempt appended (they hold the batch's keys), while the
    ledger-matched append skipped rebuilding them — permanently losing the
    batch at the next apply_deletes merge."""
    new = spark.createDataFrame(
        [(1, "omega omega"), (6, "alpha omega")], "orig_id long, text string"
    )
    for attempt in range(2):
        if attempt:
            with pytest.warns(UserWarning, match="resume/replay"):
                upsert_index(
                    spark, new, index_dir, content_col="text", key_cols=("orig_id",)
                )
        else:
            upsert_index(
                spark, new, index_dir, content_col="text", key_cols=("orig_id",)
            )
        idx = InvertedIndex.open(spark, index_dir)
        # the batch's docs stay live after the replay
        assert _orig_ids(idx, idx.search(["omega"], k=10)) == [1, 6]
        assert idx.match_count(["alpha"]) == 4  # 0, 3, 5, new 6
        # exactly one tombstone (old generation of key 1) — the replay
        # added none for the batch's own docs
        deletes = spark.read.parquet(os.path.join(index_dir, "deletes"))
        assert deletes.distinct().count() == 1
    # compaction keeps the batch (this is where the old bug became data loss)
    out = tempfile.mkdtemp(prefix="upsertmerge_")
    try:
        merge_segments(spark, index_dir, out, fanin=8, apply_deletes=True)
        compacted = InvertedIndex.open(spark, out)
        assert _orig_ids(compacted, compacted.search(["omega"], k=10)) == [1, 6]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_reupsert_same_keys_new_content(spark, index_dir):
    """A SECOND upsert updating the SAME key set with NEW content is not a
    replay: the content fingerprint in the ledger disambiguates, the old
    generation is tombstoned and fresh segments are built.

    Regression (round-4 advice, high): the key-only fingerprint classified
    this as a replay — the delete was skipped AND the append resumed into
    the prior entry, silently losing the update."""
    v1 = spark.createDataFrame(
        [(1, "omega omega"), (6, "alpha omega")], "orig_id long, text string"
    )
    upsert_index(spark, v1, index_dir, content_col="text", key_cols=("orig_id",))
    v2 = spark.createDataFrame(
        [(1, "sigma sigma"), (6, "alpha sigma")], "orig_id long, text string"
    )
    upsert_index(spark, v2, index_dir, content_col="text", key_cols=("orig_id",))
    idx = InvertedIndex.open(spark, index_dir)
    # v2 content is live, v1 content fully superseded
    assert _orig_ids(idx, idx.search(["sigma"], k=10)) == [1, 6]
    assert idx.match_count(["omega"]) == 0
    assert idx.match_count(["alpha"]) == 4  # 0, 3, 5, v2 of 6
    # and a replay of v2 is still a no-op
    with pytest.warns(UserWarning, match="resume/replay"):
        upsert_index(spark, v2, index_dir, content_col="text", key_cols=("orig_id",))
    idx2 = InvertedIndex.open(spark, index_dir)
    assert _orig_ids(idx2, idx2.search(["sigma"], k=10)) == [1, 6]
    assert idx2.match_count(["omega"]) == 0
    # compaction keeps only the v2 generation
    out = tempfile.mkdtemp(prefix="reupsertmerge_")
    try:
        merge_segments(spark, index_dir, out, fanin=8, apply_deletes=True)
        compacted = InvertedIndex.open(spark, out)
        assert _orig_ids(compacted, compacted.search(["sigma"], k=10)) == [1, 6]
        assert compacted.match_count(["omega"]) == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_upsert_batch_id_disambiguates_replay(spark, index_dir):
    """With an external batch identity (stream_upsert's foreachBatch id):
    same id ⇒ replay/no-op, different id ⇒ a real update even if the key
    fingerprint matches byte for byte."""
    v1 = spark.createDataFrame([(6, "omega omega")], "orig_id long, text string")
    upsert_index(
        spark, v1, index_dir, content_col="text", key_cols=("orig_id",), batch_id=7
    )
    # redelivery under the SAME batch_id: pure no-op
    with pytest.warns(UserWarning, match="resume/replay"):
        upsert_index(
            spark, v1, index_dir, content_col="text", key_cols=("orig_id",), batch_id=7
        )
    idx = InvertedIndex.open(spark, index_dir)
    assert _orig_ids(idx, idx.search(["omega"], k=10)) == [6]
    # a later batch under a NEW id updates, even with identical keys
    v2 = spark.createDataFrame([(6, "sigma sigma")], "orig_id long, text string")
    upsert_index(
        spark, v2, index_dir, content_col="text", key_cols=("orig_id",), batch_id=8
    )
    idx2 = InvertedIndex.open(spark, index_dir)
    assert idx2.match_count(["omega"]) == 0
    assert _orig_ids(idx2, idx2.search(["sigma"], k=10)) == [6]


def test_upsert_fingerprint_collision_different_interior_keys(spark, index_dir):
    """Two upsert batches agreeing on (n_docs, min_key, max_key) but with
    different INTERIOR keys are distinct batches: key_xor distinguishes
    them, the second batch's delete runs and nothing raises (round-4
    advice, medium: the old check ignored key_xor and either skipped the
    tombstoning or died mid-upsert in append_index)."""
    b1 = spark.createDataFrame(
        [(10, "kappa one"), (20, "kappa two"), (30, "kappa three")],
        "orig_id long, text string",
    )
    upsert_index(spark, b1, index_dir, content_col="text", key_cols=("orig_id",))
    # same n=3, same min=10, same max=30 — interior key 25 instead of 20
    b2 = spark.createDataFrame(
        [(10, "lambda one"), (25, "lambda two"), (30, "lambda three")],
        "orig_id long, text string",
    )
    upsert_index(spark, b2, index_dir, content_col="text", key_cols=("orig_id",))
    idx = InvertedIndex.open(spark, index_dir)
    # b2 superseded keys 10 and 30; b1's key 20 stays live
    assert _orig_ids(idx, idx.search(["lambda"], k=10)) == [10, 25, 30]
    assert _orig_ids(idx, idx.search(["kappa"], k=10)) == [20]


def test_merge_apply_deletes_compacts(spark, index_dir):
    delete_docs(spark, index_dir, _internal_ids(spark, index_dir, [0, 4]))
    out = tempfile.mkdtemp(prefix="delmerge_")
    try:
        merge_segments(spark, index_dir, out, fanin=8, apply_deletes=True)
        live = [1, 2, 3, 5]
        live_tokens = sum(len(DOCS[i][1].split()) for i in live)
        compacted = InvertedIndex.open(spark, out)
        # stats refreshed: tombstones gone from N / avgdl / df
        assert compacted.n_docs == len(live)
        assert compacted.avgdl == live_tokens / len(live)
        assert compacted.df_of(["beta"]) == {"beta": 2}  # docs 1, 5
        assert "gamma" in compacted.df_of(["gamma"])
        # matches identical to the soft-deleted source index
        src = InvertedIndex.open(spark, index_dir)
        for terms in (["alpha"], ["beta"], ["gamma", "delta"]):
            assert _orig_ids(compacted, compacted.search(terms, k=10)) == _orig_ids(
                src, src.search(terms, k=10)
            )
        # positions survive compaction
        assert compacted.phrase_match_count(["alpha", "beta"]) == 2  # 1, 5
        # docmap filtered; no tombstone dir carried
        assert sorted(
            r["orig_id"] for r in compacted.docmap().collect()
        ) == live
        assert not os.path.isdir(os.path.join(out, "deletes"))
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_merge_without_apply_carries_tombstones(spark, index_dir):
    delete_docs(spark, index_dir, _internal_ids(spark, index_dir, [3]))
    out = tempfile.mkdtemp(prefix="carrymerge_")
    try:
        merge_segments(spark, index_dir, out, fanin=8, apply_deletes=False)
        merged = InvertedIndex.open(spark, out)
        src = InvertedIndex.open(spark, index_dir)
        assert merged.n_docs == src.n_docs  # stats untouched
        assert _orig_ids(merged, merged.search(["gamma"], k=10)) == [0, 2]
    finally:
        shutil.rmtree(out, ignore_errors=True)


@pytest.mark.parametrize("apply_deletes", [False, True])
def test_merged_term_stats_are_segment_df_sums(spark, index_dir, apply_deletes):
    """merge_segments writes term_stats with the build's writer: one row per
    term holding the Σdf of the merged segments — tombstoned docs dropped
    from both when deletes are applied, kept in both otherwise."""
    from collections import Counter

    delete_docs(spark, index_dir, _internal_ids(spark, index_dir, [0, 4]))
    out = tempfile.mkdtemp(prefix="statsmerge_")
    try:
        merge_segments(spark, index_dir, out, fanin=8, apply_deletes=apply_deletes)
        got = sorted(
            (r["term"], r["df"])
            for r in spark.read.parquet(os.path.join(out, "term_stats")).collect()
        )
        seg_df: Counter = Counter()
        for r in spark.read.parquet(os.path.join(out, "segments")).select("term", "df").collect():
            seg_df[r["term"]] += r["df"]
        assert got == sorted(seg_df.items())
        live = [t for i, t in DOCS if not (apply_deletes and i in (0, 4))]
        assert got == sorted(Counter(w for t in live for w in set(t.split())).items())
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_refresh_reopens_point_in_time_view(spark, index_dir):
    """An InvertedIndex is a point-in-time snapshot (postings relation, df
    cache, stats, tombstones all pinned at open).  refresh() must re-open
    the view so mutations made since become visible (round-4 advice)."""
    from elasticsearch_aggregation_geoclustering_spark.plans.index_build import (
        append_index,
    )

    idx = InvertedIndex.open(spark, index_dir)
    n_before = idx.n_docs
    assert idx.match_count(["omega"]) == 0  # warms postings + df caches
    new = spark.createDataFrame([(7, "omega omega")], "orig_id long, text string")
    append_index(spark, new, index_dir, content_col="text", key_cols=("orig_id",))
    # stale snapshot still answers from the old view (df cache pinned)
    assert idx.match_count(["omega"]) == 0
    assert idx.refresh() is idx
    assert idx.n_docs == n_before + 1
    assert idx.match_count(["omega"]) == 1
    assert _orig_ids(idx, idx.search(["omega"], k=10)) == [7]
