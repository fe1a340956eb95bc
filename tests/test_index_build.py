"""End-to-end index build + BM25 query tests (SURVEY.md §5.4/5.5).

Builds the segmented inverted index from the deterministic Fixture B corpus,
then asserts:
* postings round-trip: decoded (term, doc_id, tf, dl) equals a from-scratch
  python tokenization of the same docs,
* BM25 top-k rank identity AND bit-identical scores vs the numpy oracle, in
  exact_dl and lucene_norms modes, OR and AND, hot/mid/unique terms,
* match counts (H6),
* resumability: killing after some segments and re-running produces
  byte-identical segment files (north_rule),
* segment merge preserves decoded postings.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import numpy as np
import pytest

from elasticsearch_aggregation_geoclustering_spark.functions import bm25
from elasticsearch_aggregation_geoclustering_spark.functions.tokenizer import tokenize_python
from elasticsearch_aggregation_geoclustering_spark.plans.index_build import (
    assign_doc_ids,
    build_index,
    merge_segments,
)
from elasticsearch_aggregation_geoclustering_spark.plans.query import InvertedIndex
from elasticsearch_aggregation_geoclustering_spark.sources.segments import load_manifest
from elasticsearch_aggregation_geoclustering_spark.testing import synth_documents

N_DOCS = 400
DOCS_PER_SEGMENT = 64


@pytest.fixture(scope="module")
def corpus():
    return synth_documents(N_DOCS)


@pytest.fixture(scope="module")
def oracle_index(corpus):
    """From-scratch python index keyed by the engine's docID order."""
    ordered = corpus.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    postings: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    tmp: dict[str, list[tuple[int, int]]] = {}
    dls = np.zeros(len(ordered), np.int64)
    for doc_id, content in enumerate(ordered["content"]):
        toks = tokenize_python(content)
        dls[doc_id] = len(toks)
        for t, c in Counter(toks).items():
            tmp.setdefault(t, []).append((doc_id, c))
    for t, pairs in tmp.items():
        ids = np.array([p[0] for p in pairs], np.int64)
        tfs = np.array([p[1] for p in pairs], np.int64)
        postings[t] = (ids, tfs)
    return ordered, postings, dls


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("index"))
    docs = spark.createDataFrame(corpus).repartition(8)
    stats = build_index(
        spark,
        docs,
        index_dir,
        docmap_cols=("lang", "lon", "lat"),
        docs_per_segment=DOCS_PER_SEGMENT,
    )
    return InvertedIndex.open(spark, index_dir), stats, index_dir


def test_doc_id_assignment_is_dense_rank(spark, corpus):
    df = spark.createDataFrame(corpus).repartition(8)
    assigned = assign_doc_ids(df, ("repo", "path", "commit"), num_partitions=4)
    rows = assigned.select("doc_id", "repo", "path", "commit").collect()
    got = sorted((r["doc_id"], (r["repo"], r["path"], r["commit"])) for r in rows)
    keys = sorted((r["repo"], r["path"], r["commit"]) for r in rows)
    assert [g[0] for g in got] == list(range(len(rows)))
    assert [g[1] for g in got] == keys  # rank order == key order


def test_stats(index, oracle_index):
    _, stats, _ = index
    _, _, dls = oracle_index
    assert stats["n_docs"] == N_DOCS
    assert stats["total_tokens"] == int(dls.sum())
    assert stats["avgdl"] == pytest.approx(dls.mean())
    assert stats["n_segments"] == (N_DOCS + DOCS_PER_SEGMENT - 1) // DOCS_PER_SEGMENT


def test_sha256_invariant(index, corpus):
    """input_hint: per-row content sha256 recorded and matching the source."""
    import hashlib

    idx, _, _ = index
    docmap = {
        (r["repo"], r["path"], r["commit"]): r["sha256"] for r in idx.docmap().collect()
    }
    for row in corpus.itertuples():
        expect = hashlib.sha256(row.content.encode()).hexdigest()
        assert docmap[(row.repo, row.path, row.commit)] == expect


def test_postings_roundtrip(index, oracle_index):
    """Decoded postings == independent python tokenization (H3)."""
    idx, _, _ = index
    _, postings, dls = oracle_index
    probe_terms = ["return", "import", "uniq_7", "id_1", "error"]
    rows = idx.term_doc_rows(probe_terms).collect()
    got: dict[str, dict[int, tuple[int, int]]] = {}
    for r in rows:
        got.setdefault(r["term"], {})[r["doc_id"]] = (r["tf"], r["dl"])
    for t in probe_terms:
        if t not in postings:
            assert t not in got
            continue
        ids, tfs = postings[t]
        assert sorted(got[t]) == sorted(ids.tolist())
        for d, tf in zip(ids.tolist(), tfs.tolist()):
            assert got[t][d] == (tf, int(dls[d]))


def test_term_stats_df(index, oracle_index):
    idx, _, _ = index
    _, postings, _ = oracle_index
    df_map = idx.df_of(["return", "the", "uniq_3", "nonexistent_zz"])
    assert df_map["uniq_3"] == 1
    assert df_map["return"] == len(postings["return"][0])
    assert "nonexistent_zz" not in df_map


def test_match_counts(index, oracle_index):
    idx, _, _ = index
    _, postings, _ = oracle_index
    assert idx.match_count(["uniq_11"]) == 1
    or_docs = set(postings["import"][0]) | set(postings["error"][0])
    and_docs = set(postings["import"][0]) & set(postings["error"][0])
    assert idx.match_count(["import", "error"], "OR") == len(or_docs)
    assert idx.match_count(["import", "error"], "AND") == len(and_docs)
    assert idx.match_count([]) == 0


QUERIES = [
    (["return"], "OR"),  # hot
    (["the"], "OR"),  # hot
    (["buffer_size"], "OR"),  # mid
    (["uniq_42"], "OR"),  # singleton
    (["import", "error"], "OR"),
    (["import", "error"], "AND"),
    (["spark", "return", "config"], "OR"),  # 3 terms: association-sensitive
    (["uniq_1", "uniq_2"], "AND"),  # disjoint -> empty
    (["zzz_missing"], "OR"),  # -> empty
]


@pytest.mark.parametrize("terms,mode", QUERIES)
@pytest.mark.parametrize("lucene_norms", [False, True])
def test_bm25_rank_and_score_identity(index, oracle_index, terms, mode, lucene_norms):
    idx, stats, _ = index
    _, postings, dls = oracle_index
    params = bm25.Bm25Params(lucene_norms=lucene_norms)
    expected = bm25.score_topk_numpy(
        postings, dls, stats["n_docs"], stats["avgdl"], terms, k=10, mode=mode, params=params
    )
    got = [(r["doc_id"], r["score"]) for r in idx.search(terms, k=10, mode=mode, params=params).collect()]
    assert [g[0] for g in got] == [e[0] for e in expected], "rank identity"
    for (gd, gs), (ed, es) in zip(got, expected):
        assert gs == es, f"bit-identical score for doc {gd}: {gs!r} != {es!r}"


def test_search_with_docs_join(index):
    idx, _, _ = index
    rows = idx.search_with_docs(["uniq_5"], k=3).collect()
    assert len(rows) == 1
    assert rows[0]["path"].endswith("file5.py") or "file5" in rows[0]["path"]
    assert {"repo", "path", "commit", "lang", "lon", "lat", "score"} <= set(rows[0].asDict())


# --- resumability -----------------------------------------------------------


def test_resume_produces_identical_segments(spark, corpus, tmp_path_factory):
    full_dir = str(tmp_path_factory.mktemp("full"))
    resumed_dir = str(tmp_path_factory.mktemp("resumed"))
    docs = spark.createDataFrame(corpus).repartition(8)

    build_index(spark, docs, full_dir, docs_per_segment=DOCS_PER_SEGMENT)

    # simulate a killed build: run the full build, then delete the artifacts
    # of some segments from disk AND manifest, leaving a valid checkpoint
    build_index(spark, docs, resumed_dir, docs_per_segment=DOCS_PER_SEGMENT)
    manifest = load_manifest(resumed_dir)
    victim_ids = sorted(manifest.completed_segment_ids())[::2]
    for sid in victim_ids:
        os.remove(os.path.join(resumed_dir, "segments", f"seg_{sid:06d}.postings.parquet"))
        del manifest.segments[str(sid)]
    from elasticsearch_aggregation_geoclustering_spark.sources.segments import save_manifest

    save_manifest(resumed_dir, manifest)

    build_index(spark, docs, resumed_dir, docs_per_segment=DOCS_PER_SEGMENT)  # resume

    full_manifest = load_manifest(full_dir)
    resumed_manifest = load_manifest(resumed_dir)
    assert full_manifest.completed_segment_ids() == resumed_manifest.completed_segment_ids()
    for sid, meta in full_manifest.segments.items():
        assert resumed_manifest.segments[sid]["sha256"] == meta["sha256"], f"segment {sid}"
        # byte-identity on disk too
        with open(os.path.join(full_dir, "segments", f"seg_{int(sid):06d}.postings.parquet"), "rb") as a:
            with open(os.path.join(resumed_dir, "segments", f"seg_{int(sid):06d}.postings.parquet"), "rb") as b:
                assert a.read() == b.read()


def test_resume_skips_completed_segments(spark, corpus, tmp_path_factory):
    """A fully-built index re-run rebuilds nothing (manifest short-circuit)."""
    d = str(tmp_path_factory.mktemp("noop"))
    docs = spark.createDataFrame(corpus).repartition(4)
    build_index(spark, docs, d, docs_per_segment=DOCS_PER_SEGMENT)
    before = {
        f: os.path.getmtime(os.path.join(d, "segments", f))
        for f in os.listdir(os.path.join(d, "segments"))
    }
    build_index(spark, docs, d, docs_per_segment=DOCS_PER_SEGMENT)
    after = {
        f: os.path.getmtime(os.path.join(d, "segments", f))
        for f in os.listdir(os.path.join(d, "segments"))
    }
    assert before == after


def test_manifest_lineage_metrics(index):
    _, _, index_dir = index
    with open(os.path.join(index_dir, "manifest.json")) as fh:
        manifest = json.load(fh)
    assert manifest["tokenizer_version"] == "code-v1"
    segs = manifest["segments"]
    assert len(segs) == (N_DOCS + DOCS_PER_SEGMENT - 1) // DOCS_PER_SEGMENT
    for meta in segs.values():
        assert meta["n_docs"] > 0 and meta["n_terms"] > 0
        assert meta["postings_bytes"] > 0 and len(meta["sha256"]) == 64
        assert meta["n_postings"] >= meta["n_terms"]


# --- segment merge -----------------------------------------------------------


def test_merge_segments_preserves_postings(spark, index, tmp_path_factory):
    idx, _, index_dir = index
    merged_dir = str(tmp_path_factory.mktemp("merged"))
    merge_segments(spark, index_dir, merged_dir, fanin=4)

    probe = ["return", "uniq_9", "error"]
    orig = idx.term_doc_rows(probe).collect()
    merged_idx = InvertedIndex(spark, merged_dir, idx.n_docs, idx.avgdl)
    merged = merged_idx.term_doc_rows(probe).collect()

    key = lambda r: (r["term"], r["doc_id"])
    assert sorted(map(key, orig)) == sorted(map(key, merged))
    assert {key(r): (r["tf"], r["dl"]) for r in orig} == {key(r): (r["tf"], r["dl"]) for r in merged}
    # fewer (term, segment) rows after merging
    assert merged_idx.postings(probe).count() <= idx.postings(probe).count()


def test_resume_across_parallelism_levels(spark, corpus, tmp_path_factory):
    """docIDs are a pure function of the key order, so a build started at one
    parallelism and resumed at another must produce byte-identical segments
    (the deterministic-bucket design's core claim)."""
    full_dir = str(tmp_path_factory.mktemp("full_p"))
    resumed_dir = str(tmp_path_factory.mktemp("resumed_p"))
    docs = spark.createDataFrame(corpus).repartition(8)

    build_index(spark, docs, full_dir, docs_per_segment=DOCS_PER_SEGMENT, num_partitions=3)

    build_index(spark, docs, resumed_dir, docs_per_segment=DOCS_PER_SEGMENT, num_partitions=3)
    manifest = load_manifest(resumed_dir)
    victim_ids = sorted(manifest.completed_segment_ids())[1::2]
    for sid in victim_ids:
        os.remove(os.path.join(resumed_dir, "segments", f"seg_{sid:06d}.postings.parquet"))
        del manifest.segments[str(sid)]
    from elasticsearch_aggregation_geoclustering_spark.sources.segments import save_manifest

    save_manifest(resumed_dir, manifest)
    # resume at a DIFFERENT parallelism: different bucket boundaries, same ids
    build_index(spark, docs, resumed_dir, docs_per_segment=DOCS_PER_SEGMENT, num_partitions=7)

    full_manifest = load_manifest(full_dir)
    resumed_manifest = load_manifest(resumed_dir)
    assert full_manifest.completed_segment_ids() == resumed_manifest.completed_segment_ids()
    for sid, meta in full_manifest.segments.items():
        assert resumed_manifest.segments[sid]["sha256"] == meta["sha256"], f"segment {sid}"
