"""One ingest path: build_index, append_index and upsert_index plan through
_rank_plan, decide replay vs new batch with one ledger rule
(_match_ledger) and write through one segment writer.

Pins the batch_id-first replay rule on both the upsert and the plain append
path, the ledger entry format (and that entries written in older formats
keep matching replays), the append's Spark job count, and the sampled
fallback of _rank_plan on an append batch.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from elasticsearch_aggregation_geoclustering_spark.plans import index_build
from elasticsearch_aggregation_geoclustering_spark.plans.index_build import (
    append_index,
    build_index,
    upsert_index,
)
from elasticsearch_aggregation_geoclustering_spark.plans.query import InvertedIndex
from elasticsearch_aggregation_geoclustering_spark.sources.segments import (
    load_manifest,
    save_manifest,
)

DOCS = [
    (0, "alpha beta gamma"),
    (1, "alpha beta beta delta"),
    (2, "gamma delta epsilon"),
    (3, "alpha gamma gamma"),
    (4, "beta delta"),
    (5, "zeta eta theta alpha beta"),
]
KW = dict(content_col="text", key_cols=("orig_id",))
#: Spark jobs of one append_index of a 2-doc batch into the 6-doc index,
#: AQE off: _rank_plan's 2 planning jobs + 3 for the segment write and the
#: term_stats rewrite (measured 5; a count, sample and fingerprint job in
#: place of the 2 planning jobs measured 6)
APPEND_JOBS = 5


@pytest.fixture()
def index_dir(spark):
    d = tempfile.mkdtemp(prefix="ingestidx_")
    build_index(
        spark, spark.createDataFrame(DOCS, "orig_id long, text string"), d,
        docs_per_segment=2, **KW,
    )
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "orig_id long, text string")


def _live(spark, index_dir, key):
    """(docmap rows, live docs) holding ``orig_id == key``."""
    idx = InvertedIndex.open(spark, index_dir)
    ids = {r["doc_id"] for r in idx.docmap().where(F.col("orig_id") == key).collect()}
    deletes = os.path.join(index_dir, "deletes")
    deleted = (
        {r["doc_id"] for r in spark.read.parquet(deletes).collect()}
        if os.path.isdir(deletes)
        else set()
    )
    return len(ids), len(ids - deleted)


def _search_keys(spark, index_dir, term):
    idx = InvertedIndex.open(spark, index_dir)
    dm = {r["doc_id"]: r["orig_id"] for r in idx.docmap().collect()}
    return sorted(dm[r["doc_id"]] for r in idx.search([term], k=10).collect())


@pytest.mark.parametrize("op", ["upsert", "append"])
def test_same_batch_id_new_content_is_replay(spark, index_dir, op):
    """When both the batch and the ledger entry carry a batch_id, it alone
    decides: a redelivered micro-batch id is a replay even if its content
    differs, on the upsert and the plain append path alike (the two paths
    used to disagree and leave two live docs for the key)."""
    write = upsert_index if op == "upsert" else append_index
    write(spark, _batch(spark, [(6, "omega omega")]), index_dir, batch_id=7, **KW)
    with pytest.warns(UserWarning, match="resume/replay"):
        write(spark, _batch(spark, [(6, "sigma sigma")]), index_dir, batch_id=7, **KW)
    assert _live(spark, index_dir, 6) == (1, 1)
    assert _search_keys(spark, index_dir, "omega") == [6]
    assert _search_keys(spark, index_dir, "sigma") == []
    assert len(load_manifest(index_dir).appends) == 1


def test_ledger_entry_matches_direct_aggregation(spark, index_dir):
    rows = [(9, "kappa lambda"), (7, "lambda mu"), (8, "mu nu nu")]
    batch = _batch(spark, rows)
    append_index(spark, batch, index_dir, **KW)
    entry = load_manifest(index_dir).appends[-1]
    want = batch.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(F.struct("orig_id")).alias("min_key"),
        F.max(F.struct("orig_id")).alias("max_key"),
        F.bit_xor(F.xxhash64("orig_id")).alias("key_xor"),
        F.bit_xor(F.xxhash64("orig_id", "text")).alias("content_xor"),
    ).collect()[0]
    assert entry["n_docs"] == want["n_docs"] == 3
    assert entry["min_key"] == list(want["min_key"]) == [7]
    assert entry["max_key"] == list(want["max_key"]) == [9]
    assert entry["key_xor"] == want["key_xor"]
    assert entry["content_xor"] == want["content_xor"]
    assert entry["base_sid"] == 3  # next segment after the 3 built ones
    assert "batch_id" not in entry


@pytest.mark.parametrize(
    "drop", [("key_xor", "content_xor"), ("content_xor",), ()],
    ids=["pre_key_xor", "pre_content_xor", "current"],
)
def test_older_ledger_entries_match_replays(spark, index_dir, drop):
    """Ledger entries in every format written so far still match a replay
    of their batch: the replay reuses base_sid, adds no ledger entry and no
    docs, and backfills key_xor on the oldest format."""
    rows = [(7, "kappa lambda"), (8, "lambda mu")]
    stats = append_index(spark, _batch(spark, rows), index_dir, **KW)
    manifest = load_manifest(index_dir)
    entry = manifest.appends[-1]
    key_xor = entry["key_xor"]
    for k in drop:
        del entry[k]
    save_manifest(index_dir, manifest)
    with pytest.warns(UserWarning, match="resume/replay"):
        again = append_index(spark, _batch(spark, rows), index_dir, **KW)
    assert again == stats
    after = load_manifest(index_dir).appends
    assert len(after) == 1
    assert after[0]["key_xor"] == key_xor
    assert after[0]["base_sid"] == entry["base_sid"]


def test_append_job_count(spark, index_dir):
    """One append_index plans with _rank_plan's two key-only jobs; a re-added
    count or sample job pushes the count over the bound."""
    sc = spark.sparkContext
    # AQE splits each shuffle materialization into its own job id; count
    # the engine's own job structure
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    batch = _batch(spark, [(7, "kappa lambda"), (8, "lambda mu")])
    sc.setJobGroup("append_job_count", "one append_index")
    try:
        append_index(spark, batch, index_dir, **KW)
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    jobs = sc.statusTracker().getJobIdsForGroup("append_job_count")
    assert len(jobs) <= APPEND_JOBS, f"{len(jobs)} jobs"


def test_append_negative_long_keys_use_sampled_fallback(spark, index_dir, monkeypatch):
    """Negative long keys break the zero-pad key encoding, so _rank_plan
    plans the batch from sampled bounds; docIDs are still
    base_sid·docs_per_segment + dense key rank."""
    calls = []
    sample = index_build._sample_key_boundaries

    def counting_sample(*args, **kwargs):
        calls.append(args[2])
        return sample(*args, **kwargs)

    monkeypatch.setattr(index_build, "_sample_key_boundaries", counting_sample)
    keys = [-(i * 37 % 101) - 1 for i in range(23)]
    rows = [(k, f"neg{abs(k) % 5} tok") for k in keys]
    append_index(spark, _batch(spark, rows), index_dir, num_partitions=3, **KW)
    assert calls == [len(rows)]

    entry = load_manifest(index_dir).appends[-1]
    assert entry["min_key"] == [min(keys)] and entry["max_key"] == [max(keys)]
    base = entry["base_sid"] * 2  # docs_per_segment of the fixture index
    idx = InvertedIndex.open(spark, index_dir)
    got = {
        r["orig_id"]: r["doc_id"]
        for r in idx.docmap().where(F.col("orig_id") < 0).collect()
    }
    assert got == {k: base + rank for rank, k in enumerate(sorted(keys))}
    assert idx.n_docs == len(DOCS) + len(rows)
