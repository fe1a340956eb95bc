"""One ingest path: build_index, append_index and upsert_index plan through
_rank_plan, decide replay vs new batch with one ledger rule
(_match_ledger) and write through one segment writer.

Pins the batch_id-first replay rule on both the upsert and the plain append
path, the ledger entry format (and that entries written in older formats
keep matching replays), the append's Spark job count, that a signed-key
append plans in as many jobs as a string-key one, and the rejection of
timestamp key and docmap columns.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

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


def _count_jobs(spark, group, fn):
    """Spark jobs ``fn()`` runs with AQE off (AQE splits each shuffle
    materialization into its own job id; count the engine's own jobs)."""
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_append_job_count(spark, index_dir):
    """One append_index plans with _rank_plan's two key-only jobs; a re-added
    count or sample job pushes the count over the bound."""
    batch = _batch(spark, [(7, "kappa lambda"), (8, "lambda mu")])
    jobs = _count_jobs(spark, "append_job_count", lambda: append_index(spark, batch, index_dir, **KW))
    assert jobs <= APPEND_JOBS, f"{jobs} jobs"


def test_append_negative_long_keys_plan_like_string_keys(spark, index_dir, tmp_path):
    """Negative long keys plan through the same two key-only jobs as string
    keys (one binary key encoding for every key type, no sampled bounds);
    docIDs are base_sid·docs_per_segment + dense key rank."""
    keys = [-(i * 37 % 101) - 1 for i in range(23)]
    rows = [(k, f"neg{abs(k) % 5} tok") for k in keys]
    neg_jobs = _count_jobs(
        spark, "append_negative_long",
        lambda: append_index(spark, _batch(spark, rows), index_dir, num_partitions=3, **KW),
    )
    str_dir = str(tmp_path / "str_idx")
    build_index(
        spark, spark.createDataFrame([(str(i), t) for i, t in DOCS], "orig_id string, text string"),
        str_dir, docs_per_segment=2, **KW,
    )
    str_rows = spark.createDataFrame([(f"k{k:+04d}", t) for k, t in rows], "orig_id string, text string")
    str_jobs = _count_jobs(
        spark, "append_string",
        lambda: append_index(spark, str_rows, str_dir, num_partitions=3, **KW),
    )
    assert neg_jobs == str_jobs, (neg_jobs, str_jobs)

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


@pytest.mark.parametrize(
    "schema,cols",
    [
        ("orig_id timestamp, text string", {}),
        ("orig_id long, text string, ts timestamp", {"docmap_cols": ("ts",)}),
        ("orig_id long, text string, ts timestamp_ntz", {"docmap_cols": ("ts",)}),
    ],
    ids=["timestamp_key", "timestamp_docmap", "timestamp_ntz_docmap"],
)
@pytest.mark.parametrize("op", ["build", "append"])
def test_timestamp_key_and_docmap_columns_rejected(spark, index_dir, schema, cols, op):
    """The docmap parts are written from pandas as timestamp[ns], which Spark
    cannot read back: build and append reject timestamp key and docmap
    columns before any Spark job."""
    import datetime as dt

    ts = dt.datetime(2021, 11, 7, 1, 30)
    row = (ts, "omega") if schema.startswith("orig_id timestamp") else (9, "omega", ts)
    docs = spark.createDataFrame([row], schema)
    target = str(index_dir) + "_new" if op == "build" else index_dir
    write = build_index if op == "build" else append_index

    def run():
        with pytest.raises(ValueError, match="timestamps"):
            write(spark, docs, target, **{**KW, **cols})

    assert _count_jobs(spark, f"timestamp_{op}", run) == 0
    assert op == "append" or not os.path.exists(target)
