"""Skew handling for Zipf-hot terms (north_rule: skew-aware salting).

The engine's salting is STRUCTURAL: postings are segmented by document range,
so a term appearing in EVERY document still materializes as at most one
postings row per segment — no term-keyed shuffle ever concentrates a hot
term's postings on one reducer, and the merge job's (term, seg_id // fanin)
bucketing caps any reducer's input at ``fanin`` rows per term.  These tests
pin that property with a worst-case corpus (one term in 100% of docs).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from elasticsearch_aggregation_geoclustering_spark.plans.index_build import (
    build_index,
    merge_segments,
)
from elasticsearch_aggregation_geoclustering_spark.plans.query import InvertedIndex

N_DOCS = 600
DPS = 50  # 12 segments
FANIN = 4


@pytest.fixture(scope="module")
def hot_index(spark, tmp_path_factory):
    """Corpus where 'hot' appears in every doc; 'cold<i>' unique per doc."""
    corpus = pd.DataFrame(
        {
            "repo": ["r"] * N_DOCS,
            "path": [f"f{i:04d}.py" for i in range(N_DOCS)],
            "commit": ["c"] * N_DOCS,
            "content": [f"hot hot hot cold{i} shared{i % 7}" for i in range(N_DOCS)],
        }
    )
    index_dir = str(tmp_path_factory.mktemp("hotidx"))
    docs = spark.createDataFrame(corpus).repartition(8)
    build_index(spark, docs, index_dir, docs_per_segment=DPS)
    return InvertedIndex.open(spark, index_dir), index_dir


def test_hot_term_bounded_per_segment(spark, hot_index):
    """df('hot') == N_DOCS but its postings stay 1 row per segment."""
    idx, _ = hot_index
    rows = idx.postings(["hot"]).select("seg_id", "df").collect()
    assert len(rows) == -(-N_DOCS // DPS)  # one row per segment
    assert all(r["df"] <= DPS for r in rows)
    assert sum(r["df"] for r in rows) == N_DOCS
    assert idx.df_of(["hot"])["hot"] == N_DOCS


def test_merge_bucketing_caps_reducer_input(spark, hot_index):
    """After merge, the hot term is split across seg_id//fanin buckets, each
    built from at most ``fanin`` input rows — the salt that keeps a 100%-df
    term off a single reducer."""
    idx, index_dir = hot_index
    merged_dir = index_dir + "_merged"
    merge_segments(spark, index_dir, merged_dir, fanin=FANIN)
    merged = spark.read.parquet(merged_dir + "/segments")
    hot = merged.where(F.col("term") == "hot").select("seg_id", "df").collect()
    n_segments = -(-N_DOCS // DPS)
    assert len(hot) == -(-n_segments // FANIN)  # one row per merge bucket
    assert all(r["df"] <= FANIN * DPS for r in hot)
    assert sum(r["df"] for r in hot) == N_DOCS
    # decoded postings survive the merge
    m_idx = InvertedIndex(spark, merged_dir, idx.n_docs, idx.avgdl)
    assert m_idx.term_doc_rows(["hot"]).count() == N_DOCS


def test_bm25_with_hot_term(hot_index):
    """Hot+rare query ranks the rare-term doc first (idf dominates)."""
    idx, _ = hot_index
    rows = idx.search(["hot", "cold42"], k=3).collect()
    assert rows, "query must match"
    top_doc = rows[0]["doc_id"]
    docmap = {r["doc_id"]: r["path"] for r in idx.docmap().collect()}
    assert docmap[top_doc] == "f0042.py"


def test_minhash_signatures_match_duckdb_oracle(spark):
    """``minhash_signatures`` equals the DuckDB oracle's signature, bit for
    bit, for the default shingles and for the jaccard query's shingle_k=1 —
    the LSH bands, the entry oracles and the perfbench gate all assume this
    one MinHash definition."""
    import duckdb

    from elasticsearch_aggregation_geoclustering_spark.extras import dedup
    from elasticsearch_aggregation_geoclustering_spark.extras import oracles_sql as osql

    path = "/root/testdata/sf0.001/documents.parquet"
    docs = spark.read.parquet(path)
    con = duckdb.connect()
    con.execute(f"create view documents as select * from read_parquet('{path}')")
    for k in (dedup.DEFAULT_SHINGLE_K, 1):
        got = {
            r["doc_id"]: tuple(r["sig"])
            for r in dedup.minhash_signatures(docs, "text", "doc_id", shingle_k=k).collect()
        }
        want = {
            d: tuple(sig)
            for d, sig in con.execute(
                f"select doc_id, {osql.minhash_signature_sql(shingle_k=k)} as sig"
                f" from ({osql.minhash_hashes_cte(shingle_k=k)}) where len(hashes) > 0"
            ).fetchall()
        }
        assert got and got == want, k
