"""Driver-contract rehearsal: every __spark_entry__ query vs its DuckDB oracle.

Mirrors the driver's CORRECTNESS gate: run the Spark callable and the oracle
SQL on the same sf dir and require identical row multisets (column order
normalized by name).  Queries without an oracle get a rows-only smoke check.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"create view {t} as select * from read_parquet('{path}')")
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return float(v)
    try:  # Decimal and numpy scalars
        import decimal

        if isinstance(v, decimal.Decimal):
            return float(v)
    except ImportError:
        pass
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "item"):
        return _norm(v.item())
    return v


def _kind_spark(t: str) -> str:
    t = t.lower()
    if t in ("tinyint", "smallint", "int", "bigint", "long"):
        return "int"
    if t in ("float", "double") or t.startswith("decimal"):
        return "float"
    if t == "boolean":
        return "bool"
    return t  # string, binary, arrays — compare verbatim-ish


def _kind_duck(t: str) -> str:
    t = t.upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UBIGINT", "UINTEGER"):
        return "int"
    if t in ("FLOAT", "DOUBLE", "REAL") or t.startswith("DECIMAL"):
        return "float"
    if t == "BOOLEAN":
        return "bool"
    if t in ("VARCHAR", "STRING"):
        return "string"
    if t == "BLOB":
        return "binary"
    return t.lower()


def _multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for row in rows:
        key = tuple(_norm(row[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    oracles = entry_mod.oracle_sql()
    if name not in oracles:
        assert len(srows) >= 0  # rows-only smoke: ran and has a stable schema
        assert len(scols) > 0
        return
    res = duck.execute(oracles[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    # DuckDB's parallel aggregation is not addition-order deterministic: an
    # oracle whose top-k boundary lands on an EXACT score tie can flip which
    # tied row survives the limit between runs (measured on
    # bm25_rescore_phrase: rank 50/51 share the same double bit-for-bit and
    # duck returns either; Spark's answer is stable and is duck's MINORITY
    # outcome, 10 of 12 and 12 of 16 fresh duck runs returning the other
    # tied row).  The engine result is a valid execution of the
    # oracle, so on mismatch re-run the DUCK side on fresh connections —
    # three consecutive disagreements are a real failure, one agreement
    # proves equivalence.
    _retries = 3
    assert sorted(scols) == sorted(dcols), f"{name}: column sets differ"
    # dtype-kind parity: the driver gate compares schemas, so an int vs
    # float drift must fail here, not there (DESCRIBE gives real DuckDB
    # types; the DBAPI description collapses all numerics to NUMBER)
    skinds = {c: _kind_spark(t) for c, t in sdf.dtypes}
    dkinds = {
        r[0]: _kind_duck(str(r[1]))
        for r in duck.execute("describe " + oracles[name]).fetchall()
    }
    for c in scols:
        assert skinds[c] == dkinds[c], (
            f"{name}.{c}: dtype kind differs (spark {skinds[c]} vs duck {dkinds[c]})"
        )
    sm, dm = _multiset(srows, scols), _multiset(drows, dcols)
    while sm != dm and _retries > 0:
        _retries -= 1
        fresh = duckdb.connect()
        for t in TABLES:
            path = os.path.join(SF_DIR, f"{t}.parquet")
            if os.path.exists(path):
                fresh.execute(
                    f"create view {t} as select * from read_parquet('{path}')"
                )
        drows = fresh.execute(oracles[name]).fetchall()
        fresh.close()
        dm = _multiset(drows, dcols)
    if sm != dm:
        only_s = {k: v for k, v in sm.items() if dm.get(k) != v}
        only_d = {k: v for k, v in dm.items() if sm.get(k) != v}
        raise AssertionError(
            f"{name}: value mismatch; spark-only={list(only_s.items())[:3]} "
            f"duck-only={list(only_d.items())[:3]} (spark {len(srows)} rows, duck {len(drows)} rows)"
        )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_every_query_has_an_oracle():
    """Contract integrity: no silent rows-only queries, no orphan oracles."""
    q = set(entry_mod.queries())
    o = set(entry_mod.oracle_sql())
    assert q == o, f"queries-without-oracle: {q - o}; oracles-without-query: {o - q}"


#: driver-coverage ledger: which round last produced a green CORRECTNESS row
#: for each query (r5 checked dict positions 0-49 of the r5 ordering; r4
#: covered the dedup/ANN/text/multimodal family).  Keys absent here have
#: NEVER had a driver oracle row — the rotation rule below forces them into
#: the checked window.  Update this after each round's CORRECTNESS_r*.json.
LAST_DRIVER_GREEN = {
    # r5 (CORRECTNESS_r05.json, 50/50 green)
    **{k: 5 for k in [
        "geo_cell_agg_z9", "geo_cell_agg_z5_bbox", "geo_shard_parity_z9",
        "geo_quantized_shard_z9", "geo_multipoint_z5", "geo_cell_metrics_z5",
        "geo_hits_total_bbox", "geo_hits_distance", "geo_clustering_paris_z9",
        "geo_es_exact_z9", "bm25_topk_or", "bm25_topk_and", "bm25_direct_topk",
        "bm25_batch_topk", "match_count_or", "match_count_msm2",
        "bm25_explain_top1", "bm25_topk_msm2", "match_count_and",
        "phrase_match_count", "phrase_topk", "phrase_prefix_count",
        "phrase_prefix_topk", "phrase_slop_count", "phrase_slop_topk",
        "term_df", "terms_agg_matched", "fuzzy_match_count",
        "prefix_match_count", "prefix_topk", "fuzzy_topk",
        "wildcard_match_count", "regexp_match_count", "index_stats",
        "docmap_sha256", "hits_stats_nchars", "hits_histogram_nchars",
        "hits_percentiles_nchars", "top_hits_by_lang", "events_date_histogram",
        "cardinality_user_hll", "significant_terms_jlh", "bm25_page2",
        "bm25_range_filtered", "mlt_topk", "highlight_top5",
        "multi_match_best_fields", "bm25_rescore_phrase", "boosting_search",
        "sample_hash_10pct",
    ]},
    # r4 (CORRECTNESS_r04.json) — stale but once-green
    **{k: 4 for k in [
        "dedup_exact_groups", "dedup_keep_one", "dedup_minhash_lsh",
        "dedup_simhash", "dedup_simhash_pairs", "dedup_ngram_jaccard",
        "dedup_cluster_labels", "dedup_fuzzy_keep_one", "ann_cosine_topk",
        "embedding_near_dup", "ann_lsh_topk", "ann_lsh_indexed_topk",
        "ann_band_indexed_topk", "ann_ivf_topk", "text_token_count",
        "text_quality", "text_lang_id", "text_unigram_logprob",
        "text_fingerprint", "multimodal_meta", "multimodal_features",
    ]},
}


def test_driver_window_rotation():
    """The driver's oracle gate has checked the FIRST 50 queries() entries;
    round 5 lost coverage by appending new entries behind position 49.
    Encode the rotation so it cannot regress: every never-driver-checked
    query must sit inside the 50-entry window, and (while any such query
    exists) the window must not burn slots on entries certified green in
    BOTH of the last two rounds."""
    order = list(entry_mod.queries())
    window = order[:50]
    never = [k for k in order if k not in LAST_DRIVER_GREEN]
    missing = [k for k in never if k not in window]
    assert not missing, f"never-driver-checked queries outside the window: {missing}"
    if never or any(LAST_DRIVER_GREEN[k] <= 4 for k in order if k in LAST_DRIVER_GREEN):
        double_certified = [
            k for k in window
            if LAST_DRIVER_GREEN.get(k, 0) >= 5
        ]
        # the representative core is allowed 12 slots; more than that while
        # stale/never-checked entries wait outside is wasted coverage
        stale_outside = [
            k for k in order[50:] if LAST_DRIVER_GREEN.get(k, 99) <= 4
        ]
        assert len(double_certified) <= 12 or not stale_outside, (
            f"window holds {len(double_certified)} already-certified entries "
            f"while stale entries wait outside: {stale_outside}"
        )
