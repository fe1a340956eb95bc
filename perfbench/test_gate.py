"""The benchmark's own tests: every oracle fails a deliberately wrong answer.

    python3 -m pytest perfbench/test_gate.py -q

No Spark session: the oracles run on small numpy inputs, fed first the
right answer (which must pass) and then a corrupted copy (which must fail).
"""

from __future__ import annotations

import copy
import json
import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import harness  # noqa: E402
import oracles  # noqa: E402
import run  # noqa: E402
from elasticsearch_aggregation_geoclustering_spark.geo.planner import plan_clustering  # noqa: E402
from elasticsearch_aggregation_geoclustering_spark.operators.merge import merge_clusters  # noqa: E402
from elasticsearch_aggregation_geoclustering_spark.testing import synth_documents  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def text():
    docs = synth_documents(60, seed=3)
    oracle = oracles.TextOracle()
    oracle.add(range(len(docs)), docs["content"])
    return oracle


def test_search_gate(text):
    expected = text.topk(["return", "id_3"], 10)
    assert oracles.check_ranked(expected, expected) == []
    one_ulp = [(d, np.nextafter(s, np.inf)) if i == 4 else (d, s) for i, (d, s) in enumerate(expected)]
    assert oracles.check_ranked(one_ulp, expected)
    swapped = [expected[1], expected[0]] + expected[2:]
    assert oracles.check_ranked(swapped, expected)


def test_phrase_gate(text):
    scores = text.phrase_scores(["return", "x", "y"])
    assert scores
    best = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert oracles.check_topk_scores(best, scores, 10) == []
    assert oracles.check_topk_scores(best[1:] + [(10**6, 1.0)], scores, 10)
    assert oracles.check_topk_scores(best[:-1], scores, 10)


def test_clustering_gate():
    rng = np.random.default_rng(7)
    lons = np.concatenate([rng.uniform(-180, 180, 3000), rng.normal(2.3, 0.05, 500)])
    lats = np.concatenate([rng.uniform(-85, 85, 3000), rng.normal(48.8, 0.05, 500)])
    for zoom, params in [(2, {}), (4, {"ratio": 1.2}), (9, {})]:
        plan = plan_clustering(zoom, **params)
        cands = oracles.cell_candidates(lons, lats, zoom, **params)
        got = oracles.canon_clusters(merge_clusters(copy.deepcopy(cands), plan.radius_m, plan.ratio))
        assert oracles.check_clusters(got, lons, lats, zoom, **params) == []
        lost_doc = [got[0][:3] + (got[0][3] - 1,) + got[0][4:]] + got[1:]
        assert oracles.check_clusters(lost_doc, lons, lats, zoom, **params)
        moved = [(got[0][0], got[0][1] + 1e-6) + got[0][2:]] + got[1:]
        assert oracles.check_clusters(moved, lons, lats, zoom, **params)
        if len(got) > 1:
            assert oracles.check_clusters(got[:-1], lons, lats, zoom, **params)


def test_scan_merge_matches_reference():
    rng = np.random.default_rng(11)
    lons, lats = rng.normal(2.3, 0.3, 2000), rng.normal(48.8, 0.2, 2000)
    for zoom, params in [(5, {}), (6, {"ratio": 1.5}), (7, {"ratio": 1.2})]:
        plan = plan_clustering(zoom, **params)
        cands = oracles.cell_candidates(lons, lats, zoom, **params)
        assert len(cands) <= oracles.REFERENCE_MERGE_MAX
        ref = oracles.merge_clusters_reference(copy.deepcopy(cands), plan.radius_m, plan.ratio)
        scan = oracles.scan_merge(cands, plan.radius_m, plan.ratio)
        assert oracles.canon_clusters(scan) == oracles.canon_clusters(ref)


def test_aggs_gate(text):
    scores = text.all_scores(["return"])
    lon = {d: 2.2 + d / 1000 for d in scores}
    repo = {d: f"r{d % 3}" for d in scores}
    expected = oracles.agg_expectations(scores, lon, repo, 0.5)
    assert oracles.check_aggs(expected, expected) == []
    stats, hist, top = expected
    assert oracles.check_aggs(((stats[0] + 1,) + stats[1:], hist, top), expected)
    assert oracles.check_aggs((stats, hist[1:], top), expected)
    assert oracles.check_aggs((stats, hist, top[::-1]), expected)


def test_pair_gates():
    ids = np.arange(6, dtype=np.int64)
    fp = np.array([0b1111, 0b1110, 0b0, 1 << 40, (1 << 40) | 1, 0b111111111], dtype=np.int64)
    expected = oracles.hamming_pairs(ids, fp, 3)
    assert (0, 1, 1) in expected and (3, 4, 1) in expected
    good = sorted(expected)
    assert oracles.check_pair_set(good, expected, "simhash") == []
    assert oracles.check_pair_set(good[1:], expected, "simhash")
    assert oracles.check_pair_set(good + [(1, 5, 9)], expected, "simhash")
    assert oracles.check_pair_set(good + good[:1], expected, "simhash")
    assert oracles.check_recall(good, [(0, 1)], "simhash") == []
    assert oracles.check_recall(good[1:], [(0, 1)], "simhash")

    vecs = {0: np.array([1.0, 0.0]), 1: np.array([0.99, 0.01]), 2: np.array([0.0, 1.0])}
    cos01 = float(vecs[0] @ vecs[1] / np.linalg.norm(vecs[1]))
    assert oracles.check_cosine_pairs([(0, 1, cos01)], vecs, 0.95) == []
    assert oracles.check_cosine_pairs([(0, 1, cos01 - 1e-6)], vecs, 0.95)
    assert oracles.check_cosine_pairs([(0, 2, 0.0)], vecs, 0.95)


def test_exact_groups_gate():
    texts = ["a", "b", "a", "c"]
    groups = oracles.exact_groups(range(4), texts)
    assert [g[1:] for g in groups if g[2] == 2] == [(0, 2)]


def test_band_pairs():
    sigs = np.array([[1, 2, 3, 4], [1, 2, 9, 9], [7, 7, 3, 4], [5, 6, 7, 8]])
    assert oracles.band_pairs(np.arange(4), sigs, 2, 1000) == {(0, 1), (0, 2)}
    assert oracles.band_pairs(np.arange(4), sigs, 2, 1) == set()


def test_runner_counts_failures():
    """A repeat whose answer differs and an oracle failure both count."""
    rt = harness.Runner(spark=None)
    answers = iter([1, 1, 2, 5])
    for _ in range(3):
        rt.timed("x", ("a",), lambda: next(answers), int)
    rt.timed("x", ("b",), lambda: next(answers), int)
    failed, messages = rt.gate(lambda key, ans: [] if key == ("a",) else ["wrong"])
    assert rt.attempted == 4
    assert failed == 2 and len(messages) == 2


def test_runner_compares_repeats_with_warm_up():
    """A timed answer that differs from the warm-up's fails; a key only the
    warm-up ran is not checked."""
    rt = harness.Runner(spark=None)
    rt.warm("x", ("a",), lambda: 1, int)
    rt.warm("x", ("w",), lambda: 9, int)
    rt.timed("x", ("a",), lambda: 2, int)
    rt.timed("x", ("a",), lambda: 1, int)
    failed, messages = rt.gate(lambda key, ans: [] if ans == 1 else ["wrong"])
    assert rt.attempted == 2
    assert failed == 1 and len(messages) == 1


def test_benchmark_json_matches_run():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [m["name"] for m in bench["per_layer"]] == list(run.per_layer_units())
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    from workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert len(bench["per_layer"]) <= 128
