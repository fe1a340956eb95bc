"""Correctness oracles: each recomputes a request's answer without Spark.

Every check returns a list of problems (empty means the answer is right).
They take canonical answers (plain tuples) so the benchmark's own tests can
feed them deliberately wrong ones.
"""

from __future__ import annotations

import copy
import hashlib
from collections import Counter

import numpy as np

from elasticsearch_aggregation_geoclustering_spark.functions import bm25
from elasticsearch_aggregation_geoclustering_spark.functions.tokenizer import tokenize_python
from elasticsearch_aggregation_geoclustering_spark.geo.distance import EARTH_MEAN_RADIUS
from elasticsearch_aggregation_geoclustering_spark.geo.geohash import long_encode
from elasticsearch_aggregation_geoclustering_spark.geo.planner import plan_clustering
from elasticsearch_aggregation_geoclustering_spark.operators.merge import (
    _DEG,
    Cluster,
    _arc_np,
    merge_clusters_reference,
)

#: merge_clusters_reference is O(k^2) scalar Python; run it up to this size
REFERENCE_MERGE_MAX = 400
#: centroids are canonicalized to 9 decimals (about 0.1 mm)
COORD_DECIMALS = 9
COORD_TOL = 2e-9


# --- text / BM25 ----------------------------------------------------------------


class TextOracle:
    """From-scratch inverted index over documents keyed by engine doc id."""

    def __init__(self) -> None:
        self.tokens: dict[int, list[str]] = {}
        self._postings: dict[str, tuple[np.ndarray, np.ndarray]] | None = None

    def add(self, doc_ids, contents) -> None:
        for d, text in zip(doc_ids, contents):
            self.tokens[int(d)] = tokenize_python(text)
        self._postings = None

    @property
    def n_docs(self) -> int:
        return len(self.tokens)

    @property
    def avgdl(self) -> float:
        return sum(len(t) for t in self.tokens.values()) / len(self.tokens)

    def _index(self):
        if self._postings is None:
            acc: dict[str, tuple[list[int], list[int]]] = {}
            for d in sorted(self.tokens):
                for term, tf in Counter(self.tokens[d]).items():
                    ids, tfs = acc.setdefault(term, ([], []))
                    ids.append(d)
                    tfs.append(tf)
            self._postings = {
                t: (np.array(ids, np.int64), np.array(tfs, np.int64)) for t, (ids, tfs) in acc.items()
            }
            self._dl = np.zeros(max(self.tokens) + 1, np.int64)
            for d, toks in self.tokens.items():
                self._dl[d] = len(toks)
        return self._postings, self._dl

    def topk(self, terms: list[str], k: int) -> list[tuple[int, float]]:
        postings, dl = self._index()
        return bm25.score_topk_numpy(postings, dl, self.n_docs, self.avgdl, terms, k)

    def all_scores(self, terms: list[str]) -> dict[int, float]:
        return dict(self.topk(terms, self.n_docs))

    def match_count(self, terms: list[str]) -> int:
        postings, _ = self._index()
        hits: set[int] = set()
        for t in set(terms):
            if t in postings:
                hits.update(postings[t][0].tolist())
        return len(hits)

    def phrase_scores(self, phrase: list[str]) -> dict[int, float]:
        """Lucene PhraseQuery BM25: idf summed per phrase position, tf = the
        exact phrase frequency (slop 0)."""
        postings, _ = self._index()
        if any(t not in postings for t in phrase):
            return {}
        idf_sum = sum(float(bm25.idf(self.n_docs, len(postings[t][0]))) for t in phrase)
        first = set(postings[phrase[0]][0].tolist())
        for t in phrase[1:]:
            first &= set(postings[t][0].tolist())
        out = {}
        n = len(phrase)
        avgdl = self.avgdl
        for d in sorted(first):
            toks = self.tokens[d]
            ptf = sum(1 for i in range(len(toks) - n + 1) if toks[i : i + n] == phrase)
            if ptf:
                out[d] = idf_sum * float(bm25.tf_weight(ptf, len(toks), avgdl))
        return out


def check_ranked(got: list[tuple[int, float]], expected: list[tuple[int, float]]) -> list[str]:
    """Rank identity and bitwise scores (the engine folds terms in sorted
    order exactly like score_topk_numpy)."""
    if [d for d, _ in got] != [d for d, _ in expected]:
        return [f"ranking {[d for d, _ in got]} != oracle {[d for d, _ in expected]}"]
    bad = [(d, s, e) for (d, s), (_, e) in zip(got, expected) if s != e]
    return [f"doc {d}: score {s!r} != oracle {e!r}" for d, s, e in bad[:3]]


def check_topk_scores(got: list[tuple[int, float]], scores: dict[int, float], k: int) -> list[str]:
    """Top-k against every doc's oracle score: each returned score must be
    the doc's own, and the k scores must be the k best (ties may order
    either way at equal score)."""
    problems = []
    for d, s in got:
        if d not in scores:
            problems.append(f"doc {d} does not match")
        elif scores[d] != s:
            problems.append(f"doc {d}: score {s!r} != oracle {scores[d]!r}")
    best = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    if [s for _, s in got] != [s for _, s in best]:
        problems.append(f"top-{k} scores differ from the oracle's")
    return problems


# --- clustering --------------------------------------------------------------------


def cell_candidates(lons: np.ndarray, lats: np.ndarray, zoom: int, **params) -> list[Cluster]:
    """Per-cell doc counts and centroids, truncated to the plan's size by
    largest key, key-descending (operators.oracle without the merge)."""
    plan = plan_clustering(zoom, **params)
    if lons.size == 0:
        return []
    cells = long_encode(lons, lats, plan.precision)
    order = np.argsort(cells, kind="stable")
    sorted_cells = cells[order]
    uniq, start = np.unique(sorted_cells, return_index=True)
    counts = np.diff(np.append(start, sorted_cells.size))
    sum_lat = np.add.reduceat(lats[order], start)
    sum_lon = np.add.reduceat(lons[order], start)
    desc = np.argsort(uniq)[::-1][: min(plan.size, uniq.size)]
    return [
        Cluster(
            cell=int(uniq[i]),
            lat=float(sum_lat[i] / counts[i]),
            lon=float(sum_lon[i] / counts[i]),
            doc_count=int(counts[i]),
        )
        for i in desc
    ]


def scan_merge(candidates: list[Cluster], radius_m: float, ratio: float) -> list[Cluster]:
    """The reference's greedy merge as a sequential scan: for each unvisited
    bucket, absorb the first later candidate within the fixed radius of the
    moving centroid and remember near-misses (d/fr < ratio) for the second
    pass.  Only candidates within a latitude band of the centroid are
    tested, found by bisection in a latitude-sorted index: haversine
    distance is at least R*|dlat|, and a hit needs d <= radius_m while a
    near-miss needs d < ratio*radius_m, so nothing outside the band (widened
    by a safety margin) can be either."""
    n = len(candidates)
    lat = np.array([c.lat for c in candidates], np.float64)
    lon = np.array([c.lon for c in candidates], np.float64)
    cnt = np.array([c.doc_count for c in candidates], np.float64)
    by_lat = np.argsort(lat, kind="stable")
    sorted_lat = lat[by_lat]
    cut = 1.001 * radius_m * max(1.0, ratio) / EARTH_MEAN_RADIUS / _DEG + 1e-9
    visited = np.zeros(n, bool)
    out = []
    for i in range(n):
        if visited[i]:
            continue
        visited[i] = True
        blat, blon, bcnt = lat[i], lon[i], cnt[i]
        cells = [candidates[i].cell]

        def absorb(j):
            nonlocal blat, blon, bcnt
            visited[j] = True
            merged = bcnt + cnt[j]
            blat = (blat * bcnt + lat[j] * cnt[j]) / merged
            blon = (blon * bcnt + lon[j] * cnt[j]) / merged
            bcnt = merged
            cells.append(candidates[j].cell)

        revisit: list[int] = []
        j0 = i + 1
        while True:
            lo = np.searchsorted(sorted_lat, blat - cut, side="left")
            hi = np.searchsorted(sorted_lat, blat + cut, side="right")
            band = by_lat[lo:hi]
            rest = np.sort(band[(band >= j0) & ~visited[band]])
            if rest.size == 0:
                break
            d = _arc_np(blat, blon, lat[rest], lon[rest])
            fr = radius_m * np.cos(((blat + lat[rest]) / 2.0) * _DEG)
            hit = np.flatnonzero(d <= fr)
            stop = hit[0] if hit.size else rest.size
            if ratio > 0:
                with np.errstate(divide="ignore", invalid="ignore"):
                    near = (fr[:stop] > 0) & (d[:stop] / fr[:stop] < ratio)
                revisit.extend(int(j) for j in rest[:stop][near])
            if not hit.size:
                break
            absorb(int(rest[stop]))
            j0 = int(rest[stop]) + 1
        for j in revisit:
            if visited[j]:
                continue
            d = float(_arc_np(blat, blon, lat[j : j + 1], lon[j : j + 1])[0])
            fr = float(radius_m * np.cos(((blat + lat[j]) / 2.0) * _DEG))
            if d <= fr:
                absorb(j)
        out.append(Cluster(cell=candidates[i].cell, lat=float(blat), lon=float(blon), doc_count=int(bcnt), cells=cells))
    return out


def canon_clusters(clusters) -> list[tuple]:
    return [
        (c.cell, round(c.lat, COORD_DECIMALS), round(c.lon, COORD_DECIMALS), int(c.doc_count), tuple(c.cells))
        for c in clusters
    ]


def check_clusters(got: list[tuple], lons: np.ndarray, lats: np.ndarray, zoom: int, **params) -> list[str]:
    """Greedy-merge answer against the plain-scan merge (and, for small
    inputs, merge_clusters_reference) over numpy-built candidates, plus
    doc-count conservation."""
    plan = plan_clustering(zoom, **params)
    cands = cell_candidates(lons, lats, zoom, **params)
    problems = []
    kept_docs = sum(c.doc_count for c in cands)
    if sum(g[3] for g in got) != kept_docs:
        problems.append(f"doc counts sum to {sum(g[3] for g in got)}, candidates hold {kept_docs}")
    if len(cands) < plan.size and kept_docs != lons.size:
        problems.append(f"untruncated candidates hold {kept_docs} of {lons.size} points")
    expected = [canon_clusters(scan_merge(cands, plan.radius_m, plan.ratio))]
    if len(cands) <= REFERENCE_MERGE_MAX:
        expected.append(canon_clusters(merge_clusters_reference(copy.deepcopy(cands), plan.radius_m, plan.ratio)))
    for exp in expected:
        problems.extend(_cluster_diff(got, exp))
    return problems


def _cluster_diff(got: list[tuple], exp: list[tuple]) -> list[str]:
    if len(got) != len(exp):
        return [f"{len(got)} clusters, oracle {len(exp)}"]
    for g, e in zip(got, exp):
        if g[0] != e[0] or g[3] != e[3] or g[4] != e[4]:
            return [f"cluster {g[0]}: (count {g[3]}, {len(g[4])} cells) != oracle {e[0]} (count {e[3]}, {len(e[4])} cells)"]
        if abs(g[1] - e[1]) > COORD_TOL or abs(g[2] - e[2]) > COORD_TOL:
            return [f"cluster {g[0]}: centroid ({g[1]}, {g[2]}) != oracle ({e[1]}, {e[2]})"]
    return []


# --- aggregations over hits ----------------------------------------------------------


def agg_expectations(scores: dict[int, float], lon_by_doc: dict[int, float], repo_by_doc: dict[int, str], interval: float):
    """pandas-free recomputation of extended_stats(lon), histogram(score)
    and top_hits(repo, 2) over every hit."""
    docs = sorted(scores)
    v = np.array([lon_by_doc[d] for d in docs], np.float64)
    n = v.size
    mean = v.sum() / n
    var = float((v * v).sum() / n - mean * mean)
    std = var ** 0.5
    stats = (n, float(v.min()), float(v.max()), float(v.sum()), float(mean), float((v * v).sum()), var, std, mean + 2 * std, mean - 2 * std)
    hist = Counter(float(np.floor(scores[d] / interval) * interval) for d in docs)
    by_repo: dict[str, list[tuple[float, int]]] = {}
    for d in docs:
        by_repo.setdefault(repo_by_doc[d], []).append((-scores[d], d))
    top = sorted((r, d, -s) for r, rows in by_repo.items() for s, d in sorted(rows)[:2])
    return stats, sorted(hist.items()), top


def check_aggs(got, expected) -> list[str]:
    g_stats, g_hist, g_top = got
    e_stats, e_hist, e_top = expected
    problems = []
    if g_stats[0] != e_stats[0]:
        problems.append(f"stats count {g_stats[0]} != {e_stats[0]}")
    # Spark rounds to 4 decimals (round_to=4); allow that plus fp-sum order
    for name, g, e in zip(("min", "max", "sum", "avg", "sum_sq", "var", "std", "upper", "lower"), g_stats[1:], e_stats[1:]):
        if abs(g - e) > 1e-4 + 1e-9 * abs(e):
            problems.append(f"stats {name} {g} != {e}")
    if g_hist != e_hist:
        problems.append("histogram buckets differ")
    if g_top != e_top:
        problems.append("top_hits differ")
    return problems


# --- dedup / near duplicates ---------------------------------------------------------------


def exact_groups(ids, texts) -> list[tuple[str, int, int]]:
    groups: dict[str, list[int]] = {}
    for d, t in zip(ids, texts):
        groups.setdefault(hashlib.md5(t.encode()).hexdigest(), []).append(int(d))
    return sorted((h, min(v), len(v)) for h, v in groups.items())


def band_pairs(ids: np.ndarray, sigs: np.ndarray, bands: int, max_bucket: int) -> set[tuple[int, int]]:
    """Pairs agreeing exactly on every row of at least one band, buckets
    above max_bucket members dropped."""
    rows = sigs.shape[1] // bands
    out = set()
    for b in range(bands):
        buckets: dict[tuple, list[int]] = {}
        for d, sig in zip(ids.tolist(), sigs[:, b * rows : (b + 1) * rows].tolist()):
            buckets.setdefault(tuple(sig), []).append(d)
        for members in buckets.values():
            if 2 <= len(members) <= max_bucket:
                m = sorted(members)
                out.update((m[i], m[j]) for i in range(len(m)) for j in range(i + 1, len(m)))
    return out


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return float(inter) / float(len(a) + len(b) - inter)


def hamming_pairs(ids: np.ndarray, fp: np.ndarray, max_hamming: int) -> set[tuple[int, int, int]]:
    """All pairs within max_hamming bits, by brute force over every pair."""
    order = np.argsort(ids)
    ids, fp = ids[order], fp[order].astype(np.uint64)
    lut = np.array([bin(i).count("1") for i in range(256)], np.uint8)
    out = set()
    for i in range(len(ids) - 1):
        x = (fp[i] ^ fp[i + 1 :]).view(np.uint8).reshape(-1, 8)
        h = lut[x].sum(axis=1)
        for j in np.flatnonzero(h <= max_hamming):
            out.add((int(ids[i]), int(ids[i + 1 + j]), int(h[j])))
    return out


def check_pair_set(got: list[tuple], expected: set[tuple], what: str) -> list[str]:
    g = set(got)
    problems = []
    if len(g) != len(got):
        problems.append(f"{what}: {len(got) - len(g)} duplicate pairs")
    missing, extra = expected - g, g - expected
    if missing:
        problems.append(f"{what}: {len(missing)} pairs missing, e.g. {sorted(missing)[:2]}")
    if extra:
        problems.append(f"{what}: {len(extra)} unexpected pairs, e.g. {sorted(extra)[:2]}")
    return problems


def check_recall(got_pairs, planted: list[tuple[int, int]], what: str) -> list[str]:
    found = {(a, b) for a, b, *_ in got_pairs}
    missed = [p for p in planted if p not in found]
    return [f"{what}: {len(missed)} of {len(planted)} planted pairs missed"] if missed else []


def check_cosine_pairs(got: list[tuple[int, int, float]], vecs: dict[int, np.ndarray], threshold: float) -> list[str]:
    problems = []
    for a, b, cos in got:
        if not a < b:
            problems.append(f"pair ({a}, {b}) not ordered")
            continue
        va, vb = vecs[a], vecs[b]
        exact = float(va @ vb / (np.sqrt(va @ va) * np.sqrt(vb @ vb)))
        if abs(exact - cos) > 1e-9 or cos < threshold:
            problems.append(f"pair ({a}, {b}): cosine {cos!r}, exact {exact!r}")
    return problems[:3]
