"""The two workloads: seeded inputs, request cycles and answer checks.

Each workload is a closed loop with one client.  ``prepare`` is the data
part of set-up (input generation, parquet write, index build and cache);
``warm`` runs one untimed pass over the cycle; ``loop`` issues timed
requests in cycle order until the deadline; ``check`` runs
the oracle for one distinct request's canonical answer.  A request is
``(kind, key, fn, canon, series)``: its type, the identity of its answer,
the call, the reduction of the answer to a canonical form, and the latency
series it joins (None: its type).  Library calls go through module
attributes, so the traced run's wrappers see them.
"""

from __future__ import annotations

import os
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import oracles
from elasticsearch_aggregation_geoclustering_spark import testing
from elasticsearch_aggregation_geoclustering_spark.extras import dedup, similarity
from elasticsearch_aggregation_geoclustering_spark.operators import clustering
from elasticsearch_aggregation_geoclustering_spark.plans import aggs, index_build, query

#: parquet files per input, one per local[4] core
INPUT_FILES = 4


def write_parquet(frame: pd.DataFrame, path: Path, files: int = INPUT_FILES) -> str:
    path.mkdir(parents=True)
    for i, part in enumerate(np.array_split(np.arange(len(frame)), files)):
        table = pa.Table.from_pandas(frame.iloc[part].reset_index(drop=True), preserve_index=False)
        pq.write_table(table, path / f"part-{i:02d}.parquet")
    return str(path)


def dir_bytes(path: str, pattern: str = "**/*") -> tuple[int, int]:
    files = [p for p in Path(path).glob(pattern) if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


class Workload:
    name = ""

    def __init__(self, rt, seed: int, work: Path):
        self.rt = rt
        self.spark = rt.spark
        self.seed = seed
        self.work = work
        self.facts: dict[str, float] = {}

    def prepare(self) -> None:
        raise NotImplementedError

    def cycle(self) -> list[tuple]:
        return self.pool

    def warm(self, done: frozenset = frozenset()) -> None:
        """One untimed pass over the whole cycle, skipping request types in
        ``done``, so worker boot, codegen and the JIT's first compilations
        land in set-up.  A warm-up of one call per type left the first timed
        cycle 20-45% slower than the next, with the JIT threads busy, so the
        timed window sat on the steep part of the warm-up curve.  Each
        answer is the one the timed repeats of its request must hash-equal."""
        for req in self.cycle():
            if req[0] not in done:
                self.rt.warm(*req)

    def loop(self, deadline: float) -> None:
        """Issue one whole cycle, so every series has a sample, then further
        requests in cycle order until the deadline has passed.  Stopping at
        a request rather than at the end of a cycle keeps the timed window
        near ``--seconds`` whether a cycle is shorter or longer than that."""
        first = True
        while True:
            for req in self.cycle():
                if not first and time.perf_counter() >= deadline:
                    return
                self.rt.timed(*req)
                self.after(req[0])
            first = False

    def after(self, kind: str) -> None:
        """Bookkeeping after a timed request, outside its timed region."""

    def finish(self) -> None:
        pass

    def check(self, key: tuple, answer) -> list[str]:
        raise NotImplementedError


# --- geo_agg ------------------------------------------------------------------------


class GeoAgg(Workload):
    """geo_point_clustering over ~100k points, no index."""

    N_UNIFORM = 90_000
    HOTSPOTS = 4
    PER_HOTSPOT = 2_500

    #: (zoom, ratio, bbox around a hotspot?) — a fixed mix, so seeds change
    #: the data and the box positions but not the shape of the work
    MIX = ((9, None, False), (5, 1.2, False), (7, None, True), (2, None, False), (11, 1.2, True))

    def __init__(self, rt, seed, work):
        super().__init__(rt, seed, work)
        rng = np.random.default_rng([seed, 1])
        self.centers = np.column_stack(
            [rng.uniform(-150, 150, self.HOTSPOTS), rng.uniform(-60, 60, self.HOTSPOTS)]
        )
        self.pool = []
        for zoom, ratio, boxed in self.MIX:
            box = None
            if boxed:
                c = self.centers[int(rng.integers(self.HOTSPOTS))]
                box = (float(c[0] - 30), float(c[1] - 20), float(c[0] + 30), float(c[1] + 20))
            key = ("cluster", zoom, ratio, box)
            series = f"cluster.z{zoom}" + ("" if ratio is None else f".r{ratio}") + ("" if box is None else ".box")
            self.pool.append(("cluster", key, self._request(zoom, ratio, box), self._canon, series))

    def points(self) -> tuple[np.ndarray, np.ndarray]:
        lons, lats = testing.random_points(self.seed, self.N_UNIFORM)
        rng = np.random.default_rng([self.seed, 2])
        hot = self.centers[:, None, :] + rng.normal(0.0, 0.05, (self.HOTSPOTS, self.PER_HOTSPOT, 2))
        hot = hot.reshape(-1, 2)
        return np.concatenate([lons, hot[:, 0]]), np.concatenate([lats, hot[:, 1]])

    def prepare(self):
        self.lons, self.lats = self.points()
        path = write_parquet(pd.DataFrame({"lon": self.lons, "lat": self.lats}), self.work / "points")
        self.df = self.spark.read.parquet(path)

    def _request(self, zoom, ratio, box):
        params = {} if ratio is None else {"ratio": ratio}

        def run():
            df = self.df
            if box is not None:
                df = df.where(F.col("lon").between(box[0], box[2]) & F.col("lat").between(box[1], box[3]))
            with self.rt.span("clustering.geo_point_clustering"):
                return clustering.geo_point_clustering(df, "lon", "lat", zoom=zoom, **params)

        return run

    @staticmethod
    def _canon(result):
        return oracles.canon_clusters(result.clusters)

    def check(self, key, answer):
        _, zoom, ratio, box = key
        mask = np.ones(self.lons.size, bool)
        if box is not None:
            mask = (self.lons >= box[0]) & (self.lons <= box[2]) & (self.lats >= box[1]) & (self.lats <= box[3])
        params = {} if ratio is None else {"ratio": ratio}
        return oracles.check_clusters(answer, self.lons[mask], self.lats[mask], zoom, **params)


# --- shared text-corpus helpers -------------------------------------------------------------

#: each request type's terms.  They are fixed, so every seed reads the same
#: posting lists: a term drawn per seed made a request's cost swing with the
#: draw (cached geo_search took 1.2 s for "import" and 2.0 s for "class" on
#: the same host).  A hot term ("return", "import", "error": ~98% of the
#: documents; "data", "config": ~40%), a Zipf identifier, and where marked
#: the seed's unique sentinel, a one-document term.
QUERIES = {
    "search": (("return", "id_3"), True),
    "geo_search": (("import",), False),
    "agg_search": (("data",), True),
    "search_uncached": (("error", "id_7"), True),
    "match_count": (("config", "id_5"), True),
}
#: a phrase of the Fixture B line templates (~97% of the documents)
PHRASE = ("for", "i", "in", "range")


def query_terms(rng, n_docs: int, kind: str) -> tuple[str, ...]:
    terms, sentinel = QUERIES[kind]
    return terms + ((f"uniq_{int(rng.integers(n_docs))}",) if sentinel else ())


def ranked(df) -> list[tuple[int, float]]:
    return [(int(r[0]), float(r[1])) for r in df.collect()]


# --- search_ingest -------------------------------------------------------------------


class SearchIngest(Workload):
    """A warmed node serving cached requests while it ingests.

    Set-up builds the index over a base corpus and pins its decoded postings
    (``cache_postings``).  Each cycle of the loop serves the cached request
    types (search, geo_search, agg_search) from that reader's point-in-time
    view, runs uncached reads (search, phrase, match_count) on a second
    reader, which scan the segment files and decode them in Python workers,
    then appends one batch of new documents and refreshes the second reader.
    Every cycle repeats the same requests, so each type's latencies share
    one median.
    """

    name = "search_ingest"
    BASE_DOCS = 250
    BATCH_DOCS = 50
    MAX_BATCHES = 10
    HIST_INTERVAL = 0.5

    def __init__(self, rt, seed, work):
        super().__init__(rt, seed, work)
        self.batch = 0
        rng = np.random.default_rng([seed, 3])
        terms = query_terms(rng, self.BASE_DOCS, "search")
        geo_terms = query_terms(rng, self.BASE_DOCS, "geo_search")
        zoom = int(rng.integers(9, 14))
        agg_terms = query_terms(rng, self.BASE_DOCS, "agg_search")
        self.served = [
            ("search", ("search", terms), self._search(terms), tuple, None),
            ("geo_search", ("geo_search", geo_terms, zoom), self._geo(geo_terms, zoom), self._canon_geo, None),
            ("agg_search", ("agg_search", agg_terms), self._agg(agg_terms), tuple, None),
        ]
        self.uncached_terms = query_terms(rng, self.BASE_DOCS, "search_uncached")
        self.phrase = PHRASE
        self.count_terms = query_terms(rng, self.BASE_DOCS, "match_count")

    def prepare(self):
        n = self.BASE_DOCS + self.MAX_BATCHES * self.BATCH_DOCS
        self.corpus = testing.synth_documents(n, self.seed)
        base_path = write_parquet(self.corpus.iloc[: self.BASE_DOCS], self.work / "base")
        self.batch_paths = [
            write_parquet(
                self.corpus.iloc[self.BASE_DOCS + b * self.BATCH_DOCS : self.BASE_DOCS + (b + 1) * self.BATCH_DOCS],
                self.work / f"batch-{b}",
                files=1,
            )
            for b in range(self.MAX_BATCHES)
        ]
        self.index_dir = str(self.work / "index")

        def build():
            with self.rt.span("index_build.build_index"):
                return index_build.build_index(
                    self.spark, self.spark.read.parquet(base_path), self.index_dir, docmap_cols=("lon", "lat")
                )

        t0 = time.perf_counter()
        self.rt.call("build", build)
        self.build_s = time.perf_counter() - t0
        self._segments("build")
        self.cached = query.InvertedIndex.open(self.spark, self.index_dir)

        def cache():
            with self.rt.span("query.cache_postings"):
                self.cached.cache_postings()

        self.rt.call("cache_postings", cache)
        self.live = query.InvertedIndex.open(self.spark, self.index_dir)

    def _segments(self, stage: str) -> None:
        files, size = dir_bytes(os.path.join(self.index_dir, "segments"), "*.parquet")
        if self.rt.tracer is not None:
            self.rt.tracer.count(f"segments.files.{stage}", files)
            self.rt.tracer.count(f"segments.bytes.{stage}", size)

    # --- cached requests (the point-in-time view of the base corpus) ---

    def _page(self, idx, terms):
        with self.rt.span("query.search"):
            return ranked(idx.search(list(terms), k=10))

    def _hits(self, terms):
        return self.cached.score_matches(list(terms)).join(self.cached.docmap(), on="doc_id")

    def _search(self, terms):
        return lambda: self._page(self.cached, terms)

    def _geo(self, terms, zoom):
        def run():
            top = self._page(self.cached, terms)
            with self.rt.span("clustering.geo_point_clustering"):
                res = clustering.geo_point_clustering(self._hits(terms), "lon", "lat", zoom=zoom)
            return top, res

        return run

    @staticmethod
    def _canon_geo(answer):
        top, res = answer
        return tuple(top), oracles.canon_clusters(res.clusters)

    def _agg(self, terms):
        def run():
            top = self._page(self.cached, terms)
            hits = self._hits(terms)
            with self.rt.span("aggs.extended_stats"):
                stats = rows(aggs.extended_stats(hits, "lon", round_to=4))[0]
            with self.rt.span("aggs.histogram"):
                hist = rows(aggs.histogram(hits, "score", self.HIST_INTERVAL))
            with self.rt.span("aggs.top_hits"):
                th = aggs.top_hits(hits, "repo", [F.desc("score"), F.asc("doc_id")], 2)
                tops = sorted((r["repo"], int(r["doc_id"]), float(r["score"])) for r in th.collect())
            return tuple(top), stats, hist, tops

        return run

    # --- writes and uncached reads ---

    def _append(self, b: int):
        def run():
            self.batch = b + 1
            with self.rt.span("index_build.append_index"):
                index_build.append_index(
                    self.spark, self.spark.read.parquet(self.batch_paths[b]), self.index_dir,
                    docmap_cols=("lon", "lat"),
                )
            with self.rt.span("query.refresh"):
                self.live.refresh()
            return b

        return run

    def _uncached(self, state: int):
        """Uncached reads against the index after ``state`` appended batches."""
        terms, phrase, count_terms = self.uncached_terms, self.phrase, self.count_terms

        def search():
            return self._page(self.live, terms)

        def phrase_search():
            with self.rt.span("query.phrase_search"):
                return ranked(self.live.phrase_search(list(phrase), k=10))

        def match_count():
            with self.rt.span("query.match_count"):
                return self.live.match_count(list(count_terms))

        return [
            ("search_uncached", ("search_uncached", state, terms), search, tuple, None),
            ("phrase", ("phrase", state, phrase), phrase_search, tuple, None),
            ("match_count", ("match_count", state, count_terms), match_count, int, None),
        ]

    def cycle(self):
        """Reads outnumber writes on a serving node: the cached requests run
        two or three times a cycle, spread over it, beside one uncached read
        of each type against the live reader and then one append (while
        batches remain), which refreshes that reader for the next cycle.  The
        repeats are what steady the cached series, whose calls differ by up
        to a third within one run.  The append moves ``self.batch`` when it
        runs."""
        search, geo, agg = self.served
        uncached, phrase, count = self._uncached(self.batch)
        writes = []
        if self.batch < self.MAX_BATCHES:
            writes.append(("append", ("append", self.batch), self._append(self.batch), int, None))
        return [search, geo, agg, uncached, search, phrase, geo, count, agg, *writes, search]

    def warm(self, done=frozenset()):
        """The cached requests go first: the cached reader loads its term
        statistics on first use, which must see the base corpus.  Then the
        first append runs before the pass over the rest of the cycle, so its
        uncached reads see the index the first timed cycle reads, and the
        timed ones repeat them.  The last refresh makes the first timed
        cycle's reads load the reader's statistics again, as every later
        cycle's do after its append."""
        for req in self.served:
            self.rt.warm(*req)
        self.rt.warm(*next(r for r in self.cycle() if r[0] == "append"))
        super().warm(done | {"append"})
        self.live.refresh()

    def after(self, kind):
        if kind == "append":
            self._segments("append")

    def finish(self):
        n_in = self.BASE_DOCS + self.batch * self.BATCH_DOCS
        content = int(self.corpus["content"].iloc[:n_in].str.len().sum())
        self.facts["index_bytes_per_input_byte"] = dir_bytes(self.index_dir)[1] / content
        self.facts["build_docs_per_s"] = self.BASE_DOCS / self.build_s
        appends = self.rt.samples.get("append")
        if appends:
            self.facts["append_docs_per_s"] = self.BATCH_DOCS / float(np.median(appends))

    # --- oracles ---

    def _oracle(self, state: int):
        """TextOracle over the docs indexed after `state` appended batches,
        keyed by the doc ids the docmap assigned."""
        if not hasattr(self, "_states"):
            dm = query.InvertedIndex.open(self.spark, self.index_dir).docmap()
            ids = {(r["repo"], r["path"], r["commit"]): int(r["doc_id"]) for r in dm.collect()}
            indexed = self.corpus.iloc[: self.BASE_DOCS + self.batch * self.BATCH_DOCS]
            self._doc_ids = [ids[k] for k in zip(indexed["repo"], indexed["path"], indexed["commit"])]
            base = self.corpus.iloc[: self.BASE_DOCS]
            base_ids = self._doc_ids[: self.BASE_DOCS]
            self._lon = dict(zip(base_ids, base["lon"]))
            self._lat = dict(zip(base_ids, base["lat"]))
            self._repo = dict(zip(base_ids, base["repo"]))
            self._states = {}
        if state not in self._states:
            n = self.BASE_DOCS + state * self.BATCH_DOCS
            text = oracles.TextOracle()
            text.add(self._doc_ids[:n], self.corpus["content"].iloc[:n])
            self._states[state] = text
        return self._states[state]

    def check(self, key, answer):
        kind = key[0]
        if kind == "append":
            return []  # an append's answer is the index the later reads check
        if kind in ("search_uncached", "phrase", "match_count"):
            text = self._oracle(key[1])
            if kind == "search_uncached":
                return oracles.check_ranked(list(answer), text.topk(list(key[2]), 10))
            if kind == "phrase":
                return oracles.check_topk_scores(list(answer), text.phrase_scores(list(key[2])), 10)
            expected = text.match_count(list(key[2]))
            return [] if answer == expected else [f"match_count {answer} != oracle {expected}"]
        text = self._oracle(0)  # the cached reader's view: the base corpus
        terms = list(key[1])
        top = answer if kind == "search" else answer[0]
        problems = oracles.check_ranked(list(top), text.topk(terms, 10))
        scores = text.all_scores(terms)
        if kind == "geo_search":
            hit = sorted(scores)
            lons = np.array([self._lon[d] for d in hit], np.float64)
            lats = np.array([self._lat[d] for d in hit], np.float64)
            problems += oracles.check_clusters(answer[1], lons, lats, key[2])
        elif kind == "agg_search":
            got = (answer[1], [tuple(h) for h in answer[2]], answer[3])
            problems += oracles.check_aggs(got, oracles.agg_expectations(scores, self._lon, self._repo, self.HIST_INTERVAL))
        return problems


# --- dedup_batch ---------------------------------------------------------------------


class DedupBatch(Workload):
    """Passes of the dedup and near-duplicate operators over a planted corpus."""

    N_DOCS = 400
    MAX_LINES = 30
    EXACT_COPIES = 20
    NEAR_COPIES = 40
    N_VECS = 800
    NEAR_VECS = 40
    DIM = 64
    COS_THRESHOLD = 0.95

    def __init__(self, rt, seed, work):
        super().__init__(rt, seed, work)
        self.pool = [
            ("exact_dup", ("exact_dup",), self._exact, tuple, None),
            ("minhash_lsh", ("minhash_lsh",), self._minhash, tuple, None),
            ("simhash_pairs", ("simhash_pairs",), self._simhash, tuple, None),
            ("ngram_minhash", ("ngram_minhash",), self._ngram, tuple, None),
            ("band_near_pairs", ("band_near_pairs",), self._band, tuple, None),
        ]

    def inputs(self):
        rng = np.random.default_rng([self.seed, 5])
        base = testing.synth_documents(self.N_DOCS, self.seed)["content"]
        texts = ["\n".join(t.split("\n")[: self.MAX_LINES]) for t in base]
        planted_exact, planted_near = [], []
        for src in rng.choice(self.N_DOCS, self.EXACT_COPIES, replace=False).tolist():
            planted_exact.append((src, len(texts)))
            texts.append(texts[src])
        for src in rng.choice(self.N_DOCS, self.NEAR_COPIES, replace=False).tolist():
            lines = texts[src].split("\n")
            lines[int(rng.integers(len(lines)))] = f"edited line {int(rng.integers(10**6))}"
            planted_near.append((src, len(texts)))
            texts.append("\n".join(lines))
        vecs = rng.standard_normal((self.N_VECS, self.DIM))
        planted_vec = []
        for src in rng.choice(self.N_VECS, self.NEAR_VECS, replace=False).tolist():
            planted_vec.append((src, len(vecs)))
            vecs = np.vstack([vecs, vecs[src] + 0.02 * rng.standard_normal(self.DIM)])
        return texts, vecs, planted_exact, planted_near, planted_vec

    def prepare(self):
        self.texts, self.vecs, self.planted_exact, self.planted_near, self.planted_vec = self.inputs()
        docs = pd.DataFrame({"doc_id": np.arange(len(self.texts), dtype=np.int64), "text": self.texts})
        emb = pd.DataFrame({"vec_id": np.arange(len(self.vecs), dtype=np.int64), "embedding": list(self.vecs)})
        self.docs = self.spark.read.parquet(write_parquet(docs, self.work / "docs"))
        self.emb = self.spark.read.parquet(write_parquet(emb, self.work / "emb"))

    def _exact(self):
        with self.rt.span("dedup.exact_dup_groups"):
            return sorted(rows(dedup.exact_dup_groups(self.docs, "text", "doc_id")))

    def _minhash(self):
        with self.rt.span("dedup.minhash_lsh_pairs"):
            return sorted(rows(dedup.minhash_lsh_pairs(self.docs, "text", "doc_id")))

    def _simhash(self):
        with self.rt.span("dedup.simhash_near_pairs"):
            return sorted(rows(dedup.simhash_near_pairs(self.docs, "text", "doc_id")))

    def _ngram(self):
        with self.rt.span("dedup.ngram_jaccard_pairs_minhash"):
            out = sorted(rows(dedup.ngram_jaccard_pairs_minhash(self.docs, "text", "doc_id")))
        self.spark.catalog.clearCache()  # the call leaves its shingle frame persisted
        return out

    def _band(self):
        with self.rt.span("similarity.rp_band_near_pairs"):
            return sorted(
                rows(similarity.rp_band_near_pairs(self.emb, "vec_id", "embedding", threshold=self.COS_THRESHOLD))
            )

    def _local(self, fn):
        """Run a library map-function locally over the whole corpus frame."""
        frame = pd.DataFrame({"doc_id": np.arange(len(self.texts), dtype=np.int64), "text": self.texts})
        return pd.concat(list(fn([frame])), ignore_index=True)

    def check(self, key, answer):
        kind = key[0]
        ids = list(range(len(self.texts)))
        if kind == "exact_dup":
            if list(answer) != oracles.exact_groups(ids, self.texts):
                return ["exact groups differ from hashlib md5 groups"]
            return []
        if kind in ("minhash_lsh", "ngram_minhash"):
            k = dedup.DEFAULT_SHINGLE_K if kind == "minhash_lsh" else 1
            coeffs = dedup.minhash_coefficients(dedup.DEFAULT_NUM_HASHES, 42)
            sig = self._local(dedup._minhash_arrow_fn(coeffs, "text", "doc_id", k, with_sets=True))
            cand = oracles.band_pairs(sig["doc_id"].to_numpy(), np.array(sig["sig"].tolist()), dedup.DEFAULT_BANDS, 1000)
            if kind == "minhash_lsh":
                problems = oracles.check_pair_set(list(answer), cand, kind)
                return problems + oracles.check_recall(answer, self.planted_exact, kind)
            sets = {int(d): set(s) for d, s in zip(sig["doc_id"], sig["sset"])}
            expected = set()
            for a, b in cand:
                j = oracles.jaccard(sets[a], sets[b])
                if j >= 0.3:
                    expected.add((a, b, j))
            return oracles.check_pair_set(list(answer), expected, kind) + oracles.check_recall(
                answer, self.planted_exact, kind
            )
        if kind == "simhash_pairs":
            sh = self._local(dedup._simhash_arrow_fn("text", "doc_id"))
            expected = oracles.hamming_pairs(sh["doc_id"].to_numpy(), sh["simhash"].to_numpy(), 3)
            return oracles.check_pair_set(list(answer), expected, kind) + oracles.check_recall(
                answer, self.planted_exact, kind
            )
        vecs = {i: v for i, v in enumerate(self.vecs)}
        return oracles.check_cosine_pairs(list(answer), vecs, self.COS_THRESHOLD) + oracles.check_recall(
            answer, self.planted_vec, kind
        )

    def finish(self):
        first = next((a for a, _, k in self.rt.first.values() if k == "minhash_lsh"), None)
        if first is not None:
            found = {(a, b) for a, b in first}
            self.facts["near_dup_recall_minhash"] = sum(p in found for p in self.planted_near) / len(self.planted_near)


# --- geo_dedup ------------------------------------------------------------------------


class GeoDedup(Workload):
    """The batch operators that need no index: each cycle is the geo_agg mix
    followed by one pass of the dedup and near-duplicate operators."""

    name = "geo_dedup"

    def __init__(self, rt, seed, work):
        super().__init__(rt, seed, work)
        self.geo = GeoAgg(rt, seed, work)
        self.dedup = DedupBatch(rt, seed, work)
        self.pool = self.geo.pool + self.dedup.pool

    def prepare(self):
        self.geo.prepare()
        self.dedup.prepare()

    def check(self, key, answer):
        return (self.geo if key[0] == "cluster" else self.dedup).check(key, answer)

    def finish(self):
        self.dedup.finish()
        self.facts = self.dedup.facts


WORKLOADS = {w.name: w for w in (GeoDedup, SearchIngest)}
