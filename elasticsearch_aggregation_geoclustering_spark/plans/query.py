"""Query engine over the segmented inverted index (H5-H8).

Plan shape for a BM25 top-k search::

    scan segments parquet                 # term IN (...) pushed to row-group
      .where(term.isin(query_terms))     #   min/max stats (sorted by term)
      -> mapInPandas decode              # varbyte -> (term, doc_id, tf, dl),
                                         #   numpy, Arrow-batched
      -> per-row score = idf_t * tf/(tf + k1(1-b+b·dl/avgdl))
                                         # idf folded driver-side, tiny literal
                                         #   map; all arithmetic JVM-side
      -> groupBy(doc_id)                 # ONE shuffle, keyed by doc — query
                                         #   terms ≤ tens, no hot-key skew
           .agg(fold(sort(collect_list(term, score))))
                                         # deterministic association order =>
                                         #   bit-identical to the numpy oracle
      -> orderBy(score desc, doc_id asc).limit(k)   # TakeOrderedAndProject

Match counting (H6) and boolean AND/OR (H5) ride the same decoded stream:
AND = docs whose distinct-term count equals the query's distinct-term count
(posting-list intersection via the same groupBy), OR = distinct doc_ids.

The reference surfaces these engine behaviors rather than implementing them
(SURVEY.md §2.2); formulas follow functions/bm25.py.

Plans are SQL text parsed in the JVM with one py4j call each, values spliced
in by ``functions.sql_text``: a ``pyspark.sql.functions`` tree costs round
trips per expression node (a cached 3-term ``search`` took ~550, now ~50).
:func:`_bm25_sql` is the one BM25 expression every scorer shares, in the
numpy oracle's association order, so the doubles stay bit-identical.
"""

from __future__ import annotations

import json
import math
import os
import uuid
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import bm25, codec
from ..functions import sql_text as sql
from ..sources import segments as seg_store
from ..sources.segments import load_stats

DECODED_SCHEMA = "term string, doc_id long, tf long, dl long"


#: query-term count up to which the per-doc score fold is compiled as a
#: chain of per-term conditional sums (whole-stage-codegen HashAggregate)
#: instead of sort(collect_list)+aggregate (ObjectHashAggregate + an
#: interpreted higher-order fold per row).  Identical doubles: each
#: (doc, term) posting is one row, so each conditional sum aggregates
#: exactly one value, and folding `x + 0.0` for absent terms is an IEEE
#: identity (scores are strictly positive, no -0.0), so the partial-sum
#: chain equals the sorted-term fold bit for bit (pinned by tests).
PIVOT_MAX_TERMS = 64

MAX_EXPANSIONS = 50  # ES's default multi-term max_expansions: scored
# prefix/fuzzy/wildcard queries rewrite to at most this many highest-df
# dictionary terms (top_terms_N), bounding both the driver collect and the
# downstream isin/idf-map sizes regardless of dictionary cardinality.


def _wildcard_to_like(pattern: str) -> str:
    """ES wildcard pattern → SQL LIKE: ``*``→``%``, ``?``→``_``, with LIKE's
    own metacharacters escaped (Spark and DuckDB both default to ``\\`` as
    the LIKE escape, so one translation serves engine and oracle)."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append("%")
        elif ch == "?":
            out.append("_")
        elif ch in ("%", "_", "\\"):
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "".join(out)


MAX_SLOP = 32  # lcm(1..33) = 144 403 552 893 600 < 2^53: the integer
# sloppy-frequency weights L/(1+matchLength) stay exactly representable in
# both int64 and double, so Spark and the DuckDB oracle agree bit for bit;
# beyond ~40 the lcm overflows and the exact-integer contract breaks.


def _validate_slop(slop: int) -> None:
    if slop < 0:
        # a negative slop would silently build a REVERSED F.sequence of
        # candidate starts and return wrong results — fail loudly instead
        raise ValueError(f"slop must be >= 0: {slop}")
    if slop > MAX_SLOP:
        raise ValueError(
            f"slop={slop} exceeds the supported maximum {MAX_SLOP}: "
            "lcm(1..slop+1) must stay exactly representable for the "
            "integer-exact sloppy-frequency weights"
        )


def _partitions_for_rows(rows_est: int) -> int:
    """Partition count for a decoded posting stream of known row count
    (Σ df): ~48 B per decoded row, ~64 MB per partition."""
    return max(1, -(-(rows_est * 48) // (64 << 20)))  # ceil


def _coalesce_to_rows(df: DataFrame, rows_est: int) -> DataFrame:
    """Size a posting-decode stage from its known decoded row count (Σ df)
    with a narrow coalesce (no shuffle): a target above the scan's partition
    count leaves that count as it is."""
    return df.coalesce(_partitions_for_rows(rows_est))


def _decode_postings_fn(lucene_norms: bool):
    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            terms, doc_ids, tfs, dls = [], [], [], []
            for term, ids_vb, tfs_vb, dls_vb in zip(
                pdf["term"], pdf["doc_ids_vb"], pdf["tfs_vb"], pdf["dls_vb"]
            ):
                ids = codec.decode_posting_ids(ids_vb).astype(np.int64)
                terms.append(np.full(ids.size, term, dtype=object))
                doc_ids.append(ids)
                tfs.append(codec.varbyte_decode(tfs_vb).astype(np.int64))
                dls.append(codec.varbyte_decode(dls_vb).astype(np.int64))
            dl = np.concatenate(dls)
            if lucene_norms:
                dl = bm25.quantize_doc_length(dl)
            yield pd.DataFrame(
                {
                    "term": np.concatenate(terms),
                    "doc_id": np.concatenate(doc_ids),
                    "tf": np.concatenate(tfs),
                    "dl": dl,
                }
            )

    return decode


def _decode_positions_fn(lucene_norms: bool):
    """mapInPandas decode to one row per (term, doc, position occurrence)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            terms, doc_ids, dls, poss = [], [], [], []
            for term, ids_vb, tfs_vb, dls_vb, pos_vb in zip(
                pdf["term"], pdf["doc_ids_vb"], pdf["tfs_vb"], pdf["dls_vb"], pdf["pos_vb"]
            ):
                ids = codec.decode_posting_ids(ids_vb).astype(np.int64)
                tfs = codec.varbyte_decode(tfs_vb).astype(np.int64)
                dl = codec.varbyte_decode(dls_vb).astype(np.int64)
                if lucene_norms:
                    dl = bm25.quantize_doc_length(dl)
                pdeltas = codec.varbyte_decode(pos_vb)
                run_starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
                pos = codec.segmented_delta_decode(pdeltas, run_starts).astype(np.int64)
                n = int(tfs.sum())
                terms.append(np.full(n, term, dtype=object))
                doc_ids.append(np.repeat(ids, tfs))
                dls.append(np.repeat(dl, tfs))
                poss.append(pos)
            yield pd.DataFrame(
                {
                    "term": np.concatenate(terms),
                    "doc_id": np.concatenate(doc_ids),
                    "dl": np.concatenate(dls),
                    "pos": np.concatenate(poss),
                }
            )

    return decode


def _sorted_term_score_sum(terms_sorted: list[str]) -> str:
    """Aggregate expression (SQL text): per-group score sum folded in
    ascending-term order, bit-identical to ``aggregate(array_sort(
    collect_list(struct(term, score))), 0.0, acc + score)`` for groups
    holding at most one row per term (the posting-stream invariant).

    For ≤ :data:`PIVOT_MAX_TERMS` terms it compiles to one conditional
    ``sum`` per term chained with ``+`` — a codegen'd HashAggregate with no
    array materialization and no interpreted lambda per row.  Exactness: a
    group's rows cover a SUBSET of ``terms_sorted``; each conditional sum
    therefore aggregates exactly one value (or none → ``coalesce`` 0.0),
    and inserting ``+ 0.0`` between the present terms' partial sums leaves
    every intermediate double unchanged (IEEE: x + 0.0 == x; BM25 scores
    are strictly positive so no -0.0 case exists).  Beyond the cap the
    original sort+fold runs (the idf map literals grow with terms too).
    """
    if len(terms_sorted) <= PIVOT_MAX_TERMS:
        total = "0.0D"
        for t in terms_sorted:
            total = (
                f"({total} + coalesce(sum(CASE WHEN term = {sql.string(t)}"
                " THEN score END), 0.0D))"
            )
        return total
    return "aggregate(array_sort(collect_list(struct(term, score))), 0.0D, (acc, x) -> acc + x.score)"


def _idf_sql(idfs: dict[str, float]) -> str:
    """Each row's idf (SQL text): a literal map looked up by ``term``, its
    pairs in term order so the text does not follow dict (hash) order."""
    pairs = ", ".join(f"{sql.string(t)}, {sql.dbl(idfs[t])}" for t in sorted(idfs))
    return f"element_at(map({pairs}), term)"


def _bm25_sql(
    idf: str, tf: str, params: bm25.Bm25Params, avgdl: float, dl: str = "CAST(dl AS DOUBLE)"
) -> str:
    """``idf · tf / (tf + k1·(1 − b + b·dl/avgdl))`` as SQL text over the
    DOUBLE expressions ``idf``, ``tf`` and ``dl`` (default: the ``dl``
    column): the one BM25 expression every scorer shares, the index-free
    ones in plans/multimatch.py included.  It keeps the numpy oracle's
    association order, so the scores are bit-identical to it."""
    k1, b = sql.dbl(params.k1), sql.dbl(params.b)
    denom = f"({tf} + ({k1} * ((1.0D - {b}) + (({b} * {dl}) / {sql.dbl(avgdl)}))))"
    return f"({idf} * ({tf} / {denom}))"


def _min_should_match(terms: list[str], mode: str, msm: int | None) -> int:
    """The distinct-term count a doc must match: ES bool ``minimum_should_match``
    (AND ≡ every term, OR ≡ 1)."""
    if msm is None:
        msm = len(terms) if mode.upper() == "AND" else 1
    if not 1 <= msm <= len(terms):
        raise ValueError(f"minimum_should_match must be in 1..{len(terms)}: {msm}")
    return msm


def _term_ints_sql(pairs: list[tuple[str, int]]) -> str:
    """Each row's list of the ints paired with its ``term`` in ``pairs``
    (SQL text: a literal ``map(term, array(int…))`` looked up by ``term``).
    Exploding it fans a row out once per pair, as an inner join with the
    pairs as a table would, with no table, no join and no broadcast."""
    grouped: dict[str, list[int]] = {}
    for t, i in pairs:
        grouped.setdefault(t, []).append(int(i))
    body = ", ".join(
        f"{sql.string(t)}, array({', '.join(map(str, ints))})" for t, ints in grouped.items()
    )
    return f"element_at(map({body}), term)"


def _where_terms(df: DataFrame, terms: list[str] | None) -> DataFrame:
    """``df`` filtered to the rows of ``terms`` (all rows for None): one
    ``term IN (…)`` predicate, pushed into a parquet scan below it."""
    if terms is None:
        return df
    if not terms:
        return df.where("false")
    return df.where(f"term IN ({', '.join(map(sql.string, sorted(set(terms))))})")


def _parquet_files(path: str) -> list[str]:
    """The data files Spark's reader lists in a parquet directory (``_``-
    and ``.``-prefixed names are skipped), sorted."""
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema of one file footer read
    on the driver (Spark's inference runs a job): the Spark schema a Spark
    writer stored, else the Arrow schema.  No file, or a type with no Arrow
    mapping, falls back to inference."""
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructType

    files = _parquet_files(path)
    if not files:
        return spark.read.parquet(path)
    footer = pq.read_schema(files[0])
    stored = (footer.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    if stored:
        return spark.read.schema(StructType.fromJson(json.loads(stored))).parquet(path)
    try:
        schema = from_arrow_schema(footer, prefer_timestamp_ntz=True)
    except TypeError:  # an Arrow type with no Spark mapping
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


#: dictionaries up to this many terms are collected to the driver once and
#: answer every subsequent df lookup without a Spark job (a few MB); larger
#: dictionaries (the 10^8-term source-code case) keep the per-query pruned
#: parquet lookup
DF_CACHE_MAX_TERMS = 2_000_000


@dataclass
class InvertedIndex:
    """Reader over an index directory produced by plans.index_build.

    Point-in-time snapshot semantics (exactly an ES/Lucene ``IndexReader``):
    stats, the tombstone set, the df cache AND the postings and docmap
    relations are all pinned at ``open()``/first use — Spark snapshots the
    file listing when the reader DataFrame is created, so index mutations
    (``append_index`` / ``upsert_index`` / ``merge_segments``) on the same
    directory are NOT visible to an already-open reader, and compaction can
    leave it holding references to rewritten files.  After mutating the
    index, call :meth:`refresh` (ES ``_refresh``: opens a new point-in-time
    view) or simply ``InvertedIndex.open`` a new reader.
    """

    spark: SparkSession
    index_dir: str
    n_docs: int
    avgdl: float
    index_options: str = "positions"
    _df_cache: dict | None = None
    _df_cache_checked: bool = False
    _deletes_checked: bool = False
    _deleted: DataFrame | None = None
    _postings_df: DataFrame | None = None
    _docmap_df: DataFrame | None = None
    _decoded_cache: DataFrame | None = None
    _decoded_cache_terms: frozenset | None = None
    _docmap_cache: DataFrame | None = None
    _pins: tuple[DataFrame, ...] = ()
    _gram_checked: bool = False
    _gram_df: DataFrame | None = None
    _gram_n: int = 0

    @classmethod
    def open(cls, spark: SparkSession, index_dir: str) -> "InvertedIndex":
        stats = load_stats(index_dir)
        return cls(
            spark=spark,
            index_dir=index_dir,
            n_docs=stats["n_docs"],
            avgdl=stats["avgdl"],
            index_options=stats.get("index_options", "positions"),
        )

    def refresh(self) -> "InvertedIndex":
        """Re-open the point-in-time view after an index mutation (ES
        ``_refresh``): drops every cached relation/statistic so the next
        query re-lists segments, re-reads stats and re-scans tombstones.
        Returns ``self`` for chaining."""
        stats = load_stats(self.index_dir)
        self.n_docs = stats["n_docs"]
        self.avgdl = stats["avgdl"]
        self.index_options = stats.get("index_options", "positions")
        self._df_cache = None
        self._df_cache_checked = False
        self._deletes_checked = False
        self._deleted = None
        self._postings_df = None
        self._docmap_df = None
        self._unpin()
        self._gram_checked = False
        self._gram_df = None
        self._gram_n = 0
        return self

    def cache_postings(self, terms: list[str] | None = None) -> "InvertedIndex":
        """Pin the DECODED posting stream and the docmap in executor storage,
        both hash-partitioned by ``doc_id`` into the same partition count
        (ES analog: a shard's postings and its doc values hold the same
        documents, so a warmed node reads each hit's field data locally).
        Subsequent ``search``/``match_count``/``explain``/``search_batch``
        calls filter the cached (term, doc_id, tf, dl) rows instead of
        re-running the parquet scan + Arrow varbyte decode per query, and
        ``score_matches(terms).join(docmap())`` plans with no exchange and no
        broadcast: the BM25 fold and the docmap join run partition-local.

        Memory contract: Σ df rows over the cached terms (~32 B/row) plus
        the WHOLE docmap (one row per document, with its ``docmap_cols``),
        both spillable MEMORY_AND_DISK.  The partition count comes from the
        Σ df sizing (:func:`_partitions_for_rows`).  Whole-index caching
        (``terms=None``) is for indexes whose decoded postings fit the
        cluster's storage memory — at source-code scale pass the HOT term
        subset instead, exactly the set a real cache would retain.  Results
        are bit-identical to the uncached path (same decoded values; pinned
        by tests).  The cache obeys snapshot semantics: ``refresh()`` or a
        repeated ``cache_postings()`` drops both relations, and while they
        are pinned :meth:`docmap` returns the pinned docmap with a
        sort-merge join hint, so the planner does not broadcast a relation
        that is already co-located.  Positional queries are unaffected
        (positions stay on disk).
        """
        from pyspark import StorageLevel

        self._unpin()
        pruned = self.postings(terms).selectExpr("term", "doc_ids_vb", "tfs_vb", "dls_vb")
        # size the cached relations from the KNOWN decoded row count (Σ df
        # over the cached terms, read from the driver's df dictionary — no
        # data job): every per-query scan launches one task per cached
        # partition, so a cache whose partition count came from the
        # segment-file split (tiny files ⇒ many near-empty partitions) pays
        # pure scheduling overhead per query.  ~64 MB of decoded rows per
        # partition keeps task count proportional to data at every scale
        # (guide §2.2: fewer, larger partitions); coalesce is a narrow
        # dependency, so the Arrow decode also runs on the merged batches.
        dfs = self._df_dict() if terms is None else self.df_of(sorted(set(terms)))
        if dfs is not None:
            rows_est = sum(dfs.values())
        else:  # a dictionary too large for the driver
            rows_est = int(self.term_stats().selectExpr("coalesce(sum(df), 0)").collect()[0][0])
        n = _partitions_for_rows(rows_est)
        decoded = _coalesce_to_rows(pruned, rows_est).mapInPandas(
            _decode_postings_fn(False), DECODED_SCHEMA
        )
        # Spark's CacheManager shares one entry between equal plans, so two
        # readers over one index would pin ONE relation and either reader's
        # unpersist would drop the other's cache; a reader-unique literal
        # column keeps each reader's entries its own (constant, so the
        # columnar cache stores it run-length encoded)
        pin = f"{uuid.uuid4().int >> 65}L AS _pin"
        self._pins = tuple(
            rel.repartition(n, "doc_id").selectExpr("*", pin).persist(StorageLevel.MEMORY_AND_DISK)
            for rel in (decoded, self.docmap())
        )
        # materialize both eagerly in ONE action: pay decode ONCE
        postings, docmap = self._pins
        postings.select("_pin").unionAll(docmap.select("_pin")).count()
        self._decoded_cache = postings.drop("_pin")
        self._decoded_cache_terms = None if terms is None else frozenset(terms)
        self._docmap_cache = docmap.drop("_pin").hint("merge")
        return self

    def _unpin(self) -> None:
        """Drop the relations :meth:`cache_postings` pinned."""
        for rel in self._pins:
            rel.unpersist()
        self._pins = ()
        self._decoded_cache = None
        self._decoded_cache_terms = None
        self._docmap_cache = None

    # --- raw layers -----------------------------------------------------

    def postings(self, terms: list[str] | None = None) -> DataFrame:
        """Encoded postings rows; term filter pushed into the parquet scan.

        The reader DataFrame is built once per InvertedIndex and reused: a
        fresh ``spark.read.parquet`` per query would re-list the segment
        directory and re-read every parquet footer — with hundreds of
        segments that directory walk dominates small-query latency.  Term
        filters still push into each query's scan (the cached relation is
        pre-filter).  The schema is the index format's, so opening the
        reader runs no schema-inference job.
        """
        if self._postings_df is None:
            schema = seg_store.POSTINGS_SPARK_SCHEMA
            if self.index_options != "positions":
                schema = schema.removesuffix(", pos_vb binary")
            self._postings_df = self.spark.read.schema(schema).parquet(
                seg_store.segments_glob(self.index_dir)
            )
        return _where_terms(self._postings_df, terms)

    def term_stats(self) -> DataFrame:
        return _read_parquet(self.spark, os.path.join(self.index_dir, "term_stats"))

    def docmap(self) -> DataFrame:
        """The docmap relation, pinned per reader like :meth:`postings`: one
        directory listing per point-in-time view, and docmap parts that a
        later ``append_index`` adds stay invisible until :meth:`refresh`.
        After :meth:`cache_postings` it is the cached docmap, co-partitioned
        with the cached postings and hinted to join by sort-merge."""
        if self._docmap_cache is not None:
            return self._docmap_cache
        if self._docmap_df is None:
            self._docmap_df = _read_parquet(self.spark, os.path.join(self.index_dir, "docmap"))
        return self._docmap_df

    def term_doc_rows(self, terms: list[str] | None = None, lucene_norms: bool = False) -> DataFrame:
        """Decoded posting stream: (term, doc_id, tf, dl).

        The projection happens BEFORE the decode so parquet column pruning
        skips the position bytes entirely — term/BM25 queries pay nothing
        for the positional index.  When :meth:`cache_postings` has pinned a
        covering decoded cache (and the default norms are in effect), the
        stream is a pure-JVM filter over the cached rows — no scan, no
        Arrow decode, no Python worker in the query path at all.
        """
        if (
            self._decoded_cache is not None
            and not lucene_norms  # cache holds default-norm dl values
            and (
                self._decoded_cache_terms is None
                or (terms is not None and set(terms) <= self._decoded_cache_terms)
            )
        ):
            return _where_terms(self._decoded_cache, terms)
        pruned = self.postings(terms).selectExpr("term", "doc_ids_vb", "tfs_vb", "dls_vb")
        if terms is not None:
            # the term-pruned scan keeps the SEGMENT-FILE split (one task per
            # file group) even when the query's posting rows are tiny; size
            # the decode stage from the known Σ df instead (driver df dict —
            # no job), so a few-term query runs one decode task instead of
            # one per segment file.  Hot terms at corpus scale keep their
            # parallelism (the estimate scales the partition count back up).
            pruned = _coalesce_to_rows(pruned, sum(self.df_of(sorted(set(terms))).values()))
        return pruned.mapInPandas(_decode_postings_fn(lucene_norms), DECODED_SCHEMA)

    def term_position_rows(
        self, terms: list[str], lucene_norms: bool = False
    ) -> DataFrame:
        """Fully exploded positional stream: (term, doc_id, dl, pos).

        One output row per token OCCURRENCE of a query term — the substrate
        for phrase/proximity matching.  Decode is Arrow-batched numpy: doc
        ids repeat by tf, positions are one segmented delta-decode per
        posting cell.  Row volume is Σ tf over the query terms only (the
        posting scan is term-pruned), never the whole index.
        """
        if self.index_options != "positions":
            # same failure mode as ES: phrase/proximity on a field indexed
            # without position data is an error, not a wrong answer
            raise ValueError(
                "index was built with index_options="
                f"{self.index_options!r}; positional queries need "
                "build_index(index_options='positions')"
            )
        pruned = self.postings(terms).selectExpr(
            "term", "doc_ids_vb", "tfs_vb", "dls_vb", "pos_vb"
        )
        return pruned.mapInPandas(
            _decode_positions_fn(lucene_norms), "term string, doc_id long, dl long, pos long"
        )

    def deleted_ids(self) -> DataFrame | None:
        """Tombstoned doc ids (plans.index_build.delete_docs), or None.

        Lucene soft-delete semantics: tombstoned docs are excluded from
        MATCHES but still counted in corpus statistics (N, df, avgdl, norms)
        until ``merge_segments(apply_deletes=True)`` compacts them away —
        scores of live docs are unchanged by a delete, exactly as in ES.
        """
        if not self._deletes_checked:
            self._deletes_checked = True
            ddir = os.path.join(self.index_dir, "deletes")
            if os.path.isdir(ddir):
                self._deleted = _read_parquet(self.spark, ddir).selectExpr("doc_id").distinct()
        return self._deleted

    def _live(self, rows: DataFrame) -> DataFrame:
        """Filter a doc_id-keyed stream to live docs (anti-join tombstones).

        Broadcast is right while the tombstone set is small relative to the
        corpus (the normal regime — heavy deletion should trigger a merge);
        Spark falls back to a shuffled anti-join if it outgrows the limit.
        """
        deleted = self.deleted_ids()
        if deleted is None:
            return rows
        return rows.join(F.broadcast(deleted), on="doc_id", how="left_anti")

    def df_of(self, terms: list[str]) -> dict[str, int]:
        """Global document frequencies (driver-side, tiny).

        Small dictionaries are cached whole on first use so a query batch
        pays ONE stats job instead of one per query; big dictionaries fall
        back to a term-pruned parquet lookup (sorted row-group stats).
        """
        df_all = self._df_dict()
        if df_all is not None:
            return {t: df_all[t] for t in set(terms) if t in df_all}
        rows = _where_terms(self.term_stats(), terms).collect()
        return {r["term"]: r["df"] for r in rows}

    def _df_dict(self) -> dict[str, int] | None:
        """The whole df dictionary when it holds at most
        :data:`DF_CACHE_MAX_TERMS` terms, else None.  Loaded once per
        point-in-time view on the driver with no Spark job: the term count
        comes from the term_stats parquet footers, then the (term, df)
        columns are read with Arrow."""
        if not self._df_cache_checked:
            self._df_cache_checked = True
            path = os.path.join(self.index_dir, "term_stats")
            if sum(pq.read_metadata(f).num_rows for f in _parquet_files(path)) <= DF_CACHE_MAX_TERMS:
                t = pq.read_table(path, columns=["term", "df"])
                self._df_cache = dict(zip(t.column("term").to_pylist(), t.column("df").to_pylist()))
        return self._df_cache

    # --- queries ----------------------------------------------------------

    def match_count(
        self,
        terms: list[str],
        mode: str = "OR",
        minimum_should_match: int | None = None,
    ) -> int:
        """hits.total for a term / AND / OR query (H6).

        ``minimum_should_match`` is the ES bool parameter of the same name:
        a doc matches iff it contains at least that many DISTINCT query
        terms (AND ≡ len(terms), OR ≡ 1 — both special cases).
        """
        terms = sorted(set(terms))
        if not terms:
            return 0
        msm = _min_should_match(terms, mode, minimum_should_match)
        if len(terms) == 1 and self.deleted_ids() is None:
            # fast path: df is precomputed (df counts tombstoned docs, so it
            # only answers hit counts while the index has no soft deletes)
            return self.df_of(terms).get(terms[0], 0)
        rows = self._live(self.term_doc_rows(terms))
        if msm > 1:
            return (
                rows.groupBy("doc_id")
                .agg(F.expr("count(DISTINCT term) AS nt"))
                .where(f"nt >= {msm}")
                .count()
            )
        return rows.selectExpr("doc_id").distinct().count()

    def score_matches(
        self,
        terms: list[str],
        mode: str = "OR",
        params: bm25.Bm25Params = bm25.Bm25Params(),
        minimum_should_match: int | None = None,
        doc_id_filter: DataFrame | None = None,
    ) -> DataFrame:
        """ALL matching docs with their BM25 scores: (doc_id, score), unranked.

        The aggregation-composition entry point: ES runs its ``aggs`` block
        over every hit, not just the top-k page, so histogram / stats /
        top_hits / significant_terms compose with this (see plans/aggs.py)
        the way the reference's clustering aggregation composes with the
        host engine's matched-document set
        (GeoPointClusteringAggregator.java:87-96).

        ``doc_id_filter``: ES filter context — a DataFrame with a ``doc_id``
        column (internal ids); postings rows are semi-joined against it
        BEFORE scoring.  Per-doc BM25 is independent of other docs (corpus
        stats are index-level), so filter-then-score equals score-then-filter
        — ES's non-scoring filter clause exactly.

        ``minimum_should_match``: ES bool semantics — keep docs matching at
        least that many distinct query terms; scoring is unchanged (the
        matched terms' BM25 contributions still sum), exactly as in ES.
        """
        terms = sorted(set(terms))
        df_map = self.df_of(terms)
        idfs = bm25.idf_map(self.n_docs, df_map)

        rows = self._live(
            self.term_doc_rows([t for t in terms if t in df_map], params.lucene_norms)
        )
        if doc_id_filter is not None:
            rows = rows.join(
                doc_id_filter.selectExpr("doc_id").distinct(), on="doc_id", how="left_semi"
            )
        if not df_map:
            return rows.selectExpr("doc_id", "0.0D AS score").limit(0)

        # same expression tree as the numpy oracle => bit-identical doubles
        score = _bm25_sql(_idf_sql(idfs), "CAST(tf AS DOUBLE)", params, self.avgdl)
        scored = rows.selectExpr("doc_id", "term", f"{score} AS score")

        # deterministic fold order (sorted by term) — matches the oracle even
        # for >2-term queries where fp addition is association-sensitive
        fold = F.expr(f"{_sorted_term_score_sum(sorted(idfs))} AS score")
        msm = _min_should_match(terms, mode, minimum_should_match)
        if msm == 1:
            return scored.groupBy("doc_id").agg(fold)
        return (
            scored.groupBy("doc_id")
            .agg(fold, F.expr("count(1) AS _nterms"))
            .where(f"_nterms >= {msm}")
            .drop("_nterms")
        )

    def search(
        self,
        terms: list[str],
        k: int = 10,
        mode: str = "OR",
        params: bm25.Bm25Params = bm25.Bm25Params(),
        minimum_should_match: int | None = None,
        doc_id_filter: DataFrame | None = None,
        search_after: tuple[float, int] | None = None,
    ) -> DataFrame:
        """BM25 top-k: DataFrame (doc_id, score) ranked, ≤ k rows (H7/H8).

        ``search_after``: ES cursor pagination — a ``(score, doc_id)`` pair
        (the last hit of the previous page under the total order
        ``score desc, doc_id asc``); only hits STRICTLY after the cursor are
        returned.  Like ES, this is O(k) state however deep the page (no
        ``from+size`` window blow-up): the predicate prunes before the
        global top-k, so page 1000 costs the same shuffle as page 1.

        See :meth:`score_matches` for ``doc_id_filter`` (ES filter context)
        and ``minimum_should_match``.
        """
        agg = self.score_matches(
            terms,
            mode,
            params,
            minimum_should_match=minimum_should_match,
            doc_id_filter=doc_id_filter,
        )
        if search_after is not None:
            s0, d0 = sql.dbl(search_after[0]), int(search_after[1])
            agg = agg.where(f"score < {s0} OR (score = {s0} AND doc_id > {d0})")
        return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def search_batch(
        self,
        queries: list[list[str]],
        k: int = 10,
        mode: str = "OR",
        params: bm25.Bm25Params = bm25.Bm25Params(),
    ) -> DataFrame:
        """Top-k for a whole query batch in ONE scan and ONE doc-keyed
        shuffle: DataFrame (query_id, doc_id, score), ≤ k rows per query.

        Per-query ``search()`` pays a full Spark job per query — the p95
        driver for a query workload.  Here the posting scan prunes to the
        UNION of all queries' terms, a literal term → query ids map explodes
        each decoded row into the queries that use it, and scores
        fold per (query, doc) in sorted-term order — bit-identical to
        ``search()`` for every query (pinned by tests).  The final per-query
        top-k is a window ``row_number`` over (query_id): its sort is
        disk-spillable but parallelism is #queries.

        query_id is the position of the query in ``queries``.
        """
        spark = self.spark
        norm_qs = [sorted(set(q)) for q in queries]
        all_terms = sorted({t for q in norm_qs for t in q})
        empty = spark.createDataFrame([], "query_id int, doc_id long, score double")
        if not all_terms:
            return empty
        df_map = self.df_of(all_terms)
        idfs = bm25.idf_map(self.n_docs, df_map)
        live_terms = [t for t in all_terms if t in df_map]
        if not live_terms:
            return empty
        rows = self._live(self.term_doc_rows(live_terms, params.lucene_norms))
        # each decoded row fans out into the queries that use its term
        membership = _term_ints_sql(
            [(t, qid) for qid, q in enumerate(norm_qs) for t in q if t in df_map]
        )
        score = _bm25_sql(_idf_sql(idfs), "CAST(tf AS DOUBLE)", params, self.avgdl)
        scored = rows.selectExpr(
            "doc_id", "term", f"{score} AS score", f"explode({membership}) AS query_id"
        )
        agg = scored.groupBy("query_id", "doc_id").agg(
            F.expr(f"{_sorted_term_score_sum(live_terms)} AS score"),
            F.expr("count(1) AS _nterms"),
        )
        if mode.upper() == "AND":
            # per-query required term count (queries whose terms are partly
            # unindexed can never satisfy AND; matching search(), which
            # compares against the FULL term count)
            qlen = ", ".join(f"{qid}, {len(q)}" for qid, q in enumerate(norm_qs))
            agg = agg.where(f"_nterms = element_at(map({qlen}), query_id)")
        return (
            agg.selectExpr(
                "query_id",
                "doc_id",
                "score",
                "row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS _rn",
            )
            .where(f"_rn <= {int(k)}")
            .drop("_rn")
        )

    def _phrase_occurrences(
        self, phrase: list[str], lucene_norms: bool = False
    ) -> DataFrame:
        """Per-doc exact-phrase stats: (doc_id, ptf, dl); empty if any phrase
        term is absent from the dictionary (an ES match_phrase matches
        nothing when a position is unfillable).

        Plan: term-pruned positional decode → ONE exchange on doc_id →
        explode each occurrence into the offsets its term fills (a literal
        term → offsets map; one offset per phrase POSITION, so repeated
        terms get every offset they must fill) → normalize each occurrence
        to its candidate start ``pos - offset`` → a phrase starts at p iff
        all len(phrase) offsets are present: a groupBy (doc, start) counting
        distinct offsets, then a groupBy (doc) counting starts, both inside
        the doc_id partitions (their keys start with doc_id, so neither
        shuffles again).  Doc keys are uniform — no hot keys beyond true
        mass-duplicate docs.
        """
        offset_rows = [(t, i) for i, t in enumerate(phrase)]
        return self._phrase_occurrences_from_offsets(
            offset_rows, len(phrase), lucene_norms
        )

    def _phrase_occurrences_from_offsets(
        self,
        offset_rows: list[tuple[str, int]],
        n_positions: int,
        lucene_norms: bool = False,
    ) -> DataFrame:
        """Generalized exact-position matcher: (doc_id, ptf, dl) for a
        MultiPhraseQuery-shaped (term → offset) mapping, where an offset may
        be fillable by SEVERAL alternative terms (``match_phrase_prefix``'s
        expanded last position).  A start counts iff every one of the
        ``n_positions`` offsets has at least one of its terms present —
        ``count_distinct(off)`` is blind to WHICH alternative filled a slot,
        exactly Lucene's union-posting per position."""
        spark = self.spark
        uniq = sorted({t for t, _ in offset_rows})
        df_map = self.df_of(uniq)
        # every OFFSET must be fillable by >= 1 indexed term (an offset whose
        # terms all miss the dictionary makes the whole phrase unmatchable)
        offs_ok = {off for t, off in offset_rows if t in df_map}
        if len(offs_ok) < n_positions:
            return spark.createDataFrame([], "doc_id long, ptf long, dl long")
        live_terms = [t for t in uniq if t in df_map]
        rows = self._live(self.term_position_rows(live_terms, lucene_norms))
        offsets = _term_ints_sql([(t, o) for t, o in offset_rows if t in df_map])
        # one exchange on doc_id serves every aggregation below: each one's
        # grouping keys start with doc_id
        hits = rows.repartition("doc_id").selectExpr(
            "doc_id", "dl", "pos", f"explode({offsets}) AS off"
        )
        starts = (
            hits.selectExpr("doc_id", "dl", "pos - off AS start", "off")
            .where("start >= 0")
            .groupBy("doc_id", "start")
            .agg(F.expr("count(DISTINCT off) AS _n"), F.expr("max(dl) AS dl"))
            .where(f"_n = {n_positions}")
        )
        return starts.groupBy("doc_id").agg(F.expr("count(1) AS ptf"), F.expr("max(dl) AS dl"))

    def _sloppy_phrase_occurrences(
        self, phrase: list[str], slop: int, lucene_norms: bool = False
    ) -> DataFrame:
        """Per-doc sloppy-phrase stats: (doc_id, ptf, sfreq_scaled, dl).

        Lucene ``match_phrase`` + ``slop`` semantics (SloppyPhraseMatcher's
        matchLength criterion; the host-engine H5 surface behind
        ``GeoPointClusteringAggregator.java:87-96`` "documents matching the
        query"): each occurrence of phrase term ``q_i`` at document position
        ``d`` has adjusted position ``adj = d - i``; a sloppy occurrence at
        start ``p`` exists iff every phrase offset has an occurrence with
        ``p ≤ adj ≤ p + slop`` (matchLength = max(adj) − min(adj) ≤ slop —
        this also admits Lucene's reorderings: "b a" matches "a b" at slop
        2), the smallest adjusted position in the window IS ``p`` (each
        occurrence is counted at exactly one start), and every repeated term
        covers its offsets with ≥ multiplicity DISTINCT document positions.
        matchLength for the weight is ``max over terms of (min adj) − p`` —
        for repeat-free phrases exactly Lucene's per-position minimal
        arrangement; for phrases with repeated terms the per-term
        aggregation is a documented (tested, oracle-mirrored) approximation
        of Lucene's greedy repeat handling.

        ``sfreq_scaled`` is the Lucene sloppy frequency
        ``Σ 1/(1 + matchLength)`` scaled by ``L = lcm(1..slop+1)`` so the
        aggregation is pure INTEGER arithmetic — exact and addition-order
        free, which is what lets the DuckDB oracle hash-match the scores
        bit for bit (a float sum would depend on row order on both engines).

        Plan shape: term-pruned positional decode → ONE exchange on doc_id →
        explode each occurrence into its (term → offsets) offsets, then into
        its ≤ slop+1 candidate starts → groupBys keyed by (doc, start[,
        term]) and (doc) inside those partitions — the same scale contract
        as the exact phrase path.
        """
        _validate_slop(slop)
        spark = self.spark
        uniq = sorted(set(phrase))
        df_map = self.df_of(uniq)
        if len(df_map) < len(uniq):  # some term matches nothing anywhere
            return spark.createDataFrame(
                [], "doc_id long, ptf long, sfreq_scaled long, dl long"
            )
        k = len(phrase)
        rows = self._live(self.term_position_rows(uniq, lucene_norms))
        offsets = _term_ints_sql([(t, i) for i, t in enumerate(phrase)])
        # adjusted positions may be NEGATIVE (Lucene: "beta alpha" matches
        # phrase "alpha beta" at slop 2 through beta's adj = 0 − 1 = −1), so
        # neither the hits nor the candidate starts are clamped at zero
        hits = rows.repartition("doc_id").selectExpr(
            "doc_id", "dl", "term", "pos", f"explode({offsets}) AS off"
        )
        cand = hits.selectExpr(
            "doc_id", "dl", "term", "pos", "off", "pos - off AS adj",
            f"explode(sequence(pos - off - {slop}, pos - off)) AS start",
        )
        per_term = cand.groupBy("doc_id", "start", "term").agg(
            F.expr("count(DISTINCT pos) AS npos"),
            F.expr("count(DISTINCT off) AS noff"),
            F.expr("min(adj) AS tmin"),
            F.expr("max(dl) AS dl"),
        )
        L = math.lcm(*range(1, slop + 2))
        starts = (
            per_term.groupBy("doc_id", "start")
            .agg(
                F.expr("sum(noff) AS _noff"),
                # a term's multiplicity in the phrase: its offset count
                F.expr(f"min(npos - size({offsets})) AS _mslack"),
                F.expr("min(tmin) AS _minadj"),
                F.expr("max(tmin) AS _end"),
                F.expr("max(dl) AS dl"),
            )
            .where(f"_noff = {k} AND _mslack >= 0 AND _minadj = start")
            # integer weight L/(1+matchLength): exact, order-free
            .selectExpr("doc_id", "dl", f"CAST({L} / ((1 + _end) - start) AS BIGINT) AS w")
        )
        return starts.groupBy("doc_id").agg(
            F.expr("count(1) AS ptf"),
            F.expr("sum(w) AS sfreq_scaled"),
            F.expr("max(dl) AS dl"),
        )

    def phrase_match_count(self, phrase: list[str], slop: int = 0) -> int:
        """hits.total for a match_phrase query (``slop=0`` ⇒ exact)."""
        if not phrase:
            return 0
        if slop == 0:
            return self._phrase_occurrences(phrase).count()
        return self._sloppy_phrase_occurrences(phrase, slop).count()

    def _phrase_prefix_offsets(
        self, phrase: list[str], max_expansions: int
    ) -> list[tuple[str, int]] | None:
        """(term, offset) rows for match_phrase_prefix: fixed positions for
        all but the last term, whose offset is fillable by the first
        ``max_expansions`` dictionary terms carrying the prefix **in TERM
        order** — Lucene's MatchPhrasePrefixQuery walks the TermsEnum
        lexicographically and stops at the cap (NOT the df-ranked
        ``top_terms_N`` rewrite the scored prefix query uses).  Returns
        None when the expansion is empty (ES: the query matches nothing)."""
        if max_expansions < 1:
            raise ValueError(f"max_expansions must be >= 1: {max_expansions}")
        prefix = phrase[-1]
        if not prefix:
            raise ValueError("phrase prefix term must be non-empty")
        expansion = [
            r["term"]
            for r in self.term_stats()
            .where(F.col("term").startswith(prefix))
            .select("term")
            .orderBy(F.asc("term"))
            .limit(max_expansions)
            .collect()
        ]
        if not expansion:
            return None
        last = len(phrase) - 1
        return [(t, i) for i, t in enumerate(phrase[:-1])] + [
            (t, last) for t in expansion
        ]

    def phrase_prefix_match_count(
        self, phrase: list[str], max_expansions: int = MAX_EXPANSIONS
    ) -> int:
        """hits.total for an ES ``match_phrase_prefix`` query: the exact
        phrase with its LAST term matched as a prefix (Lucene
        MultiPhraseQuery — the last position accepts any of the expanded
        terms' occurrences)."""
        if not phrase:
            return 0
        offset_rows = self._phrase_prefix_offsets(phrase, max_expansions)
        if offset_rows is None:
            return 0
        return self._phrase_occurrences_from_offsets(
            offset_rows, len(phrase)
        ).count()

    def phrase_prefix_search(
        self,
        phrase: list[str],
        k: int = 10,
        params: bm25.Bm25Params = bm25.Bm25Params(),
        max_expansions: int = MAX_EXPANSIONS,
    ) -> DataFrame:
        """BM25-scored match_phrase_prefix top-k: (doc_id, score), ≤ k rows.

        Lucene MultiPhraseQuery scoring: tf is the phrase frequency (a
        start counts once however many expansion alternatives fill the last
        slot) and the idf is summed over ALL terms the weight was built
        from — one TermStatistics per fixed position plus one per EXPANDED
        term (MultiPhraseQuery.MultiPhraseWeight collects allTermStats
        across every position's term array)."""
        offset_rows = self._phrase_prefix_offsets(phrase, max_expansions) if phrase else None
        if offset_rows is None:
            return self.spark.createDataFrame([], "doc_id long, score double")
        occ = self._phrase_occurrences_from_offsets(
            offset_rows, len(phrase), params.lucene_norms
        )
        df_map = self.df_of(sorted({t for t, _ in offset_rows}))
        idfs = bm25.idf_map(self.n_docs, df_map)
        # one idf per (term, offset) row: fixed positions count once each,
        # the last position contributes every expanded term's idf
        idf_sum = sum(idfs.get(t, 0.0) for t, _ in offset_rows)
        score = _bm25_sql(sql.dbl(idf_sum), "CAST(ptf AS DOUBLE)", params, self.avgdl)
        scored = occ.selectExpr("doc_id", f"{score} AS score")
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def phrase_search(
        self,
        phrase: list[str],
        k: int = 10,
        params: bm25.Bm25Params = bm25.Bm25Params(),
        slop: int = 0,
    ) -> DataFrame:
        """BM25-scored phrase top-k: (doc_id, score), ≤ k rows.

        Lucene PhraseQuery semantics: the phrase scores like a single
        pseudo-term whose tf is the PHRASE frequency and whose idf is the sum
        of the member terms' idfs — BM25Similarity receives one TermStatistics
        per phrase position, so a repeated term contributes its idf once per
        position.  score = idf_sum · tf / (tf + k1·(1 − b + b·dl/avgdl)),
        where tf is the exact phrase frequency at ``slop=0`` and Lucene's
        sloppy frequency ``Σ 1/(1 + matchLength)`` otherwise (each sloppier
        occurrence contributes proportionally less, SloppyPhraseMatcher's
        weighting; see _sloppy_phrase_occurrences for the match criterion).
        """
        scored = self.phrase_score_matches(phrase, params, slop)
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def phrase_score_matches(
        self,
        phrase: list[str],
        params: bm25.Bm25Params = bm25.Bm25Params(),
        slop: int = 0,
    ) -> DataFrame:
        """ALL phrase-matching docs with scores (doc_id, score), unranked —
        the building block :meth:`phrase_search` truncates and
        :meth:`rescore_phrase` joins (same math, see phrase_search)."""
        spark = self.spark
        if not phrase:
            return spark.createDataFrame([], "doc_id long, score double")
        if slop == 0:
            occ = self._phrase_occurrences(phrase, params.lucene_norms)
            tf = "CAST(ptf AS DOUBLE)"
        else:
            occ = self._sloppy_phrase_occurrences(phrase, slop, params.lucene_norms)
            L = math.lcm(*range(1, slop + 2))
            tf = f"(CAST(sfreq_scaled AS DOUBLE) / {sql.dbl(L)})"
        df_map = self.df_of(sorted(set(phrase)))
        idfs = bm25.idf_map(self.n_docs, df_map)
        idf_sum = sum(idfs.get(t, 0.0) for t in phrase)  # per position, dups counted
        score = _bm25_sql(sql.dbl(idf_sum), tf, params, self.avgdl)
        return occ.selectExpr("doc_id", f"{score} AS score")

    def rescore_phrase(
        self,
        terms: list[str],
        phrase: list[str],
        k: int = 10,
        window_size: int = 50,
        *,
        query_weight: float = 1.0,
        rescore_weight: float = 1.0,
        slop: int = 0,
        mode: str = "OR",
        params: bm25.Bm25Params = bm25.Bm25Params(),
    ) -> DataFrame:
        """ES ``rescore``: re-rank the top ``window_size`` hits of the term
        query by combining with a phrase query (score_mode=total, the ES
        default):

            combined = query_weight * score + rescore_weight * phrase_score

        Window docs that don't match the phrase keep ``query_weight *
        score`` (phrase contributes 0), exactly like ES; docs outside the
        window are untouched (with ``k <= window_size`` they can't appear).
        Scale: the expensive phrase machinery joins against a ≤window_size
        row frame — bounded rescoring cost is the whole point of the ES
        rescore design, and the window side broadcasts.
        """
        if k > window_size:
            raise ValueError(f"k must be <= window_size: {k} > {window_size}")
        window = self.search(terms, k=window_size, mode=mode, params=params)
        ph = self.phrase_score_matches(phrase, params, slop).withColumnRenamed(
            "score", "rescore"
        )
        combined = (
            f"(({sql.dbl(query_weight)} * score)"
            f" + ({sql.dbl(rescore_weight)} * coalesce(rescore, 0.0D))) AS score"
        )
        return (
            window.join(ph, on="doc_id", how="left")
            .selectExpr("doc_id", combined)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def boosting_search(
        self,
        positive: list[str],
        negative: list[str],
        k: int = 10,
        *,
        negative_boost: float = 0.5,
        mode: str = "OR",
        params: bm25.Bm25Params = bm25.Bm25Params(),
    ) -> DataFrame:
        """ES ``boosting`` query: hits of the positive query, demoted (score
        × ``negative_boost``) when they ALSO match the negative query — the
        negative clause never selects or scores, it only demotes (Lucene
        BoostingQuery / FunctionScoreQuery semantics).

        Scale: the negative side reduces to a doc-id membership frame
        (postings of the negative terms, distinct doc ids); the positive
        scored frame left-semi-checks it via a join — both sides are
        posting-row-sized, no corpus scan.
        """
        if not 0.0 <= negative_boost <= 1.0:
            raise ValueError(f"negative_boost must be in [0, 1]: {negative_boost}")
        pos = self.score_matches(positive, mode, params)
        neg = self._live(self.term_doc_rows(sorted(set(negative))))
        demoted = f"CASE WHEN _neg IS NOT NULL THEN score * {sql.dbl(negative_boost)} ELSE score END"
        return (
            pos.join(neg.selectExpr("doc_id", "true AS _neg").distinct(), on="doc_id", how="left")
            .selectExpr("doc_id", f"{demoted} AS score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def _expand_terms(
        self, cond: Column, max_expansions: int | None, dictionary: DataFrame | None = None
    ) -> list[str]:
        """Shared term-dictionary expansion with ES's ``top_terms_N``
        rewrite: when capped, keep the ``max_expansions`` HIGHEST-df terms
        (ties broken by term, ascending — a total order, so the boundary is
        deterministic and the DuckDB oracle reproduces it exactly).  The
        capped path is a TakeOrderedAndProject over the pruned term_stats
        scan — the driver never receives more than the cap, no matter how
        many dictionary terms match (the round-4 unbounded-collect fix).
        ``dictionary``: the (term, df) frame to expand, term_stats if None."""
        q = (self.term_stats() if dictionary is None else dictionary).where(cond).select("term", "df")
        if max_expansions is not None:
            if max_expansions < 1:
                raise ValueError(f"max_expansions must be >= 1: {max_expansions}")
            rows = (
                q.orderBy(F.desc("df"), F.asc("term")).limit(max_expansions).collect()
            )
        else:
            rows = q.collect()
        return sorted(r["term"] for r in rows)

    def expand_prefix(
        self, prefix: str, max_expansions: int | None = MAX_EXPANSIONS
    ) -> list[str]:
        """Dictionary terms starting with ``prefix`` (ES prefix query
        expansion, capped like ES's ``top_terms_N`` rewrite at
        ``max_expansions`` highest-df terms; ``None`` ⇒ unbounded).
        ``startswith`` pushes into the term-sorted term_stats parquet as a
        StringStartsWith row-group filter — the analog of Lucene's
        term-dictionary seek."""
        if not prefix:
            raise ValueError("prefix must be non-empty")
        return self._expand_terms(F.col("term").startswith(prefix), max_expansions)

    def _gram_index(self) -> DataFrame | None:
        """The term-dictionary n-gram secondary index, if built
        (``plans.index_build.build_term_gram_index``).  Point-in-time like
        every other reader artifact (refresh() re-checks)."""
        if not self._gram_checked:
            self._gram_checked = True
            meta_path = os.path.join(self.index_dir, "term_grams_meta.json")
            gdir = os.path.join(self.index_dir, "term_grams")
            if os.path.exists(meta_path) and os.path.isdir(gdir):
                with open(meta_path) as fh:
                    meta = json.load(fh)
                self._gram_n = int(meta["n"])
                self._gram_df = self.spark.read.parquet(gdir)
        return self._gram_df

    def expand_fuzzy(
        self,
        term: str,
        fuzziness: int = 1,
        max_expansions: int | None = MAX_EXPANSIONS,
    ) -> list[str]:
        """Dictionary terms within Levenshtein distance ``fuzziness`` (ES
        fuzzy query expansion; like ES, distance-0 prefix sharing isn't
        required), capped at ``max_expansions`` highest-df terms (ES's
        default 50).

        Scale path: when the term-dictionary n-gram secondary index exists
        (``build_term_gram_index`` — the Spark analog of Lucene's
        Levenshtein-automaton × TermsEnum intersection), candidates are the
        terms sharing at least ``|distinct grams(q)| − fuzziness·n`` of the
        query's n-grams — a gram-pruned scan over ~len(q) gram groups — and
        the Levenshtein DP refines only that candidate set.  The q-gram
        bound guarantees a SUPERSET of the true expansion, so results are
        identical to the full sweep (pinned by tests).  Without the index
        (or when the bound degenerates for very short queries) one JVM
        ``levenshtein`` sweep over the dictionary runs — fine while
        dictionaries are millions of terms."""
        if fuzziness < 0:
            raise ValueError(f"fuzziness must be >= 0: {fuzziness}")
        cond = F.levenshtein(F.col("term"), F.lit(term)) <= fuzziness
        grams_df = self._gram_index()
        if grams_df is not None:
            n = self._gram_n
            qgrams = sorted(
                {term[i : i + n] for i in range(len(term) - n + 1)}
            ) if len(term) >= n else []
            need = len(qgrams) - fuzziness * n
            if need > 0:
                cand = (
                    grams_df.where(F.col("gram").isin(qgrams))
                    .groupBy("term")
                    .agg(
                        F.count(F.lit(1)).alias("_shared"),
                        F.first("df").alias("df"),
                    )
                    .where(F.col("_shared") >= need)
                )
                return self._expand_terms(cond, max_expansions, cand)
        return self._expand_terms(cond, max_expansions)

    def expand_wildcard(
        self, pattern: str, max_expansions: int | None = MAX_EXPANSIONS
    ) -> list[str]:
        """Dictionary terms matching an ES ``wildcard`` pattern (``*`` = any
        sequence, ``?`` = one character), capped like the other rewrites.
        The pattern compiles to a SQL LIKE (``%``/``_``) with all LIKE
        metacharacters escaped, so it pushes into the term_stats scan as a
        StringLike filter."""
        return self._expand_terms(
            F.col("term").like(_wildcard_to_like(pattern)), max_expansions
        )

    def _term_filter_match_count(self, cond: Column) -> int:
        """hits.total for 'doc contains ANY dictionary term satisfying
        ``cond``' — computed WITHOUT expanding the dictionary through the
        driver: the filter is applied to the postings scan itself (pruned
        parquet scan over term-sorted segments), decoded doc ids are
        dedup'd distributed-side.  This is the Lucene multi-term
        constant_score rewrite (a bitset over the full expansion, no
        max_expansions truncation) — counts stay exact however many terms
        match."""
        if self._decoded_cache is not None and self._decoded_cache_terms is None:
            # whole-index decoded cache: the term predicate filters the
            # cached rows directly — same result, no scan, no re-decode
            rows = self._decoded_cache.where(cond)
        else:
            pruned = (
                self.postings()
                .where(cond)
                .selectExpr("term", "doc_ids_vb", "tfs_vb", "dls_vb")
            )
            rows = pruned.mapInPandas(_decode_postings_fn(False), DECODED_SCHEMA)
        return self._live(rows.select("doc_id")).distinct().count()

    def prefix_match_count(self, prefix: str) -> int:
        """hits.total for an ES ``prefix`` query (constant_score rewrite:
        exact over the FULL expansion, filter pushed into the postings
        scan — no driver-side term collect at all)."""
        if not prefix:
            raise ValueError("prefix must be non-empty")
        return self._term_filter_match_count(F.col("term").startswith(prefix))

    def fuzzy_match_count(self, term: str, fuzziness: int = 1) -> int:
        """hits.total for an ES ``fuzzy`` query (constant_score over the
        full expansion; the levenshtein filter runs in the postings scan)."""
        if fuzziness < 0:
            raise ValueError(f"fuzziness must be >= 0: {fuzziness}")
        return self._term_filter_match_count(
            F.levenshtein(F.col("term"), F.lit(term)) <= fuzziness
        )

    def wildcard_match_count(self, pattern: str) -> int:
        """hits.total for an ES ``wildcard`` query (constant_score over the
        full expansion; LIKE pushes into the postings scan)."""
        return self._term_filter_match_count(
            F.col("term").like(_wildcard_to_like(pattern))
        )

    def suggest(
        self,
        term: str,
        *,
        size: int = 5,
        max_edits: int = 2,
        suggest_mode: str = "always",
    ) -> DataFrame:
        """ES ``term`` suggester: spelling corrections for ``term`` from the
        index's own dictionary — candidates within Levenshtein distance
        ``max_edits`` (ES caps at 2, same cap here), ranked the ES way:
        closer edits first, then HIGHER document frequency, then term asc.
        Returns a DataFrame ``(candidate, distance, df)``, ≤ ``size`` rows.

        ``suggest_mode='missing'`` (the ES default) returns an EMPTY frame
        when the input term itself exists in the dictionary ("only suggest
        for terms not in the index"); ``'always'`` suggests regardless.  The
        input term is never its own suggestion (distance 0 is excluded),
        matching ES.

        Scale: the candidate filter is a JVM ``levenshtein`` predicate with
        a length-window prefilter (|len(cand)−len(q)| ≤ max_edits — a hard
        Levenshtein lower bound) that prunes the dictionary scan; for
        10⁸-term dictionaries the same q-gram secondary index used by
        :meth:`expand_fuzzy` applies — this method is the RANKED-frame
        sibling of that rewrite (it keeps distance and df instead of
        collapsing to a term list).  Output is ≤ size rows; nothing
        collects.

        Reference context: the ES host engine the plugin runs in ships this
        as the ``suggest`` section of the same search request the
        aggregation rides on.
        """
        if not term:
            raise ValueError("term must be non-empty")
        if not 1 <= max_edits <= 2:
            raise ValueError(f"max_edits must be 1 or 2 (ES cap): {max_edits}")
        if size < 1:
            raise ValueError(f"size must be >= 1: {size}")
        if suggest_mode not in ("missing", "always"):
            raise ValueError(f"suggest_mode must be missing|always: {suggest_mode}")
        q, stats = sql.string(term), self.term_stats()
        cols = ("term AS candidate", f"CAST(levenshtein(term, {q}) AS INT) AS distance", "df")
        if suggest_mode == "missing" and stats.where(f"term = {q}").limit(1).count() > 0:
            return stats.selectExpr(*cols).limit(0)
        return (
            stats.where(
                f"length(term) >= {len(term) - max_edits} AND length(term) <= {len(term) + max_edits}"
            )
            .selectExpr(*cols)
            .where(f"distance <= {int(max_edits)} AND distance > 0")
            .orderBy(F.asc("distance"), F.desc("df"), F.asc("candidate"))
            .limit(size)
        )

    def regexp_match_count(self, pattern: str) -> int:
        """hits.total for an ES ``regexp`` query: the pattern is anchored to
        the WHOLE term (Lucene regexp semantics) and evaluated in the
        postings scan."""
        return self._term_filter_match_count(
            F.col("term").rlike(f"^(?:{pattern})$")
        )

    def prefix_search(
        self,
        prefix: str,
        k: int = 10,
        params: bm25.Bm25Params = bm25.Bm25Params(),
        max_expansions: int = MAX_EXPANSIONS,
    ) -> DataFrame:
        """BM25-scored prefix query (ES ``top_terms_N`` rewrite): expand to
        the ``max_expansions`` highest-df matching terms, then score as a
        bool OR over the expansion — each expanded term contributes with its
        OWN df/idf, exactly Lucene's TopTermsScoringBooleanQueryRewrite."""
        terms = self.expand_prefix(prefix, max_expansions)
        if not terms:
            return self.spark.createDataFrame([], "doc_id long, score double")
        return self.search(terms, k, "OR", params)

    def fuzzy_search(
        self,
        term: str,
        fuzziness: int = 1,
        k: int = 10,
        params: bm25.Bm25Params = bm25.Bm25Params(),
        max_expansions: int = MAX_EXPANSIONS,
    ) -> DataFrame:
        """BM25-scored fuzzy query (ES ``top_terms_N``-shaped rewrite; each
        expanded term scores with its own df)."""
        terms = self.expand_fuzzy(term, fuzziness, max_expansions)
        if not terms:
            return self.spark.createDataFrame([], "doc_id long, score double")
        return self.search(terms, k, "OR", params)

    def wildcard_search(
        self,
        pattern: str,
        k: int = 10,
        params: bm25.Bm25Params = bm25.Bm25Params(),
        max_expansions: int = MAX_EXPANSIONS,
    ) -> DataFrame:
        """BM25-scored wildcard query (capped ``top_terms_N`` rewrite)."""
        terms = self.expand_wildcard(pattern, max_expansions)
        if not terms:
            return self.spark.createDataFrame([], "doc_id long, score double")
        return self.search(terms, k, "OR", params)

    def more_like_this_terms(
        self,
        text: str,
        max_query_terms: int = 25,
        min_term_freq: int = 2,
        min_doc_freq: int = 5,
    ) -> list[str]:
        """ES ``more_like_this`` term selection (Lucene MoreLikeThis):
        re-analyze the liked text, keep terms with ``tf >= min_term_freq``
        and ``df >= min_doc_freq``, rank by the MLT interestingness score
        ``tf * (ln(N / (df + 1)) + 1)`` and keep the best ``max_query_terms``
        (ties by term ascending).  Driver-side over ONE document's tokens —
        O(doc length); df lookups hit the term dictionary, term-pruned."""
        import math
        from collections import Counter

        from ..functions.tokenizer import tokenize_python

        if max_query_terms < 1:
            raise ValueError(f"max_query_terms must be >= 1: {max_query_terms}")
        tf = Counter(tokenize_python(text))
        cands = sorted(t for t, c in tf.items() if c >= min_term_freq)
        if not cands:
            return []
        dfm = self.df_of(cands)
        scored = [
            (tf[t] * (math.log(self.n_docs / (dfm[t] + 1.0)) + 1.0), t)
            for t in cands
            if dfm.get(t, 0) >= min_doc_freq
        ]
        scored.sort(key=lambda x: (-x[0], x[1]))
        return [t for _, t in scored[:max_query_terms]]

    def more_like_this(
        self,
        text: str,
        k: int = 10,
        *,
        exclude_doc_ids: list[int] | None = None,
        max_query_terms: int = 25,
        min_term_freq: int = 2,
        min_doc_freq: int = 5,
        params: bm25.Bm25Params = bm25.Bm25Params(),
    ) -> DataFrame:
        """ES ``more_like_this`` query: select interesting terms from the
        liked text, run them as an OR BM25 query, excluding the source doc(s)
        (``exclude_doc_ids``, internal ids) like ES does for doc-ref likes."""
        terms = self.more_like_this_terms(
            text, max_query_terms, min_term_freq, min_doc_freq
        )
        if not terms:
            return self.spark.createDataFrame([], "doc_id long, score double")
        agg = self.score_matches(terms, "OR", params)
        if exclude_doc_ids:
            agg = agg.where(f"doc_id NOT IN ({', '.join(str(int(d)) for d in exclude_doc_ids)})")
        return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def explain(
        self,
        doc_id: int,
        terms: list[str],
        params: bm25.Bm25Params = bm25.Bm25Params(),
    ) -> DataFrame:
        """ES ``_explain``: per-term BM25 breakdown for ONE document.

        Returns (term, tf, dl, idf, contribution) with ``sum(contribution)``
        exactly the doc's ``search`` score (same expression tree).  The
        posting scan is term-pruned AND doc-filtered, so this reads the
        query terms' cells only — the debugging surface ES exposes per hit.
        """
        terms = sorted(set(terms))
        df_map = self.df_of(terms)
        idfs = bm25.idf_map(self.n_docs, df_map)
        if not df_map:
            return self.spark.createDataFrame(
                [], "term string, tf long, dl long, idf double, contribution double"
            )
        rows = self._live(
            self.term_doc_rows([t for t in terms if t in df_map], params.lucene_norms)
        ).where(f"doc_id = {int(doc_id)}")
        idf = _idf_sql(idfs)
        return rows.selectExpr(
            "term", "tf", "dl", f"{idf} AS idf",
            f"{_bm25_sql(idf, 'CAST(tf AS DOUBLE)', params, self.avgdl)} AS contribution",
        )

    def search_with_docs(self, terms: list[str], k: int = 10, mode: str = "OR", **kw) -> DataFrame:
        """Top-k joined back to the docmap (broadcast the tiny top-k side)."""
        topk = self.search(terms, k, mode, **kw)
        return self.docmap().join(F.broadcast(topk), on="doc_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )


def bm25_search_docs(
    docs: DataFrame,
    terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "content",
    k: int = 10,
    mode: str = "OR",
    params: bm25.Bm25Params = bm25.Bm25Params(),
) -> DataFrame:
    """Index-free BM25 top-k straight off a documents DataFrame (doc_id, score).

    For ad-hoc queries where building the inverted index isn't worth it: the
    one-field case of ``multi_match_best_fields``' scorer (plans/multimatch.py),
    so the scores are bit-identical to ``InvertedIndex.search`` over the same
    docs.  AND keeps the docs holding every distinct term.  The top-k is
    materialized eagerly (≤ k rows); the result is a small local DataFrame.
    """
    from .multimatch import _top_k

    need = len(set(terms)) if mode.upper() == "AND" else 1
    return _top_k(
        docs, terms, [text_col], id_col=id_col, k=k, tie_breaker=0.0, need=need, params=params
    )


#: field_value_factor's modifiers and boost modes over SQL text ``{}``
_FV_MODIFIERS = {
    "none": "{}",
    "ln1p": "ln((1.0D + {}))",
    "log1p": "log10((1.0D + {}))",
    "sqrt": "sqrt({})",
    "square": "({0} * {0})",
}
_BOOST_MODES = {"multiply": "(score * {})", "sum": "(score + {})", "replace": "{}"}


def field_value_factor(
    scored: DataFrame,
    meta: DataFrame,
    field: str,
    *,
    factor: float = 1.0,
    modifier: str = "ln1p",
    boost_mode: str = "multiply",
    id_col: str = "doc_id",
    k: int | None = None,
) -> DataFrame:
    """ES ``function_score`` with a ``field_value_factor`` function.

    Combines a query-scored frame ``(doc_id, score)`` with a numeric doc
    field:  ``fv = modifier(factor * field)`` then ``combined =
    boost_mode(score, fv)``.  Supported modifiers (ES names): ``none``,
    ``ln1p`` (ln(1+x)), ``log1p`` (log10(1+x)), ``sqrt``, ``square``;
    boost_modes: ``multiply`` (ES default), ``sum``, ``replace``.

    Scale: one join of the scored hits against the metadata scan on the id
    (pushed column pruning: only ``field`` is read) and a codegen'd
    arithmetic combine — no extra shuffle beyond the join.
    """
    if modifier not in _FV_MODIFIERS:
        raise ValueError(f"unknown modifier: {modifier}")
    if boost_mode not in _BOOST_MODES:
        raise ValueError(f"unknown boost_mode: {boost_mode}")
    fv = _FV_MODIFIERS[modifier].format(f"({sql.dbl(factor)} * CAST({sql.name(field)} AS DOUBLE))")
    out = scored.join(
        meta.select(F.col(id_col).alias("doc_id"), field), on="doc_id"
    ).selectExpr("doc_id", f"{_BOOST_MODES[boost_mode].format(fv)} AS score")
    if k is not None:
        out = out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    return out


def collapse_top_hits(
    scored: DataFrame,
    collapse_col: str,
    k: int = 10,
    *,
    score_col: str = "score",
    id_col: str = "doc_id",
) -> DataFrame:
    """ES field collapsing (``collapse.field``): the global top-``k`` hits
    AFTER keeping only each group's single best hit — one result per
    distinct ``collapse_col`` value, ranked by score.

    Distinct from a ``terms``+``top_hits`` agg: collapsing returns a flat
    ranked HIT PAGE (search results deduped by field), not per-bucket rows —
    a group outside the global top-k never appears, exactly like ES.

    Ranking inside a group and globally both use (score desc, doc_id asc) —
    doc_id is the tiebreaker ES's ``_shard_doc`` plays.

    Scale: one window shuffle on the collapse key prunes to one row per
    group (row_number, applied BEFORE the global top-k so the final
    TakeOrderedAndProject sees |groups| rows, not |hits|), then the exact
    distributed top-k.  Skew-safe: per-group work is a sort of that group's
    hits, the same bound as ES's per-shard collapse.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    group, score, id_ = sql.name(collapse_col), sql.name(score_col), sql.name(id_col)
    rank = f"row_number() OVER (PARTITION BY {group} ORDER BY {score} DESC, {id_}) AS _grk"
    return (
        scored.selectExpr("*", rank)
        .where("_grk = 1")
        .drop("_grk")
        .orderBy(F.desc(score_col), F.asc(id_col))
        .limit(k)
    )
