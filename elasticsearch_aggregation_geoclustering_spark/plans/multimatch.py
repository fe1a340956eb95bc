"""Index-free BM25 and ES ``multi_match`` (best_fields / dis_max).

ES scores each field with that FIELD's own statistics (per-field postings,
df, avgdl) and combines per-doc with Lucene's DisjunctionMaxQuery:

    score(doc) = max_f s_f(doc) + tie_breaker * sum_{f != argmax} s_f(doc)

``tie_breaker=0`` is pure dis_max (best_fields default); ``1`` degenerates to
a bool-OR sum (most_fields-ish).

``score_field``, ``multi_match_best_fields`` and ``query.bm25_search_docs``
share one scorer, built as SQL text:

* one projection, in-row per field: ``dl = size(tokens)`` and ``tf(t) =
  size(tokens) − size(array_remove(tokens, t))``, each field tokenized once
  per row, zero shuffles.  NULL text tokenizes to no tokens, so its dl and
  tf are 0 whatever ``spark.sql.ansi.enabled`` makes of ``size(NULL)``, and
  the doc still counts toward N;
* one statistics aggregate: N, each field's token total and each (field,
  term) df;
* one BM25 expression per field: the index's ``_bm25_sql`` over the sorted
  terms with idf from ``bm25.idf``, each term scored only where its tf > 0
  and folded ``(0.0 + s0) + s1 …`` like the index's pivot fold, so a
  field's scores are bit-identical to ``InvertedIndex.score_matches`` over
  the same docs.

Scores are per row: ``id_col`` is assumed unique per row (the doc-id
contract everywhere in this engine).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..functions import bm25
from ..functions import sql_text as sql
from ..functions.tokenizer import tokenize_sql
from .query import _bm25_sql

__all__ = ["score_field", "multi_match_best_fields", "dis_max"]


def _query_terms(terms: list[str], params: bm25.Bm25Params) -> list[str]:
    """The distinct query terms in the index's fold order (sorted)."""
    if params.lucene_norms:
        # the index quantizes dl while decoding postings; there is no SQL
        # port of that codec, so an index-free score would use exact lengths
        raise ValueError("lucene_norms needs an index: index-free BM25 scores exact lengths")
    return sorted(set(terms))


def _projection(docs: DataFrame, terms: list[str], fields: list[str], id_col: str) -> DataFrame:
    """Per row ``(doc_id, _dl{i}, _tf{i}_{j})`` for field i and term j."""
    toks = docs.selectExpr(
        f"{sql.name(id_col)} AS doc_id",
        *[f"coalesce({tokenize_sql(sql.name(f))}, array()) AS _tok{i}" for i, f in enumerate(fields)],
    )
    # a Project of its own: CollapseProject does not inline a non-trivial
    # expression used more than once, so each field is tokenized once per row
    cols = []
    for i in range(len(fields)):
        cols.append(f"size(_tok{i}) AS _dl{i}")
        cols += [
            f"(size(_tok{i}) - size(array_remove(_tok{i}, {sql.string(t)}))) AS _tf{i}_{j}"
            for j, t in enumerate(terms)
        ]
    return toks.selectExpr("doc_id", *cols)


def _field_scores(
    proj: DataFrame, n_fields: int, n_terms: int, params: bm25.Bm25Params
) -> list[str] | None:
    """Each field's BM25 score as SQL text over ``proj``, from ONE statistics
    aggregate; None when ``proj`` has no rows."""
    stats = proj.selectExpr(
        "count(1) AS n",
        *[f"coalesce(sum(_dl{i}), 0) AS _total{i}" for i in range(n_fields)],
        *[f"count_if(_tf{i}_{j} > 0) AS _df{i}_{j}" for i in range(n_fields) for j in range(n_terms)],
    ).collect()[0]
    n_docs = int(stats["n"])
    if n_docs == 0:
        return None
    scores = []
    for i in range(n_fields):
        avgdl = int(stats[f"_total{i}"]) / n_docs
        dl = f"CAST(_dl{i} AS DOUBLE)"
        score = "0.0D"
        for j in range(n_terms):
            idf = sql.dbl(bm25.idf(n_docs, int(stats[f"_df{i}_{j}"])))
            term = _bm25_sql(idf, f"CAST(_tf{i}_{j} AS DOUBLE)", params, avgdl, dl)
            # as in the index, only a posting (tf > 0) scores: the +0.0 of
            # tf = 0 leaves the sum's bits alone, but 0/0 (k1 = 0, or an
            # all-empty field's avgdl = 0) must not be evaluated
            score = f"({score} + CASE WHEN _tf{i}_{j} > 0 THEN {term} ELSE 0.0D END)"
        scores.append(score)
    return scores


def _matched_sql(n_fields: int, n_terms: int, need: int) -> str:
    """Rows holding at least ``need`` distinct query terms, in any field."""
    hits = [" OR ".join(f"_tf{i}_{j} > 0" for i in range(n_fields)) for j in range(n_terms)]
    return f"({' + '.join(f'CAST(({h}) AS INT)' for h in hits)}) >= {int(need)}"


def _top_k(
    docs: DataFrame,
    terms: list[str],
    fields: list[str],
    *,
    id_col: str,
    k: int,
    tie_breaker: float,
    need: int,
    params: bm25.Bm25Params,
) -> DataFrame:
    """Top-k ``(doc_id, score)`` of the docs holding ``need`` distinct terms,
    ``score = max over fields + tie_breaker · sum of the rest``.  The numeric
    projection is persisted for the query: the statistics aggregate
    materializes it and the top-k reads it back instead of re-tokenizing the
    corpus.  The ≤ k rows are collected, so the cache is released before the
    small local result returns."""
    spark = docs.sparkSession
    schema = StructType(
        [
            StructField("doc_id", docs.schema[id_col].dataType),
            StructField("score", DoubleType()),
        ]
    )
    terms = _query_terms(terms, params)
    if not terms:
        return spark.createDataFrame([], schema)
    proj = _projection(docs, terms, fields, id_col).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        scores = _field_scores(proj, len(fields), len(terms), params)
        if scores is None:
            return spark.createDataFrame([], schema)
        best = f"greatest({', '.join(scores)})" if len(scores) > 1 else scores[0]
        total = scores[0]
        for s in scores[1:]:
            total = f"({total} + {s})"
        score = f"({best} + ({sql.dbl(tie_breaker)} * ({total} - {best})))"
        rows = (
            proj.where(_matched_sql(len(fields), len(terms), need))
            .selectExpr("doc_id", f"{score} AS score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
    finally:
        proj.unpersist()
    return spark.createDataFrame([tuple(r) for r in rows], schema)


def score_field(
    docs: DataFrame,
    terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    params: bm25.Bm25Params = bm25.Bm25Params(),
) -> DataFrame:
    """Full per-field BM25 scoring: (doc_id, score) for EVERY matching doc.

    Bit-identical to ``InvertedIndex.score_matches`` over the same docs, but
    lazy and unlimited.  ``text_col`` may be any string column of ``docs``.

    NOTE: the statistics aggregate runs here; the lazy result re-tokenizes
    the corpus on every downstream action, so callers with several actions
    should persist it themselves.
    """
    terms = _query_terms(terms, params)
    if terms:
        proj = _projection(docs, terms, [text_col], id_col)
        scores = _field_scores(proj, 1, len(terms), params)
        if scores is not None:
            return proj.where(_matched_sql(1, len(terms), 1)).selectExpr("doc_id", f"{scores[0]} AS score")
    return docs.sparkSession.createDataFrame([], "doc_id long, score double")


def multi_match_best_fields(
    docs: DataFrame,
    terms: list[str],
    fields: list[str],
    *,
    id_col: str = "doc_id",
    k: int = 10,
    tie_breaker: float = 0.0,
    params: bm25.Bm25Params = bm25.Bm25Params(),
) -> DataFrame:
    """ES ``multi_match`` type ``best_fields``: top-k (doc_id, score) where
    ``score = max over fields + tie_breaker * sum of the rest``, each field
    scored with its own statistics.  One tokenize pass over the corpus and
    zero shuffles, whatever the field count."""
    if not 0.0 <= tie_breaker <= 1.0:
        raise ValueError(f"tie_breaker must be in [0, 1]: {tie_breaker}")
    if not fields:
        raise ValueError("need at least one field")
    return _top_k(
        docs, terms, fields, id_col=id_col, k=k, tie_breaker=tie_breaker, need=1, params=params
    )


def dis_max(
    scored_frames: list[DataFrame],
    *,
    tie_breaker: float = 0.0,
    k: int = 10,
) -> DataFrame:
    """ES ``dis_max`` compound query over ARBITRARY sub-queries (Lucene
    DisjunctionMaxQuery): each input frame is one sub-query's full scored
    hit set ``(doc_id, score)`` — a match, a phrase, a fuzzy expansion,
    anything — and a doc's final score is

        max(sub-scores) + tie_breaker * sum(the other sub-scores)

    over the sub-queries that matched it (ES semantics: a doc matches if ANY
    sub-query matches; missing sub-scores contribute nothing — NOT zero-
    imputed into the max, which matters only for negative scores that BM25
    never produces, so coalesce(0) is exact here).

    This differs from ``multi_match_best_fields`` (same combine, but that
    one derives its sub-queries as the SAME terms over different fields);
    ``dis_max`` is the general compound ES exposes directly.

    Scale: n−1 full-outer joins on doc_id — after each sub-query's agg the
    frames are already hash-partitioned on doc_id, so AQE plans the joins
    shuffle-free; the combine is one codegen'd projection; exact global
    top-k via TakeOrderedAndProject.
    """
    if not scored_frames:
        raise ValueError("need at least one sub-query frame")
    if not 0.0 <= tie_breaker <= 1.0:
        raise ValueError(f"tie_breaker must be in [0, 1]: {tie_breaker}")
    combined: DataFrame | None = None
    for i, sf in enumerate(scored_frames):
        sf = sf.select("doc_id", F.col("score").alias(f"_q{i}"))
        combined = sf if combined is None else combined.join(sf, on="doc_id", how="full")
    cols = [F.coalesce(F.col(f"_q{i}"), F.lit(0.0)) for i in range(len(scored_frames))]
    best = F.greatest(*cols) if len(cols) > 1 else cols[0]
    total = cols[0]
    for c in cols[1:]:
        total = total + c
    score = best + F.lit(tie_breaker) * (total - best)
    return (
        combined.select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
