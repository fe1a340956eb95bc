"""ES search-request aggregations over a hits DataFrame — Spark-first.

The reference plugin is itself one ES aggregation
(``GeoPointClusteringAggregator``); a user of the reference composes it with
the host engine's other aggregations in the same search request (``aggs``
block over the matched-document set, reference
``InternalGeoPointClustering.java`` reduce framework).  This module provides
those host-engine aggregations as plain DataFrame transforms over any "hits"
frame (the output of ``InvertedIndex`` matching joined back to the source
table), so they compose with BM25/geo matching exactly like ES ``aggs``
compose with ``query``.

Every aggregation here is a single declarative groupBy/window — Catalyst
plans partial (map-side) aggregation before the shuffle, so each one is one
shuffle on the bucket key at any scale.  Nothing collects to the driver.

Scale notes per aggregation are in the docstrings; the 100 TB rule of thumb:
bucketing aggs (histogram/date_histogram/terms) shuffle ≤ one row per
(partition, bucket) thanks to partial agg; metric aggs (stats/percentiles/
cardinality) reduce to O(buckets) rows.  Exact percentiles sort within
groups — at 100 TB use ``approximate=True`` (t-digest-style
``percentile_approx``, mergeable fixed-size state) exactly like ES does
(ES percentiles IS t-digest and documents the same exactness caveat).

``stats``, ``extended_stats``, ``histogram`` and ``top_hits``' rank filter
are SQL text parsed in the JVM with one py4j call each (a functions-API tree
costs round trips per expression node, paid on the driver before the job);
``top_hits`` keeps its window over the caller's ``order_by`` Columns.  Their
column names are top-level (back-quoted, never nested fields).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import sql_text as sql

__all__ = [
    "histogram",
    "date_histogram",
    "stats",
    "extended_stats",
    "percentiles",
    "top_hits",
    "cardinality_exact",
    "significant_terms_jlh",
    "terms_agg_sharded",
    "range_agg",
    "filters_agg",
    "weighted_avg",
    "rare_terms",
    "composite_page",
    "geo_bounds",
    "geo_centroid",
    "percentile_ranks",
    "adjacency_matrix",
]


def _rounder(round_to: int | None):
    """``round(e, round_to)`` over SQL text ``e``, or ``e`` as it is."""
    if round_to is None:
        return lambda e: e
    return lambda e: f"round({e}, {int(round_to)})"


def histogram(
    hits: DataFrame,
    col: str,
    interval: float,
    *,
    min_doc_count: int = 1,
    key_name: str = "key",
    count_name: str = "doc_count",
) -> DataFrame:
    """ES ``histogram`` aggregation: bucket ``col`` into fixed-width bins.

    ES semantics: ``key = floor(value / interval) * interval`` (works for
    negative values too — floor, not trunc), one row per non-empty bucket
    with ``doc_count``.  ``min_doc_count=0`` (dense buckets between min and
    max) is deliberately unsupported: materializing empty buckets is a
    driver-side range join in ES too, and every real dashboard uses ≥ 1.

    Scale: one shuffle on the bucket key with map-side partial counts —
    at most (partitions × buckets) rows move.
    """
    if interval <= 0:
        raise ValueError(f"interval must be > 0: {interval}")
    if min_doc_count < 1:
        raise ValueError("min_doc_count=0 (empty buckets) is not supported")
    c, iv, key, count = sql.name(col), sql.dbl(interval), sql.name(key_name), sql.name(count_name)
    out = (
        hits.where(f"{c} IS NOT NULL")
        .groupBy(F.expr(f"(FLOOR({c} / {iv}) * {iv}) AS {key}"))
        .agg(F.expr(f"count(1) AS {count}"))
    )
    if min_doc_count > 1:
        out = out.where(f"{count} >= {int(min_doc_count)}")
    return out.orderBy(F.expr(key))


def date_histogram(
    hits: DataFrame,
    ts_col: str,
    calendar_interval: str = "day",
    *,
    key_name: str = "key",
    count_name: str = "doc_count",
) -> DataFrame:
    """ES ``date_histogram`` with a calendar interval (day/week/month/...).

    Truncates the timestamp with ``date_trunc`` (UTC bucket edges, matching
    ES's default time_zone) and counts per bucket.  Returns the bucket key
    as a DATE for day-or-coarser intervals so the key is engine-portable.

    Scale: identical shape to :func:`histogram` — one partial-agg shuffle.
    """
    allowed = {"day", "week", "month", "quarter", "year", "hour", "minute"}
    if calendar_interval not in allowed:
        raise ValueError(f"calendar_interval must be one of {sorted(allowed)}")
    trunc = F.date_trunc(calendar_interval, F.col(ts_col))
    if calendar_interval in {"day", "week", "month", "quarter", "year"}:
        key = F.to_date(trunc).alias(key_name)
    else:
        key = trunc.alias(key_name)
    return (
        hits.where(F.col(ts_col).isNotNull())
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias(count_name))
        .orderBy(F.asc(key_name))
    )


def stats(hits: DataFrame, col: str, *, round_to: int | None = None) -> DataFrame:
    """ES ``stats`` aggregation: count / min / max / sum / avg of a field.

    One row out; Spark computes all five in a single partial+final agg pass
    (no extra scan per metric).  ``round_to`` rounds the float columns for
    cross-engine comparison (fp sum order differs between engines).
    """
    c, rnd = sql.name(col), _rounder(round_to)
    return hits.selectExpr(
        f"count({c}) AS count",
        f"min({c}) AS min",
        f"max({c}) AS max",
        f"{rnd(f'CAST(sum({c}) AS DOUBLE)')} AS sum",
        f"{rnd(f'avg({c})')} AS avg",
    )


def extended_stats(
    hits: DataFrame, col: str, *, sigma: float = 2.0, round_to: int | None = None
) -> DataFrame:
    """ES ``extended_stats``: stats + sum_of_squares, variance (population,
    like ES), std_deviation and the ±sigma std-deviation bounds."""
    c, rnd = f"CAST({sql.name(col)} AS DOUBLE)", _rounder(round_to)
    spread = f"({sql.dbl(sigma)} * stddev_pop({c}))"
    return hits.selectExpr(
        f"count({c}) AS count",
        f"min({c}) AS min",
        f"max({c}) AS max",
        f"{rnd(f'sum({c})')} AS sum",
        f"{rnd(f'avg({c})')} AS avg",
        f"{rnd(f'sum(({c} * {c}))')} AS sum_of_squares",
        f"{rnd(f'var_pop({c})')} AS variance",
        f"{rnd(f'stddev_pop({c})')} AS std_deviation",
        f"{rnd(f'(avg({c}) + {spread})')} AS std_upper",
        f"{rnd(f'(avg({c}) - {spread})')} AS std_lower",
    )


def percentiles(
    hits: DataFrame,
    col: str,
    percents: list[float] = (1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0),
    *,
    approximate: bool = False,
    accuracy: int = 10_000,
    round_to: int | None = None,
) -> DataFrame:
    """ES ``percentiles`` aggregation → rows ``(percent, value)``.

    ``approximate=False`` computes EXACT linear-interpolation percentiles
    (Spark ``percentile``; identical to SQL ``quantile_cont`` / numpy
    ``linear``) — right for correctness gates and small hit sets, but it
    sorts values within the (single) group, so at 100 TB use
    ``approximate=True``: ``percentile_approx`` keeps a bounded mergeable
    summary per partition (the same design point as ES's t-digest — ES
    percentiles are THEMSELVES approximate and document rank-error, so the
    approx path is the ES-faithful one at scale).
    """
    pcts = [float(p) for p in percents]
    if not pcts or any(not 0.0 <= p <= 100.0 for p in pcts):
        raise ValueError(f"percents must be within [0, 100]: {percents}")
    c = F.col(col).cast("double")
    fracs = F.array(*[F.lit(p / 100.0) for p in pcts])
    if approximate:
        vals = F.percentile_approx(c, fracs, F.lit(accuracy))
    else:
        vals = F.percentile(c, fracs)
    arr = hits.agg(vals.alias("vals"))
    pairs = arr.select(
        F.posexplode(F.col("vals")).alias("pos", "value"),
    ).select(
        F.element_at(
            F.array(*[F.lit(p) for p in pcts]), F.col("pos") + 1
        ).alias("percent"),
        F.col("value"),
    )
    if round_to is not None:
        pairs = pairs.select(
            "percent", F.round(F.col("value"), round_to).alias("value")
        )
    return pairs.orderBy("percent")


def top_hits(
    hits: DataFrame,
    bucket_col: str,
    order_by: list[Column],
    size: int = 3,
) -> DataFrame:
    """ES ``top_hits`` sub-aggregation: per bucket, the top ``size`` hit
    rows under a deterministic sort (pass a total order — e.g.
    ``[F.desc("score"), F.asc("doc_id")]`` — or bucket boundaries are
    nondeterministic, same as ES without a tiebreaker sort).

    Scale: one window over the bucket key (single shuffle); rank filter
    prunes to ``size`` rows per bucket before anything else happens.
    Skewed buckets: the window sort is per-key — a pathological single
    bucket holding most rows serializes on one task; pre-truncate per
    partition first if that's your data (same mitigation as search_batch).
    """
    if size < 1:
        raise ValueError(f"size must be >= 1: {size}")
    w = Window.partitionBy(bucket_col).orderBy(*order_by)
    return (
        hits.withColumn("_rank", F.row_number().over(w))
        .where(f"_rank <= {int(size)}")
        .drop("_rank")
    )


def cardinality_exact(hits: DataFrame, col: str, *, name: str = "value") -> DataFrame:
    """Exact distinct count (the semantics ES ``cardinality`` approximates).

    One row out.  At 100 TB an exact distinct is a full shuffle of the
    distinct keys — use :mod:`..extras.sketches` (HLL, mergeable
    fixed-size registers — what ES cardinality actually runs) instead.
    """
    return hits.agg(F.count_distinct(F.col(col)).alias(name))


def terms_agg_sharded(
    hits_terms: DataFrame,
    *,
    n_shards: int,
    size: int = 10,
    shard_size: int | None = None,
    doc_col: str = "doc_id",
) -> DataFrame:
    """ES ``terms`` aggregation under the DISTRIBUTED shard protocol,
    including its famous approximation: each shard returns only its local
    top ``shard_size`` terms, the coordinator sums what was reported, and
    ``doc_count_error`` bounds what may have been missed.

    Protocol (org.elasticsearch.search.aggregations.bucket.terms):
    - shard assignment: deterministic ``doc_id % n_shards`` (ES routes by
      _id hash; modulo keeps the oracle SQL-reproducible),
    - per shard: top ``shard_size`` terms by (local doc_count desc, term
      asc); default ``shard_size = size * 1.5 + 10`` like ES,
    - merge: sum reported counts per term; per-term ``doc_count_error`` =
      Σ over shards that did NOT report the term of that shard's LAST
      (smallest) returned count — a shard that returned fewer than
      shard_size terms is exhausted and contributes 0,
    - final: top ``size`` by (doc_count desc, term asc).

    Returns (term, doc_count, doc_count_error).  The exact single-reduce
    answer is the degenerate ``shard_size >= |vocabulary|`` case (all
    errors 0) — the flag exists to REPRODUCE ES's truncated-shard-response
    behavior, the same parity idea as the geo operator's ``shard_parity``.

    Scale: two shuffles (shard,term groupBy; term merge), every frame
    bounded by n_shards × shard_size after the window truncate.
    """
    if n_shards < 1 or size < 1:
        raise ValueError("n_shards and size must be >= 1")
    if shard_size is None:
        shard_size = int(size * 1.5 + 10)  # ES default
    if shard_size < size:
        raise ValueError(f"shard_size must be >= size: {shard_size} < {size}")
    counts = (
        hits_terms.select((F.col(doc_col) % n_shards).alias("shard"), "term")
        .groupBy("shard", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("shard").orderBy(F.desc("cnt"), F.asc("term"))
    w_shard = Window.partitionBy("shard")  # same shuffle as w — no extra exchange
    reported = (
        counts.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= shard_size)
        .withColumn(
            "last_cnt",
            F.when(
                F.count(F.lit(1)).over(w_shard) == shard_size,
                F.min("cnt").over(w_shard),
            ).otherwise(F.lit(0).cast("long")),
        )
        .select("shard", "term", "cnt", "last_cnt")
    )
    # reported is bounded (≤ n_shards × shard_size rows) and referenced by
    # BOTH aggregates below — materialize it so the hits scan + tokenize
    # upstream runs once, not once per reference (ReuseExchange only
    # matches identical subplans; lazy localCheckpoint truncates the plan
    # and defers the job to the first action)
    reported = reported.localCheckpoint(eager=False)
    total_last = (
        reported.select("shard", "last_cnt")
        .distinct()
        .agg(F.coalesce(F.sum("last_cnt"), F.lit(0)).alias("total_last"))
    )
    per_term = reported.groupBy("term").agg(
        F.sum("cnt").alias("doc_count"),
        F.sum("last_cnt").alias("reported_last"),
    )
    return (
        per_term.crossJoin(total_last)
        .select(
            "term",
            "doc_count",
            (F.col("total_last") - F.col("reported_last")).alias("doc_count_error"),
        )
        .orderBy(F.desc("doc_count"), F.asc("term"))
        .limit(size)
    )


def significant_terms_jlh(
    hits_terms: DataFrame,
    background: DataFrame,
    *,
    fg_size: int,
    bg_size: int,
    size: int = 10,
    min_doc_count: int = 2,
    round_to: int = 6,
) -> DataFrame:
    """ES ``significant_terms`` with the default JLH heuristic.

    Inputs: ``hits_terms`` = one row per (doc, term) over the MATCHED set
    (term deduped per doc — document frequency semantics), ``background`` =
    per-term background document frequency ``(term, df)`` (the index's term
    dictionary — at scale this is the precomputed term_stats parquet, no
    second corpus scan).  ``fg_size`` / ``bg_size`` are the matched and
    total doc counts.

    JLH score (ES JLHScore.java, public formula):
        fg_pct = fg_df / fg_size ; bg_pct = bg_df / bg_size
        score  = (fg_pct - bg_pct) * (fg_pct / bg_pct)
    keeping terms where fg_pct > bg_pct and fg_df >= min_doc_count; top
    ``size`` by (score desc, term asc).

    Scale: foreground agg is one shuffle over hit-doc terms (hits ≪ corpus);
    the background join is a join against the term dictionary on term —
    broadcastable when the foreground term set is small (it is ≤ the hits'
    vocabulary), expressed here as a plain join so AQE picks the strategy.
    """
    if fg_size <= 0 or bg_size <= 0:
        raise ValueError("fg_size and bg_size must be positive")
    fg = (
        hits_terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("fg_df"))
        .where(F.col("fg_df") >= min_doc_count)
    )
    joined = fg.join(background.select("term", F.col("df").alias("bg_df")), on="term")
    fg_pct = F.col("fg_df").cast("double") / F.lit(float(fg_size))
    bg_pct = F.col("bg_df").cast("double") / F.lit(float(bg_size))
    score = (fg_pct - bg_pct) * (fg_pct / bg_pct)
    return (
        joined.where(fg_pct > bg_pct)
        .select(
            "term",
            F.col("fg_df"),
            F.col("bg_df"),
            F.round(score, round_to).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(size)
    )


def range_agg(
    hits: DataFrame,
    col: str,
    ranges: list[tuple[str, float | None, float | None]],
    *,
    key_name: str = "key",
    count_name: str = "doc_count",
) -> DataFrame:
    """ES ``range`` aggregation: named buckets ``[from, to)`` (from
    inclusive, to exclusive, either open — ES's documented edge semantics).

    ES allows OVERLAPPING ranges (one doc may count in several buckets), so
    this is NOT a single groupBy on a bucket key: each range is an
    independent conditional count.  All ranges evaluate in ONE partial+final
    aggregation pass (one conditional sum per range inside the same agg),
    then the ≤ len(ranges) scalar results unpivot to rows — zero data-row
    shuffle, O(ranges) rows out.  Mirrors the reference's reduce framework
    (one ``InternalRange`` bucket per requested range, even when empty —
    doc_count 0 rows ARE returned, like ES).
    """
    if not ranges:
        raise ValueError("need at least one range")
    aggs = []
    for i, (key, lo, hi) in enumerate(ranges):
        c = F.col(col)
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (c >= F.lit(float(lo)))
        if hi is not None:
            cond = cond & (c < F.lit(float(hi)))
        aggs.append(
            F.coalesce(F.sum(F.when(cond & c.isNotNull(), 1)), F.lit(0))
            .cast("long")
            .alias(f"_r{i}")
        )
    one = hits.agg(*aggs)
    stack = ", ".join(f"{sql.string(str(k))}, _r{i}" for i, (k, _, _) in enumerate(ranges))
    return one.selectExpr(
        f"stack({len(ranges)}, {stack}) as ({key_name}, {count_name})"
    )


def filters_agg(
    hits: DataFrame,
    filters: dict[str, Column],
    *,
    key_name: str = "key",
    count_name: str = "doc_count",
) -> DataFrame:
    """ES ``filters`` aggregation: one named bucket per filter, a doc
    counted in every bucket whose filter it matches.

    Same one-pass conditional-count shape as :func:`range_agg` — each named
    filter is a Column predicate evaluated in a single aggregation pass.
    Empty buckets return doc_count 0 (ES keeps every named bucket).
    """
    if not filters:
        raise ValueError("need at least one filter")
    names = sorted(filters)
    one = hits.agg(
        *[
            F.coalesce(F.sum(F.when(filters[n], 1)), F.lit(0))
            .cast("long")
            .alias(f"_f{i}")
            for i, n in enumerate(names)
        ]
    )
    stack = ", ".join(f"{sql.string(n)}, _f{i}" for i, n in enumerate(names))
    return one.selectExpr(
        f"stack({len(names)}, {stack}) as ({key_name}, {count_name})"
    )


def weighted_avg(
    hits: DataFrame,
    value_col: str,
    weight_col: str | Column,
    *,
    name: str = "value",
    round_to: int | None = None,
) -> DataFrame:
    """ES ``weighted_avg`` metric: Σ(value·weight) / Σ(weight) over rows
    where BOTH sides are non-null (ES skips docs missing either field).

    One partial+final agg pass, one scalar row out.
    """
    v = F.col(value_col).cast("double")
    w = (F.col(weight_col) if isinstance(weight_col, str) else weight_col).cast(
        "double"
    )
    both = v.isNotNull() & w.isNotNull()
    out = F.sum(F.when(both, v * w)) / F.sum(F.when(both, w))
    if round_to is not None:
        out = F.round(out, round_to)
    return hits.agg(out.alias(name))


def rare_terms(
    hits_terms: DataFrame,
    *,
    max_doc_count: int = 1,
    size: int = 10,
    term_col: str = "term",
    doc_col: str = "doc_id",
) -> DataFrame:
    """ES ``rare_terms`` aggregation: the long tail — terms whose document
    frequency is ≤ ``max_doc_count``, ordered by doc_count ASCENDING (the
    fixed rare_terms order), term asc tiebreak.

    ES bounds memory with a CuckooFilter and documents the result as
    approximate; a distributed engine doesn't need the sketch — one exact
    distinct+count shuffle on term gives the true answer (the filter exists
    because ES reduces on ONE coordinator node).  Input is a (doc, term)
    frame; df = distinct docs per term, same semantics as the terms agg.
    """
    if max_doc_count < 1 or size < 1:
        raise ValueError("max_doc_count and size must be >= 1")
    return (
        hits_terms.select(term_col, doc_col)
        .distinct()
        .groupBy(F.col(term_col).alias("term"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .where(F.col("doc_count") <= max_doc_count)
        .orderBy(F.asc("doc_count"), F.asc("term"))
        .limit(size)
    )


def composite_page(
    hits: DataFrame,
    sources: list[tuple[str, Column]],
    *,
    size: int = 10,
    after: tuple | None = None,
    count_name: str = "doc_count",
) -> DataFrame:
    """ES ``composite`` aggregation: paginate ALL buckets of a multi-source
    key in deterministic (source1 asc, source2 asc, ...) order, ``size``
    buckets per page, resuming strictly AFTER the ``after`` cursor tuple.

    This is ES's scalable agg pagination (terms-agg ``size`` cannot page);
    the after-cursor predicate is a lexicographic strict-greater filter that
    prunes BEFORE the sort+limit, so deep pages cost the same shuffle as
    page one — the same reason ES designed composite around after-keys
    instead of from+size.  One groupBy shuffle on the composite key.
    """
    if not sources:
        raise ValueError("need at least one source")
    if after is not None and len(after) != len(sources):
        raise ValueError("after cursor arity must match sources")
    named = [(n, c.alias(n)) for n, c in sources]
    grouped = hits.groupBy(*[c for _, c in named]).agg(
        F.count(F.lit(1)).alias(count_name)
    )
    if after is not None:
        # lexicographic (k1, k2, ...) > (a1, a2, ...)
        pred = F.lit(False)
        eq = F.lit(True)
        for (n, _), a in zip(named, after):
            pred = pred | (eq & (F.col(n) > F.lit(a)))
            eq = eq & (F.col(n) == F.lit(a))
        grouped = grouped.where(pred)
    return grouped.orderBy(*[F.asc(n) for n, _ in named]).limit(size)


def geo_bounds(
    hits: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    *,
    round_to: int | None = None,
) -> DataFrame:
    """ES ``geo_bounds`` metric: the tight bounding box of the points —
    ``top_left (max lat, min lon)`` / ``bottom_right (min lat, max lon)``
    (non-wrapping; ES ``wrap_longitude=false`` semantics).

    One agg pass, one row out."""
    la, lo = F.col(lat_col).cast("double"), F.col(lon_col).cast("double")
    rnd = (lambda e: F.round(e, round_to)) if round_to is not None else (lambda e: e)
    return hits.agg(
        rnd(F.max(la)).alias("top_left_lat"),
        rnd(F.min(lo)).alias("top_left_lon"),
        rnd(F.min(la)).alias("bottom_right_lat"),
        rnd(F.max(lo)).alias("bottom_right_lon"),
    )


def geo_centroid(
    hits: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    *,
    round_to: int | None = None,
) -> DataFrame:
    """ES ``geo_centroid`` metric: arithmetic mean lat/lon + count.

    The reference plugin tracks exactly this per cluster cell
    (``GeoPointClusteringAggregator.java:125-143`` running mean /
    ``BucketReducer.java:41-46`` weighted combine); this is the standalone
    whole-hit-set version ES also ships.  avg() is the same partial-sum /
    final-divide shape as the plugin's reduce.  One agg pass."""
    la, lo = F.col(lat_col).cast("double"), F.col(lon_col).cast("double")
    rnd = (lambda e: F.round(e, round_to)) if round_to is not None else (lambda e: e)
    return hits.agg(
        rnd(F.avg(la)).alias("centroid_lat"),
        rnd(F.avg(lo)).alias("centroid_lon"),
        F.count(F.when(la.isNotNull() & lo.isNotNull(), 1)).alias("count"),
    )


def percentile_ranks(
    hits: DataFrame,
    col: str,
    values: list[float],
    *,
    round_to: int | None = None,
) -> DataFrame:
    """ES ``percentile_ranks``: for each requested value, the percentage of
    observed data ≤ that value → rows ``(value, percent)``.

    Exact linear-interpolation inverse of :func:`percentiles` (ES's own is
    t-digest-approximate; exact is the correctness-gate choice and the
    stronger answer when the hit set fits a shuffle).  Computed as one
    aggregation pass: count ≤ v and the total (ES HDR/t-digest rank
    definition; boundary interpolation differences between engines are
    avoided by the plain count-ratio definition, stated here explicitly).

    Scale: one partial+final agg with len(values) conditional counts —
    the same zero-data-shuffle shape as :func:`range_agg`.
    """
    vals = [float(v) for v in values]
    if not vals:
        raise ValueError("need at least one value")
    c = F.col(col).cast("double")
    aggs_ = [F.count(c).alias("_n")] + [
        F.coalesce(F.sum(F.when(c <= F.lit(v), 1)), F.lit(0))
        .cast("long")
        .alias(f"_le{i}")
        for i, v in enumerate(vals)
    ]
    one = hits.agg(*aggs_)
    pct = lambda i: F.col(f"_le{i}").cast("double") / F.col("_n") * 100.0  # noqa: E731
    rnd = (lambda e: F.round(e, round_to)) if round_to is not None else (lambda e: e)
    stacked = ", ".join(f"{sql.dbl(v)}, _p{i}" for i, v in enumerate(vals))
    proj = one.select(
        "*", *[rnd(pct(i)).alias(f"_p{i}") for i in range(len(vals))]
    )
    return proj.selectExpr(f"stack({len(vals)}, {stacked}) as (value, percent)")


def adjacency_matrix(
    hits: DataFrame,
    filters: dict[str, Column],
    *,
    separator: str = "&",
    key_name: str = "key",
    count_name: str = "doc_count",
) -> DataFrame:
    """ES ``adjacency_matrix`` aggregation: one bucket per named filter plus
    one per PAIR of filters counting docs matching both — n(n+1)/2 buckets
    for n filters, intersection keys joined with ``separator`` in sorted
    name order (``"a&b"``), exactly ES's key shape.

    Like ES, empty intersection buckets are DROPPED (ES only returns
    non-empty buckets here, unlike ``filters``); the singles are kept even
    when zero so callers see every requested filter.

    Scale: ALL n(n+1)/2 conditional counts evaluate in ONE partial+final
    aggregation pass over a single scan (ES evaluates the same matrix per
    shard collect); the unpivot is driver-free ``stack``.  ES caps n at 100
    (``index.max_adjacency_matrix_filters``) — same cap here, same reason:
    the bucket count is quadratic.
    """
    if not filters:
        raise ValueError("need at least one filter")
    if len(filters) > 100:
        raise ValueError("adjacency_matrix is capped at 100 filters (ES cap)")
    names = sorted(filters)
    cells: list[tuple[str, Column, bool]] = []
    for i, a in enumerate(names):
        cells.append((a, filters[a], True))
        for b in names[i + 1 :]:
            cells.append((f"{a}{separator}{b}", filters[a] & filters[b], False))
    one = hits.agg(
        *[
            F.coalesce(F.sum(F.when(cond, 1)), F.lit(0))
            .cast("long")
            .alias(f"_c{i}")
            for i, (_, cond, _) in enumerate(cells)
        ]
    )
    stack = ", ".join(f"{sql.string(k)}, _c{i}" for i, (k, _, _) in enumerate(cells))
    out = one.selectExpr(
        f"stack({len(cells)}, {stack}) as ({key_name}, {count_name})"
    )
    singles = {k for k, _, s in cells if s}
    return out.where(
        (F.col(count_name) > 0) | F.col(key_name).isin(*sorted(singles))
    )
