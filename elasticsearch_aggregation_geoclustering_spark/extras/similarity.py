"""Similarity search over embedding columns (``array<float>``).

Baseline: exact brute-force cosine top-k — a single whole-stage-codegen'd
projection (``zip_with`` dot product) plus ``TakeOrderedAndProject``; no
shuffle other than the final top-k reduction.  Scale path: random-hyperplane
LSH — per-row signature map, then candidates restricted to nearby buckets, so
a 10^9-vector corpus only scores the probed buckets instead of everything.

All float accumulation is float64 regardless of the (float32) storage type,
matching the DuckDB oracle's ::DOUBLE arithmetic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType


#: rp_band_near_pairs verifies candidate pairs by id-lookup against a
#: broadcast (id, vector) matrix when the corpus vector bytes fit under
#: this cap (the per-pair join otherwise ships both vectors per candidate
#: through Arrow — 2·|pairs|·dim floats, typically orders of magnitude
#: more).  Beyond the cap the join path runs — the 10⁹-vector shape.
BROADCAST_VERIFY_MAX_BYTES = 256 << 20


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_pairs_column(vec_a: Column, vec_b: Column) -> Column:
    """cosine(vec_a, vec_b) via an Arrow-batched numpy UDF.

    For pair-verification stages the candidate count is large and Spark
    evaluates higher-order-function lambdas interpreted, so the JVM
    ``aggregate(zip_with(...))`` dot product costs ~64 interpreted ops per
    dim per pair; one einsum per Arrow batch replaces all of it.  float64
    accumulation, same math as ``_dot`` up to summation association (the
    pairwise numpy sum differs from the sequential fold in the last ulp —
    callers compare at ≥1e-12 tolerance or round, as the oracles do).
    """
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        ma = np.array(a.tolist(), dtype=np.float64)
        mb = np.array(b.tolist(), dtype=np.float64)
        dots = np.einsum("ij,ij->i", ma, mb)
        na = np.sqrt(np.einsum("ij,ij->i", ma, ma))
        nb = np.sqrt(np.einsum("ij,ij->i", mb, mb))
        return pd.Series(dots / (na * nb))

    return _cos(vec_a, vec_b)


def cosine_to_query(vec: Column, query_vec: list[float]) -> Column:
    """Cosine(vec, query) as a pure JVM column expression."""
    q = np.asarray(query_vec, dtype=np.float64)
    qnorm = float(np.sqrt((q * q).sum()))
    qcol = F.array(*[F.lit(float(v)) for v in q])
    norm = F.sqrt(_dot(vec, vec))
    return _dot(vec, qcol) / (norm * F.lit(qnorm))


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact brute-force cosine top-k: ``(id, cosine)``, k rows.

    Plan: scan → projection (dot products, codegen) → TakeOrderedAndProject.
    The scan reads only (id, vec) — column pruning does the rest.  Ties break
    by id ascending (deterministic).
    """
    scored = df.select(
        F.col(id_col),
        cosine_to_query(F.col(vec_col), query_vec).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def cosine_near_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.95,
    block_col: str | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs ``(id_a, id_b, cosine)``, a < b.

    With ``block_col`` the join is an equi-join within blocks (the scale
    path: use an LSH bucket as the block); without it this is a cross join —
    only for small/test inputs.
    """
    base = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        *( [F.col(block_col).alias("block")] if block_col else [] ),
    )
    l, r = base.alias("l"), base.alias("r")
    conds = [F.col("l.vid") < F.col("r.vid")]
    if block_col:
        conds.append(F.col("l.block") == F.col("r.block"))
    cos = _dot(F.col("l.vec"), F.col("r.vec")) / (
        F.sqrt(_dot(F.col("l.vec"), F.col("l.vec")))
        * F.sqrt(_dot(F.col("r.vec"), F.col("r.vec")))
    )
    return (
        l.join(r, on=conds)
        .select(
            F.col("l.vid").alias("id_a"),
            F.col("r.vid").alias("id_b"),
            cos.alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


# --- random-hyperplane LSH (scale path) -----------------------------------


def rp_planes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes, shape (n_planes, dim)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def rp_signature_column(vec: Column, planes: np.ndarray) -> Column:
    """Sign-bit LSH signature as a long, via an Arrow-vectorized pandas UDF.

    The matrix product (batch × dim) @ (dim × planes) runs in numpy per Arrow
    batch — per-row Python never touches a vector.
    """
    planes_t = planes.T.copy()

    @F.pandas_udf(LongType())
    def _sig(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        mat = np.array(vs.tolist(), dtype=np.float64)
        bits = (mat @ planes_t) > 0
        weights = (1 << np.arange(planes_t.shape[1], dtype=np.int64))
        return pd.Series(bits.astype(np.int64) @ weights)

    return _sig(vec)


def rp_band_keys_column(vec: Column, planes: np.ndarray, bands: int) -> Column:
    """Per-band LSH keys as array<long>, one Arrow matmul per batch.

    Band keys are computed per band inside the UDF (reshape + per-band bit
    weights) so n_planes may exceed 64 — for n_planes ≤ 63 the values are
    identical to extracting ``(sig >> band*width) & mask`` from the packed
    ``rp_signature_column`` signature, which is what the SQL oracle does.
    Shared by ``rp_band_near_pairs`` and the banded persisted index so the
    two can never drift.
    """
    from pyspark.sql.types import ArrayType

    n_planes = planes.shape[0]
    width = n_planes // bands
    planes_t = planes.T.copy()
    band_weights = 1 << np.arange(width, dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def _band_keys(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(vs.tolist(), dtype=np.float64)
        bits = ((mat @ planes_t) > 0).astype(np.int64)  # (n, n_planes)
        keys = bits.reshape(len(mat), bands, width) @ band_weights  # (n, bands)
        return pd.Series(list(keys))

    return _band_keys(vec)


def rp_band_near_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.95,
    n_planes: int = 128,
    bands: int = 8,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Embedding near-duplicate pairs via banded RP-LSH blocking.

    Candidate pairs are those agreeing exactly on ≥1 signature band (one
    groupBy on ``(band, bits)`` with in-bucket pair expansion — never a
    cross join); candidates are then scored with the exact cosine and
    filtered by ``threshold``.

    Scale contract (what actually bounds the blow-up — the band grouping
    alone does NOT): per-band buckets are capped at ``max_bucket_size``
    members (``dedup._cap_buckets``' window count BEFORE the pair explosion,
    like ``dedup.minhash_lsh_pairs``), so a degenerate bucket — a
    mass-duplicate embedding cluster, or band keys too narrow for the
    corpus — is dropped rather than exploded quadratically.  The defaults
    (128 planes × 8 bands = 16-bit band keys, 65 536 values/band) keep
    uncorrelated buckets ~N/65 536; narrow test parameterizations (e.g. 16
    planes × 4 bands = 16 values/band) are recall-complete at small N but
    rely ENTIRELY on the cap at scale — never ship them uncapped.  Recall is
    tunable via bands/planes (more bands → higher recall, more candidates);
    dropped-bucket members simply produce no candidates, the standard LSH
    candidate-then-verify contract.

    Memory under narrow bands: the window count buffers one bucket at a
    time — ~N/2^width rows when the band keys are few — and spills to disk
    past Spark's window spill threshold
    (``spark.sql.windowExec.buffer.spill.threshold``), so a narrow
    parameterization costs spill, not executor memory.  The signature UDF
    runs once per vector: the band rows are read by one shuffle only.

    Signature bits use a FIXED plane set per (dim, n_planes, seed), so the
    DuckDB oracle reproduces the exact candidate set from the same constants.
    """
    if n_planes % bands:
        raise ValueError("n_planes must divide evenly into bands")
    width = n_planes // bands
    if width > 62:
        raise ValueError("band width must fit a long: n_planes/bands <= 62")
    first = df.select(vec_col).first()
    if first is None:  # empty input -> empty, well-typed pair frame
        return df.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
    dim = len(first[0])
    planes = rp_planes(dim, n_planes, seed)
    # band rows carry ONLY (vid, band, bits): the candidate shuffle never
    # carries a vector; vectors rejoin by uniform id after pair dedup.
    from .dedup import _bucket_pairs

    sigrows = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(rp_band_keys_column(F.col(vec_col), planes, bands)).alias(
            "band", "bits"
        ),
    )
    # groupBy + in-bucket explosion: the signature UDF lineage runs once (a
    # self-join would recompute it per join side)
    cand = _bucket_pairs(sigrows, ["band", "bits"], max_bucket_size).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    # verify: candidate pairs carry only IDS when the vector table fits an
    # executor broadcast — the per-pair join shape ships BOTH vectors per
    # candidate through Arrow (2 · |cand| · dim · 4 B; measured 240 MB for
    # 473k pairs at dim 64, dominating the operator), while the id-lookup
    # UDF gathers rows from one broadcast matrix (|corpus| · dim · 8 B
    # once).  Same einsum over the same float64 rows → identical doubles.
    # Oversized corpora keep the join: broadcast side scales with the
    # corpus, candidates with the (bucket-capped) pair count.
    if df.count() * dim * 8 <= BROADCAST_VERIFY_MAX_BYTES:
        id_vec = df.select(F.col(id_col).cast("long"), vec_col).collect()
        order = np.argsort(np.array([r[0] for r in id_vec], dtype=np.int64))
        ids_sorted = np.array([id_vec[i][0] for i in order], dtype=np.int64)
        mat = np.array([id_vec[i][1] for i in order], dtype=np.float64)
        norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
        bc = df.sparkSession.sparkContext.broadcast((ids_sorted, mat, norms))
        from pyspark.sql.types import DoubleType

        @F.pandas_udf(DoubleType())
        def _cos_lookup(a: pd.Series, b: pd.Series) -> pd.Series:
            idv, m, nn = bc.value
            if len(a) == 0:
                return pd.Series(np.empty(0, dtype=np.float64))
            ia = np.searchsorted(idv, a.to_numpy(np.int64))
            ib = np.searchsorted(idv, b.to_numpy(np.int64))
            va, vb = m[ia], m[ib]
            dots = np.einsum("ij,ij->i", va, vb)
            # same expression shape as cosine_pairs_column: dots / (na * nb)
            return pd.Series(dots / (nn[ia] * nn[ib]))

        return cand.select(
            "id_a", "id_b", _cos_lookup(F.col("id_a"), F.col("id_b")).alias("cosine")
        ).where(F.col("cosine") >= threshold)

    vecs = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    pairs = (
        cand.join(vecs.select(F.col("vid").alias("id_a"), F.col("vec").alias("vec_a")), on="id_a")
        .join(vecs.select(F.col("vid").alias("id_b"), F.col("vec").alias("vec_b")), on="id_b")
    )
    # Arrow-batched verify: one einsum per batch beats the interpreted
    # per-dim HOF fold ~10x
    cos = cosine_pairs_column(F.col("vec_a"), F.col("vec_b"))
    return pairs.select("id_a", "id_b", cos.alias("cosine")).where(
        F.col("cosine") >= threshold
    )


def rp_lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    *,
    n_planes: int = 16,
    seed: int = 42,
    max_probe_hamming: int = 2,
) -> DataFrame:
    """Approximate cosine top-k: score only vectors whose LSH bucket is
    within ``max_probe_hamming`` bits of the query's bucket.

    At scale the bucket filter prunes the scan to ~C(n_planes, probe)/2^n of
    the corpus; recall rises with probe distance (exactness is recovered at
    ``max_probe_hamming = n_planes``).
    """
    q = np.asarray(query_vec, dtype=np.float64)
    planes = rp_planes(len(q), n_planes, seed)
    qsig = int(((planes @ q) > 0).astype(np.int64) @ (1 << np.arange(n_planes, dtype=np.int64)))
    sigs = df.select(
        F.col(id_col),
        F.col(vec_col),
        rp_signature_column(F.col(vec_col), planes).alias("_sig"),
    )
    probed = sigs.where(
        F.bit_count(F.col("_sig").bitwiseXOR(F.lit(qsig))) <= max_probe_hamming
    )
    return cosine_topk(probed, id_col, vec_col, query_vec, k)


def build_signature_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_dir: str,
    *,
    n_planes: int = 16,
    seed: int = 42,
    bands: int | None = None,
) -> None:
    """Persist the RP-LSH signature table ``(vec_id, sig)`` once (parquet).

    ``rp_lsh_topk`` recomputes the signature UDF over the whole corpus per
    query — fine for one ad-hoc probe, wasteful for a query workload.  The
    signature table is tiny (16 bytes/row), deterministic for a fixed
    (dim, n_planes, seed) — rebuilding yields value-identical rows — and
    sorted by sig so a probe's ``bit_count(xor) <= h`` scan benefits from
    row-group min/max locality on nearby buckets.  Plane metadata rides in
    a sidecar so probes can't silently mix plane sets.

    ``bands=B`` additionally persists the BANDED layout ``bands/`` —
    (band, bits, vec_id) sorted by (band, bits), the ``rp_band_near_pairs``
    key space — probed by ``rp_band_topk_indexed`` with per-band EQUALITY
    (an OR of B pushed equality filters over the sorted columns, so parquet
    row-group stats prune the scan).  Multi-band equality is the
    recall-at-10⁹ shape: a near neighbor only has to agree on ONE of B
    narrow keys, instead of landing within a hamming ball of the single
    packed signature, which pays per-candidate recall strictly better than
    the hamming probe at the same candidate budget
    (tests/test_signature_index.py measures both).  With bands set,
    ``n_planes`` may exceed 62 (band keys are per-band longs); the packed
    ``signatures/`` table is then written only when it still fits a long.
    """
    import json
    import os

    if bands is not None and n_planes % bands:
        raise ValueError("n_planes must divide evenly into bands")
    first = df.select(vec_col).first()
    dim = 0 if first is None else len(first[0])
    planes = rp_planes(dim, n_planes, seed) if dim else None
    if n_planes <= 62:
        sigs = df.select(
            F.col(id_col).alias("vec_id"),
            (
                rp_signature_column(F.col(vec_col), planes)
                if dim
                else F.lit(0).cast("long")
            ).alias("sig"),
        )
        # sortWithinPartitions, not a global sort: each output file is
        # sig-sorted (row-group min/max stay tight) and the hamming probe's
        # bit_count(xor) predicate is not range-prunable anyway, so global
        # file disjointness buys nothing — while a global sort's range
        # exchange adds a boundary-SAMPLING job that re-runs the signature
        # UDF over the whole corpus (3 evaluations per build instead of 1)
        sigs.sortWithinPartitions("sig", "vec_id").write.mode("overwrite").parquet(
            os.path.join(out_dir, "signatures")
        )
    elif bands is None:
        raise ValueError("n_planes > 62 requires the banded layout (bands=...)")
    if bands is not None:
        brows = df.select(
            F.col(id_col).alias("vec_id"),
            F.posexplode(
                rp_band_keys_column(F.col(vec_col), planes, bands)
                if dim
                else F.array().cast("array<long>")
            ).alias("band", "bits"),
        )
        # hash exchange on the band index (B distinct values — no sampling
        # job re-running the band-key UDF, unlike repartitionByRange); files
        # stay (band, bits)-sorted within, so the equality probes still
        # prune by row-group min/max stats
        brows.repartition(max(1, bands), "band").sortWithinPartitions(
            "band", "bits", "vec_id"
        ).write.mode("overwrite").parquet(os.path.join(out_dir, "bands"))
    meta = {"n_planes": n_planes, "seed": seed, "dim": dim, "bands": bands}
    with open(os.path.join(out_dir, "meta.json"), "w") as fh:
        json.dump(meta, fh, sort_keys=True)


def rp_lsh_topk_indexed(
    spark,
    index_dir: str,
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    *,
    max_probe_hamming: int = 2,
) -> DataFrame:
    """``rp_lsh_topk`` against a prebuilt signature index: per query, scan
    ONLY the (vec_id, sig) parquet (no signature UDF), then join the
    surviving candidate ids back to the vector table for exact scoring.

    The candidate set after the hamming probe is ~C(n_planes, h)/2^n of the
    corpus, so the join's small side is broadcast and the big vector scan
    stays id-pruned (at 10^9+ vectors, bucket-partition the vector table by
    id so the join prunes files too).  Results are identical to rp_lsh_topk
    with the same constants (pinned by tests).
    """
    import json
    import os

    with open(os.path.join(index_dir, "meta.json")) as fh:
        meta = json.load(fh)
    q = np.asarray(query_vec, dtype=np.float64)
    if meta["dim"] and meta["dim"] != len(q):
        raise ValueError(f"query dim {len(q)} != indexed dim {meta['dim']}")
    planes = rp_planes(len(q), meta["n_planes"], meta["seed"])
    qsig = int(
        ((planes @ q) > 0).astype(np.int64)
        @ (1 << np.arange(meta["n_planes"], dtype=np.int64))
    )
    sigs = spark.read.parquet(os.path.join(index_dir, "signatures"))
    cand = sigs.where(
        F.bit_count(F.col("sig").bitwiseXOR(F.lit(qsig))) <= max_probe_hamming
    ).select(F.col("vec_id").alias("_cand_id"))  # avoid clashing with id_col
    probed = vectors.join(
        F.broadcast(cand), on=F.col(id_col) == F.col("_cand_id"), how="inner"
    ).select(id_col, vec_col)
    return cosine_topk(probed, id_col, vec_col, query_vec, k)


def rp_lsh_topk_indexed_batch(
    spark,
    index_dir: str,
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    query_vecs: list[list[float]],
    k: int = 10,
    *,
    max_probe_hamming: int = 2,
) -> DataFrame:
    """A whole probe batch in ONE job: (query_id, vec_id, cosine), ≤ k rows
    per query — per-query results identical to ``rp_lsh_topk_indexed``.

    Per-query execution pays a full Spark job per probe (the latency driver
    for a query workload).  Here the query signatures fold into ONE literal
    array; each signature row filters that array with a JVM higher-order
    ``filter`` (Q comparisons per row, Q = batch size ≤ tens) and explodes
    ONLY its matches — so the signature table scans once and the explode
    emits just the (vec, query) candidate pairs.  Candidates broadcast-join
    back to the vector table once, exact cosines come from one Arrow einsum
    per batch against the stacked query matrix, and a per-query window
    row_number takes each top-k (parallelism = batch size; salt it for
    batch × corpus products beyond that).
    """
    import json
    import os

    from pyspark.sql.types import DoubleType

    empty = spark.createDataFrame([], "query_id int, vec_id long, cosine double")
    if not query_vecs:
        return empty
    with open(os.path.join(index_dir, "meta.json")) as fh:
        meta = json.load(fh)
    qm = np.asarray(query_vecs, dtype=np.float64)  # (Q, dim)
    if meta["dim"] and meta["dim"] != qm.shape[1]:
        raise ValueError(f"query dim {qm.shape[1]} != indexed dim {meta['dim']}")
    planes = rp_planes(qm.shape[1], meta["n_planes"], meta["seed"])
    weights = 1 << np.arange(meta["n_planes"], dtype=np.int64)
    qsigs = (((qm @ planes.T) > 0).astype(np.int64) @ weights).tolist()

    qarr = F.array(
        *[
            F.struct(F.lit(i).alias("qid"), F.lit(int(s)).alias("qsig"))
            for i, s in enumerate(qsigs)
        ]
    )
    sigs = spark.read.parquet(os.path.join(index_dir, "signatures"))
    matches = F.filter(
        qarr,
        lambda q: F.bit_count(F.col("sig").bitwiseXOR(q["qsig"]))
        <= F.lit(max_probe_hamming),
    )
    cand = (
        sigs.select(F.col("vec_id").alias("_cand_id"), F.explode(matches).alias("_q"))
        .select("_cand_id", F.col("_q.qid").alias("query_id"))
    )
    pairs = vectors.join(
        F.broadcast(cand), on=F.col(id_col) == F.col("_cand_id"), how="inner"
    ).select(F.col(id_col).alias("vec_id"), "query_id", vec_col)

    qnorms = np.sqrt(np.einsum("ij,ij->i", qm, qm))

    @F.pandas_udf(DoubleType())
    def _cos_to_query(vs: pd.Series, qids: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        mat = np.array(vs.tolist(), dtype=np.float64)
        qi = qids.to_numpy(np.int64)
        dots = np.einsum("ij,ij->i", mat, qm[qi])
        norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
        return pd.Series(dots / (norms * qnorms[qi]))

    scored = pairs.select(
        "query_id", "vec_id", _cos_to_query(F.col(vec_col), F.col("query_id")).alias("cosine")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select("query_id", "vec_id", "cosine")
    )


def rp_band_topk_indexed(
    spark,
    index_dir: str,
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Approximate cosine top-k against the BANDED persisted index.

    Candidates are vectors agreeing with the query on ≥ 1 of the index's B
    band keys: the probe is an OR of B ``(band = i AND bits = key_i)``
    equality filters over the (band, bits)-sorted bands table — every
    disjunct prunes by parquet row-group min/max stats, so the scan touches
    ~B · bucket_size rows, never the corpus.  The surviving candidate ids
    broadcast-join back to the vector table for exact scoring (same contract
    as ``rp_lsh_topk_indexed``; at 10⁹+ vectors bucket-partition the vector
    table by id so the join prunes files too).

    Versus the single-signature hamming probe, multi-band equality buys
    strictly better recall per candidate at scale: a near neighbor need only
    survive ONE narrow band intact, rather than keep its TOTAL bit error
    across the whole packed signature under h.
    """
    import json
    import os

    with open(os.path.join(index_dir, "meta.json")) as fh:
        meta = json.load(fh)
    bands = meta.get("bands")
    if not bands:
        raise ValueError(
            "index was built without the banded layout — rebuild with "
            "build_signature_index(..., bands=B) for band probes"
        )
    q = np.asarray(query_vec, dtype=np.float64)
    if meta["dim"] and meta["dim"] != len(q):
        raise ValueError(f"query dim {len(q)} != indexed dim {meta['dim']}")
    planes = rp_planes(len(q), meta["n_planes"], meta["seed"])
    width = meta["n_planes"] // bands
    bits = ((planes @ q) > 0).astype(np.int64)
    weights = 1 << np.arange(width, dtype=np.int64)
    qkeys = bits.reshape(bands, width) @ weights
    brows = spark.read.parquet(os.path.join(index_dir, "bands"))
    probe = None
    for i, key in enumerate(qkeys):
        clause = (F.col("band") == i) & (F.col("bits") == int(key))
        probe = clause if probe is None else (probe | clause)
    cand = brows.where(probe).select(F.col("vec_id").alias("_cand_id")).distinct()
    probed = vectors.join(
        F.broadcast(cand), on=F.col(id_col) == F.col("_cand_id"), how="inner"
    ).select(id_col, vec_col)
    return cosine_topk(probed, id_col, vec_col, query_vec, k)


def build_ivf_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_dir: str,
    *,
    n_lists: int = 16,
    kmeans_rounds: int = 0,
) -> None:
    """Persist an IVF-flat index: vectors bucketed by nearest coarse center.

    The second scale path next to RP-LSH: at probe time only ``nprobe`` of
    the ``n_lists`` inverted lists are scanned (~nprobe/n_lists of the
    corpus), and each list row CARRIES its vector, so probes never join
    back to the corpus table at all — the classic IVF-flat layout.

    Coarse-center SEEDS are the ``n_lists`` corpus vectors with the
    SMALLEST ids — a deterministic, SQL-reproducible choice (ids carry no
    spatial meaning, so this is random-vector center seeding, the standard
    IVF baseline).  ``kmeans_rounds > 0`` then runs that many DETERMINISTIC
    Lloyd rounds to balance the lists on clustered corpora (where id-order
    seeding can drop every seed into one cluster and a probe degenerates to
    a corpus scan): each round assigns every vector to its nearest center
    (Arrow matmul, same UDF as the final assignment), recomputes centers as
    the per-list elementwise mean via explode → groupBy(list, dim) — the
    only driver materialization is the n_lists × dim center matrix (tiny at
    any corpus size) — and keeps its previous center for an emptied list.
    No randomness anywhere ⇒ the same corpus always yields the same index
    (the property every oracle in this repo leans on).

    Assignment = argmin cosine distance to the centers (ties → smallest
    center index), computed in one Arrow matmul per batch.  Layout:
    ``lists/`` parquet (list_id, vec_id, vec) range-partitioned and sorted
    by list_id so a probe's ``list_id IN (...)`` prunes at row-group level;
    ``centers/`` parquet holds (cid = list index, cvec) for probe-time
    scoring; ``ivf_list_stats`` reads back the realized list sizes so
    balance is a measured property, not a hope.
    """
    import os

    centers = (
        df.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        .orderBy("cid")
        .limit(n_lists)
        .collect()
    )
    if not centers:
        raise ValueError("cannot build an IVF index over an empty corpus")
    if kmeans_rounds < 0:
        raise ValueError(f"kmeans_rounds must be >= 0: {kmeans_rounds}")
    cmat = np.array([r["cvec"] for r in centers], dtype=np.float64)

    from pyspark.sql.types import IntegerType

    def _assign_udf(center_mat: np.ndarray):
        cm = center_mat
        cn = np.sqrt(np.einsum("ij,ij->i", cm, cm))

        @F.pandas_udf(IntegerType())
        def _assign(vs: pd.Series) -> pd.Series:
            if len(vs) == 0:
                return pd.Series(np.empty(0, dtype=np.int32))
            mat = np.array(vs.tolist(), dtype=np.float64)
            norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
            cos = (mat @ cm.T) / (norms[:, None] * cn[None, :])
            # argmin of cosine DISTANCE = argmax cosine; numpy takes the
            # first (= smallest center index)
            return pd.Series(np.argmax(cos, axis=1).astype(np.int32))

        return _assign

    for _ in range(kmeans_rounds):
        # one distributed job per round: assign → per-(list, dim) mean; the
        # collect is n_lists × dim scalars, independent of corpus size
        assigned = df.select(
            _assign_udf(cmat)(F.col(vec_col)).alias("list_id"),
            F.col(vec_col).alias("vec"),
        )
        mean_rows = (
            assigned.select("list_id", F.posexplode("vec").alias("dim", "val"))
            .groupBy("list_id", "dim")
            .agg(F.avg("val").alias("mu"))
            .collect()
        )
        new = cmat.copy()  # emptied lists keep their previous center
        for r in mean_rows:
            new[r["list_id"], r["dim"]] = r["mu"]
        if np.array_equal(new, cmat):
            break  # Lloyd fixpoint — further rounds are no-ops
        cmat = new

    rows = df.select(
        _assign_udf(cmat)(F.col(vec_col)).alias("list_id"),
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
    )
    # hash exchange on list_id: repartitionByRange's boundary-sampling job
    # re-ran the Arrow assignment UDF over the ENTIRE corpus a second time;
    # hash placement needs no sampling, and the within-partition sort keeps
    # files list_id-sorted so the probe's ``list_id IN`` still prunes at
    # row-group level
    rows.repartition(max(1, n_lists // 4), "list_id").sortWithinPartitions(
        "list_id", "vec_id"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "lists"))
    spark = df.sparkSession
    spark.createDataFrame(
        [(int(i), [float(x) for x in cmat[i]]) for i in range(cmat.shape[0])],
        "cid long, cvec array<double>",
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "centers"))
    import json

    with open(os.path.join(out_dir, "meta.json"), "w") as fh:
        json.dump(
            {
                "n_lists": n_lists,
                "kind": "ivf_flat",
                "kmeans_rounds": kmeans_rounds,
            },
            fh,
            sort_keys=True,
        )


def ivf_list_stats(spark, index_dir: str) -> DataFrame:
    """Realized IVF list sizes: (list_id, n_vecs) — the balance
    observability the 100-TB framing needs (a probe's cost is the sizes of
    the lists it touches, so a skewed build should be VISIBLE, not
    discovered at query time).  One pruned aggregate over the lists
    parquet; empty lists are absent (size 0)."""
    import os

    lists = spark.read.parquet(os.path.join(index_dir, "lists"))
    return (
        lists.groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .orderBy("list_id")
    )


def ivf_topk(
    spark,
    index_dir: str,
    query_vec: list[float],
    k: int = 10,
    *,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate cosine top-k against an IVF-flat index: (vec_id, cosine).

    Driver-side: score the query against the ≤ n_lists centers (tiny
    collect, cached parquet) and pick the ``nprobe`` nearest lists (ties →
    smaller center index).  Executor-side: ONE scan of the lists parquet
    with ``list_id IN (...)`` pushed to row-group stats — ~nprobe/n_lists
    of the corpus — then exact cosine + TakeOrderedAndProject.  With
    ``nprobe = n_lists`` results equal the brute-force top-k exactly.
    """
    import json
    import os

    with open(os.path.join(index_dir, "meta.json")) as fh:
        meta = json.load(fh)
    if meta.get("kind") != "ivf_flat":
        raise ValueError(f"not an IVF index: {index_dir}")
    centers = spark.read.parquet(os.path.join(index_dir, "centers")).orderBy("cid").collect()
    cmat = np.array([r["cvec"] for r in centers], dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    if cmat.shape[1] != q.size:
        raise ValueError(f"query dim {q.size} != indexed dim {cmat.shape[1]}")
    cos = (cmat @ q) / (
        np.sqrt(np.einsum("ij,ij->i", cmat, cmat)) * np.sqrt(q @ q)
    )
    probe = np.argsort(-cos, kind="stable")[: max(1, nprobe)]
    lists = spark.read.parquet(os.path.join(index_dir, "lists"))
    cand = lists.where(F.col("list_id").isin([int(i) for i in probe]))
    return cosine_topk(cand, "vec_id", "vec", query_vec, k)
