"""Deduplication operators for large-scale training-data pipelines.

These extend the engine beyond the reference plugin's surface (SURVEY.md §2.3
notes the reference has none of these) with the dedup family a 100 TB corpus
pipeline needs: exact, MinHash+LSH, SimHash, and n-gram Jaccard.  Every op
is a pure DataFrame transform whose only shuffles are the keyed
groupBys/joins noted in each docstring.  The per-document fingerprints
(MinHash signatures, SimHash) are computed in Python, one numpy/hashlib pass
per Arrow batch (``mapInPandas``): Spark evaluates the higher-order-function
lambdas an expression twin would need interpreted, outside whole-stage
codegen, and the batched pass beats them.  Everything after the fingerprint
— banding, bucket caps, in-bucket pair expansion, hamming and Jaccard — is
JVM SQL.

Determinism: all hashes derive from ``md5`` of the value (identical across
Spark, DuckDB and Python), and the MinHash permutations are fixed integer
``(a, b)`` pairs from a seeded generator — so the DuckDB oracle in
``__spark_entry__.py`` reproduces every output bit-for-bit.

Scale notes (1000-executor / 100 TB framing):

* exact dedup: one shuffle keyed by a 128-bit content hash — uniformly
  distributed by construction, no skew possible.
* MinHash signatures: per-row map work only (no shuffle); the LSH
  candidate-pair groupBy shuffles on ``(band, band_key)`` — band keys are
  md5s, uniform unless true duplicate clusters exist, which is exactly the
  data reduction we want.  Giant duplicate clusters are capped by
  ``max_bucket_size`` to avoid quadratic pair blow-up on degenerate buckets.
* SimHash: per-row map only — the 60 per-bit votes are summed per document
  inside the Arrow batch, so the fingerprint needs no shuffle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.tokenizer import tokenize_column

#: modulus for the MinHash universal-hash family: fits (a*(h%P)+b) in int64
MINHASH_PRIME = 1_000_000_007

#: simhash width: 60 bits (from 15 hex chars of md5 — sign-safe in int64)
SIMHASH_BITS = 60

DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4
DEFAULT_SHINGLE_K = 3

#: ngram_jaccard_pairs_minhash verifies candidate pairs against a BROADCAST
#: {doc_id: shingle-hash array} when the total shingle bytes fit under this
#: cap — the melted-join shape otherwise shuffles every candidate pair's TWO
#: sets through a join + ObjectHashAggregate (measured ~2.5 GB for 800k
#: candidates at ~200 shingles/doc).  Beyond the cap the melt path runs
#: (the corpus-scale shape, where sets cannot broadcast).
SET_LOOKUP_MAX_BYTES = 256 << 20

#: min-label propagation rounds connected_components runs before it falls
#: back to star contraction: near-duplicate graphs are near-cliques of
#: diameter 2-3, so a graph still changing after this many is chain-like
_PROPAGATION_ROUNDS = 8


def minhash_coefficients(num_hashes: int = DEFAULT_NUM_HASHES, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family.

    a in [1, P), b in [0, P); the same list parameterizes the SQL oracle.
    """
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MINHASH_PRIME, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, MINHASH_PRIME, size=num_hashes, dtype=np.int64)
    return list(zip(a.tolist(), b.tolist()))


def word_shingles(tokens: Column, k: int = DEFAULT_SHINGLE_K) -> Column:
    """Distinct k-word shingles of a token array (JVM-side, no UDF).

    Built by zipping the array with its own shifted slices rather than
    indexing the array inside a lambda: an outer-column reference inside a
    higher-order-function lambda is re-evaluated PER ELEMENT by Spark (the
    whole upstream tokenize expression would run once per shingle), whereas
    ``slice``/``zip_with`` evaluate their inputs once per row.
    """
    if k == 1:
        return F.array_distinct(tokens)
    big = F.lit(2_000_000_000)
    joined = tokens
    for j in range(1, k):
        shifted = F.slice(tokens, j + 1, big)
        joined = F.zip_with(joined, shifted, lambda a, b: F.concat_ws(" ", a, b))
    # zip_with pads the shorter side with null -> concat_ws skipped nothing,
    # so the trailing (k-1) entries are partial shingles: cut them off
    joined = F.slice(joined, 1, F.greatest(F.size(tokens) - F.lit(k - 1), F.lit(0)))
    return F.array_distinct(joined)


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: one row per distinct content hash.

    Returns ``(content_md5, keeper_id, n_dups)`` where ``keeper_id`` is the
    smallest id in the group.  One shuffle keyed by md5 (uniform, no skew).
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_md5"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep exactly one row (min id) per distinct content. Two-shuffle plan:
    hash-agg for keepers, then a broadcast-able semi-join back to the rows."""
    keepers = exact_dup_groups(df, text_col, id_col).select(
        F.col("keeper_id").alias(id_col)
    )
    return df.join(keepers, on=id_col, how="left_semi")


def _minhash_arrow_fn(
    coeffs: list[tuple[int, int]],
    text_col: str,
    id_col: str,
    shingle_k: int,
    with_sets: bool = False,
):
    """mapInPandas minhash: tokenize → distinct shingles → md5 → fold, all
    numpy/hashlib per Arrow batch.  Distinct shingles are hashed ONCE per
    batch (template-heavy corpora repeat shingles heavily), and the 16 mins
    come from np.minimum.reduceat over per-doc segments — no per-row Python
    beyond the tokenizer itself.  ``with_sets`` adds the distinct shingle
    set as an ``sset`` column of the 60-bit md5 shingle HASHES (the same
    values the signature permutations consume, first-occurrence order) so
    candidate-then-verify pipelines can persist ONE frame instead of
    replaying the tokenize lineage per consumer.  Hashes, not strings:
    Jaccard over distinct-shingle hashes equals Jaccard over the shingles
    themselves (md5-60bit collisions are ~1e-13 per pair), and an
    array<long> column is several times cheaper than array<string> through
    Arrow, the persist, and the set-intersection comparators."""
    import hashlib

    import numpy as np
    import pandas as pd

    from ..functions.tokenizer import tokenize_pandas

    a = np.array([c[0] for c in coeffs], dtype=np.int64)
    b = np.array([c[1] for c in coeffs], dtype=np.int64)
    p = np.int64(MINHASH_PRIME)

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            tokens = tokenize_pandas(pdf[text_col])
            doc_shingles: list[list[str]] = []
            for toks in tokens:
                if shingle_k == 1:
                    sh = list(dict.fromkeys(toks))
                else:
                    sh = list(
                        dict.fromkeys(
                            " ".join(toks[i : i + shingle_k])
                            for i in range(len(toks) - shingle_k + 1)
                        )
                    )
                doc_shingles.append(sh)
            counts = np.array([len(s) for s in doc_shingles], dtype=np.int64)
            keep = counts > 0
            if not keep.any():
                continue
            flat = [s for sh in doc_shingles for s in sh]
            uniq, inv = np.unique(np.array(flat, dtype=object), return_inverse=True)
            hv = np.fromiter(
                (
                    int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                    for s in uniq
                ),
                dtype=np.int64,
                count=len(uniq),
            )
            hmod = hv[inv] % p  # per-occurrence reduced hash
            perms = (a[None, :] * hmod[:, None] + b[None, :]) % p  # (n_occ, H)
            starts = np.concatenate(([0], np.cumsum(counts[keep])[:-1]))
            sigs = np.minimum.reduceat(perms, starts, axis=0)
            out = pd.DataFrame(
                {
                    "doc_id": pdf[id_col].to_numpy()[keep],
                    "sig": [row.tolist() for row in sigs],
                }
            )
            if with_sets:
                occ = hv[inv]
                cum = np.cumsum(counts)
                out["sset"] = [
                    occ[c - n : c].tolist()
                    for c, n, k in zip(cum, counts, keep)
                    if k
                ]
            yield out

    return run


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_k: int = DEFAULT_SHINGLE_K,
    seed: int = 42,
) -> DataFrame:
    """Per-document MinHash signature: ``(doc_id, sig: array<long>)``.

    Pure map work, zero shuffles: numpy/hashlib inside mapInPandas —
    distinct shingles hashed once per batch, mins via one reduceat.  Docs
    with no shingle (fewer than ``shingle_k`` tokens) are dropped, matching
    the DuckDB oracle (``oracles_sql.minhash_signature_sql``), which
    tests/test_skew_salting.py pins bit for bit.
    """
    coeffs = minhash_coefficients(num_hashes, seed)
    return df.select(id_col, text_col).mapInPandas(
        _minhash_arrow_fn(coeffs, text_col, id_col, shingle_k),
        "doc_id long, sig array<long>",
    )


def lsh_bands(
    sig_df: DataFrame, *, bands: int = DEFAULT_BANDS, num_hashes: int = DEFAULT_NUM_HASHES
) -> DataFrame:
    """Explode signatures into ``(band, band_key, doc_id)`` bucket rows.

    band_key = md5 of the band's slice of the signature — uniform across
    non-duplicate docs, so the downstream join shuffles evenly.
    """
    rows_per_band = num_hashes // bands
    band_rows = ", ".join(
        "named_struct('band', {bi}, 'band_key', md5(concat_ws(',', {cols})))".format(
            bi=bi,
            cols=", ".join(
                f"CAST(element_at(sig, {bi * rows_per_band + j + 1}) AS STRING)"
                for j in range(rows_per_band)
            ),
        )
        for bi in range(bands)
    )
    # SQL text: one py4j call instead of one per expression node
    return sig_df.selectExpr("doc_id", f"inline(array({band_rows}))")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = DEFAULT_SHINGLE_K,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs ``(doc_a, doc_b)``, doc_a < doc_b.

    Plan: signature map → band explode → groupBy (band, band_key) with
    in-bucket pair expansion → distinct.  The groupBy shuffles on uniform
    md5 band keys; buckets larger than ``max_bucket_size`` (degenerate
    mass-duplicate clusters) are dropped to bound the quadratic pair
    expansion — at 100 TB a single 1M-copy boilerplate file must not produce
    10^12 pairs.
    """
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes=num_hashes, shingle_k=shingle_k, seed=seed
    )
    buckets = lsh_bands(sigs, bands=bands, num_hashes=num_hashes)
    return _bucket_pairs(buckets, ["band", "band_key"], max_bucket_size)


def dropped_bucket_stats(
    buckets: DataFrame, bucket_cols: list[str], max_bucket_size: int
) -> DataFrame:
    """The buckets a ``max_bucket_size`` cap would DROP: (bucket_cols…, n).

    Pair generators drop oversized buckets silently by design (the standard
    LSH candidate-then-verify contract: a degenerate mass-duplicate bucket
    would explode O(n²)); this makes the truncation observable — audit with
    ``.count()`` or collect the offending keys.  Runs the same groupBy the
    pair generator's window cap uses, so the answer is exact.
    """
    sizes = buckets.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("n"))
    return sizes.where(F.col("n") > max_bucket_size)


def _bucket_pairs(
    buckets: DataFrame, bucket_cols: list[str], max_bucket_size: int | None
) -> DataFrame:
    """Distinct ``(doc_a, doc_b)`` pairs co-bucketed by ``bucket_cols``.

    ONE pass over the bucket rows (cap filter → collect the
    ≤ max_bucket_size member ids) followed by an in-bucket pair explosion —
    instead of a self-equi-join, which costs three full recomputations of
    the upstream lineage (the bucket-size filter plus both join sides; Spark
    only reuses exchanges for physically identical subplans).  The cap is
    applied BEFORE collect_list, so a degenerate mass-duplicate bucket never
    materializes an unbounded in-memory array.  The in-bucket expansion is
    O(k²) array work per bucket, bounded by the cap.  The cap itself is
    ``_cap_buckets``' window count, which shares the groupBy's hash
    partitioning: one shuffle in all.
    """
    if max_bucket_size is not None:
        buckets = _cap_buckets(buckets, bucket_cols, max_bucket_size)
    groups = (
        buckets.groupBy(*bucket_cols)
        .agg(F.expr("array_sort(collect_list(doc_id)) AS ids"))
        .where("size(ids) >= 2")
    )
    return _pairs_within(groups, "ids").selectExpr(
        "CAST(a AS BIGINT) AS doc_a", "CAST(b AS BIGINT) AS doc_b"
    ).distinct()


def _cap_buckets(rows: DataFrame, bucket_cols: list[str], max_bucket_size: int) -> DataFrame:
    """Drop the rows of buckets with more than ``max_bucket_size`` members
    (a window count sharing the downstream groupBy's hash partitioning).

    Memory: the window buffers one bucket at a time, and spills to disk
    once a bucket passes Spark's window spill threshold
    (``spark.sql.windowExec.buffer.spill.threshold``).  Under narrow LSH
    bands — few distinct keys, so each bucket holds ~N/2^width rows — that
    one bucket is the largest buffer the operator holds, and it spills
    rather than exhausting the executor."""
    keys = ", ".join(f"`{c}`" for c in bucket_cols)
    return (
        rows.withColumn("_n", F.expr(f"count(1) OVER (PARTITION BY {keys})"))
        .where(f"_n <= {int(max_bucket_size)}")
        .drop("_n")
    )


def _pairs_within(groups: DataFrame, members: str) -> DataFrame:
    """Every (a, b) pair of the ``members`` array's elements with b at a
    later array position than a — the upper triangle, in the JVM.

    Two generators: ``posexplode`` gives each element with its position,
    then ``explode`` of the slice after that position gives its partners.
    Kept out of Python on purpose: a Python worker stage has a fixed cost
    of ~0.2-0.3 s a task on a 4-CPU local[4] host (worker hand-off and
    import-cache invalidation), far more than the expansion of
    bucket-capped arrays costs here.
    """
    return groups.selectExpr(members, f"posexplode({members}) AS (pa, a)").selectExpr(
        "a", f"explode(slice({members}, pa + 2, size({members}))) AS b"
    )


def _simhash_arrow_fn(text_col: str, id_col: str):
    """mapInPandas simhash: tokenize → distinct tokens → md5 (once per
    distinct string per batch) → ±1 bit-vote matrix → reduceat per doc.
    Map-only: the fingerprint never needs a shuffle at all."""
    import hashlib

    import numpy as np
    import pandas as pd

    from ..functions.tokenizer import tokenize_pandas

    bit_shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            tokens = tokenize_pandas(pdf[text_col])
            per_doc = [list(dict.fromkeys(t)) for t in tokens]
            counts = np.array([len(t) for t in per_doc], dtype=np.int64)
            keep = counts > 0
            if not keep.any():
                continue
            flat = [t for toks in per_doc for t in toks]
            uniq, inv = np.unique(np.array(flat, dtype=object), return_inverse=True)
            hv = np.fromiter(
                (int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in uniq),
                dtype=np.uint64,
                count=len(uniq),
            )
            votes = (
                ((hv[inv][:, None] >> bit_shifts[None, :]) & np.uint64(1)).astype(np.int16)
                * 2
                - 1
            )  # (n_occ, 60) in {-1, +1}; int16 holds sums for docs < 32k tokens
            starts = np.concatenate(([0], np.cumsum(counts[keep])[:-1]))
            sums = np.add.reduceat(votes.astype(np.int32), starts, axis=0)
            fp = ((sums > 0).astype(np.uint64) << bit_shifts[None, :]).sum(
                axis=1, dtype=np.uint64
            )
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].to_numpy()[keep], "simhash": fp.astype(np.int64)}
            )

    return run


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """60-bit SimHash per document: ``(doc_id, simhash: long)``.

    Token hash = md5-derived 60-bit int over DISTINCT tokens; bit b of the
    fingerprint is 1 iff more token hashes have bit b set than clear.
    Map-only numpy/hashlib batch — no shuffle, no interpreted expressions;
    the ``dedup_simhash`` entry query pins it to the DuckDB oracle.
    """
    return df.select(id_col, text_col).mapInPandas(
        _simhash_arrow_fn(text_col, id_col), "doc_id long, simhash long"
    )


def simhash_near_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_hamming: int = 3,
    bands: int = 5,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash: ``(doc_a, doc_b, hamming)``.

    Pigeonhole banding: split the 60 bits into ``bands`` chunks; any pair
    within ``max_hamming < bands`` must agree exactly on ≥1 chunk, so the
    candidate join is an equi-join on (chunk index, chunk value) — no cross
    join.  Hamming distance is a JVM ``bit_count(xor)`` on the candidates.

    Chunk buckets larger than ``max_bucket_size`` are dropped BEFORE the
    in-bucket pair expansion (window count over the same partitioning, like
    ``_bucket_pairs``): the default 12-bit chunks have only 4 096 values per
    band, so at corpus scale a uniform bucket holds ~N/4096 members and the
    O(k²) expansion would otherwise be quadratic in N.  At 10⁹+ docs also
    widen the chunks (fewer ``bands``, e.g. 3×20-bit — still exact for
    ``max_hamming < bands`` ≤ 2) so the cap prunes degenerate near-dup mass,
    not ordinary buckets.
    """
    width = SIMHASH_BITS // bands
    mask = (1 << width) - 1
    sh = simhash(df, text_col, id_col)
    chunk_rows = ", ".join(
        f"named_struct('chunk', {i}, 'val', shiftright(simhash, {i * width}) & {mask}L)"
        for i in range(bands)
    )
    chunks = sh.selectExpr("doc_id", "simhash", f"inline(array({chunk_rows}))")
    if max_bucket_size is not None:
        chunks = _cap_buckets(chunks, ["chunk", "val"], max_bucket_size)
    # one groupBy + in-bucket expansion (see _bucket_pairs): the fingerprint
    # rides along in the member struct, so hamming is computed in place and
    # the simhash aggregation lineage runs exactly once
    groups = (
        chunks.groupBy("chunk", "val")
        .agg(F.expr("array_sort(collect_list(struct(doc_id, simhash))) AS ms"))
        .where("size(ms) >= 2")
    )
    return (
        _pairs_within(groups, "ms")
        .selectExpr(
            "CAST(a.doc_id AS BIGINT) AS doc_a",
            "CAST(b.doc_id AS BIGINT) AS doc_b",
            "CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT) AS hamming",
        )
        .where(f"hamming <= {int(max_hamming)}")
        .distinct()
    )


def ngram_jaccard_pairs_minhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_k: int = 1,
    threshold: float = 0.3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard over MinHash-LSH candidate pairs (the scale path).

    ``ngram_jaccard_pairs`` blocked by a low-cardinality attribute (language)
    is quadratic within each block — unusable at corpus scale.  Here the
    candidate pairs come from the same banded MinHash join as
    ``minhash_lsh_pairs`` (uniform md5 band keys, bucket-size cap), and only
    those candidates pay the exact ``|A∩B| / |A∪B|`` set computation.  The
    shingle sets rejoin by doc id (uniform), so no stage is quadratic in
    anything but true near-duplicate cluster size.

    Semantics: pairs that share ≥1 MinHash band AND have exact Jaccard ≥
    ``threshold`` — the standard LSH candidate-then-verify contract.  The
    DuckDB oracle reproduces the identical candidate set from the same
    (a, b) coefficients.

    Plan note: signatures AND shingle sets come out of ONE Arrow tokenize
    pass, persisted (memory-and-disk) — the band rows and the set-verify
    stage read the cached frame, so the tokenize→shingle chain runs exactly
    once per document regardless of how many downstream subplans consume
    it.  (A naive composition replays it 3×; at corpus scale tokenization
    is the dominant cost.)  When the total shingle bytes fit
    :data:`SET_LOOKUP_MAX_BYTES` the verify runs as a broadcast id-lookup
    over the candidate pairs (no set shuffle at all); larger corpora take
    the melted join.  Both produce bit-identical jaccards (pinned).  The
    cache is left registered on return — Spark evicts/spills it under
    pressure; callers running many dedup passes in one session can
    ``spark.catalog.clearCache()`` between them.
    """
    coeffs = minhash_coefficients(num_hashes, seed)
    base = df.select(id_col, text_col).mapInPandas(
        _minhash_arrow_fn(coeffs, text_col, id_col, shingle_k, with_sets=True),
        "doc_id long, sig array<long>, sset array<long>",
    )
    from pyspark import StorageLevel

    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    buckets = lsh_bands(base.select("doc_id", "sig"), bands=bands, num_hashes=num_hashes)
    pairs = _bucket_pairs(buckets, ["band", "band_key"], max_bucket_size)

    # verify path 1 (bounded corpora): broadcast {doc_id: shingle hashes}
    # and compute |A∩B| / |A∪B| by id-lookup inside one Arrow pass over the
    # candidate pairs — the pairs frame stays 16 B/pair on the wire instead
    # of carrying both sets through a join and a min_by/max_by aggregate.
    # Exact same integers (intersection/union cardinalities of the same
    # sets), so the double division is bit-identical to the melt path.
    total_bytes = 8 * (
        base.agg(F.coalesce(F.sum(F.size("sset")), F.lit(0))).collect()[0][0]
    )
    if total_bytes <= SET_LOOKUP_MAX_BYTES:
        import pandas as pd

        spark = df.sparkSession
        sets_map = {
            r[0]: np.asarray(r[1], dtype=np.int64)
            for r in base.select("doc_id", "sset").collect()
        }
        bc = spark.sparkContext.broadcast(sets_map)

        def jac(batches):
            s = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                a_ids = pdf["doc_a"].to_numpy(np.int64)
                b_ids = pdf["doc_b"].to_numpy(np.int64)
                out = np.empty(len(a_ids), dtype=np.float64)
                for i in range(len(a_ids)):
                    sa, sb = s[a_ids[i]], s[b_ids[i]]
                    inter = np.intersect1d(sa, sb, assume_unique=True).size
                    out[i] = float(inter) / float(sa.size + sb.size - inter)
                yield pd.DataFrame(
                    {"doc_a": a_ids, "doc_b": b_ids, "jaccard": out}
                )

        return pairs.mapInPandas(
            jac, "doc_a long, doc_b long, jaccard double"
        ).where(F.col("jaccard") >= threshold)

    sets = base.select("doc_id", "sset")
    # melt each pair to two (pair-key, doc) rows and join the shingle sets
    # ONCE: two per-side joins would run the tokenize→shingle lineage twice
    # and shuffle the set table twice (no ReusedExchange across different
    # projections); the melted shape shuffles it once.  doc_a < doc_b, so
    # min_by/max_by on doc_id recovers which set is which.
    pk = F.struct("doc_a", "doc_b").alias("pk")
    melted = pairs.select(F.col("doc_a").alias("doc_id"), pk).unionByName(
        pairs.select(F.col("doc_b").alias("doc_id"), pk)
    )
    both = (
        melted.join(sets, on="doc_id")
        .groupBy("pk")
        .agg(
            F.min_by("sset", "doc_id").alias("set_a"),
            F.max_by("sset", "doc_id").alias("set_b"),
            F.count(F.lit(1)).alias("_n"),
        )
        .where(F.col("_n") == 2)  # drop pairs whose doc lost its shingle set
    )
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    union = F.size(F.array_union(F.col("set_a"), F.col("set_b")))
    return (
        both.select(
            F.col("pk.doc_a").alias("doc_a"),
            F.col("pk.doc_b").alias("doc_b"),
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _cc_star(edges: DataFrame, max_iterations: int) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14): O(log² n)
    rounds on ANY graph shape — the path for graphs whose diameter defeats
    min-label propagation (10⁸-node chains need 10⁸ propagation rounds but
    ~log² star rounds).

    large-star: every node connects its strictly-LARGER neighbors to the
    minimum of its closed neighborhood; small-star (over the now
    larger→smaller directed edges): every node connects its smaller
    neighbors and itself to that minimum.  Both steps preserve
    connectivity and strictly shrink potential; the fixpoint is a star
    forest centered on each component's minimum node.  Each step is one
    groupBy(min) + one join keyed by node id — uniform unless one
    component IS the corpus; rounds are localCheckpoint'ed so lineage
    stays flat.  Fixpoint detection: (edge count, edge hash-sum) pair —
    one scalar agg per round, same trick as the propagation loop's
    label-sum.

    ``edges``: canonical (u, v) pairs with u > v, distinct.  Returns the
    star edges (u → component root v) and the round count.

    Job accounting: each round costs ONE Spark job — the round's edge set
    is a LAZY localCheckpoint (``eager=False``), so the fixpoint signature
    aggregation doubles as the action that materializes it, while the
    logical plan still truncates every round (each round references its
    input 4×, so an untruncated plan grows 4^rounds and OOMs the analyzer
    long before the data does — measured).  A 1024-node chain resolves in
    ~11 rounds / under 20 jobs (pinned by tests; AQE off there — adaptive
    execution splits each shuffle materialization into its own job id,
    inflating the COUNT but not the work).  Checkpoint blocks of
    superseded rounds are released by Spark's ContextCleaner as the
    DataFrame references drop (same contract as the propagation loop).
    """
    def star_step(e: DataFrame) -> DataFrame:
        # Both joins get a shuffle_hash hint: the per-node min table is
        # O(nodes) — the same order as the edge side — so a broadcast plan
        # is wrong at scale AND costs a separate broadcast-collect job per
        # join per round (measured: 5 jobs/round instead of 1).
        # large-star over the symmetrized neighborhood
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        large = (
            sym.join(m.hint("shuffle_hash"), on="u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over larger→smaller directed edges; re-canonicalize the
        # (neighbor, min) edges — both endpoints are below u, either order
        m2 = large.groupBy("u").agg(F.min("v").alias("m"))
        return (
            large.join(m2.hint("shuffle_hash"), on="u")
            .where(F.col("v") != F.col("m"))
            .select(
                F.greatest("v", "m").alias("u"), F.least("v", "m").alias("v")
            )
            .union(m2.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    E = edges.localCheckpoint()
    prev = None
    for rounds in range(1, max_iterations + 1):
        # ONE alternating step per materialization.  Composing two steps
        # before the checkpoint was measured WORSE: each un-materialized
        # reference of the inner step re-executes its whole subtree
        # (Catalyst only reuses textually identical exchanges, and the
        # re-aliased references aren't), blowing one round's job up to
        # ~140 stages.  One step per checkpoint keeps every subtree
        # computed exactly once.
        new_e = star_step(E).localCheckpoint(eager=False)
        # (count, xor of row hashes): order-free, overflow-free (the edge
        # set is distinct, so xor is a faithful set fingerprint); this agg
        # IS the action that materializes the lazy checkpoint
        sig = tuple(
            new_e.agg(
                F.count(F.lit(1)), F.bit_xor(F.xxhash64("u", "v"))
            ).collect()[0]
        )
        E = new_e
        if sig == prev:
            return E, rounds
        prev = sig
    raise RuntimeError(
        f"star contraction did not converge in {max_iterations} rounds"
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    *,
    max_iterations: int = 50,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into clusters: ``(doc_id, component)``.

    ``component`` is the minimum doc id reachable from ``doc_id`` through the
    pair graph — a deterministic cluster label.  Only ids appearing in
    ``pairs`` are returned (every other doc is its own singleton; callers
    that need full coverage coalesce with the id).

    Algorithm: iterative min-label propagation as pure DataFrame ops — each
    round every node takes the min of its own label and its neighbors'
    labels (one join keyed by edge source + one groupBy keyed by node, both
    uniform unless one cluster IS the corpus), until a fixpoint.  Rounds
    needed = graph diameter — ideal for near-duplicate graphs (dup clusters
    are near-cliques: most pair generators emit a quadratic candidate set
    within a bucket, so diameter ≈ 2-3).  When the diameter outruns
    :data:`_PROPAGATION_ROUNDS` (or ``max_iterations``, if smaller) it falls
    back to the O(log²) alternating large-star/small-star contraction
    (``_cc_star``) from the original edges — the shape a 10⁸-node CHAIN
    graph needs, where propagation would take 10⁸ rounds.  Both give the
    same labels; ``max_iterations`` also bounds the star rounds.

    Each round is localCheckpoint'ed: the lineage would otherwise grow by
    two shuffles per round and recompute from scratch on every action.
    Convergence is detected by the label-sum fixpoint — labels only ever
    decrease, so an unchanged sum means an unchanged labeling — which costs
    one scalar agg per round instead of a self-join diff.
    """
    fwd = pairs.select(
        F.col(a_col).cast("long").alias("src"), F.col(b_col).cast("long").alias("dst")
    )
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    from pyspark import StorageLevel

    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("component")).collect()[0][0]
    if prev_sum is None:  # no pairs at all
        edges.unpersist()
        return labels.select(F.col("id").alias("doc_id"), "component")
    converged = False
    for _ in range(min(_PROPAGATION_ROUNDS, max_iterations)):
        msgs = edges.join(labels, edges["src"] == labels["id"]).select(
            F.col("dst").alias("id"), "component"
        )
        labels = (
            msgs.unionByName(labels)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint()
        )
        s = labels.agg(F.sum("component")).collect()[0][0]
        if s == prev_sum:
            converged = True
            break
        prev_sum = s
    if not converged:
        canon = (
            edges.where(F.col("src") > F.col("dst"))
            .select(F.col("src").alias("u"), F.col("dst").alias("v"))
            .distinct()
        )
        stars, _rounds = _cc_star(canon, max_iterations)
        star_map = stars.select(
            F.col("u").alias("id"), F.col("v").alias("_root")
        )
        labels = (
            labels.select("id")
            .join(star_map, on="id", how="left")
            .select(
                "id", F.coalesce(F.col("_root"), F.col("id")).alias("component")
            )
        )
    edges.unpersist()
    return labels.select(F.col("id").alias("doc_id"), "component")


def dedup_fuzzy_keep_one(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    *,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Keep one row (the min id) per near-duplicate CLUSTER.

    The fuzzy analog of ``dedup_exact``: resolve the pair graph to components,
    then anti-join the non-keeper members (component members whose id is not
    the component min) back onto the rows.  Docs absent from ``pairs`` are
    untouched (their cluster is a singleton).  The anti-join side is one row
    per duplicate — broadcast-able whenever the duplicate fraction is small,
    and keyed by uniform ids otherwise.
    """
    comp = connected_components(pairs, a_col, b_col)
    losers = comp.where(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    block_col: str,
    shingle_k: int = 1,
    threshold: float = 0.3,
) -> DataFrame:
    """Blocked pairwise n-gram Jaccard: ``(doc_a, doc_b, jaccard)``.

    Pairs are generated only WITHIN ``block_col`` groups (a blocking key —
    e.g. language, length bucket, or an LSH band for the true scale path), so
    the join is an equi-join on the block, never a global cross join.
    jaccard = |A∩B| / |A∪B| over distinct shingle sets — an exact rational on
    both engines, so it hash-matches the DuckDB oracle without rounding.
    """
    toks = tokenize_column(F.col(text_col))
    sets = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(block_col).alias("block"),
        word_shingles(toks, shingle_k).alias("sset"),
    ).where(F.size("sset") > 0)
    l, r = sets.alias("l"), sets.alias("r")
    inter = F.size(F.array_intersect(F.col("l.sset"), F.col("r.sset")))
    union = F.size(F.array_union(F.col("l.sset"), F.col("r.sset")))
    return (
        l.join(
            r,
            on=[F.col("l.block") == F.col("r.block"), F.col("l.doc_id") < F.col("r.doc_id")],
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
