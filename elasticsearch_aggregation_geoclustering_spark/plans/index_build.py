"""Batch inverted-index build: documents DataFrame -> segmented postings.

The Spark-first shape of Elasticsearch's bulk-index path (SURVEY.md §3.2),
designed so the LARGE column (``content``) is read once, never shuffled, and
never persisted — everything global rides key-only column-pruned jobs:

1. **deterministic key buckets** (``_rank_plan``) — two cheap jobs over
   ONLY the natural-key columns (Catalyst prunes ``content`` out of both
   scans), no sampling, for every key: one aggregation reads the count and
   the min/max of the one order-preserving binary key encoding
   (``_encoded_key_sql``: integer, boolean, date, timestamp, float, double,
   decimal and string columns; any other type raises TypeError), and a
   ``groupBy(fine bucket).count()`` over a window of that encoding yields
   exact counts the driver packs into balanced buckets.  The bucket is a
   PURE FUNCTION of the key (a chain of comparisons against literal
   boundaries), so — unlike
   ``repartitionByRange``'s per-action sampled boundaries — every job in the
   build sees the same assignment without persisting anything.  Cumulative
   bucket counts give each bucket's starting docID; docIDs depend only on
   the global key order, never on where boundaries fall, so ids are
   identical across runs and parallelism levels (resume-stable).  Appends
   and upserts plan their batch through the same two jobs.
2. **tokenize once, inside the segment builder** — raw content rides the
   one full-data shuffle and each document is analyzed exactly once, in the
   same Python stage that encodes its segment (the host engine's shape: the
   segment writer runs the analyzer).  A map-side pre-pack that shuffled
   packed term rows instead was measured slower on the replicated-input
   job at every parallelism (it doubles the per-document Python/Arrow
   stages) and was removed.
3. **segmenting** — ``seg_id = doc_id // docs_per_segment``: contiguous,
   disjoint docID ranges, the analog of Lucene segments.  Segments partition
   by DOCUMENT, not by term, so Zipf-hot terms ("the", "import") cannot
   concentrate on one reducer — each segment holds at most
   ``docs_per_segment`` entries of any term (structural salting; see
   merge_segments for the bucketed term-keyed merge).
4. **segment build** — the ONE full-data job: rows arrive range-partitioned
   by bucket and sorted by key; a bucket's rows all land in one partition, so
   per-bucket running counters reproduce the exact global docIDs in-stream.
   Every segment fully contained in the partition is built in place (postings
   parquet sorted by term + docmap part + manifest part, atomic deterministic
   bytes); only the ≤2 boundary partial segments per partition are emitted
   into a tiny ``groupBy(seg_id)`` fragment shuffle.  Doc lengths are
   denormalized into each posting (``dls_vb``) — Lucene-norm style — so
   scoring never joins a doc-length table.
5. **global stats** — ``groupBy(term).sum(df)`` over the per-segment df rows
   (tiny: one row per distinct (term, segment)), written range-partitioned by
   term (parallel writers, per-file sorted order, min/max pruning intact).

Resumability (north_rule): completed segment ids are recorded in
``manifest.json`` and filtered out of step 4 on re-run; files are written
atomically with deterministic bytes and sha256 recorded
(tests/test_index_build.py asserts byte-identical resume).

Scale notes: the bucket is one fine-bucket evaluation plus O(#buckets)
comparisons per row (#buckets = 2·partitions); at many thousands of target
partitions switch the assignment to a range-join against a broadcast
boundary table instead.  The
two key-only jobs are metadata-cheap on columnar sources at any scale.
"""

from __future__ import annotations

import os
import re
import warnings
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import codec
from ..functions import sql_text as sql
from ..functions.tokenizer import (
    TOKENIZER_VERSION,
    doc_term_frequencies,
    doc_term_positions,
)
from ..sources import segments as seg_store
from ..sources.segments import (
    SEGMENT_MANIFEST_SPARK_SCHEMA,
    IndexManifest,
    load_manifest,
    load_stats,
    save_manifest,
    save_stats,
)

DEFAULT_DOCS_PER_SEGMENT = 8192


def _bucket_offsets(counts: dict[int, int]) -> dict[int, int]:
    """Cumulative starting docID per bucket (bucket-ascending prefix sum)."""
    offsets: dict[int, int] = {}
    acc = 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    return offsets


def _murmur3_hash_int(value: int, seed: int = 42) -> int:
    """Murmur3 x86_32 of one 4-byte int — EXACTLY Spark's ``hash()`` /
    ``HashPartitioning`` for an IntegerType column (seed 42), reimplemented
    from the public algorithm so the driver can predict which partition a
    literal int lands in.  Returns the signed 32-bit hash."""
    m = 0xFFFFFFFF
    k1 = (value * 0xCC9E2D51) & m
    k1 = ((k1 << 15) | (k1 >> 17)) & m
    k1 = (k1 * 0x1B873593) & m
    h1 = (seed ^ k1) & m
    h1 = ((h1 << 13) | (h1 >> 19)) & m
    h1 = (h1 * 5 + 0xE6546B64) & m
    h1 ^= 4  # fmix with length 4
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & m
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & m
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _slot_values(num_partitions: int) -> list[int]:
    """For each partition p, a small int v with ``pmod(murmur3(v), P) == p``
    — so hash-repartitioning on a column holding v routes rows EXACTLY to
    partition p.  Found by scanning upward; expected O(P log P) probes."""
    vals: list[int | None] = [None] * num_partitions
    found = 0
    v = 0
    while found < num_partitions:
        p = _murmur3_hash_int(v) % num_partitions
        if vals[p] is None:
            vals[p] = v
            found += 1
        v += 1
    return vals  # type: ignore[return-value]


def _partition_slot_expr(counts: dict[int, int], num_partitions: int) -> Column:
    """Driver-planned replacement for ``repartitionByRange(P, "_b")``: map
    each bucket to a crafted int whose Spark hash lands on the packed target
    partition, preserving the builder's contract (each partition holds a
    CONTIGUOUS, balanced run of whole buckets) with a plain hash exchange.

    ``repartitionByRange`` launches a range-boundary SAMPLING job that
    re-executes the exchange's whole child plan — for the index build that
    is a second full pass over the corpus including sha256.  The bucket
    counts are already EXACT (they drive the docID offsets), so the driver
    can pack buckets into partitions itself and skip the sampling pass
    entirely; placement balance is identical (both pack the same exact
    counts toward total/P per partition).
    """
    total = sum(counts.values())
    if not counts or total == 0:
        return F.lit(0)
    target = max(1, -(-total // num_partitions))  # ceil
    slot_vals = _slot_values(num_partitions)
    mapping: dict[int, int] = {}
    slot = 0
    acc = 0
    for b in sorted(counts):
        if acc >= target and slot < num_partitions - 1:
            slot += 1
            acc = 0
        mapping[b] = slot_vals[slot]
        acc += counts[b]
    pairs = [x for b in sorted(mapping) for x in (F.lit(b), F.lit(mapping[b]))]
    return F.element_at(F.create_map(*pairs), F.col("_b").cast("int"))


#: fine proxy-bucket resolution: counts are exact per ≤ 2^16 contiguous key
#: ranges, then packed into ~2x num_partitions balanced coarse buckets
_FINE_BITS = 16
_PROXY_BYTES = 7

_MIN_LONG = "-9223372036854775808L"


def _be8(long_sql: str) -> str:
    """A BIGINT as its 8 big-endian bytes (BINARY): unsigned byte order."""
    return f"unhex(lpad(hex({long_sql}), 16, '0'))"


def _key_part_sql(col: str, dtype: str) -> str:
    """One key column as order-preserving BINARY (SQL text); raises
    TypeError for a type the encoding cannot order."""
    x = sql.name(col)
    if dtype in ("tinyint", "smallint", "int", "bigint", "boolean", "date", "timestamp"):
        v = {"date": f"unix_date({x})", "timestamp": f"unix_micros({x})"}.get(dtype, x)
        # offset-binary: flipping the sign bit makes signed order unsigned
        return _be8(f"CAST({v} AS BIGINT) ^ {_MIN_LONG}")
    if dtype in ("float", "double"):
        # IEEE bits with -0.0 folded onto 0.0 (Spark ties them); negatives
        # flip every bit, non-negatives the sign bit, so canonical NaN sorts
        # above +inf, as in Spark.  Each row takes one branch, so one
        # reflective call; NULL takes none and never reaches java_method
        # (which rejects NULL for a primitive double)
        d = f"(CAST({x} AS DOUBLE) + 0.0D)"
        bits = f"CAST(java_method('java.lang.Double', 'doubleToLongBits', {d}) AS BIGINT)"
        return _be8(f"CASE WHEN {d} < 0 THEN ~{bits} WHEN {d} >= 0 THEN {bits} ^ {_MIN_LONG} END")
    m = re.fullmatch(r"decimal\((\d+),(\d+)\)", dtype)
    if m:
        # a sign byte, then the digits zero-padded to one width (text only:
        # abs() and scaling overflow decimal(38, s))
        digits = f"lpad(translate(CAST({x} AS STRING), '-.', ''), {int(m[1]) + 1}, '0')"
        flipped = f"translate({digits}, '0123456789', '9876543210')"
        return f"encode(CASE WHEN {x} < 0 THEN concat('0', {flipped}) ELSE concat('1', {digits}) END, 'UTF-8')"
    if dtype == "string":
        # NUL -> NUL 0x01, so the 0x0000 column separator sorts below any
        # continuation of the string
        return f"encode(replace({x}, chr(0), concat(chr(0), chr(1))), 'UTF-8')"
    raise TypeError(
        f"key column {col!r} has type {dtype}: docIDs need an order-preserving"
        " key encoding, which exists for integer, boolean, date, timestamp,"
        " float, double, decimal and string columns"
    )


def _encoded_key_sql(key_cols: tuple[str, ...], dtypes: dict[str, str]) -> str:
    """The one order-preserving encoding of the key tuple (SQL text, BINARY):
    the unsigned byte order of the encoding is Spark's ``ORDER BY key_cols``.

    Per-column parts (``_key_part_sql``) are joined by ``0x0000``, which
    sorts below every continuation of a column's part, so a shorter column
    value orders before its extensions, matching tuple order.
    """
    return "concat(" + ", X'0000', ".join(_key_part_sql(c, dtypes[c]) for c in key_cols) + ")"


def _proxy(key: bytes, prefix_len: int) -> int:
    """The ``_PROXY_BYTES`` key bytes after the common prefix, as an int."""
    return int.from_bytes(bytes(key[prefix_len : prefix_len + _PROXY_BYTES]).ljust(_PROXY_BYTES, b"\x00"), "big")


def _fine_bucket_sql(encoded: str, prefix_len: int, base: int, shift: int) -> str:
    """``(proxy − base) >> shift`` (SQL text, BIGINT), monotone (non-strict)
    in key order: ``proxy`` is the 7 key bytes after the corpus-wide
    common prefix.

    Any key between min and max shares their common prefix, so skipping it
    spends the proxy's resolution where keys actually diverge (e.g. every
    repo key starting "github.com/").  ``base`` is the proxy of the minimum
    key and ``shift`` keeps the result below 2^16, so the fine buckets span
    the key range actually present.  7 bytes = 14 hex digits < 2^56, so
    ``conv`` is exact in a long.
    """
    seg = f"rpad(substring({encoded}, {prefix_len + 1}, {_PROXY_BYTES}), {_PROXY_BYTES}, X'00')"
    return f"shiftright(CAST(conv(hex({seg}), 16, 10) AS BIGINT) - {base}L, {shift})"


def _pack_fine_counts(
    fine_counts: dict[int, int], n_buckets: int
) -> tuple[list[int], dict[int, int]]:
    """Pack contiguous fine buckets into ≤ n_buckets coarse buckets of
    near-equal EXACT counts.  Returns (fine boundaries, coarse counts);
    coarse bucket of a row = #{boundaries < fine(row)}."""
    total = sum(fine_counts.values())
    if total == 0:
        return [], {}
    target = max(1, -(-total // n_buckets))  # ceil
    bounds: list[int] = []
    counts: dict[int, int] = {}
    acc = 0
    last_fine = None
    for f in sorted(fine_counts):
        if acc >= target and last_fine is not None and len(bounds) < n_buckets - 1:
            bounds.append(last_fine)
            acc = 0
        acc += fine_counts[f]
        counts[len(bounds)] = counts.get(len(bounds), 0) + fine_counts[f]
        last_fine = f
    return bounds, counts


def _rank_plan(
    df: DataFrame,
    key_cols: tuple[str, ...],
    num_partitions: int,
    *,
    content_col: str | None = None,
) -> tuple[Callable[[DataFrame], DataFrame], dict[int, int], int, dict | None]:
    """The docID pre-plan: (a function adding the bucket column ``_b``,
    exact per-bucket counts, n_docs, batch fingerprint) in exactly TWO
    key-only jobs, no sampling.

    Every key plans through the one order-preserving binary encoding
    (``_encoded_key_sql``) of integer, boolean, date, timestamp, float,
    double, decimal and string columns; any other key type raises TypeError
    before a job runs.  Job 1 is one aggregation (count + min/max encoded
    key); job 2 counts rows per fine proxy bucket (≤ 2^16 groups) and the
    driver packs them into balanced coarse buckets with exact offsets.
    docIDs are invariant to where the boundaries fall — the bucket is
    monotone in key and offsets are exact prefix counts, so
    ``offset[bucket] + within-bucket key rank`` IS the global key rank
    regardless of balance.

    With ``content_col`` (appends and upserts) job 1 also folds the
    append-ledger fingerprint: ``n_docs``, struct ``min_key``/``max_key``,
    ``key_xor`` = ``bit_xor(xxhash64(*key_cols))`` and ``content_xor`` =
    ``bit_xor(xxhash64(*key_cols, content))`` (the one aggregate that reads
    the content column).  Without it the fourth element is None and the jobs
    stay key-only.
    """
    enc = _encoded_key_sql(key_cols, dict(df.dtypes))
    keys = ", ".join(sql.name(c) for c in key_cols)
    # NULL key values have no place in the key order (the encoding of a
    # tuple holding one is NULL), so the docID contract requires non-null
    # keys, enforced here in the same single aggregation
    aggs = [
        "count(1) AS _n",
        "min(_enc) AS _min",
        "max(_enc) AS _max",
        "max(" + " OR ".join(f"{sql.name(c)} IS NULL" for c in key_cols) + ") AS _nullkey",
    ]
    cols = key_cols
    if content_col is not None:
        cols = (*key_cols, content_col)
        aggs += [
            f"min(struct({keys})) AS _kmin",
            f"max(struct({keys})) AS _kmax",
            f"bit_xor(xxhash64({keys})) AS _kxor",
            f"bit_xor(xxhash64({keys}, {sql.name(content_col)})) AS _cxor",
        ]
    # the encoding is projected below the aggregate: java_method (float
    # keys) is non-deterministic to the analyzer, which rejects it inside
    # an aggregate's arguments
    keyed = df.selectExpr(f"{enc} AS _enc", *(sql.name(c) for c in cols))
    row = keyed.agg(*[F.expr(a) for a in aggs]).collect()[0]
    n_docs = int(row["_n"])
    if n_docs == 0:
        return lambda frame: frame.withColumn("_b", F.lit(0)), {}, 0, None
    if row["_nullkey"]:
        raise ValueError(
            f"key columns {list(key_cols)} contain NULL values: docID "
            "assignment requires a total order over non-null unique keys — "
            "filter or fill the key columns before indexing"
        )
    fp = None
    if content_col is not None:
        fp = {
            "n_docs": n_docs,
            "min_key": list(row["_kmin"]),
            "max_key": list(row["_kmax"]),
            "key_xor": int(row["_kxor"]),
            "content_xor": int(row["_cxor"]),
        }
    lo, hi = bytes(row["_min"]), bytes(row["_max"])
    prefix_len = len(os.path.commonprefix([lo, hi]))
    base = _proxy(lo, prefix_len)
    shift = max(0, (_proxy(hi, prefix_len) - base).bit_length() - _FINE_BITS)
    fine = _fine_bucket_sql(enc, prefix_len, base, shift)
    fine_counts = {
        int(r["_f"]): int(r["cnt"])
        for r in df.select(F.expr(f"{fine} AS _f"))
        .groupBy("_f")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    bounds, counts = _pack_fine_counts(fine_counts, 2 * num_partitions)
    bexpr = F.expr(" + ".join(f"CAST(_f > {b}L AS INT)" for b in bounds) or "0")

    def bucket(frame: DataFrame) -> DataFrame:
        # the fine bucket is its own column, evaluated once per row and
        # compared once per boundary: common-subexpression elimination
        # never merges copies of java_method (float/double keys)
        return frame.withColumn("_f", F.expr(fine)).withColumn("_b", bexpr).drop("_f")

    return bucket, counts, n_docs, fp


def assign_doc_ids(
    df: DataFrame, key_cols: tuple[str, ...], num_partitions: int | None = None
) -> DataFrame:
    """Dense rank over ``key_cols`` without a single-task window or persist.

    Requires the key to be unique per row (true for (repo, path, commit)).
    Deterministic by construction: the bucket is a pure function of the key
    and the per-bucket offsets are exact counts, so every action over the
    result sees the same ids (no reliance on how any shuffle sampled its
    boundaries).
    """
    num_partitions = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    bucket, counts, _, _ = _rank_plan(df, key_cols, num_partitions)
    offsets = _bucket_offsets(counts)
    ranged = _slot_exchange(df, bucket, counts, num_partitions, key_cols)
    out_cols = [c for c in df.columns]
    schema = ", ".join(
        ["doc_id long"] + [f"`{n}` {t}" for n, t in ranged.drop("_b").dtypes]
    )

    # Arrow batches, not pandas: a pandas round trip rewrites timestamps
    # through the session timezone (a DST fall-back hour collapses)
    def run(batches):
        import pyarrow as pa

        next_id: dict[int, int] = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            b = batch.schema.get_field_index("_b")
            ids = _assign_ids_for_batch(
                batch.column(b).to_numpy(zero_copy_only=False).astype(np.int64), next_id, offsets
            )
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()), *(batch.column(i) for i in range(batch.num_columns) if i != b)],
                names=["doc_id", *(n for i, n in enumerate(batch.schema.names) if i != b)],
            )

    return ranged.mapInArrow(run, schema).select("doc_id", *out_cols)


def _slot_exchange(
    df: DataFrame,
    bucket: Callable[[DataFrame], DataFrame],
    counts: dict[int, int],
    num_partitions: int,
    key_cols: tuple[str, ...],
) -> DataFrame:
    """Add the bucket column ``_b`` and route whole buckets to partitions.

    A hash exchange on a driver-planned slot (see _partition_slot_expr): the
    same contiguous-bucket placement as ``repartitionByRange``, WITHOUT its
    boundary-sampling job, which would re-run the whole child plan (scan +
    sha256) once more over every row.  Rows come out sorted by (bucket, key)
    within each partition.
    """
    return (
        bucket(df)
        .withColumn("_slot", _partition_slot_expr(counts, num_partitions))
        .repartition(num_partitions, F.col("_slot"))
        .drop("_slot")
        .sortWithinPartitions("_b", *[F.col(c) for c in key_cols])
    )


def _assign_ids_for_batch(
    bvals: np.ndarray, next_id: dict[int, int], offsets: dict[int, int]
) -> np.ndarray:
    """Global docIDs for one sorted batch via per-bucket running counters.

    All rows of a bucket live in one partition (range partitioning cannot
    split equal values), arrive bucket- and key-sorted, and bucket offsets
    are cumulative exact counts — so ``offset[b] + seen[b]`` IS the global
    dense rank.
    """
    ids = np.empty(len(bvals), dtype=np.int64)
    change = np.flatnonzero(np.concatenate(([True], bvals[1:] != bvals[:-1])))
    ends = np.concatenate((change[1:], [len(bvals)]))
    for s, e in zip(change, ends):
        b = int(bvals[s])
        start = next_id.get(b, offsets[b])
        ids[s:e] = np.arange(start, start + (e - s), dtype=np.int64)
        next_id[b] = start + int(e - s)
    return ids


def _build_one_segment(
    index_dir: str,
    seg_id: int,
    pdf: pd.DataFrame,
    content_col: str,
    docmap_cols: tuple[str, ...],
    with_positions: bool = True,
) -> dict:
    """Pack one segment; write postings + docmap part atomically; return the
    manifest/lineage dict.  Shared by the interior (in-partition) and
    fragment (shuffled-boundary) build paths — identical bytes either way.
    """
    import pyarrow as pa

    t0 = seg_store.now()
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    doc_ids = pdf["doc_id"].to_numpy(np.int64)

    if with_positions:
        tf_frame, pos_flat = doc_term_positions(pdf[content_col])
    else:
        tf_frame = doc_term_frequencies(pdf[content_col])
        pos_flat = np.empty(0, dtype=np.int64)
    dl_by_row = np.zeros(len(pdf), dtype=np.int64)
    if not tf_frame.empty:
        np.add.at(dl_by_row, tf_frame["row"].to_numpy(np.int64), tf_frame["tf"].to_numpy(np.int64))

    if tf_frame.empty:
        terms_u = np.empty(0, dtype=object)
        starts = np.empty(0, dtype=np.int64)
        run_lens = np.empty(0, dtype=np.int64)
        total = 0
        ids_all = np.empty(0, dtype=np.int64)
        tf_vals = np.empty(0, dtype=np.int64)
        dls_all = np.empty(0, dtype=np.int64)
        pos_sorted = np.empty(0, dtype=np.int64)
        pos_starts = np.empty(0, dtype=np.int64)
        pair_pos_starts = np.empty(0, dtype=np.int64)
    else:
        # postings order: (term asc, doc_id asc); rows within a term are
        # already doc-ordered because the tokenizer emits row-major
        term_sorted = tf_frame.sort_values(["term", "row"], kind="stable")
        perm = term_sorted.index.to_numpy(np.int64)  # frame-order -> postings-order
        term_sorted = term_sorted.reset_index(drop=True)
        terms_arr = term_sorted["term"].to_numpy()
        starts = np.flatnonzero(
            np.concatenate(([True], terms_arr[1:] != terms_arr[:-1]))
        )
        terms_u = terms_arr[starts]
        total = len(terms_arr)
        run_lens = np.diff(np.append(starts, total))
        row_idx = term_sorted["row"].to_numpy(np.int64)
        tf_vals = term_sorted["tf"].to_numpy(np.int64)
        ids_all = doc_ids[row_idx]
        dls_all = dl_by_row[row_idx]
        if with_positions:
            # permute the flat positions into postings order: gather each
            # pair's position run via one repeat+arange fancy index
            lens_orig = tf_frame["tf"].to_numpy(np.int64)
            starts_orig = np.concatenate(([0], np.cumsum(lens_orig)[:-1]))
            lens_p = lens_orig[perm]
            pair_pos_starts = np.concatenate(([0], np.cumsum(lens_p)[:-1]))
            n_pos = int(lens_p.sum())
            gather = (
                np.repeat(starts_orig[perm] - pair_pos_starts, lens_p)
                + np.arange(n_pos, dtype=np.int64)
            )
            pos_sorted = pos_flat[gather]
            pos_starts = pair_pos_starts[starts]  # per-TERM run starts
        else:
            # index_options=freqs: every pos_vb cell is the empty byte string
            pos_sorted = np.empty(0, dtype=np.int64)
            pair_pos_starts = np.empty(0, dtype=np.int64)
            pos_starts = np.zeros(len(terms_u), dtype=np.int64)

    # all binary columns come out of one vectorized encode each; position
    # deltas restart per (term, doc) pair, and the binary cells slice per term
    deltas = codec.segmented_delta_encode(ids_all.astype(np.uint64), starts)
    pdeltas = codec.segmented_delta_encode(pos_sorted.astype(np.uint64), pair_pos_starts)
    table = pa.table(
        {
            "term": pa.array(terms_u, pa.string()),
            "seg_id": pa.array(np.full(len(terms_u), seg_id, dtype=np.int64)),
            "df": pa.array(run_lens.astype(np.int64)),
            "doc_ids_vb": codec.segmented_varbyte_binary(deltas, starts, total),
            "tfs_vb": codec.segmented_varbyte_binary(tf_vals.astype(np.uint64), starts, total),
            "dls_vb": codec.segmented_varbyte_binary(dls_all.astype(np.uint64), starts, total),
            "pos_vb": codec.segmented_varbyte_binary(
                pdeltas, pos_starts, int(pos_sorted.size)
            ),
        },
        schema=seg_store.POSTINGS_ARROW_SCHEMA,
    )
    path = seg_store.segment_postings_path(index_dir, seg_id)
    size, digest = seg_store.write_segment_file(path, table)

    docmap_table = pa.Table.from_pandas(
        pdf[["doc_id", *docmap_cols, "sha256"]], preserve_index=False
    )
    seg_store.write_segment_file(
        seg_store.docmap_part_path(index_dir, seg_id), docmap_table
    )
    return {
        "seg_id": seg_id,
        "n_docs": len(pdf),
        "n_terms": len(terms_u),
        "n_postings": int(total),
        "total_tokens": int(dl_by_row.sum()),
        "postings_bytes": size,
        "sha256": digest,
        "build_wall_sec": seg_store.now() - t0,
    }


def _build_segment_fn(
    index_dir: str,
    content_col: str,
    docmap_cols: tuple[str, ...],
    with_positions: bool = True,
):
    """applyInPandas wrapper over _build_one_segment (the fragment path)."""

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        meta = _build_one_segment(
            index_dir, int(key[0]), pdf, content_col, docmap_cols, with_positions
        )
        return pd.DataFrame([meta])

    return build


def _partition_builder_fn(
    index_dir: str,
    offsets: dict[int, int],
    docs_per_segment: int,
    content_col: str,
    docmap_cols: tuple[str, ...],
    done: frozenset[int],
    with_positions: bool = True,
):
    """mapInPandas builder: assign ids in-stream (per-bucket counters), build
    every segment FULLY CONTAINED in this partition in place (writing
    postings + docmap part + a manifest-part json, no shuffle), and emit only
    the boundary rows (head/tail partial segments) for the tiny fragment
    stage.

    Because a partition holds whole buckets with contiguous cumulative
    offsets, its docIDs form one contiguous span — so a segment is interior
    iff the stream contains its complete id range: a chunk starting before
    the partition's first id is a head fragment, a chunk still incomplete
    when the stream ends is a tail fragment, and everything else either
    completes in-stream (built here) or waits in the buffer for the next
    Arrow batch.
    """

    def run(batches):
        buffer: list[pd.DataFrame] = []
        buffered = 0
        base: int | None = None  # partition's first doc id
        next_id: dict[int, int] = {}

        def flush_complete(force_tail: bool):
            nonlocal buffer, buffered
            if not buffer:
                return
            pdf = pd.concat(buffer, ignore_index=True) if len(buffer) > 1 else buffer[0]
            buffer, buffered = [], 0
            first_id = int(pdf["doc_id"].iloc[0])
            out_frags = []
            i = 0
            n = len(pdf)
            while i < n:
                sid = (first_id + i) // docs_per_segment
                seg_start = sid * docs_per_segment
                seg_end = seg_start + docs_per_segment
                take = min(n - i, seg_end - (first_id + i))
                chunk = pdf.iloc[i : i + take]
                complete_here = (first_id + i) == seg_start and take == (seg_end - seg_start)
                if complete_here:
                    if sid not in done:
                        meta = _build_one_segment(
                            index_dir, sid, chunk, content_col, docmap_cols,
                            with_positions,
                        )
                        seg_store.save_manifest_part(index_dir, meta)
                elif seg_start < base or force_tail:
                    # head partial (rows before base live elsewhere) or tail
                    # partial at stream end -> boundary fragment
                    if sid not in done:
                        out_frags.append(chunk)
                else:
                    # incomplete interior chunk: wait for more batches
                    buffer.append(chunk.copy())
                    buffered = len(chunk)
                    break
                i += take
            if out_frags:
                yield pd.concat(out_frags, ignore_index=True)

        for raw in batches:
            if raw.empty:
                continue
            ids = _assign_ids_for_batch(raw["_b"].to_numpy(np.int64), next_id, offsets)
            if base is None:
                base = int(ids[0])
            pdf = raw.drop(columns=["_b"])
            pdf.insert(0, "doc_id", ids)
            pdf["seg_id"] = ids // docs_per_segment
            buffer.append(pdf)
            buffered += len(pdf)
            if buffered >= docs_per_segment:
                yield from flush_complete(force_tail=False)
        yield from flush_complete(force_tail=True)

    return run


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    *,
    content_col: str = "content",
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
    docmap_cols: tuple[str, ...] = (),
    docs_per_segment: int = DEFAULT_DOCS_PER_SEGMENT,
    resume: bool = True,
    num_partitions: int | None = None,
    index_options: str = "positions",
) -> dict:
    """Build (or resume) the inverted index; returns the stats dict.

    ``index_options`` mirrors the ES mapping setting of the same name:
    ``"positions"`` (the Lucene text-field default) stores token positions
    per posting (pos_vb), enabling phrase/proximity queries; ``"freqs"``
    omits them — segments shrink by roughly the token count, and phrase
    queries raise, exactly as ES errors on a field "indexed without position
    data".  A resumed build keeps the original index's setting.

    ``docmap_cols``: extra columns carried into the docmap table (e.g. lang,
    lon, lat) for query-time joins.  The docmap also records
    ``sha256(content)`` per row — the input_hint per-row invariant.

    Raw content rides the one full-data shuffle and is tokenized inside
    the segment builder: ONE fused Python stage per document, which
    pipelines with the JVM shuffle.  Tokenizing map-side and shuffling
    packed term rows instead adds a second Python/Arrow stage per document
    for a smaller shuffle; it lost on files/s at every parallelism measured
    (CHANGES.md) and is not offered.
    """
    if index_options not in ("positions", "freqs"):
        raise ValueError(f"index_options must be positions|freqs: {index_options}")
    _check_docmap_types(docs, (*key_cols, *docmap_cols))
    os.makedirs(index_dir, exist_ok=True)
    manifest = load_manifest(index_dir) if resume else None
    if manifest is not None:
        docs_per_segment = manifest.docs_per_segment
        index_options = manifest.index_options

    num_partitions = num_partitions or spark.sparkContext.defaultParallelism

    # TWO key-only pre-jobs total (content pruned out of both scans), no
    # sampling: one agg for count + min/max key, one exact fine-bucket count
    # -> literal boundaries + exact offsets (see _rank_plan)
    bucket, counts, n_docs, _ = _rank_plan(docs, key_cols, num_partitions)

    if manifest is None:
        manifest = IndexManifest(
            docs_per_segment=docs_per_segment,
            tokenizer_version=TOKENIZER_VERSION,
            num_segments_expected=(n_docs + docs_per_segment - 1) // docs_per_segment,
            index_options=index_options,
        )
        save_manifest(index_dir, manifest)

    # a crash can leave interior manifest parts not yet folded into
    # manifest.json — both count as claimed (see _done_segments)
    parts = seg_store.load_manifest_parts(index_dir) if resume else {}
    claimed = manifest.completed_segment_ids() | {int(k) for k in parts}
    done = _done_segments(index_dir, claimed)
    stale = {str(s) for s in claimed - done}
    if stale:
        manifest.segments = {k: v for k, v in manifest.segments.items() if k not in stale}
        parts = {k: v for k, v in parts.items() if k not in stale}

    if len(done) < max(1, manifest.num_segments_expected):
        _write_segments(
            docs, index_dir, manifest, bucket, counts, _bucket_offsets(counts), done,
            content_col=content_col, key_cols=key_cols, docmap_cols=docmap_cols,
            num_partitions=num_partitions,
        )
        parts = seg_store.load_manifest_parts(index_dir)
    return _commit(spark, index_dir, manifest, parts)


def _check_docmap_types(docs: DataFrame, cols: tuple[str, ...]) -> None:
    """Reject timestamp key and docmap columns (reads ``docs.dtypes`` only):
    the docmap parts are written from pandas, whose ``timestamp[ns]``
    parquet column Spark cannot read back."""
    dtypes = dict(docs.dtypes)
    bad = [c for c in cols if dtypes.get(c) in ("timestamp", "timestamp_ntz")]
    if bad:
        raise ValueError(
            f"key/docmap columns {bad} are timestamps, which the docmap cannot"
            " store readably: pass them as long (unix_micros) or string"
        )


def _done_segments(index_dir: str, claimed: set[int]) -> frozenset[int]:
    """The claimed segments a resumed write skips: a segment is only DONE
    when its postings file and its docmap part both exist on disk (a
    deleted/corrupt segment gets rebuilt even when the manifest lists it)."""
    return frozenset(
        sid
        for sid in claimed
        if os.path.exists(seg_store.segment_postings_path(index_dir, sid))
        and os.path.exists(seg_store.docmap_part_path(index_dir, sid))
    )


def _write_segments(
    docs: DataFrame,
    index_dir: str,
    manifest: IndexManifest,
    bucket: Callable[[DataFrame], DataFrame],
    counts: dict[int, int],
    offsets: dict[int, int],
    done: frozenset[int],
    *,
    content_col: str,
    key_cols: tuple[str, ...],
    docmap_cols: tuple[str, ...],
    num_partitions: int,
) -> None:
    """The ONE full-data job, shared by ``build_index`` and ``append_index``:
    build every segment of ``docs`` not in ``done``, with docIDs
    ``offsets[bucket] + key rank`` (``bucket``/``counts`` from _rank_plan).

    Interior segments are written as side effects inside the partitions
    (each leaves a manifest part); only boundary rows reach the tiny
    ``groupBy(seg_id)`` fragment shuffle (≲ 2·docs_per_segment rows per
    partition), whose lineage rows land in ``manifest.segments``.
    """
    with_positions = manifest.index_options == "positions"
    dm_cols = tuple([*key_cols, *docmap_cols])
    # sha256 JVM-side so the python workers never hash
    work = docs.select(*key_cols, *docmap_cols, content_col).withColumn(
        "sha256", F.sha2(F.col(content_col).cast("binary"), 256)
    )
    ranged = _slot_exchange(work, bucket, counts, num_partitions, key_cols)
    frag_schema = ", ".join(
        ["doc_id long"]
        + [f"`{n}` {t}" for n, t in ranged.drop("_b").dtypes]
        + ["seg_id long"]
    )
    frags = ranged.mapInPandas(
        _partition_builder_fn(
            index_dir, offsets, manifest.docs_per_segment, content_col, dm_cols,
            done, with_positions,
        ),
        frag_schema,
    )
    frag_rows = (
        frags.groupBy("seg_id")
        .applyInPandas(
            _build_segment_fn(index_dir, content_col, dm_cols, with_positions),
            SEGMENT_MANIFEST_SPARK_SCHEMA,
        )
        .collect()
    )
    for row in frag_rows:
        manifest.segments[str(row["seg_id"])] = row.asDict()


def _commit(
    spark: SparkSession, index_dir: str, manifest: IndexManifest, parts: dict
) -> dict:
    """Fold manifest ``parts`` into manifest.json, then rewrite the global
    term stats and stats.json from it; returns the stats dict."""
    for sid, meta in parts.items():
        manifest.segments.setdefault(sid, meta)
    save_manifest(index_dir, manifest)
    return _write_global_stats(
        spark,
        index_dir,
        n_docs=sum(m["n_docs"] for m in manifest.segments.values()),
        total_tokens=sum(m["total_tokens"] for m in manifest.segments.values()),
        n_segments=len(manifest.segments),
        tokenizer_version=manifest.tokenizer_version,
        index_options=manifest.index_options,
    )


def _write_global_stats(
    spark: SparkSession,
    index_dir: str,
    *,
    n_docs: int,
    total_tokens: int,
    n_segments: int,
    tokenizer_version: str,
    index_options: str,
) -> dict:
    """The one global-stats writer, shared by ``_commit`` and
    ``merge_segments``: ``term_stats`` = Σdf per term over the index's
    segments, then stats.json; returns the stats dict."""
    # one input row per distinct (term, segment) — the parquet scan is
    # pruned to (term, df); partial aggregation collapses hot terms
    # map-side, so no skewed reducer.  The groupBy's exchange already
    # hash-partitions by term, so the write rides THAT partitioning: each
    # file is term-sorted (row-group min/max stats prune point lookups
    # within every file) and AQE sizes the file count from the data.  A
    # repartitionByRange(term) would buy cross-file range disjointness at
    # the price of a SECOND exchange plus its boundary-sampling job (one
    # more full pass over the aggregated dictionary) — per-lookup cost is a
    # footer-stats check per file either way.
    (
        spark.read.parquet(seg_store.segments_glob(index_dir))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(os.path.join(index_dir, "term_stats"))
    )
    stats = {
        "n_docs": int(n_docs),
        "total_tokens": int(total_tokens),
        "avgdl": (total_tokens / n_docs) if n_docs else 0.0,
        "n_segments": int(n_segments),
        "tokenizer_version": tokenizer_version,
        "index_options": index_options,
    }
    save_stats(index_dir, stats)
    return stats


def _match_ledger(
    appends: list[dict], fp: dict, batch_id: int | None, allow_key_reuse: bool
) -> dict | None:
    """The append ledger's replay rule: the prior entry that this batch
    (fingerprint ``fp`` from _rank_plan) resumes or replays, or None for a
    new batch.

    An entry is a candidate when it agrees on (n_docs, min_key, max_key) and,
    when it records one, on ``key_xor``.  A candidate that disagrees only on
    ``key_xor`` is a different batch reusing a fingerprint: an error under
    the keys-globally-unique contract, skipped when ``allow_key_reuse``
    (upserted key sets may overlap old ones).  An identical key set is then
    told apart by ``batch_id`` when both sides carry one — it alone decides,
    since foreachBatch reuses the id on redelivery — otherwise by
    ``content_xor`` when both sides carry one; an entry carrying neither
    (older ledgers) matches on keys alone.
    """
    for e in appends:
        if any(e[k] != fp[k] for k in ("n_docs", "min_key", "max_key")):
            continue
        if e.get("key_xor") is not None and e["key_xor"] != fp["key_xor"]:
            if allow_key_reuse:
                continue
            raise ValueError(
                "append batch matches a prior ledger entry on (n_docs, min_key,"
                f" max_key) but not on key_xor ({e['key_xor']} != "
                f"{fp['key_xor']}): a different batch is reusing a prior"
                " fingerprint — the keys-globally-unique contract is violated"
            )
        if batch_id is not None and e.get("batch_id") is not None:
            same = e["batch_id"] == batch_id
        elif e.get("content_xor") is not None:
            same = e["content_xor"] == fp["content_xor"]
        else:
            same = True
        if same:
            return e
    return None


def append_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    *,
    content_col: str = "content",
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
    docmap_cols: tuple[str, ...] = (),
    num_partitions: int | None = None,
    batch_id: int | None = None,
) -> dict:
    """Append a batch of NEW documents to an existing index (ES ``_bulk``).

    Elasticsearch indexing is incremental: each refresh adds small segments
    and background merges compact them.  Same shape here: the batch gets
    fresh docIDs starting at the next segment boundary after the existing
    maximum (``base_sid·docs_per_segment`` — the gap of < docs_per_segment
    unused ids keeps the segment-range invariant without rewriting the last
    partial segment), and goes through the same planner and segment writer
    as ``build_index``: ``_rank_plan``'s two key-only jobs give the buckets,
    exact offsets and the batch fingerprint, so docIDs are
    ``base_sid·docs_per_segment + key rank``.  The global term stats are
    recomputed from the per-segment df rows (tiny).  Compact with
    ``merge_segments`` when small segments accumulate.

    Append-only semantics: keys are assumed NEW (no upsert — dedupe upstream,
    e.g. dedup.dedup_exact).  Batches are resumable AND idempotent: the
    manifest's append ledger records each batch's fingerprint (n_docs,
    min/max key, ``key_xor`` = an order-insensitive 64-bit fold of
    ``xxhash64(*key_cols)``) with its reserved base segment id, so a killed
    append re-run completes only the missing segments byte-identically, and
    an at-least-once redelivery (foreachBatch retry) is a no-op — without
    the ledger, a resume would recompute the id base from its own half-built
    segments and duplicate the batch under shifted ids.

    Batch identity beyond keys: the key fingerprint cannot tell a REPLAY of
    a batch from a NEW batch that legitimately reuses the same key set
    (``upsert_index``'s update path).  Two disambiguators are recorded in
    the ledger entry, and one rule (``_match_ledger``) applies them for
    appends and upserts alike:

    - ``batch_id``: an external batch identity.  When both the batch and the
      ledger entry carry one, it ALONE decides: Structured Streaming's
      ``foreachBatch`` reuses the same ``batch_id`` on redelivery, so the
      same id is a replay (resumes, even if the content differs) and a
      different id is a new batch (gets a fresh base_sid).
    - ``content_xor``: an order-insensitive 64-bit fold of
      ``xxhash64(*key_cols, content)`` over the batch; it decides when the
      two sides do not both carry a batch_id.  Same keys + different content
      ⇒ new batch.  The planner's first job folds it (reading content there
      once), so every ledger entry carries content identity — otherwise a
      later upsert of the exact same key set could not tell replay from
      re-upsert and would silently drop the update.

    A batch that matches a ledger entry on (n, min, max) but not on
    ``key_xor`` reuses a prior fingerprint with different keys: an error
    here, under the keys-globally-unique contract (``upsert_index`` treats
    it as a distinct batch, since upserted key sets may overlap old ones).
    """
    return _ingest(
        spark, docs, index_dir,
        content_col=content_col, key_cols=key_cols, docmap_cols=docmap_cols,
        num_partitions=num_partitions, batch_id=batch_id, upsert=False,
    )


def _ingest(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    *,
    content_col: str,
    key_cols: tuple[str, ...],
    docmap_cols: tuple[str, ...],
    num_partitions: int | None,
    batch_id: int | None,
    upsert: bool,
) -> dict:
    """``append_index`` and, with ``upsert``, ``upsert_index``: plan the
    batch once, match it against the ledger once, tombstone the batch's keys
    first when an upsert is not a replay, then write its segments."""
    manifest = load_manifest(index_dir)
    if manifest is None:
        return build_index(
            spark,
            docs,
            index_dir,
            content_col=content_col,
            key_cols=key_cols,
            docmap_cols=docmap_cols,
            num_partitions=num_partitions,
        )
    docs_per_segment = manifest.docs_per_segment
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism
    _check_docmap_types(docs, (*key_cols, *docmap_cols))

    bucket, counts, n_new, fp = _rank_plan(
        docs, key_cols, num_partitions, content_col=content_col
    )
    if n_new == 0:
        return load_stats(index_dir)

    # the ledger makes resumes/replays id-stable: a killed or re-delivered
    # batch MUST NOT recompute base_sid from the segments it already half
    # wrote (that would shift every remaining doc's id and duplicate docs)
    prior = _match_ledger(manifest.appends, fp, batch_id, allow_key_reuse=upsert)
    if upsert and prior is None:
        # a replayed upsert must NOT re-delete: its first attempt's docs hold
        # the batch's keys, and the ledger-matched append below skips
        # rebuilding them (tombstoning is idempotent, so a crash between the
        # delete and the ledger write simply re-deletes)
        delete_by_keys(spark, index_dir, docs.select(*key_cols), key_cols)
    existing = manifest.completed_segment_ids() | {
        int(k) for k in seg_store.load_manifest_parts(index_dir)
    }
    if prior is not None:
        prior.setdefault("key_xor", fp["key_xor"])  # backfill old ledgers
        warnings.warn(
            f"append_index: batch fingerprint {fp['n_docs']} docs / "
            f"key_xor={fp['key_xor']} matches ledger entry base_sid="
            f"{prior['base_sid']} — treating as a resume/replay of that batch"
            " (already-built segments will be skipped)",
            stacklevel=3,
        )
        base_sid = int(prior["base_sid"])
    else:
        base_sid = max((max(existing) + 1) if existing else 0, manifest.num_segments_expected)
        entry = {**fp, "base_sid": base_sid}
        if batch_id is not None:
            entry["batch_id"] = int(batch_id)
        manifest.appends.append(entry)
    id_offset = base_sid * docs_per_segment

    offsets = {b: off + id_offset for b, off in _bucket_offsets(counts).items()}
    manifest.num_segments_expected = max(
        manifest.num_segments_expected,
        base_sid + ((n_new + docs_per_segment - 1) // docs_per_segment),
    )
    save_manifest(index_dir, manifest)

    _write_segments(
        docs, index_dir, manifest, bucket, counts, offsets,
        _done_segments(index_dir, existing),
        content_col=content_col, key_cols=key_cols, docmap_cols=docmap_cols,
        num_partitions=num_partitions,
    )
    return _commit(spark, index_dir, manifest, seg_store.load_manifest_parts(index_dir))


def delete_docs(spark: SparkSession, index_dir: str, doc_ids) -> None:
    """Soft-delete documents by INTERNAL doc id (ES ``_bulk`` delete, H1).

    Lucene-style tombstones: a parquet batch of deleted ids is appended under
    ``<index_dir>/deletes/``; segments are untouched.  Queries exclude
    tombstoned docs from matches, but — exactly like Lucene soft deletes —
    corpus statistics (N, df, avgdl) keep counting them until a merge
    compacts them away (``merge_segments(apply_deletes=True)``).  Deleting an
    id twice is harmless (the query-side anti-join is idempotent).

    Deleting nothing writes nothing: Spark's writer leaves a zero-row part
    file for an empty frame, which is removed again by its parquet footer
    (read on the driver, no Spark job), together with a ``deletes/``
    directory the write created.  So an upsert of only new keys leaves the
    reader without tombstones and its queries without the anti-join.

    ``doc_ids``: a DataFrame with a ``doc_id`` column, or an iterable of ints.
    """
    import shutil

    import pyarrow.parquet as pq

    if not isinstance(doc_ids, DataFrame):
        doc_ids = spark.createDataFrame([(int(i),) for i in doc_ids], "doc_id long")
    ddir = os.path.join(index_dir, "deletes")
    before = set(os.listdir(ddir)) if os.path.isdir(ddir) else None
    doc_ids.select(F.col("doc_id").cast("long")).write.mode("append").parquet(ddir)
    added = [f for f in os.listdir(ddir) if f.endswith(".parquet") and f not in (before or ())]
    empty = [f for f in added if pq.read_metadata(os.path.join(ddir, f)).num_rows == 0]
    if before is None and len(empty) == len(added):
        shutil.rmtree(ddir)  # created by this write, which wrote no row
        return
    for f in empty:
        for name in (f, f".{f}.crc"):  # the local filesystem's checksum too
            path = os.path.join(ddir, name)
            if os.path.exists(path):
                os.remove(path)


def delete_by_keys(
    spark: SparkSession,
    index_dir: str,
    keys: DataFrame,
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
) -> None:
    """Soft-delete by natural key: resolve keys through the docmap, then
    tombstone the matching internal ids (the key-addressed ES delete)."""
    docmap = spark.read.parquet(os.path.join(index_dir, "docmap"))
    ids = docmap.join(keys.select(*key_cols).distinct(), on=list(key_cols)).select(
        "doc_id"
    )
    delete_docs(spark, index_dir, ids)


def upsert_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    *,
    content_col: str = "content",
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
    docmap_cols: tuple[str, ...] = (),
    num_partitions: int | None = None,
    batch_id: int | None = None,
) -> dict:
    """ES ``_bulk`` index action: update-or-insert by natural key.

    Spark/Lucene shape: tombstone any existing docs holding the incoming
    keys (delete_by_keys), then append the batch as fresh segments with new
    docIDs (the ``append_index`` path) — documents are immutable, updates
    are delete+reinsert, exactly Lucene's model.  The key resolution is one
    docmap join (key-pruned columns only); the batch is planned ONCE by
    ``_rank_plan``, whose first job also folds the ledger fingerprint with
    ``content_xor``, and that one plan serves both the replay check and the
    append.

    Replay-safe: the delete step consults the append ledger FIRST.  On an
    at-least-once redelivery (or a resume after a mid-append crash that
    already recorded the ledger entry), the batch's docs from the first
    attempt are ALREADY in the docmap — an unconditional delete_by_keys
    would tombstone them, and the subsequent ledger-matched append would
    skip rebuilding their segments, silently losing the whole batch to the
    next ``merge_segments(apply_deletes=True)``.  A batch that matches a
    prior ledger entry therefore skips the delete entirely (the first
    attempt already tombstoned the superseded docs; tombstoning is
    idempotent, so crash-between-delete-and-ledger replays simply re-delete).

    Replay vs re-upsert: keys alone cannot distinguish a REDELIVERY of a
    batch from a legitimate second upsert that updates the SAME key set
    with NEW content — treating the latter as a replay would silently drop
    the update.  The one ledger rule of ``append_index`` decides, with key
    reuse allowed: pass ``batch_id`` when the caller has an external batch
    identity (``stream_upsert`` passes the foreachBatch micro-batch id,
    which Spark reuses on redelivery) — when the matching ledger entry also
    carries one, the id alone decides, so the same id is a replay even if
    the content changed.  Otherwise the content fingerprint (order-
    insensitive ``bit_xor(xxhash64(*key_cols, content))``, recorded in every
    ledger entry) decides, so same-keys-new-content classifies as a new
    batch: the delete runs and fresh segments are built.
    """
    return _ingest(
        spark, docs, index_dir,
        content_col=content_col, key_cols=key_cols, docmap_cols=docmap_cols,
        num_partitions=num_partitions, batch_id=batch_id, upsert=True,
    )


def tiered_merge_buckets(
    index_dir: str,
    *,
    fanin: int = 8,
    max_merged_bytes: int | None = None,
) -> dict[int, int]:
    """Size-aware merge grouping — Lucene TieredMergePolicy's goal under
    this engine's docID-order invariant.

    A blind ``seg_id // fanin`` grouping re-merges giants with mites: after
    many ``append_index`` batches the segment size distribution is wildly
    uneven, and rewriting a huge already-merged segment to absorb a tiny
    fresh one costs its full byte volume every compaction (Lucene's merge
    policy exists precisely to avoid this).  This planner greedily packs
    the seg_id-ORDERED segment list into contiguous runs, closing a run
    when it would exceed ``fanin`` members or ``max_merged_bytes`` combined
    postings bytes; a segment that alone reaches ``max_merged_bytes`` stays
    a singleton (it is re-encoded but not combined — merged output is
    byte-stable for it).

    Contiguity is NOT an implementation convenience: docIDs are never
    remapped (unlike Lucene), so ``merge_segments``'s linear concat relies
    on each group covering a contiguous, ordered seg_id range — an
    arbitrary (Lucene-style) subset would interleave doc ranges and break
    the strictly-increasing docID encode.  Sizes come from the manifest's
    per-segment lineage (``postings_bytes``), no filesystem scan.
    """
    manifest = load_manifest(index_dir)
    if manifest is None:
        raise ValueError(f"no manifest at {index_dir}")
    segs = {int(s): m for s, m in manifest.segments.items()}
    for s, m in seg_store.load_manifest_parts(index_dir).items():
        segs.setdefault(int(s), m)
    buckets: dict[int, int] = {}
    b, count, size = 0, 0, 0
    for sid in sorted(segs):
        sz = int(segs[sid]["postings_bytes"])
        giant = max_merged_bytes is not None and sz >= max_merged_bytes
        over = max_merged_bytes is not None and size + sz > max_merged_bytes
        if count and (count >= fanin or giant or over):
            b, count, size = b + 1, 0, 0
        buckets[sid] = b
        count, size = count + 1, size + sz
        if giant:
            b, count, size = b + 1, 0, 0
    return buckets


def merge_segments(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    *,
    fanin: int = 8,
    apply_deletes: bool = False,
    buckets: dict[int, int] | None = None,
) -> None:
    """Merge segments ``fanin``-at-a-time into larger ones (H4).

    Groups by ``(term, merge_bucket)`` where ``merge_bucket = seg_id //
    fanin`` — or an explicit ``buckets`` mapping from
    ``tiered_merge_buckets`` (size-aware compaction after uneven appends).
    The bucket is the salt: a Zipf-hot term's postings stay split
    across buckets instead of landing on one reducer.  Because segment doc
    ranges are disjoint and ordered by seg_id, concatenating per-segment
    postings in seg_id order preserves global docID order, so re-encoding is
    a linear concat, no re-sort; explicit buckets must therefore be
    CONTIGUOUS nondecreasing runs over the seg_id order (validated).

    ``apply_deletes=True`` compacts soft deletes away Lucene-style: rows of
    tombstoned docs are dropped while merging (ids/tfs/dls masked, position
    runs filtered by the same occurrence mask), df re-counted.  The deleted
    set ships to executors as a broadcast sorted array (np.isin per bucket);
    at a deleted-fraction where that array itself is big, rewrite via an
    anti-join on exploded postings instead.
    """
    postings = spark.read.parquet(seg_store.segments_glob(index_dir))
    if "pos_vb" not in postings.columns:
        # legacy pre-positions segment layout: normalize to the current
        # schema with empty positional payloads (≡ index_options="freqs")
        postings = postings.withColumn("pos_vb", F.lit(b""))
    if buckets is None:
        bucket_expr = (F.col("seg_id") / F.lit(fanin)).cast("long")
    else:
        prev = None
        for sid in sorted(buckets):
            if prev is not None and buckets[sid] < prev:
                raise ValueError(
                    "merge buckets must be nondecreasing contiguous runs in"
                    f" seg_id order (seg {sid}: bucket {buckets[sid]} < {prev})"
                    " — docIDs are not remapped, so a non-contiguous group"
                    " would interleave doc ranges"
                )
            prev = buckets[sid]
        # literal map lookup: segment counts are thousands at most (each is
        # docs_per_segment docs); swap for a broadcast join beyond that.
        # A segment absent from the mapping fails loudly, not as a NULL key.
        mapped = F.element_at(
            F.create_map(
                *[F.lit(x) for sid, b in sorted(buckets.items()) for x in (sid, b)]
            ),
            F.col("seg_id"),
        )
        bucket_expr = F.when(mapped.isNotNull(), mapped).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("segment missing from merge buckets: "),
                    F.col("seg_id").cast("string"),
                )
            )
        )
    bucketed = postings.withColumn("merge_bucket", bucket_expr)

    deleted_bc = None
    if apply_deletes:
        ddir = os.path.join(index_dir, "deletes")
        if os.path.isdir(ddir):
            arr = np.sort(
                np.array(
                    [r["doc_id"] for r in spark.read.parquet(ddir).distinct().collect()],
                    dtype=np.int64,
                )
            )
            if arr.size:
                deleted_bc = spark.sparkContext.broadcast(arr)

    def merge(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("seg_id")
        ids = np.concatenate([codec.decode_posting_ids(b) for b in pdf["doc_ids_vb"]])
        tfs = np.concatenate([codec.varbyte_decode(b) for b in pdf["tfs_vb"]])
        dls = np.concatenate([codec.varbyte_decode(b) for b in pdf["dls_vb"]])
        if deleted_bc is None:
            # position deltas restart per doc and varbyte streams are
            # self-delimiting, so seg-ordered byte concatenation IS the
            # merged positional list (boundaries recovered from the
            # concatenated tfs) — no decode/re-encode needed
            pos_vb = b"".join(pdf["pos_vb"])
        elif not any(len(b) for b in pdf["pos_vb"]):
            # index_options=freqs: no positions to filter
            mask = ~np.isin(ids.astype(np.int64), deleted_bc.value)
            ids, tfs, dls = ids[mask], tfs[mask], dls[mask]
            if ids.size == 0:
                return pd.DataFrame(
                    [], columns=["term", "seg_id", "df", "doc_ids_vb", "tfs_vb", "dls_vb", "pos_vb"]
                )
            pos_vb = b""
        else:
            mask = ~np.isin(ids.astype(np.int64), deleted_bc.value)
            pdeltas = codec.varbyte_decode(b"".join(pdf["pos_vb"]))
            starts = np.concatenate(([0], np.cumsum(tfs)[:-1])).astype(np.int64)
            pos_abs = codec.segmented_delta_decode(pdeltas, starts)
            keep_occ = np.repeat(mask, tfs.astype(np.int64))
            ids, tfs, dls = ids[mask], tfs[mask], dls[mask]
            if ids.size == 0:
                return pd.DataFrame(
                    [], columns=["term", "seg_id", "df", "doc_ids_vb", "tfs_vb", "dls_vb", "pos_vb"]
                )
            new_starts = np.concatenate(([0], np.cumsum(tfs)[:-1])).astype(np.int64)
            pos_vb = codec.varbyte_encode(
                codec.segmented_delta_encode(pos_abs[keep_occ], new_starts)
            )
        return pd.DataFrame(
            [
                {
                    "term": key[0],
                    "seg_id": int(key[1]),
                    "df": len(ids),
                    "doc_ids_vb": codec.encode_posting_ids(ids),
                    "tfs_vb": codec.varbyte_encode(tfs),
                    "dls_vb": codec.varbyte_encode(dls),
                    "pos_vb": pos_vb,
                }
            ]
        )

    merged = bucketed.groupBy("term", "merge_bucket").applyInPandas(
        merge, seg_store.POSTINGS_SPARK_SCHEMA
    )
    n_buckets = max(1, bucketed.select("merge_bucket").distinct().count())
    (
        merged.repartitionByRange(n_buckets, "seg_id", "term")
        .sortWithinPartitions("seg_id", "term")
        .write.mode("overwrite")
        .parquet(seg_store.segments_glob(out_dir))
    )

    # --- finalize: make out_dir a fully-openable index ------------------
    # (stats.json + term_stats + docmap).  The merged dir is a read-
    # optimized snapshot — per-segment build lineage (manifest) stays with
    # the source index; resume/append continue against index_dir.
    docmap = spark.read.parquet(os.path.join(index_dir, "docmap"))
    old_stats = seg_store.load_stats(index_dir)
    if deleted_bc is not None:
        ddf = spark.createDataFrame(
            [(int(i),) for i in deleted_bc.value], "doc_id long"
        )
        docmap = docmap.join(F.broadcast(ddf), on="doc_id", how="left_anti")
        docmap.write.mode("overwrite").parquet(os.path.join(out_dir, "docmap"))
        n_docs = spark.read.parquet(os.path.join(out_dir, "docmap")).count()
        # Σ tf over merged postings counts every surviving token occurrence
        # exactly once; one Arrow-batched decode per posting cell
        tf_sum = F.pandas_udf(
            lambda s: s.map(lambda b: int(codec.varbyte_decode(b).sum())), "long"
        )
        total_tokens = (
            spark.read.parquet(seg_store.segments_glob(out_dir))
            .select(tf_sum("tfs_vb").alias("t"))
            .agg(F.sum("t"))
            .collect()[0][0]
            or 0
        )
    else:
        # stats are unchanged (soft deletes keep counting, Lucene-style);
        # carry any tombstones forward so the merged index still masks them
        docmap.write.mode("overwrite").parquet(os.path.join(out_dir, "docmap"))
        n_docs = int(old_stats["n_docs"])
        total_tokens = int(old_stats["total_tokens"])
        src_deletes = os.path.join(index_dir, "deletes")
        if os.path.isdir(src_deletes):
            spark.read.parquet(src_deletes).write.mode("overwrite").parquet(
                os.path.join(out_dir, "deletes")
            )
    _write_global_stats(
        spark,
        out_dir,
        n_docs=n_docs,
        total_tokens=total_tokens,
        n_segments=n_buckets,
        tokenizer_version=old_stats["tokenizer_version"],
        index_options=old_stats.get("index_options", "positions"),
    )


def build_term_gram_index(
    spark: SparkSession,
    index_dir: str,
    *,
    n: int = 2,
    num_partitions: int | None = None,
) -> dict:
    """Persist a character-n-gram secondary index over the TERM DICTIONARY
    (``<index_dir>/term_grams``) — the scale path for fuzzy expansion.

    Lucene intersects a Levenshtein automaton with the terms dictionary;
    the Spark-shaped analog is q-gram filtering (Gravano et al., VLDB'01):
    a term within edit distance ``k`` of the query must share at least
    ``|distinct n-grams(q)| − k·n`` of the query's distinct n-grams (each
    edit destroys at most ``n`` gram types).  The index stores one row per
    (gram, term) with the term's df CARRIED IN-ROW, range-partitioned and
    sorted by gram so a probe's ``gram IN (...)`` prunes to ~len(query)
    gram groups — the Levenshtein DP then runs over the tiny candidate set
    instead of sweeping a 10⁸-term dictionary.

    Derived entirely from term_stats: rebuild after index mutations (the
    same point-in-time contract as every other reader artifact).
    """
    if n < 1:
        raise ValueError(f"gram size must be >= 1: {n}")
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism
    stats = spark.read.parquet(os.path.join(index_dir, "term_stats"))
    grams = stats.select(
        "term",
        "df",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(0), F.greatest(F.length("term") - n, F.lit(0))
                    ),
                    lambda i: F.col("term").substr(i + F.lit(1), F.lit(n)),
                )
            )
        ).alias("gram"),
    ).where(F.length("gram") == n)
    out = os.path.join(index_dir, "term_grams")
    (
        grams.repartitionByRange(max(1, num_partitions // 4), "gram")
        .sortWithinPartitions("gram", "term")
        .write.mode("overwrite")
        .parquet(out)
    )
    meta = {"n": int(n), "kind": "term_grams"}
    import json

    with open(os.path.join(index_dir, "term_grams_meta.json"), "w") as fh:
        json.dump(meta, fh, sort_keys=True)
    return meta
