"""Delta + variable-byte posting-list codec, fully vectorized in numpy.

The engine's posting lists store sorted docIDs gap-encoded (delta from the
previous docID) and then varbyte-packed — the classic Lucene-style layout the
north_rule mandates ("delta+varbyte-compressed posting lists").  Varbyte here
is LEB128: little-endian 7-bit groups, continuation bit 0x80 set on every
byte except the last of each value.

Both encode and decode are O(total bytes) numpy array programs (no per-value
Python loops) so they run efficiently inside Arrow-batched UDFs; a 64-bit
value needs at most 10 bytes, so each step is a fixed 10-iteration vector
loop over lanes, not over values.
"""

from __future__ import annotations

import numpy as np

_MAX_BYTES = 10  # ceil(64 / 7)


def varbyte_encode_all(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Encode a uint64 array to one LEB128 byte stream.

    Returns ``(bytes_u8, value_end_offsets)`` where ``value_end_offsets[i]``
    is the byte offset just past value i — the substrate for slicing many
    posting lists out of a single vectorized encode pass.
    """
    v = np.asarray(values).astype(np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    # bytes needed per value: 1 + number of thresholds 128^k (k>=1) reached
    nbytes = np.ones(v.size, dtype=np.int64)
    for k in range(1, _MAX_BYTES):
        nbytes += (v >= np.uint64(1) << np.uint64(7 * k)).astype(np.int64)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for k in range(_MAX_BYTES):
        sel = nbytes > k
        if not sel.any():
            break
        chunk = ((v[sel] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[sel] > k + 1).astype(np.uint8) << 7
        out[starts[sel] + k] = chunk | cont
    return out, ends


def varbyte_encode(values: np.ndarray) -> bytes:
    """Encode a uint64 array to LEB128 bytes."""
    out, _ = varbyte_encode_all(values)
    return out.tobytes()


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes back to a uint64 array."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (raw & 0x80) == 0
    if not is_last[-1]:
        raise ValueError("truncated varbyte stream")
    # value index of each byte; position of each byte within its value
    val_idx = np.zeros(raw.size, dtype=np.int64)
    val_idx[1:] = np.cumsum(is_last)[:-1]
    n_values = int(val_idx[-1]) + 1
    starts = np.zeros(n_values, dtype=np.int64)
    starts[1:] = np.flatnonzero(is_last)[:-1] + 1
    byte_pos = np.arange(raw.size, dtype=np.int64) - starts[val_idx]
    if np.any(byte_pos >= _MAX_BYTES):
        raise ValueError("varbyte value exceeds 64 bits")
    out = np.zeros(n_values, dtype=np.uint64)
    np.add.at(
        out,
        val_idx,
        (raw & np.uint8(0x7F)).astype(np.uint64) << (np.uint64(7) * byte_pos.astype(np.uint64)),
    )
    return out


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """Gap-encode a strictly-increasing id array (first value kept raw)."""
    ids = np.asarray(sorted_ids, dtype=np.uint64)
    if ids.size == 0:
        return ids
    if ids.size > 1 and np.any(ids[1:] <= ids[:-1]):
        raise ValueError("doc ids must be strictly increasing for delta encoding")
    out = np.empty_like(ids)
    out[0] = ids[0]
    np.subtract(ids[1:], ids[:-1], out=out[1:])
    return out


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    """Inverse of delta_encode (prefix sum)."""
    return np.cumsum(np.asarray(deltas, dtype=np.uint64), dtype=np.uint64)


def segmented_delta_encode(values: np.ndarray, run_starts: np.ndarray) -> np.ndarray:
    """Delta-encode many concatenated runs at once.

    ``run_starts`` marks the first index of each run; within each run values
    must be strictly increasing.  The first value of each run is kept raw.
    """
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return v
    out = np.empty_like(v)
    out[0] = v[0]
    np.subtract(v[1:], v[:-1], out=out[1:])
    out[run_starts] = v[run_starts]
    return out


def segmented_delta_decode(deltas: np.ndarray, run_starts: np.ndarray) -> np.ndarray:
    """Inverse of segmented_delta_encode: per-run prefix sums in one pass.

    One global cumsum, then each run subtracts the prefix accumulated before
    it — no per-run Python loop.
    """
    d = np.asarray(deltas, dtype=np.uint64)
    if d.size == 0:
        return d
    c = np.cumsum(d, dtype=np.uint64)
    base = c[run_starts] - d[run_starts]  # cumsum just before each run start
    run_lens = np.diff(np.append(run_starts, d.size))
    return c - np.repeat(base, run_lens)


def segmented_varbyte_binary(values: np.ndarray, run_starts: np.ndarray, total: int):
    """Encode concatenated runs to a pyarrow BinaryArray, one cell per run.

    One vectorized encode over all values; run boundaries become arrow binary
    offsets — no per-run Python loop.  Used by the segment builder for the
    ``doc_ids_vb`` / ``tfs_vb`` / ``dls_vb`` columns.
    """
    import pyarrow as pa

    n_runs = len(run_starts)
    buf, ends = varbyte_encode_all(values)
    offsets = np.zeros(n_runs + 1, dtype=np.int32)
    if total:
        run_last = np.append(run_starts[1:], total) - 1
        offsets[1:] = ends[run_last].astype(np.int32)
    return pa.BinaryArray.from_buffers(
        pa.binary(), n_runs, [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(buf.tobytes())]
    )


def encode_posting_ids(sorted_doc_ids: np.ndarray) -> bytes:
    """delta + varbyte pack of a sorted docID list (the postings layout)."""
    return varbyte_encode(delta_encode(sorted_doc_ids))


def decode_posting_ids(buf: bytes) -> np.ndarray:
    """Inverse of encode_posting_ids."""
    return delta_decode(varbyte_decode(buf))
