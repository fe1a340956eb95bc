"""Codec unit + property tests (SURVEY.md §5.1): encode∘decode = id."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from elasticsearch_aggregation_geoclustering_spark.functions import codec


def test_varbyte_known_values():
    assert codec.varbyte_encode(np.array([0], np.uint64)) == b"\x00"
    assert codec.varbyte_encode(np.array([127], np.uint64)) == b"\x7f"
    assert codec.varbyte_encode(np.array([128], np.uint64)) == b"\x80\x01"
    assert codec.varbyte_encode(np.array([300], np.uint64)) == b"\xac\x02"  # LEB128 classic


def test_varbyte_empty():
    assert codec.varbyte_encode(np.array([], np.uint64)) == b""
    assert codec.varbyte_decode(b"").size == 0


def test_varbyte_u64_max():
    v = np.array([2**64 - 1, 0, 1], np.uint64)
    assert list(codec.varbyte_decode(codec.varbyte_encode(v))) == list(v)


def test_varbyte_truncated_raises():
    with pytest.raises(ValueError):
        codec.varbyte_decode(b"\x80")


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(values):
    v = np.array(values, np.uint64)
    assert list(codec.varbyte_decode(codec.varbyte_encode(v))) == values


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300, unique=True)
)
@settings(max_examples=200, deadline=None)
def test_posting_ids_roundtrip(ids):
    ids = np.array(sorted(ids), np.uint64)
    out = codec.decode_posting_ids(codec.encode_posting_ids(ids))
    assert list(out) == list(ids)


def test_delta_requires_strictly_increasing():
    with pytest.raises(ValueError):
        codec.delta_encode(np.array([3, 3], np.uint64))
    with pytest.raises(ValueError):
        codec.delta_encode(np.array([5, 4], np.uint64))


def test_segmented_encode_matches_per_run():
    rng = np.random.default_rng(0)
    runs = [np.sort(rng.choice(10_000, size=rng.integers(1, 50), replace=False)) for _ in range(30)]
    values = np.concatenate(runs).astype(np.uint64)
    starts = np.cumsum([0] + [len(r) for r in runs[:-1]])
    deltas = codec.segmented_delta_encode(values, starts)
    arr = codec.segmented_varbyte_binary(deltas, starts, len(values))
    assert isinstance(arr, pa.BinaryArray)
    for i, run in enumerate(runs):
        assert list(codec.decode_posting_ids(arr[i].as_py())) == list(run)


def test_segmented_empty():
    arr = codec.segmented_varbyte_binary(
        np.empty(0, np.uint64), np.empty(0, np.int64), 0
    )
    assert len(arr) == 0
