"""Multimodal column plumbing: image/audio/video as opaque ``binary`` columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

The decode step itself is STUBBED (`NotImplementedError`) because no media
libraries exist in this environment — but everything Spark-side is real and
tested: the schema convention, the binary payload column, the batch shape
through ``mapInPandas``, and a deterministic fake feature extractor that
stands in for a decoder in tests.

Schema convention for a media table::

    (doc_id: long, media_type: string, payload: binary,
     meta: struct<n_bytes: long, sha256: string>)

Scale notes: payload rows are large — callers should size
``spark.sql.files.maxPartitionBytes`` and
``spark.sql.execution.arrow.maxRecordsPerBatch`` down (e.g. 64) so an Arrow
batch of payloads fits executor memory; all functions here are per-row maps
(no shuffle).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_META_SCHEMA = "doc_id long, media_type string, n_bytes long, sha256 string, checksum long"

FAKE_FEATURE_DIM = 8


def attach_binary_payload(df: DataFrame, text_col: str, id_col: str, media_type: str = "blob") -> DataFrame:
    """Deterministic fake media table: UTF-8 bytes of ``text_col`` as payload.

    Real pipelines read payloads from parquet/iceberg binary columns; this
    builder exists so the plumbing is testable without media files.
    """
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.lit(media_type).alias("media_type"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
    )


def extract_media_meta(df: DataFrame) -> DataFrame:
    """Typed metadata over binary payloads via Arrow-batched mapInPandas.

    Emits ``(doc_id, media_type, n_bytes, sha256, checksum)`` where checksum
    is ``sum(bytes) % 2^31`` — a deterministic stand-in for a decoded
    feature, demonstrating real per-batch numpy work over binary columns.
    """

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            payloads = pdf["payload"]
            n_bytes = payloads.map(len).astype("int64")
            sha = payloads.map(lambda b: hashlib.sha256(bytes(b)).hexdigest())
            checksum = payloads.map(
                lambda b: int(np.frombuffer(bytes(b), dtype=np.uint8).sum()) % (2**31)
            ).astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": n_bytes,
                    "sha256": sha,
                    "checksum": checksum,
                }
            )

    return df.mapInPandas(compute, MEDIA_META_SCHEMA)


def decode_image(df: DataFrame, *, width: int = 224, height: int = 224) -> DataFrame:
    """Decode + resize images to fixed-size float tensors.

    STUB: image codecs (Pillow/opencv) are not available in this
    environment.  The Spark-side contract is defined (payload binary in,
    ``array<float>`` of ``width*height`` out via mapInPandas); plug a real
    decoder into ``fake_image_features``'s slot when codecs exist.
    """
    raise NotImplementedError(
        "image decode requires a codec library (Pillow/opencv) not present in "
        "this environment; use fake_image_features for plumbing tests"
    )


def fake_image_features(df: DataFrame, dim: int = FAKE_FEATURE_DIM) -> DataFrame:
    """Deterministic decoder stand-in: byte-histogram features per payload.

    ``(doc_id, features: array<double>)`` — features[i] = fraction of payload
    bytes with ``byte % dim == i``.  Exercises the exact batch shape and
    UDF signature a real decoder would use (binary in, fixed-dim vector out).
    """

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            feats = []
            for b in pdf["payload"]:
                arr = np.frombuffer(bytes(b), dtype=np.uint8)
                if arr.size == 0:
                    feats.append(np.zeros(dim, dtype=np.float64))
                    continue
                counts = np.bincount(arr % dim, minlength=dim).astype(np.float64)
                feats.append(counts / arr.size)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": feats})

    return df.mapInPandas(compute, "doc_id long, features array<double>")
