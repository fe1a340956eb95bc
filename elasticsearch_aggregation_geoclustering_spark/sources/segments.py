"""Segment storage layout + resumable build manifest (H1/H3/H4 substrate).

Index directory layout::

    <index_dir>/
      manifest.json                     # params + per-segment lineage/metrics
      docmap/seg_<id>.docmap.parquet      # doc_id, repo, path, commit, (extras), sha256
      segments/seg_<id>.postings.parquet  # term, seg_id, df, doc_ids_vb, tfs_vb, dls_vb
      term_stats/part-*.parquet         # term, df (global), max_tf
      stats.json                        # N, avgdl, total_tokens

Segments are doc_id ranges (``seg_id = doc_id // docs_per_segment``) — the
Spark analog of Lucene's per-shard segments (SURVEY.md H1/H4).  Each segment
is built by exactly one task and written atomically (tmp file + rename), and
the manifest records its sha256, row counts and build parameters, so an
interrupted build resumes by skipping completed segment ids and reproduces
byte-identical files (north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

Postings within a segment are sorted by term, so parquet row-group min/max
statistics prune term lookups at query time without any extra structure.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import asdict, dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

MANIFEST_NAME = "manifest.json"
STATS_NAME = "stats.json"

POSTINGS_ARROW_SCHEMA = pa.schema(
    [
        ("term", pa.string()),
        ("seg_id", pa.int64()),
        ("df", pa.int64()),
        ("doc_ids_vb", pa.binary()),  # delta+varbyte sorted docIDs
        ("tfs_vb", pa.binary()),  # varbyte term frequencies (aligned)
        ("dls_vb", pa.binary()),  # varbyte doc lengths (denormalized norms)
        # varbyte token positions, delta-encoded with a restart per doc —
        # positions for the i-th doc of the posting are the next tfs[i]
        # values (Lucene stores positions for text fields by default; phrase
        # and proximity queries are unanswerable without them).  Parquet
        # column pruning means term/BM25 queries never read these bytes.
        ("pos_vb", pa.binary()),
    ]
)

POSTINGS_SPARK_SCHEMA = (
    "term string, seg_id long, df long, doc_ids_vb binary, tfs_vb binary,"
    " dls_vb binary, pos_vb binary"
)

SEGMENT_MANIFEST_SPARK_SCHEMA = (
    "seg_id long, n_docs long, n_terms long, n_postings long, total_tokens long, "
    "postings_bytes long, sha256 string, build_wall_sec double"
)


@dataclass
class SegmentMeta:
    seg_id: int
    n_docs: int
    n_terms: int
    n_postings: int
    total_tokens: int
    postings_bytes: int
    sha256: str
    build_wall_sec: float


@dataclass
class IndexManifest:
    docs_per_segment: int
    tokenizer_version: str
    num_segments_expected: int
    #: ES mapping index_options: "positions" (default, Lucene text default)
    #: stores token positions per posting; "freqs" omits them (phrase
    #: queries unavailable, smaller segments + shuffle payload)
    index_options: str = "positions"
    segments: dict[str, dict] = field(default_factory=dict)  # seg_id -> SegmentMeta dict
    #: append ledger: one entry per append batch, keyed by a cheap exact
    #: batch fingerprint {n_docs, min_key, max_key, base_sid} — a replayed or
    #: resumed batch matches its entry and reuses base_sid, so its docIDs are
    #: stable and the append is idempotent (at-least-once foreachBatch safe)
    appends: list = field(default_factory=list)

    def completed_segment_ids(self) -> set[int]:
        return {int(s) for s in self.segments}


def manifest_path(index_dir: str) -> str:
    return os.path.join(index_dir, MANIFEST_NAME)


def load_manifest(index_dir: str) -> IndexManifest | None:
    path = manifest_path(index_dir)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        raw = json.load(fh)
    return IndexManifest(
        docs_per_segment=raw["docs_per_segment"],
        tokenizer_version=raw["tokenizer_version"],
        num_segments_expected=raw["num_segments_expected"],
        index_options=detect_index_options(index_dir, raw.get("index_options")),
        segments=raw.get("segments", {}),
        appends=raw.get("appends", []),
    )


def save_manifest(index_dir: str, manifest: IndexManifest) -> None:
    path = manifest_path(index_dir)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(asdict(manifest), fh, indent=1, sort_keys=True)
    os.replace(tmp, path)


def segment_postings_path(index_dir: str, seg_id: int) -> str:
    return os.path.join(index_dir, "segments", f"seg_{seg_id:06d}.postings.parquet")


def docmap_part_path(index_dir: str, seg_id: int) -> str:
    """Per-segment docmap shard — written atomically next to the postings so
    a resumed build never has to rewrite completed segments' doc mappings."""
    return os.path.join(index_dir, "docmap", f"seg_{seg_id:06d}.docmap.parquet")


def segments_glob(index_dir: str) -> str:
    return os.path.join(index_dir, "segments")


def manifest_parts_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "manifest_parts")


def save_manifest_part(index_dir: str, meta: dict) -> None:
    """Atomic per-segment lineage record, written by the task that built the
    segment — folded into manifest.json by the driver afterwards, and
    consulted on resume in case a build crashed between the two."""
    d = manifest_parts_dir(index_dir)
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"seg_{int(meta['seg_id']):06d}.json")
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(meta, fh, sort_keys=True)
    os.replace(tmp, path)


def load_manifest_parts(index_dir: str) -> dict[str, dict]:
    d = manifest_parts_dir(index_dir)
    if not os.path.isdir(d):
        return {}
    out: dict[str, dict] = {}
    for fn in os.listdir(d):
        if fn.endswith(".json"):
            with open(os.path.join(d, fn)) as fh:
                meta = json.load(fh)
            out[str(meta["seg_id"])] = meta
    return out


def write_segment_file(path: str, table: pa.Table) -> tuple[int, str]:
    """Atomically write one segment parquet; returns (bytes, sha256).

    Deterministic bytes: fixed pyarrow options, no timestamps in metadata —
    required for the resumability byte-identity guarantee.
    """
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(
        table,
        tmp,
        compression="zstd",
        use_dictionary=True,
        write_statistics=True,
        data_page_version="2.0",
        store_schema=False,
    )
    digest = hashlib.sha256()
    with open(tmp, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            digest.update(chunk)
    size = os.path.getsize(tmp)
    os.replace(tmp, path)
    return size, digest.hexdigest()


def detect_index_options(index_dir: str, declared: str | None) -> str:
    """Resolve ``index_options`` for metadata that predates the field.

    Indexes built before positional postings existed have segments WITHOUT a
    ``pos_vb`` column and no ``index_options`` entry in their JSON; blindly
    defaulting those to "positions" sends merges and positional queries into
    an opaque missing-column failure.  When the field is absent, sniff one
    segment footer: no ``pos_vb`` column ⇒ the index is a freqs index
    (phrase queries then raise the clear ES-style error instead).
    """
    if declared is not None:
        return declared
    seg_dir = segments_glob(index_dir)
    if os.path.isdir(seg_dir):
        for fn in sorted(os.listdir(seg_dir)):
            if fn.endswith(".parquet"):
                schema = pq.read_schema(os.path.join(seg_dir, fn))
                return "positions" if "pos_vb" in schema.names else "freqs"
    return "positions"


def load_stats(index_dir: str) -> dict:
    with open(os.path.join(index_dir, STATS_NAME)) as fh:
        stats = json.load(fh)
    if "index_options" not in stats:
        stats["index_options"] = detect_index_options(index_dir, None)
    return stats


def save_stats(index_dir: str, stats: dict) -> None:
    tmp = os.path.join(index_dir, STATS_NAME + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(stats, fh, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(index_dir, STATS_NAME))


def now() -> float:
    return time.time()
