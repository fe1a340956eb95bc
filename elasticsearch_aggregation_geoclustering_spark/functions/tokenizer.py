"""The engine's analyzer: a pinned, deterministic code-aware tokenizer (H2).

Spec (documented so the SQL oracle and the numpy oracle can reproduce it
exactly — determinism is required for BM25 rank-identity, SURVEY.md §7):

* lowercase the text,
* tokens are maximal runs of ``[a-z0-9_]`` (so identifiers like ``snake_case``
  stay whole, and punctuation/operators split — suited to source code),
* empty tokens dropped; no stemming, no stopwords, no length cap.

Equivalent DuckDB SQL::

    unnest(string_split_regex(lower(text), '[^a-z0-9_]+'))  ... WHERE tok <> ''

Equivalent Spark SQL (JVM-side, used on the hot path)::

    explode(split(lower(text), '[^a-z0-9_]+'))  ... WHERE tok <> ''
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

#: bump when the tokenizer spec changes; recorded in index manifests
TOKENIZER_VERSION = "code-v1"

TOKEN_SPLIT_REGEX = "[^a-z0-9_]+"
_TOKEN_RE = re.compile(r"[a-z0-9_]+")


def tokenize_column(text: Column) -> Column:
    """Array-of-tokens column using only JVM built-ins (no Python)."""
    return F.filter(F.split(F.lower(text), TOKEN_SPLIT_REGEX), lambda t: t != "")


def tokenize_sql(text: str) -> str:
    """:func:`tokenize_column` as SQL text over the string expression ``text``."""
    return f"filter(split(lower({text}), '{TOKEN_SPLIT_REGEX}'), t -> t != '')"


def tokenize_pandas(texts: pd.Series) -> pd.Series:
    """Vectorized pandas tokenization: Series[str] -> Series[list[str]]."""
    return texts.fillna("").str.lower().str.findall(_TOKEN_RE)


def doc_term_frequencies(texts: pd.Series) -> pd.DataFrame:
    """Per-document term frequencies for a batch of texts.

    Returns a DataFrame ``(row, term, tf)`` where ``row`` is the positional
    index into ``texts``; plus doc length is ``groupby(row).tf.sum()``.
    All pandas/numpy column ops — no per-row Python loop.

    This is the positions-FREE fast path (``index_options='freqs'`` builds):
    it skips ``doc_term_positions``'s extra per-occurrence work (the position
    arange and the stable argsort over every token occurrence) — only the
    factorize/unique pass over distinct (row, term) pairs runs.  Output rows
    and ordering are identical to ``doc_term_positions()[0]`` (pinned by
    tests/test_index_options.py).
    """
    empty = pd.DataFrame(
        {"row": np.empty(0, np.int64), "term": [], "tf": np.empty(0, np.int64)}
    )
    tokens = tokenize_pandas(texts.reset_index(drop=True))
    exploded = tokens.explode().dropna()
    if exploded.empty:
        return empty
    rows = exploded.index.to_numpy(np.int64)
    codes, uniques = pd.factorize(exploded.to_numpy(), sort=True)
    n_terms = len(uniques)
    pair = rows * np.int64(n_terms) + codes
    uk, tf = np.unique(pair, return_counts=True)
    return pd.DataFrame(
        {
            "row": uk // n_terms,
            "term": uniques[uk % n_terms],
            "tf": tf.astype(np.int64),
        }
    )


def doc_term_positions(texts: pd.Series) -> tuple[pd.DataFrame, np.ndarray]:
    """Term frequencies PLUS token positions for a batch of texts.

    Returns ``(frame, pos_flat)``: ``frame`` is the ``(row, term, tf)``
    DataFrame of doc_term_frequencies, and ``pos_flat`` the 0-based token
    positions of every occurrence, concatenated in frame order — the
    positions of frame row i are ``pos_flat[cum_tf[i-1]:cum_tf[i]]``,
    ascending within each (row, term).  Same vectorized factorize/unique
    pass as before; positions cost one extra arange-difference.
    """
    empty = pd.DataFrame(
        {"row": np.empty(0, np.int64), "term": [], "tf": np.empty(0, np.int64)}
    )
    tokens = tokenize_pandas(texts.reset_index(drop=True))
    exploded = tokens.explode().dropna()
    if exploded.empty:
        return empty, np.empty(0, np.int64)
    rows = exploded.index.to_numpy(np.int64)
    # token position within its doc: explode preserves per-row order, so the
    # position is the global index minus the row's first global index
    idx = np.arange(rows.size, dtype=np.int64)
    row_change = np.flatnonzero(np.concatenate(([True], rows[1:] != rows[:-1])))
    row_lens = np.diff(np.append(row_change, rows.size))
    pos = idx - np.repeat(idx[row_change], row_lens)
    # factorize(sort=True) + packed-key unique ≈ 5-10x faster than an
    # object-dtype groupby; output order (row asc, term asc) is identical
    codes, uniques = pd.factorize(exploded.to_numpy(), sort=True)
    n_terms = len(uniques)
    pair = rows * np.int64(n_terms) + codes
    uk, tf = np.unique(pair, return_counts=True)
    # stable sort by pair groups occurrences in frame order with positions
    # ascending inside each (row, term) run
    order = np.argsort(pair, kind="stable")
    frame = pd.DataFrame(
        {
            "row": uk // n_terms,
            "term": uniques[uk % n_terms],
            "tf": tf.astype(np.int64),
        }
    )
    return frame, pos[order]


def tokenize_python(text: str) -> list[str]:
    """Scalar tokenizer for oracles and tests."""
    return _TOKEN_RE.findall(text.lower())
