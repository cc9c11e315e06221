"""Vectorized tokenizer UDFs: the analyzer chain as one Arrow kernel.

Implements the analyzer-chain spec (see textnorm.py) over whole Arrow batches
with pyarrow.compute — RE2 splits and replacements, utf8 trim/lower/NFD,
hash-set stopword membership — and numpy over the flat (token, row) stream:
Lucene 255-char chunking → whitespace split → normalize → stopword mask →
re-split → length filter → prefix truncation → ordered dedup. Every row,
ASCII or not, takes this one path; no per-token Python objects are built,
and the result is an Arrow ListArray the pandas-UDF serializer consumes
zero-copy.

Parity with `textnorm.analyze` is enforced by tests/test_tokenize_udf.py
(including Hypothesis property tests over adversarial Unicode).
"""
from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..stopwords import ALL
from ..textnorm import (
    _COMBINING_RE,
    _JAVA_TRIM,
    _JAVA_WS,
    _MULTISPACE_RE,
    _NONWORD_RE,
    JAVA_WS_RE,
    MAX_NGRAM,
    MAX_TOKEN_LEN,
    MIN_NGRAM,
)

# Lucene's buffer flush: a space after every MAX_TOKEN_LEN chars of a
# whitespace-free run. A match cannot span whitespace, so the split below
# yields exactly the chunks of textnorm._ws_tokenize.
_LONG_RUN_PAT = "([^%s]{%d})" % (re.escape(_JAVA_WS), MAX_TOKEN_LEN)
_STOP_ARR = pa.array(sorted(ALL), type=pa.string())


def _fold(a: pa.Array) -> pa.Array:
    """textnorm.uniform_string: trim → lower → NFD → strip U+0300-036F →
    non-[a-z0-9_-] → space."""
    a = pc.utf8_lower(pc.utf8_trim(a, characters=_JAVA_TRIM))
    a = pc.utf8_normalize(a, form="NFD")
    a = pc.replace_substring_regex(a, pattern=_COMBINING_RE.pattern, replacement="")
    return pc.replace_substring_regex(a, pattern=_NONWORD_RE.pattern, replacement=" ")


def _split(a: pa.Array, pattern: str, row: np.ndarray) -> tuple[pa.Array, np.ndarray]:
    """Split every string on `pattern`; the flat parts with their row ids."""
    parts = pc.split_pattern_regex(a, pattern=pattern)
    return parts.flatten(), np.repeat(row, parts.value_lengths().to_numpy(zero_copy_only=False))


def _keep(a: pa.Array, row: np.ndarray, mask) -> tuple[pa.Array, np.ndarray]:
    return a.filter(mask), row[mask.to_numpy(zero_copy_only=False)]


def _arrow_texts(texts: pd.Series) -> pa.Array:
    """A pandas UDF batch as an Arrow string array, None read as ""."""
    return pc.fill_null(pa.Array.from_pandas(texts, type=pa.string()), "")


def _token_stream(arr: pa.Array, pre_uniform: bool) -> tuple[pa.Array, np.ndarray]:
    """Pre-dedup analyzer stream of a batch (steps 1-5 of the chain): the
    flat prefix tokens in stream order and the input position of each.
    Row ids are non-decreasing; callers add dedup or frequency counting."""
    if pre_uniform:
        arr = _fold(arr)
    arr = pc.replace_substring_regex(arr, pattern=_LONG_RUN_PAT, replacement="\\1 ")
    # 1) whitespace tokenize (Java isWhitespace class), empties dropped
    flat, row = _split(arr, JAVA_WS_RE.pattern, np.arange(len(arr), dtype=np.int64))
    flat, row = _keep(flat, row, pc.greater(pc.utf8_length(flat), 0))
    # 2) UniformFilter on each token
    flat = _fold(flat)
    # 3) StopFilter on the WHOLE uniformized token (may contain spaces)
    flat, row = _keep(flat, row, pc.invert(pc.is_in(flat, value_set=_STOP_ARR)))
    # 4) WhitespaceFilter: java-trim then re-split on " +"
    flat, row = _split(pc.utf8_trim(flat, characters=_JAVA_TRIM), _MULTISPACE_RE.pattern, row)
    # 5) NGramFilter: len >= MIN -> prefix of MAX
    flat, row = _keep(flat, row, pc.greater_equal(pc.utf8_length(flat), MIN_NGRAM))
    return pc.utf8_slice_codeunits(flat, 0, MAX_NGRAM), row


def _token_keys(flat: pa.Array, row: np.ndarray) -> np.ndarray:
    """One int64 key per (row, token) pair, equal exactly when both are."""
    codes = pc.dictionary_encode(flat).indices.to_numpy(zero_copy_only=False).astype(np.int64)
    return row * (int(codes.max(initial=-1)) + 1) + codes


def _head(rows: np.ndarray, k: int) -> np.ndarray:
    """Mask of the first `k` entries of each run of equal ids in `rows`."""
    starts = np.r_[0, np.flatnonzero(np.diff(rows)) + 1]
    seg_len = np.diff(np.r_[starts, len(rows)])
    return np.arange(len(rows)) - np.repeat(starts, seg_len) < k


def _list_offsets(counts: np.ndarray) -> pa.Array:
    """int32 ListArray offsets from per-row list lengths. The sum is taken
    in int64 and refused past the int32 range instead of wrapping."""
    offsets = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    if offsets[-1] > np.iinfo(np.int32).max:
        raise ValueError(
            f"{offsets[-1]} list values exceed the int32 offsets of one Arrow batch"
        )
    return pa.array(offsets.astype(np.int32))


def _tokenize_series(texts: pd.Series, pre_uniform: bool, max_tokens: int | None) -> pd.Series:
    """Series[str] -> Series[list[str]]: ordered distinct prefix tokens of
    each row, optionally capped at `max_tokens`."""
    flat, row = _token_stream(_arrow_texts(texts), pre_uniform)
    # 6) per-row FIRST-OCCURRENCE dedup: first position of each (row, token)
    # key, stream order restored by sorting the kept positions
    _, first = np.unique(_token_keys(flat, row), return_index=True)
    sel = np.sort(first)
    rows_sel = row[sel]
    if max_tokens is not None:
        capped = _head(rows_sel, max_tokens)
        sel, rows_sel = sel[capped], rows_sel[capped]
    lists = pa.ListArray.from_arrays(
        _list_offsets(np.bincount(rows_sel, minlength=len(texts))),
        flat.take(pa.array(sel, type=pa.int64())),
    )
    return pd.Series(pd.arrays.ArrowExtensionArray(lists), index=texts.index)


@pandas_udf(T.ArrayType(T.StringType()))
def tokenize(texts: pd.Series) -> pd.Series:
    """Index-path tokenizer: ordered distinct prefix tokens of a document."""
    return _tokenize_series(texts, pre_uniform=False, max_tokens=None)


@pandas_udf(T.ArrayType(T.StringType()))
def rerank_tokens(texts: pd.Series) -> pd.Series:
    """Rerank-path tokenizer: pre-uniformized, capped at 100 distinct tokens
    (getCommonNGrams semantics — SimDocsSearch.scala:509-528)."""
    return _tokenize_series(texts, pre_uniform=True, max_tokens=100)


_BOTH_RET = T.StructType(
    [
        T.StructField("tokens", T.ArrayType(T.StringType())),
        T.StructField("rr_tokens", T.ArrayType(T.StringType())),
    ]
)


@pandas_udf(_BOTH_RET)
def tokenize_with_rerank(texts: pd.Series, rerank_source: pd.Series) -> pd.DataFrame:
    """Fused index-path + rerank-path tokenizer: ONE Python eval node per doc
    row instead of two (same kernels as `tokenize`/`rerank_tokens`; the build
    path pays the JVM↔Python crossing once — guide §4.1)."""
    return pd.DataFrame(
        {
            "tokens": _tokenize_series(texts, pre_uniform=False, max_tokens=None),
            "rr_tokens": _tokenize_series(rerank_source, pre_uniform=True, max_tokens=100),
        }
    )
