"""Parity: Arrow tokenizer kernel == pure-Python spec (textnorm.analyze).

Batch-level tests run without Spark (fast, incl. Hypothesis properties); one
Spark round-trip test validates the Arrow UDF wiring end-to-end.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from similardocs_spark.functions.tokenize import _list_offsets, _tokenize_series
from similardocs_spark.textnorm import MAX_TOKEN_LEN, analyze

ADVERSARIAL = [
    "",
    "   \t\n ",
    "the cat and the dog",
    "Café — Ção! zika DENGUE zika",
    "a b nbsp joined",
    "the(cat don't can't 'll",
    "x" * 600,
    "a" * 255 + "b" * 300,
    "febre-amarela _under_ hy-phen 123 12 1",
    "É À ñ ç ß æ 中文 русский",
    "é combining eݕ outside-block",
    "keep keeps keep\tkeeps",
    "word" + "́" * 5,
    "tab\tsep\nnewline\rcr",
    " ".join(f"w{i:03d}" for i in range(300)),
    "é" * 300,
    "c" * 255 + "\xa0nbsp glued",
    "a" * 254 + "bcdefgh",
    "d" * 255 + "\u3000ideographic space",
    "İstanbul \u212aELVIN \u212b Å",
]

# whitespace-free runs past MAX_TOKEN_LEN (no Z or C category: no Java
# whitespace inside), each followed by a separator and a short tail
_LONG_RUNS = st.lists(
    st.tuples(
        st.text(
            alphabet=st.characters(codec="utf-8", categories=("L", "N", "P", "M", "S")),
            min_size=MAX_TOKEN_LEN + 1,
            max_size=700,
        ),
        st.sampled_from(["", " ", "\xa0", "\u3000", "\t"]),
        st.text(max_size=20),
    ).map("".join),
    min_size=1,
    max_size=4,
)


def _check(cases: list[str]) -> None:
    got = _tokenize_series(pd.Series(cases, dtype=object), False, None).tolist()
    exp = [analyze(c) for c in cases]
    assert got == exp
    got_r = _tokenize_series(pd.Series(cases, dtype=object), True, 100).tolist()
    exp_r = [analyze(c, pre_uniform=True, max_tokens=100) for c in cases]
    assert got_r == exp_r


def test_adversarial_cases():
    _check(ADVERSARIAL)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", categories=("L", "N", "P", "Z", "M", "S", "C")
            ),
            max_size=80,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_property_parity(texts):
    _check(texts)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abc ézÇ-_.()\t ção", max_size=60), min_size=1, max_size=6
    )
)
def test_property_parity_focused(texts):
    _check(texts)


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(_LONG_RUNS)
def test_property_parity_long_runs(texts):
    _check(texts)
    _check_ngram(texts, 4)


def test_list_offsets_refuse_int32_overflow():
    assert _list_offsets(np.array([2**31 - 1])).to_pylist() == [0, 2**31 - 1]
    with pytest.raises(ValueError):
        _list_offsets(np.array([2**31 - 1, 2]))


@pytest.mark.spark
def test_udf_on_spark(spark):
    from pyspark.sql import functions as F

    from similardocs_spark.functions.tokenize import rerank_tokens, tokenize

    df = spark.createDataFrame([(i, t) for i, t in enumerate(ADVERSARIAL)], "id int, text string")
    rows = (
        df.select("id", tokenize("text").alias("toks"), rerank_tokens("text").alias("rr"))
        .orderBy("id")
        .collect()
    )
    for r, text in zip(rows, ADVERSARIAL):
        assert r.toks == analyze(text), text
        assert r.rr == analyze(text, pre_uniform=True, max_tokens=100), text


def _check_ngram(cases: list[str], num_tokens: int = 5) -> None:
    from similardocs_spark.functions.ngram_text import _ngram_text_series, ngram_text

    got = _ngram_text_series(pd.Series(cases, dtype=object), num_tokens).tolist()
    exp = [ngram_text(c or "", num_tokens) for c in cases]
    assert got == exp


def test_ngram_text_vectorized_adversarial():
    _check_ngram(ADVERSARIAL, 3)
    _check_ngram(ADVERSARIAL, 10)
    _check_ngram(["\xa0edge nbsp\xa0", None, "dup dup dup one two two"], 2)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", categories=("L", "N", "P", "Z", "M", "S", "C")
            ),
            max_size=80,
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=12),
)
def test_ngram_text_property_parity(texts, num_tokens):
    _check_ngram(texts, num_tokens)
