"""Focused pins for internals changed by the round-7 optimization pass:

- quantize_dl_col (JVM SmallFloat quantization) == bm25.quantize_dl
- tokenize_with_rerank (fused UDF) == tokenize + rerank_tokens
- the Arrow tokenizer kernel == the textnorm spec on MIXED batches
  (ascii / non-ascii / >255-char-token rows interleaved)
- streaming.incarnation_salt: stable across restarts of the same
  checkpoint, DISTINCT after a delete-and-recreate of the same path
- util.local_df empty branch: zero-row typed plan, no RDD
- util.read_spread: spreads a deficient scan, memoizes the probe
"""
from __future__ import annotations

import random
import shutil

import pytest

pytestmark = pytest.mark.usefixtures("spark")


def test_quantize_dl_col_matches_spec(spark):
    from pyspark.sql import functions as F

    from similardocs_spark import bm25
    from similardocs_spark.index.build import quantize_dl_col

    rng = random.Random(13)
    vals = list(range(0, 3000)) + [rng.randint(0, 10**9) for _ in range(2000)]
    df = spark.createDataFrame([(v,) for v in vals], "dl long").select(
        "dl", quantize_dl_col(F.col("dl")).alias("q")
    )
    for r in df.collect():
        assert r["q"] == bm25.quantize_dl(r["dl"]), r


def test_fused_tokenizer_udf_matches_parts(spark):
    from pyspark.sql import functions as F

    from similardocs_spark.functions.tokenize import (
        rerank_tokens,
        tokenize,
        tokenize_with_rerank,
    )

    rows = [
        ("the quick brown fox jumps over the lazy dog tonight", "quick brown"),
        ("", ""),
        ("Açaí náive rêsumé and ASCII words mixed tögether", "Açaí rêsumé"),
        ("identical identical identical", "identical identical"),
        ("x" * 300 + " tail words here", "short"),
    ]
    df = spark.createDataFrame(rows, "text string, rr string")
    both = df.select(
        tokenize_with_rerank(F.col("text"), F.col("rr")).alias("b"),
        tokenize(F.col("text")).alias("t"),
        rerank_tokens(F.col("rr")).alias("r"),
    ).collect()
    for row in both:
        assert list(row["b"]["tokens"]) == list(row["t"])
        assert list(row["b"]["rr_tokens"]) == list(row["r"])


def test_arrow_tokenizer_matches_spec_on_mixed_batch():
    import pandas as pd

    from similardocs_spark.functions.tokenize import _tokenize_series
    from similardocs_spark.textnorm import analyze

    rng = random.Random(99)
    words = ["alpha", "Beta", "the", "and", "x1", "naïve", "tök", "été"]
    texts = []
    for i in range(400):
        n = rng.randint(0, 40)
        texts.append(" ".join(rng.choice(words) for _ in range(n)))
    # interleave every input shape: pure-ascii rows, non-ascii rows,
    # 255/256-char runs, empties, None
    texts += ["", None, "y" * 256, "z" * 255 + " ok", "ascii only words here"]
    s = pd.Series(texts)
    for pre, cap in ((False, None), (True, 100), (False, 3)):
        got = _tokenize_series(s, pre, cap)
        for i in range(len(s)):
            ref = analyze(texts[i] or "", pre_uniform=pre, max_tokens=cap)
            assert list(got.iloc[i]) == ref, (i, texts[i], pre, cap)


def test_incarnation_salt(tmp_path):
    from similardocs_spark.streaming import incarnation_salt

    ckpt = str(tmp_path / "ckpt")
    s1 = incarnation_salt(ckpt)
    # stable across crash-restarts of the SAME checkpoint
    assert incarnation_salt(ckpt) == s1
    # a delete-and-recreate of the same PATH is a new incarnation:
    # labels must not collide with the previous incarnation's partitions
    shutil.rmtree(ckpt)
    s2 = incarnation_salt(ckpt)
    assert s2 != s1
    assert incarnation_salt(ckpt) == s2


def test_local_df_empty_is_typed_zero_row_plan(spark):
    from similardocs_spark.util import local_df

    df = local_df(
        spark, [], "a string, b long, c array<string>, d double"
    )
    assert df.collect() == []
    assert [f.simpleString() for f in df.schema.fields] == [
        "a:string", "b:bigint", "c:array<string>", "d:double",
    ]
    # no RDD scan / python task in the plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" not in plan


def test_read_spread_spreads_and_memoizes(spark, tmp_path):
    from similardocs_spark import util

    p = str(tmp_path / "one_file_table")
    spark.range(1000).coalesce(1).write.parquet(p)
    before = dict(util._SPREAD_CACHE)
    df = util.read_spread(spark, p)
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r["id"] for r in df.collect()) == list(range(1000))
    # second call hits the memo (no new probe entries beyond this path's)
    key_count = len(util._SPREAD_CACHE) - len(before)
    util.read_spread(spark, p)
    assert len(util._SPREAD_CACHE) - len(before) == key_count
