"""Focused pins for the round-14 optimization internals.

Each test pins an equivalence or contract an r14 optimization relies on:
the perplexity single-count-table formulation must equal the historical
three-pass formulation row-for-row; the lexical build's observed stats
must equal the historical pre-flight aggregate (including the empty-input
fallback) and its meta must carry the bucket manifest; tiny_df must fail
loudly on NaN (ADVICE r13) and parse parameterized DDL types correctly
(ADVICE r13); the tiny_df Arrow fast path must be pinned as such, not
just as "no Python eval" (ADVICE r13 — the pickle fallback also has no
EvalPython node).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from substreams_sink_parquet_spark.operators._helpers import (
    _top_level_fields,
    tiny_df,
)


@pytest.fixture(scope="module")
def spark():
    from substreams_sink_parquet_spark.session import get_spark

    return get_spark("test-r14-opt")


def test_top_level_fields_handles_parameterized_types():
    assert _top_level_fields("g decimal(10,2), _barr array<struct<a:int>>") \
        == ["g", "_barr"]
    assert _top_level_fields("a varchar(5), b map<string,int>, c int") \
        == ["a", "b", "c"]


def test_tiny_df_rejects_nan_loudly(spark):
    with pytest.raises(ValueError, match="NaN"):
        tiny_df(spark, [(1, float("nan"))], "i int, d double")
    # nested NaN too
    with pytest.raises(ValueError, match="NaN"):
        tiny_df(spark, [(1, [0.5, float("nan")])],
                "i int, v array<double>")
    # finite doubles still pass
    rows = tiny_df(spark, [(1, 0.5)], "i int, d double").collect()
    assert rows == [(1, 0.5)]


def test_tiny_df_rejects_nan_in_dict_value(spark):
    with pytest.raises(ValueError, match="NaN"):
        tiny_df(spark, [(1, {"k": float("nan")})], "i int, m map<string,double>")


def test_tiny_df_takes_arrow_fast_path(spark):
    # ADVICE r13: pin the OPTIMIZATION, not just the absence of a Python
    # node — the pickle fallback also plans without EvalPython. The Arrow
    # driver-side conversion plans as a LocalRelation (LocalTableScan in
    # the executed plan); the pickle path plans as Scan ExistingRDD.
    df = tiny_df(spark, [(1, "a"), (2, "b")], "i int, s string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def test_perplexity_single_count_table_matches_three_pass(spark):
    """The r14 bigram_lm_score formulation (one occurrence stream with a
    NULL terminal sentinel; unigram counts as a window sum over the
    bigram count table) must reproduce the historical three-pass
    formulation exactly — including single-token docs, empty-string
    tokens, repeated bigrams, and null-text docs."""
    from substreams_sink_parquet_spark.llm.text import bigram_lm_score

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat sat"),
            (3, "single"),
            (4, ""),              # one empty-string token, no bigrams
            (5, None),            # null text: no tokens at all
            (6, "the the the"),   # repeated unigrams and bigrams
            (7, "a  b"),          # double space -> empty middle token
        ],
        "doc_id long, text string",
    )
    got = sorted(map(tuple, bigram_lm_score(docs).collect()))

    # historical three-pass formulation, inlined as the spec
    words = F.split("text", " ")
    seq = F.sequence(F.lit(0), F.size(words) - 2)
    bigs = F.transform(
        seq,
        lambda i: F.struct(
            F.element_at(words, i + 1).alias("w1"),
            F.element_at(words, i + 2).alias("w2"),
        ),
    )
    guarded = F.when(F.size(words) >= 2, bigs).otherwise(
        F.array().cast("array<struct<w1:string,w2:string>>")
    )
    bigrams = docs.select(
        "doc_id", F.explode(guarded).alias("b")
    ).select("doc_id", "b.w1", "b.w2")
    uni = (
        docs.select(F.explode(words).alias("w1"))
        .groupBy("w1").agg(F.count("*").alias("c_uni"))
    )
    bg = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c_bg"))
    lp = F.round(
        F.log(F.col("c_bg").cast("double") / F.col("c_uni")), 9
    ).cast("decimal(12,9)")
    want = sorted(map(tuple, (
        bigrams.join(bg, ["w1", "w2"]).join(uni, "w1")
        .select("doc_id", lp.alias("lp"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("lp").alias("slp"))
        .select(
            "doc_id", "n_bigrams",
            F.round(-F.col("slp").cast("double") / F.col("n_bigrams"), 6)
            .alias("neg_avg_logprob"),
        )
    ).collect()))
    assert got == want
    # docs 3/4/5 have no bigrams and must be absent from the output
    assert {r[0] for r in got} == {1, 2, 6, 7}


def test_lexical_build_observed_stats_match_direct_aggregate(spark,
                                                             tmp_path):
    """The observed (n_docs, sum_dl) riding the postings write must equal
    the historical pre-flight aggregate — exact integer count/sum — and
    the meta manifest must list exactly the bucket dirs present."""
    import substreams_sink_parquet_spark.llm.lexical_index as L

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a"), (3, ""), (4, None), (5, "d e")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "lex")
    meta = L.write_lexical_index(docs, idx, n_buckets=8)
    row = docs.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.size(F.split(F.col("text"), " "))),
                   F.lit(0)).alias("s"),
    ).collect()[0]
    assert meta["n_docs"] == row.n
    assert meta["sum_dl"] == row.s
    present = sorted(
        int(p.name.split("=", 1)[1])
        for p in (tmp_path / "lex" / "postings").iterdir()
        if p.name.startswith("term_bucket=")
    )
    assert meta["buckets"] == present
    # empty-input fallback (provably-empty plan prunes the metrics node)
    idx2 = str(tmp_path / "lex2")
    meta2 = L.write_lexical_index(docs.filter(F.lit(False)), idx2,
                                  n_buckets=8)
    assert meta2["n_docs"] == 0 and meta2["sum_dl"] == 0
    assert meta2["buckets"] == []


def test_lexical_serve_skips_trees_without_probed_buckets(spark, tmp_path):
    """A query whose terms hash only into absent buckets returns empty
    WITHOUT constructing a postings scan (the manifest early-out); a
    query with hits still scores exactly."""
    import substreams_sink_parquet_spark.llm.lexical_index as L

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma")], "doc_id long, text string"
    )
    idx = str(tmp_path / "lex")
    meta = L.write_lexical_index(docs, idx, n_buckets=64)
    assert meta["buckets"]  # manifest recorded
    import zlib

    # find a term whose bucket is absent from the manifest
    oov = next(
        w for w in ("zzz%d" % i for i in range(1000))
        if zlib.crc32(w.encode()) % 64 not in set(meta["buckets"])
    )
    qs = spark.createDataFrame([(1, oov)], "query_id int, query string")
    out = L.bm25_scores_indexed(spark, idx, qs)
    assert out.count() == 0
    # the early-out returned the degenerate frame: no parquet scan at all
    assert "Parquet" not in out._jdf.queryExecution().executedPlan().toString()
    qs2 = spark.createDataFrame([(1, "alpha")], "query_id int, query string")
    assert L.bm25_scores_indexed(spark, idx, qs2).count() == 2


def test_nan_not_rejected_by_collected_df(spark):
    # the documented NaN escape hatch stays intact
    from substreams_sink_parquet_spark.operators._helpers import collected_df

    rows = collected_df(spark, [(1, float("nan"))], "i int, d double") \
        .collect()
    assert rows[0][0] == 1 and math.isnan(rows[0][1])
