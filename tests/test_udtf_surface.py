"""UDTF / grouped-agg surface tests: the Python table-function and
UDAF-analog extension points produce outputs pinned to their columnar
production equivalents (SURVEY.md §2.8)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from weather_data_ingestion_gcp_spark.functions.udtfs import (
    ChunkSpansLogic,
    register_udtfs,
    weighted_mean_udaf,
)
from weather_data_ingestion_gcp_spark.operators import packing


def test_chunk_udtf_matches_columnar_chunker(spark):
    register_udtfs(spark)
    docs = spark.createDataFrame(
        [(0, 25), (1, 8), (2, 1), (3, 16)], "doc_id bigint, n_tokens int"
    )
    docs.createOrReplaceTempView("udtf_docs")
    via_udtf = spark.sql(
        """
        SELECT doc_id, c.chunk_id, c.start_tok, c.chunk_tokens
        FROM udtf_docs, LATERAL chunk_spans(n_tokens, 8, 2) AS c
        """
    ).collect()
    # columnar production path on the same inputs
    via_columnar = packing.chunk_spans(
        docs, "doc_id", F.col("n_tokens"), chunk_len=8, overlap=2
    ).collect()

    got = sorted(
        (r.doc_id, r.chunk_id, r.start_tok, r.start_tok + r.chunk_tokens)
        for r in via_udtf
    )
    want = sorted(
        (r.doc_id, r.chunk_idx, r.tok_start, r.tok_end) for r in via_columnar
    )
    assert got == want


def test_chunk_udtf_covers_every_token(spark):
    spans = list(ChunkSpansLogic().eval(25, 8, 2))
    covered = set()
    for _, start, length in spans:
        covered.update(range(start, start + length))
    assert covered == set(range(25))
    # overlapping stride: consecutive chunks share exactly `overlap` tokens
    assert spans[1][1] - spans[0][1] == 6


def test_chunk_udtf_degenerate_inputs(spark):
    assert list(ChunkSpansLogic().eval(0, 8, 2)) == []
    assert list(ChunkSpansLogic().eval(None, 8, 2)) == []
    assert list(ChunkSpansLogic().eval(5, 8, 2)) == [(0, 0, 5)]


def test_weighted_mean_udaf_matches_builtin(spark):
    df = spark.createDataFrame(
        [("a", 1.0, 1.0), ("a", 3.0, 3.0), ("b", 10.0, 2.0), ("b", 20.0, 0.0)],
        "g string, v double, w double",
    )
    wm = weighted_mean_udaf()
    got = {
        r.g: r.wm
        for r in df.groupBy("g").agg(wm("v", "w").alias("wm")).collect()
    }
    want = {
        r.g: r.wm
        for r in df.groupBy("g")
        .agg((F.sum(F.col("v") * F.col("w")) / F.sum("w")).alias("wm"))
        .collect()
    }
    for g in want:
        assert math.isclose(got[g], want[g], rel_tol=1e-12)


def test_weighted_mean_udaf_skips_nulls_and_nulls_a_zero_weight_group(spark):
    """A NULL value or weight adds nothing to either sum, and a group
    whose weights sum to zero (or are all NULL) gets NULL."""
    df = spark.createDataFrame(
        [
            ("a", 1.0, 1.0), ("a", None, 5.0), ("a", 3.0, None), ("a", 3.0, 3.0),
            ("z", 4.0, 0.0), ("n", 4.0, None),
        ],
        "g string, v double, w double",
    )
    wm = weighted_mean_udaf()
    got = {r.g: r.wm for r in df.groupBy("g").agg(wm("v", "w").alias("wm")).collect()}
    assert got == {"a": 10.0 / 9.0, "z": None, "n": None}
