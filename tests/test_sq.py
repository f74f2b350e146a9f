"""SQ8 scalar quantization (operators/sq.py): recall vs exact, codegen
purity, code-range/determinism contracts, dequantization error bound."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datapump_spark.operators.similarity import cosine_topk
from datapump_spark.operators.sq import (
    sq8_encode,
    sq8_reconstruction_mse,
    sq8_topk,
    train_sq8,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def model(emb):
    return train_sq8(emb)


def test_model_shape_and_codes_range(emb, model):
    dim = len(emb.select("embedding").first()["embedding"])
    assert len(model["mins"]) == len(model["steps"]) == dim
    assert all(s >= 0 for s in model["steps"])
    codes = sq8_encode(emb, model)
    stats = codes.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
        F.count(F.lit(1)).alias("n")).first()
    assert stats["lo"] >= 0 and stats["hi"] <= 255
    assert stats["n"] == emb.count()
    # deterministic
    a = sorted(map(tuple, codes.collect()))
    b = sorted(map(tuple, sq8_encode(emb, model).collect()))
    assert a == b


def test_recall_near_exact(emb, model):
    """8-bit per-dim quantization should be nearly lossless for top-k:
    ≥0.9 recall@10 WITHOUT re-rank (far above PQ at the same corpus),
    and ~1.0 with a small re-rank factor."""
    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(emb, k=10, query_max_id=20).collect()}
    raw = {(r["query_id"], r["neighbor_id"])
           for r in sq8_topk(emb, model, k=10, query_max_id=20).collect()}
    rr = {(r["query_id"], r["neighbor_id"])
          for r in sq8_topk(emb, model, k=10, query_max_id=20,
                            rerank_factor=4).collect()}
    assert len(exact & raw) / len(exact) >= 0.9
    assert len(exact & rr) / len(exact) >= 0.97


def test_scan_is_codegen_only(emb, model):
    plan = sq8_encode(emb, model)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_reconstruction_error_bounded(emb, model):
    # worst case per dim is (step/2)^2; steps are O(1/255) on normalized
    # vectors, so the total must be far below PQ-level distortion
    mse = sq8_reconstruction_mse(emb, model)
    dim = len(model["mins"])
    assert 0 <= mse <= dim * (max(model["steps"]) / 2) ** 2 + 1e-12


def test_external_queries_and_constant_dim(spark):
    from datapump_spark.operators.sq import train_sq8 as t

    rows = [(i, [float(i % 7), 3.0, float((i * 3) % 5)]) for i in range(1, 40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    model = t(df)
    probe = df.where(F.col("vec_id") == 9).select(
        (-F.col("vec_id")).alias("vec_id"), "embedding")
    hits = sq8_topk(df, model, k=1, queries=probe, rerank_factor=4).collect()
    assert hits and hits[0]["query_id"] == -9
    # identical-direction twin (9 and its multiples mod pattern) or itself
    assert hits[0]["score"] >= 0.999999


def test_short_or_empty_dimension_is_named(spark):
    """A vector shorter than ``dim``, or a dimension with no values, fails
    with a ValueError naming the dimension, not a bare TypeError."""
    short = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [2.0, 1.0]), (3, [3.0, 2.0, 1.0])],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="dimension 2 is missing"):
        train_sq8(short, dim=3)
    holes = spark.createDataFrame(
        [(1, [1.0, None]), (2, [2.0, None])],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="dimension 1 .* has no values"):
        train_sq8(holes, normalize=False, dim=2)
