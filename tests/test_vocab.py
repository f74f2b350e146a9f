"""Vocabulary build + token-id encoding: join semantics, determinism,
OOV handling, empty-doc handling."""

from __future__ import annotations

from pyspark.sql import functions as F

from datapump_spark.operators.vocab import (
    build_vocab,
    encode_tokens,
    vocab_coverage,
)


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog ate the cat food"),
            (3, "zebra xylophone"),          # rare tokens → OOV
            (4, ""),                          # empty doc
            (5, None),                        # null doc
            (6, "the the the cat"),
        ],
        "doc_id bigint, text string",
    )


def test_build_vocab_order_and_ids(spark):
    v = build_vocab(_docs(spark), top_k=3, min_count=2).collect()
    # only 'the' ×7 and 'cat' ×3 clear min_count=2
    assert [(r["token"], r["token_id"], r["n_occurrences"]) for r in v] == [
        ("the", 1, 7), ("cat", 2, 3)]


def test_encode_join_semantics(spark):
    d = _docs(spark)
    v = build_vocab(d, top_k=10, min_count=2)
    enc = {r["doc_id"]: r for r in encode_tokens(d, v).collect()}
    vmap = {r["token"]: r["token_id"] for r in v.collect()}
    # order preserved, OOV → 0
    want1 = [vmap.get(t, 0) for t in "the cat sat on the mat".split()]
    assert enc[1]["token_ids"] == want1
    assert enc[3]["token_ids"] == [0, 0]
    assert enc[3]["n_oov"] == 2
    # empty/null docs survive with empty arrays
    assert enc[4]["token_ids"] == [] and enc[4]["n_tokens"] == 0
    assert enc[5]["token_ids"] == [] and enc[5]["n_oov"] == 0


def test_vocab_coverage(spark):
    d = _docs(spark)
    v = build_vocab(d, top_k=10, min_count=2)
    row = vocab_coverage(encode_tokens(d, v)).collect()[0]
    assert row["n_docs"] == 6
    total = sum(len((t or "").split()) for _, t in _docs(spark).collect())
    assert row["total_tokens"] == total
    assert 0 < row["oov_rate"] < 1
    assert row["total_oov"] == round(row["oov_rate"] * row["total_tokens"])


def test_vocab_deterministic_across_partitionings(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    v1 = build_vocab(docs, top_k=50, min_count=2).collect()
    v2 = build_vocab(docs.repartition(13), top_k=50, min_count=2).collect()
    assert [(r["token"], r["token_id"], r["n_occurrences"]) for r in v1] == \
           [(r["token"], r["token_id"], r["n_occurrences"]) for r in v2]
