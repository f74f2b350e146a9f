"""Embedding-column transforms: L2 normalization and random-projection
dimensionality reduction (Johnson–Lindenstrauss).

At 100 TB the embedding columns dominate storage and ANN cost; a JL
projection to k ≪ d compresses both while preserving pairwise geometry
(distortion ~ O(1/√k)). The projected vectors feed the existing ANN stack
(cosine_topk / lsh_topk / ivf_topk) unchanged.

Scale design:
- The projection matrix is O(d·k) floats, generated deterministically from
  a seed on the driver and **broadcast** — never shuffled, never collected
  from data.
- The projection itself runs as an Arrow-batched ``mapInPandas``: each
  batch is stacked into one numpy matrix and multiplied with a single BLAS
  GEMM (the vectorized fast path; a per-row higher-order-function
  formulation would be interpreted per element — the same reasoning as
  decontaminate's broadcast-set scan, PERF.md).
- :func:`normalize_vecs` stays a pure column expression (codegen) since
  it is one pass over the array with no matrix math.

No DuckDB oracle (float-matrix output); correctness is pytest-pinned
against numpy on the same matrix, plus a JL distortion-bound property
test (tests/test_embeddings.py).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def projection_matrix(in_dim: int, out_dim: int, seed: int = 42):
    """Deterministic Gaussian JL matrix, scaled 1/√out_dim (so projected
    dot products estimate original dot products unbiasedly)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return (rng.standard_normal((in_dim, out_dim)) /
            np.sqrt(out_dim)).astype("float64")


def reduce_dims(df: DataFrame, vec_col: str = "embedding",
                out_dim: int = 16, seed: int = 42,
                in_dim: int | None = None) -> DataFrame:
    """All input columns preserved; ``vec_col`` replaced by its ``out_dim``-
    dimensional projection (array<float>). Pass ``in_dim`` when known to
    skip the one-row dimension-discovery job."""
    import numpy as np
    import pandas as pd

    from datapump_spark.operators.similarity import vec_dim

    in_dim = vec_dim(df, vec_col, in_dim)
    mat = projection_matrix(in_dim, out_dim, seed)
    bc = df.sparkSession.sparkContext.broadcast(mat)

    fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
        if f.name != vec_col)
    out_schema = f"{fields}, `{vec_col}` array<float>"
    other = [c for c in df.columns if c != vec_col]

    def project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.vstack(pdf[vec_col].to_numpy())      # (n, d)
            y = (x @ m).astype("float32")               # one GEMM per batch
            out = pdf[other].copy()
            out[vec_col] = list(y)
            yield out

    return df.mapInPandas(project, schema=out_schema)


def normalize_vecs(df: DataFrame, vec_col: str = "embedding",
                   out_col: str | None = None) -> DataFrame:
    """L2-normalize (zero vectors pass through unchanged) — pure column
    expression, codegen, no shuffle."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0),
                              lambda acc, x: acc + x))
    safe = F.when(norm > 0, norm).otherwise(F.lit(1.0))
    scaled = F.transform(v, lambda x: (x / safe).cast("float"))
    return df.withColumn(out_col or vec_col, scaled)


def hash_embed(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    seed: int = 42,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, embedding array<double>): L2-normalized feature-hashing
    ("hashing trick") text vectors — term frequencies scattered into
    ``dim`` buckets by token hash (Weinberger et al. 2009; sklearn's
    HashingVectorizer). No vocabulary, no trained state, no model
    download: the only text embedder that is a pure function, which makes
    it the zero-dependency encoder for the RAG recipe and a real (if
    lexical) retrieval baseline.

    Entirely codegen + one aggregation: explode tokens → (id, hash%dim)
    counts → map_from_arrays → densify with a ``transform(sequence)``
    lookup → normalize. No Python, no UDF; the shuffle key is ``id``
    (the same grouping any per-doc feature pass needs). Documents with
    zero tokens drop out (no direction exists for an empty text).
    ``hash_fn``: 'md5' (engine-portable, DuckDB-oracle-comparable — the
    repo's verifiability default) or 'xxhash64' (production fast path).
    """
    from datapump_spark.functions.hashing import hash63, tokens

    toks = df.select(
        F.col(id_col),
        F.explode(tokens(F.col(text_col))).alias("__tok"))
    counts = (
        toks.select(
            id_col,
            F.pmod(
                hash63(F.concat(F.lit(f"emb{seed}:"), F.col("__tok")),
                       hash_fn),
                F.lit(dim))
            .cast("int").alias("__slot"))
        .groupBy(id_col, "__slot").agg(F.count(F.lit(1)).alias("__c"))
    )
    dense = (
        counts.groupBy(id_col)
        .agg(F.map_from_arrays(F.collect_list("__slot"),
                               F.collect_list("__c")).alias("__m"))
        .select(
            id_col,
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(F.element_at("__m", i.cast("int")),
                                     F.lit(0)).cast("double"),
            ).alias("__v"))
    )
    nrm = F.sqrt(F.aggregate(
        F.transform("__v", lambda x: x * x), F.lit(0.0),
        lambda acc, x: acc + x))
    return dense.select(
        id_col,
        F.transform("__v", lambda x: x / nrm).alias("embedding"))
