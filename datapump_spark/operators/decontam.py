"""Benchmark decontamination — n-gram overlap between a training corpus
and an evaluation set.

The standard pre-training hygiene step (GPT-3 appendix C / PaLM style):
a training document is *contaminated* when it shares at least
``min_overlap`` distinct word ``n``-grams (n=13 is the published norm)
with any benchmark document. Both sides reduce to (doc, gram-hash)
pairs; the benchmark side is tiny (eval sets are thousands of rows), so
its distinct gram set broadcasts and the corpus side never shuffles.
:func:`decontaminate` counts the benchmark and, while it fits the
driver, scans the corpus once against a broadcast Python set of its
grams; a larger benchmark takes the gram join, whose only exchange is
the per-document hit count aggregation on post-join survivors (a
vanishing fraction of the corpus at 100 TB).

Hashing uses the cross-engine md5→bigint profile by default so the
DuckDB oracle can replay it; production flips ``hash_fn='xxhash64'``
(same plan, JVM-native speed) — see :mod:`datapump_spark.functions.hashing`.
Extends the reference (no text analysis there, SURVEY §2.9) per the
build plan's training-data surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datapump_spark.cachescope import scoped_persist
from datapump_spark.functions.hashing import hash63, tokens

# decontaminate's path gate: benchmark row count at or under this →
# broadcast-set mapInPandas scan; above → expr gram-join. Eval sets are
# thousands of rows; 200k rows × ~1k grams/doc of 13-word strings is the
# practical ceiling for a driver-built Python set broadcast.
AUTO_PANDAS_MAX_BENCH_ROWS = 200_000


def doc_ngram_hashes(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 13,
                     hash_fn: str = "md5") -> DataFrame:
    """Distinct word-``n``-gram hashes per document, exploded to
    ``(id, gram)`` rows. Documents shorter than ``n`` words contribute
    nothing. Pure column expressions until the explode — no shuffle."""
    toks = tokens(F.col(text_col))
    d = df.withColumn("__t", toks).withColumn("__n", F.size("__t"))
    grams = F.when(
        F.col("__n") >= n,
        F.transform(
            F.sequence(F.lit(1), F.col("__n") - n + 1),
            lambda i: hash63(F.array_join(F.slice("__t", i, n), " "),
                             hash_fn),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return d.select(F.col(id_col),
                    F.explode(F.array_distinct(grams)).alias("gram"))


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    min_overlap: int = 1,
    hash_fn: str = "md5",
) -> DataFrame:
    """Flag corpus documents sharing ≥ ``min_overlap`` distinct
    ``n``-grams with the benchmark.

    Returns one row per corpus document: ``(id, n_hit_grams,
    contaminated)`` — rejects are flagged, not dropped, so downstream
    routes them (same keep-column contract as
    :func:`~datapump_spark.operators.quality.gopher_filter`).

    Two plans with the same result, chosen by the MEASURED benchmark
    size — the same gate pattern as
    :func:`~datapump_spark.operators.dedup_fuzzy.connected_components`:
    one cheap count on the tiny side, then

    - at most ``AUTO_PANDAS_MAX_BENCH_ROWS`` benchmark rows: the
      benchmark's distinct grams become a broadcast Python set and the
      corpus is scanned ONCE with an Arrow-batched set-membership pass —
      no explode, no shuffle, no join. Spark evaluates higher-order
      lambda expressions interpreted (outside whole-stage codegen), so
      the gram join pays ~µs per gram where a hash-set probe costs ~ns;
      measured ~8× faster at 250 k docs (PERF.md).
    - above it: the column-expression plan (gram explode → broadcast
      join of the hashed benchmark grams → agg), which never builds a
      Python set on the driver. ``hash_fn`` applies to this plan only;
      the set scan compares the gram strings themselves."""
    if benchmark.count() <= AUTO_PANDAS_MAX_BENCH_ROWS:
        return _decontaminate_pandas(
            corpus, benchmark, id_col, text_col, n, min_overlap)
    cg = doc_ngram_hashes(corpus, id_col, text_col, n, hash_fn)
    bg = (doc_ngram_hashes(benchmark, id_col, text_col, n, hash_fn)
          .select("gram").distinct())
    hits = (cg.join(F.broadcast(bg), "gram")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_hit_grams")))
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_hit_grams", F.lit(0)).cast("bigint")
            .alias("n_hit_grams"),
            (F.coalesce("n_hit_grams", F.lit(0)) >= min_overlap)
            .alias("contaminated"),
        )
    )


# tokenizer twin of functions.hashing.tokens, for the Python-side gram set
_TOK_RE = __import__("re").compile(r"[^a-z0-9]+")


def _py_tokens(s: str) -> list[str]:
    return [t for t in _TOK_RE.split(s.lower()) if t]


def _py_grams(text: str, n: int) -> set[str]:
    t = _py_tokens(text)
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def _decontaminate_pandas(
    corpus: DataFrame, benchmark: DataFrame, id_col: str, text_col: str,
    n: int, min_overlap: int,
) -> DataFrame:
    """Broadcast-set membership scan (see :func:`decontaminate`).

    The benchmark side is collected to the driver — it is the broadcast
    side of the expr plan already, and eval sets are thousands of rows
    where the corpus is billions; a guard trips if someone swaps the
    arguments."""
    import pandas as pd

    # Guard BEFORE collecting: a swapped-argument call would otherwise
    # pull the (billion-row) corpus text onto the driver just to raise.
    # count() is a codegen aggregate — no rows move.
    n_bench = benchmark.count()
    if n_bench > 1_000_000:
        raise ValueError(
            f"benchmark side has {n_bench} rows — did you swap corpus "
            "and benchmark? (the benchmark must be the small side)")
    rows = benchmark.select(text_col).collect()
    grams: set[str] = set()
    for r in rows:
        if r[0] is not None:
            grams.update(_py_grams(r[0], n))
    spark = corpus.sparkSession
    b = spark.sparkContext.broadcast(grams)

    def scan(batches):
        g = b.value
        for pdf in batches:
            hits = pdf[text_col].map(
                lambda t: len(_py_grams(t, n) & g) if t is not None else 0)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "n_hit_grams": hits.astype("int64"),
                "contaminated": hits >= min_overlap,
            })

    return corpus.select(id_col, text_col).mapInPandas(
        scan, f"{id_col} bigint, n_hit_grams bigint, contaminated boolean")


def semantic_decontaminate(
    corpus: DataFrame, benchmark: DataFrame, id_col: str = "vec_id",
    vec_col: str = "embedding", threshold: float = 0.85,
    n_planes: int = 0, seed: int = 42,
) -> DataFrame:
    """Embedding-space decontamination: flag corpus docs whose cosine
    similarity to ANY benchmark item reaches ``threshold`` — catches the
    paraphrased/reformatted leakage n-gram overlap misses (the two
    checks are complements; run both).

    (id, max_cos, contaminated) for every corpus row with a usable
    vector. ``n_planes=0`` (default) is the EXACT path: the benchmark
    side is broadcast (eval sets are thousands of rows by contract —
    same shape as the n-gram check's broadcast gram set) and each corpus
    partition scans it with codegen dot products; one pass, no shuffle
    of the corpus. ``n_planes>0`` prunes with random-hyperplane LSH
    buckets first (both sides bucketed, candidates from the bucket
    equi-join) — approximate: a pair whose signs differ in every plane
    is missed; use for mega-benchmarks only.
    """
    from datapump_spark.operators.similarity import (
        _as_double,
        _dot,
        _norm,
        hyperplanes,
        lsh_bucket,
        vec_dim,
    )

    def prep(df: DataFrame, out_id: str) -> DataFrame:
        base = df.select(F.col(id_col).alias(out_id),
                         _as_double(vec_col).alias(f"__v_{out_id}"))
        nrm = _norm(F.col(f"__v_{out_id}"))
        return (base.where(F.col(f"__v_{out_id}").isNotNull() & (nrm > 0))
                .withColumn(f"__n_{out_id}", nrm))

    c = prep(corpus, "id")
    b = prep(benchmark, "__bid")
    if n_planes > 0:
        dim = vec_dim(corpus, vec_col)
        planes = hyperplanes(dim, n_planes, seed)
        c = c.withColumn("__bk", lsh_bucket(F.col("__v_id"), planes))
        b = b.withColumn("__bk", lsh_bucket(F.col("__v___bid"), planes))
        joined = c.join(F.broadcast(b), "__bk")
    else:
        joined = c.crossJoin(F.broadcast(b))
    cos = F.round(_dot(F.col("__v_id"), F.col("__v___bid"))
                  / (F.col("__n_id") * F.col("__n___bid")), 6)
    agg = joined.groupBy("id").agg(F.max(cos).alias("max_cos"))
    # LEFT join back onto the full corpus id set: on the LSH path a row
    # with no bucket collision (and on the exact path every row, if the
    # benchmark is empty) has no candidate pairs — the docstring promises
    # a row for EVERY usable vector, so those surface as max_cos null /
    # contaminated false instead of vanishing from the output
    return (
        c.select("id").join(agg, "id", "left")
        .select(F.col("id").alias(id_col), "max_cos",
                F.coalesce(F.col("max_cos") >= threshold,
                           F.lit(False)).alias("contaminated"))
    )


def remove_contaminated_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    hash_fn: str = "md5",
    max_passes: int = 1,
) -> DataFrame:
    """SURGICAL span-level decontamination: where :func:`decontaminate`
    flags (and callers typically drop) any corpus document sharing one
    ``n``-gram with the benchmark, this cuts ONLY the overlapping token
    spans out and keeps the rest of the document — the right trade when
    a long, otherwise-clean document quotes one benchmark item.

    Every corpus occurrence of every benchmark ``n``-gram is removed
    (there is no winner to keep — benchmark text must not survive
    anywhere); overlapping cuts merge, so a verbatim benchmark passage
    disappears as one contiguous span. Returns ``(id, n_tokens,
    n_removed, clean_text)`` for every corpus document, clean_text being
    the normalized token stream (same contract as
    ``line_dedup.remove_duplicate_spans``).

    Plan: corpus gram positions are narrow per-doc expressions; the
    benchmark's distinct gram set (the SMALL side — benchmarks are
    thousands of items, the corpus is the 100 TB side) broadcasts into a
    semi join, so the corpus never shuffles at all; the only exchange is
    the per-doc cut-list aggregation.

    SEAM CAVEAT / ``max_passes``: cutting a span glues the tokens around
    it together, and the glued seam can FORM a benchmark ``n``-gram that
    was not in the original text ("… a b [cut] c …" → "a b c"). One pass
    therefore guarantees every ORIGINAL occurrence is gone but not a
    zero residual. ``max_passes > 1`` iterates to the fixed point
    (recut the cleaned text until a pass removes nothing — one cheap
    count per intermediate pass; 2 passes suffice in practice), after
    which the output provably contains no benchmark ``n``-gram.
    ``n_tokens``/``n_removed`` always account against the ORIGINAL text.
    The default (1) is the SQL-oracle-keyed profile (q_decontam_spans).
    """
    from datapump_spark.operators.line_dedup import (
        cut_spans,
        doc_gram_positions,
        tokenized_docs,
    )

    if max_passes < 1:
        raise ValueError(f"max_passes must be >= 1: {max_passes}")
    bench = (doc_ngram_hashes(benchmark, id_col, text_col, n, hash_fn)
             .select("gram").distinct())

    def one_pass(frame: DataFrame, col: str) -> DataFrame:
        # persisted: the gram pass and the reassembly join both consume
        # the tokenized frame (r12; the remove_duplicate_spans rationale)
        d = scoped_persist(tokenized_docs(frame, id_col, col))
        grams = doc_gram_positions(d, id_col, n, hash_fn)
        marked = (grams.join(F.broadcast(bench), "gram", "semi")
                  .select(id_col, "pos"))
        return cut_spans(d, marked, id_col, n)

    res = one_pass(corpus, text_col)
    if max_passes == 1:
        return res
    bench = scoped_persist(bench)
    for _ in range(max_passes - 1):
        # materialize the pass once (localCheckpoint): the convergence
        # count AND the next pass both read it — without this the count
        # would recompute the whole chain
        res = res.localCheckpoint(eager=True)
        if (res.agg(F.sum("n_removed")).first()[0] or 0) == 0:
            break
        res = one_pass(res.select(id_col,
                                  F.col("clean_text").alias("__txt")),
                       "__txt")
    # account against the ORIGINAL text, not the last pass's input
    orig = tokenized_docs(corpus, id_col, text_col) \
        .select(id_col, F.col("__nt").alias("__orig_nt"))
    from datapump_spark.functions.hashing import tokens as _toks

    return (orig.join(res.select(id_col, "clean_text"), id_col)
            .select(
                F.col(id_col),
                F.col("__orig_nt").cast("bigint").alias("n_tokens"),
                (F.col("__orig_nt")
                 - F.when(F.col("clean_text") == "", F.lit(0))
                 .otherwise(F.size(_toks(F.col("clean_text")))))
                .cast("bigint").alias("n_removed"),
                "clean_text",
            ))
