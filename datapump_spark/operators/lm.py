"""Distributed n-gram language-model scoring for corpus filtering.

CCNet (Wenzek et al. 2020) ranks crawl documents by language-model
perplexity and keeps the low-perplexity tail; production uses a KenLM
model, but the pipeline shape — train counts on a reference corpus, score
every candidate document, filter on the score — is what matters here.
This module implements that shape natively: an add-k-smoothed bigram LM
whose "training" is two distributed count aggregations and whose scoring
is two joins plus an average. No model file, no Python in the hot path.

Plan shape / 100 TB notes:
- training = ``groupBy(token)`` and ``groupBy(bigram)`` counts with
  map-side partial aggregation — the classic word-count shuffle, keyed on
  high-cardinality grams (skew-free by construction: Zipf's head is
  collapsed map-side before the exchange).
- scoring joins the exploded candidate bigrams against the two count
  tables. Both sides shuffle on the gram key. When the model is
  vocab-capped (any real deployment: top-V unigrams + OOV floor), pass
  ``broadcast_model=True`` and both joins become broadcast hash joins —
  the candidate corpus never shuffles at all.
- the vocabulary size V (smoothing denominator) is a one-row aggregate
  crossed in via broadcast, not a driver collect.

Smoothing: P(w2|w1) = (c(w1,w2) + k) / (c(w1) + k·V); unseen contexts
degrade to the uniform 1/V floor. Scores are natural-log; ``ppl`` is
derived from the ROUNDED avg_logprob so the cross-engine oracle hash
is stable through the exp().

Extends the reference (no text analysis there, SURVEY §2.9) per the
build plan's training-data surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datapump_spark.cachescope import scoped_persist
from datapump_spark.functions.hashing import tokens


def _doc_bigrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) — one row per bigram occurrence (not distinct)."""
    toks = tokens(F.col(text_col))
    d = df.select(F.col(id_col), toks.alias("__t"))
    pairs = F.when(
        F.size("__t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("__t") - 1),
            lambda i: F.struct(
                F.element_at("__t", i).alias("w1"),
                F.element_at("__t", i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    return (d.select(id_col, F.explode(pairs).alias("p"))
            .select(id_col, F.col("p.w1").alias("w1"),
                    F.col("p.w2").alias("w2")))


def train_bigram_lm(
    corpus: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    bigram_stream: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Count tables of an add-k bigram LM: (unigrams, bigrams).

    ``unigrams`` = (w1, c1) — context counts, i.e. occurrences as the
    LEFT member of a bigram, so the conditional distributions normalize;
    ``bigrams`` = (w1, w2, c2). The bigram table is persisted (it IS the
    model, vocab²-bounded, and every scorer consumes it repeatedly —
    the probability join plus both vocabulary branches); the context
    counts fold over it (``c1(w1) ≡ Σ_w2 c2(w1, w2)`` exactly), so the
    corpus bigram stream is exploded and aggregated ONCE, not once per
    count table (r12, guide §1.2/§2.3). ``bigram_stream`` lets a caller
    that already materialized ``_doc_bigrams(corpus)`` (e.g.
    :func:`ccnet_buckets`, which scores the same corpus it trains on)
    hand it in instead of re-deriving it."""
    bg = bigram_stream if bigram_stream is not None \
        else _doc_bigrams(corpus, id_col, text_col)
    bigrams = scoped_persist(
        bg.groupBy("w1", "w2").agg(F.count("*").alias("c2")))
    unigrams = bigrams.groupBy("w1").agg(
        F.sum("c2").cast("bigint").alias("c1"))
    return unigrams, bigrams


def lm_score(
    docs: DataFrame,
    unigrams: DataFrame,
    bigrams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 1.0,
    broadcast_model: bool = False,
    bigram_stream: DataFrame | None = None,
) -> DataFrame:
    """Average bigram log-probability (and perplexity) per document.

    Returns ``(id, n_bigrams, avg_logprob, ppl)`` — one row per input
    document; docs with < 2 tokens report ``n_bigrams = 0`` and NULL
    scores. ``broadcast_model=True`` hints both count tables broadcast
    (correct once the model is vocab-capped; see module docstring)."""
    if broadcast_model:
        unigrams, bigrams = F.broadcast(unigrams), F.broadcast(bigrams)
    # V = full vocabulary (distinct words on EITHER side of a bigram) so
    # each smoothed conditional sums to exactly 1 over the vocab —
    # contexts alone would leak mass to words only ever seen
    # sentence-final (normalization pinned in tests). One row, broadcast.
    vocab = (
        bigrams.select(F.col("w1").alias("w"))
        .union(bigrams.select(F.col("w2").alias("w")))
        .distinct()
        .agg(F.count("*").cast("double").alias("__v"))
    )
    doc_bg = bigram_stream if bigram_stream is not None \
        else _doc_bigrams(docs, id_col, text_col)
    scored = (
        doc_bg
        .join(bigrams, ["w1", "w2"], "left")
        .join(unigrams, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            id_col,
            F.log(
                (F.coalesce("c2", F.lit(0)) + F.lit(k))
                / (F.coalesce("c1", F.lit(0)) + F.lit(k) * F.col("__v"))
            ).alias("__lp"),
        )
        .groupBy(id_col)
        .agg(F.count("*").alias("n_bigrams"),
             F.round(F.avg("__lp"), 6).alias("avg_logprob"))
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint")
            .alias("n_bigrams"),
            F.col("avg_logprob"),
            F.round(F.exp(-F.col("avg_logprob")), 3).alias("ppl"),
        )
    )


def train_and_score(
    corpus: DataFrame, docs: DataFrame,
    id_col: str = "doc_id", text_col: str = "text", k: float = 1.0,
) -> DataFrame:
    """Convenience: fit counts on ``corpus``, score ``docs``."""
    uni, bi = train_bigram_lm(corpus, id_col, text_col)
    return lm_score(docs, uni, bi, id_col, text_col, k)


def lm_score_kn(
    docs: DataFrame,
    unigrams: DataFrame,
    bigrams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
    broadcast_model: bool = False,
    bigram_stream: DataFrame | None = None,
) -> DataFrame:
    """Interpolated Kneser–Ney bigram scoring — the smoothing KenLM (and
    therefore the real CCNet gate) uses, where add-k is the teaching
    baseline. Same model frames as :func:`lm_score`; the three extra
    tables KN needs (follower types per context, predecessor types per
    word, total distinct bigrams) derive from ``bigrams`` with one
    aggregation each:

        P(w2|w1) = max(c12 − D, 0)/c1 + D·N1+(w1,·)/c1 · Pcont(w2)
        Pcont(w2) = N1+(·,w2) / N1+(·,·)

    Unseen context (c1 = 0 or null) backs off fully to the continuation
    distribution; a word never seen anywhere gets the 1/N1+(·,·) floor —
    every probability is strictly positive, so log never sees 0. Returns
    ``(id, n_bigrams, avg_logprob, ppl)`` with the same rounding contract
    as :func:`lm_score` (oracle-hash stable). Plan shape: identical joins
    plus one more gram-keyed broadcast-able table — still zero Python.
    """
    followers = bigrams.groupBy("w1").agg(
        F.count("*").cast("double").alias("__nf"))
    preceders = bigrams.groupBy("w2").agg(
        F.count("*").cast("double").alias("__np"))
    total = bigrams.agg(F.count("*").cast("double").alias("__nb"))
    if broadcast_model:
        unigrams, bigrams = F.broadcast(unigrams), F.broadcast(bigrams)
        followers, preceders = F.broadcast(followers), F.broadcast(preceders)
    d = F.lit(float(discount))
    c1 = F.coalesce(F.col("c1").cast("double"), F.lit(0.0))
    c12 = F.coalesce(F.col("c2").cast("double"), F.lit(0.0))
    nf = F.coalesce("__nf", F.lit(0.0))
    # continuation probability with a 1-type floor for unseen words
    pcont = F.greatest(F.coalesce("__np", F.lit(0.0)), F.lit(1.0)) \
        / F.col("__nb")
    p = F.when(
        c1 > 0,
        F.greatest(c12 - d, F.lit(0.0)) / c1 + d * nf / c1 * pcont,
    ).otherwise(pcont)
    doc_bg = bigram_stream if bigram_stream is not None \
        else _doc_bigrams(docs, id_col, text_col)
    scored = (
        doc_bg
        .join(bigrams, ["w1", "w2"], "left")
        .join(unigrams, ["w1"], "left")
        .join(followers, ["w1"], "left")
        .join(preceders, ["w2"], "left")
        .crossJoin(F.broadcast(total))
        .select(id_col, F.log(p).alias("__lp"))
        .groupBy(id_col)
        .agg(F.count("*").alias("n_bigrams"),
             F.round(F.avg("__lp"), 6).alias("avg_logprob"))
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint")
            .alias("n_bigrams"),
            F.col("avg_logprob"),
            F.round(F.exp(-F.col("avg_logprob")), 3).alias("ppl"),
        )
    )


def ccnet_buckets(
    docs: DataFrame,
    reference: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_cols: list[str] | None = None,
    cuts: tuple[float, float] = (1 / 3, 2 / 3),
    k: float = 1.0,
    smoothing: str = "addk",
) -> DataFrame:
    """CCNet-style perplexity routing: score every doc under a bigram LM
    fitted on ``reference`` (a trusted target corpus — Wikipedia in the
    paper; defaults to ``docs`` itself), then split each group into
    ``head`` / ``middle`` / ``tail`` by per-group perplexity quantile
    (head = lowest ppl = most reference-like). The published recipe
    keeps head+middle for pretraining and routes tail to re-cleaning.

    (id, groups…, ppl, ppl_pct, bucket). Quantile rank is
    ``percent_rank`` within the group (per-language in production — pass
    ``group_cols=['lang']``), so bucket boundaries adapt per group
    exactly as CCNet does per language. One window sort per group over
    (ppl, id) — deterministic ties — on top of the scoring scan.
    ``smoothing='kn'`` routes scoring through :func:`lm_score_kn`
    (``k`` ignored) — the production profile; 'addk' is the default
    oracle-keyed baseline.
    """
    lo, hi = cuts
    if not 0 < lo < hi < 1:
        raise ValueError(f"cuts must satisfy 0 < lo < hi < 1: {cuts}")
    if smoothing not in ("addk", "kn"):
        raise ValueError(f"smoothing must be 'addk' or 'kn': {smoothing!r}")
    ref = reference if reference is not None else docs
    # Default reference (score the corpus you train on): the per-doc
    # bigram stream is the SAME frame on both sides, so build it once
    # and hand it to trainer and scorer. It is not persisted: the
    # exploded stream is LARGER than the corpus slice it derives from,
    # so recomputing beats holding it — the r12 caveat ("a cluster
    # profile may prefer recompute"). The shared LAZY frame still
    # deduplicates the plan construction; trainer and scorer each re-run
    # the narrow tokenize+explode, which map-side-aggregates before any
    # exchange.
    shared = (_doc_bigrams(docs, id_col, text_col)
              if reference is None else None)
    uni, bi = train_bigram_lm(ref, id_col, text_col, bigram_stream=shared)
    if smoothing == "kn":
        scored = lm_score_kn(docs, uni, bi, id_col, text_col,
                             bigram_stream=shared)
    else:
        scored = lm_score(docs, uni, bi, id_col, text_col, k,
                          bigram_stream=shared)
    g = list(group_cols or [])
    joined = docs.select(F.col(id_col), *g).join(scored, id_col)
    w = Window.partitionBy(*g).orderBy(F.col("ppl").asc(),
                                       F.col(id_col).asc())
    pct = F.percent_rank().over(w)
    bucket = (F.when(pct < lo, "head")
              .when(pct < hi, "middle")
              .otherwise("tail"))
    return joined.select(
        id_col, *g, "ppl",
        F.round(pct, 6).alias("ppl_pct"), bucket.alias("bucket"))


def collocations(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-``k`` PMI collocations (Church & Hanks 1990) — the corpus
    phrase-diagnostic that surfaces boilerplate phrases and multiword
    terms a tokenizer or dedup pass should know about:

        pmi(w1,w2) = ln( c12 · N / (c1 · c2) )

    over bigram occurrence counts, with ``c12 ≥ min_count`` (rare pairs
    have unstable PMI). Ranking is (pmi desc, w1, w2) — fully
    deterministic. N and the unigram counts use TOKEN occurrences (both
    positions), so pmi is the textbook estimator. Plan: the two
    word-count aggregations + one broadcast-able join + a global top-k
    via TakeOrderedAndProject — never a one-partition window."""
    toks = corpus.select(F.explode(tokens(F.col(text_col))).alias("w"))
    uni = toks.groupBy("w").agg(F.count("*").alias("c"))
    total = toks.agg(F.count("*").cast("double").alias("__n"))
    bg = _doc_bigrams(corpus, id_col, text_col)
    big = (bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
           .where(F.col("c12") >= min_count))
    joined = (
        big.join(uni.select(F.col("w").alias("w1"),
                            F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"),
                         F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1", "w2",
            F.col("c12").cast("bigint").alias("n_pair"),
            F.round(F.log(F.col("c12") * F.col("__n")
                          / (F.col("c1") * F.col("c2"))), 6).alias("pmi"),
        )
    )
    return (joined.orderBy(F.col("pmi").desc(), "w1", "w2").limit(k))
