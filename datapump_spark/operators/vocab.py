"""Vocabulary building and token-id encoding.

The tokenizer-adjacent half of a pre-training pipeline: count token
frequencies over the corpus, keep the top-K as the vocabulary, and encode
every document as an ``array<int>`` of token ids (OOV → ``unk_id``).

Scale design:

- :func:`build_vocab` — posexplode → groupBy(token) count. The shuffle is
  keyed by token, so its volume is bounded by the number of *distinct*
  tokens per partition (map-side partial aggregation collapses repeats
  before the exchange); the top-K cut is ``TakeOrderedAndProject``
  (executor-side heaps, only K rows move), never a full sort. Ids are
  assigned by ``(count DESC, token ASC)`` — fully deterministic across
  runs and cluster sizes.
- :func:`encode_tokens` — posexplode → broadcast-join the vocab →
  re-assemble per document with
  ``sort_array(collect_list(struct(pos, id)))``. One shuffle keyed by doc
  id; shuffle volume ≈ 8 bytes/token. It tokenizes with the same
  :func:`~datapump_spark.functions.hashing.tokens` expression as
  :func:`build_vocab`, so a token counted into the vocabulary always
  encodes to its id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datapump_spark.functions.hashing import tokens

UNK_ID = 0  # id 0 is reserved for OOV; real tokens start at 1


def build_vocab(df: DataFrame, text_col: str = "text", top_k: int = 30_000,
                min_count: int = 1) -> DataFrame:
    """(token, token_id, n_occurrences): top-``top_k`` tokens by corpus
    frequency, ids 1..K dense in (count DESC, token ASC) order."""
    counts = (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
        .where(F.col("n_occurrences") >= min_count)
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(top_k)
    )
    # K rows at most — the single-partition window is a K-row sort, fine
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
    return counts.select(
        "token",
        F.row_number().over(w).cast("int").alias("token_id"),
        "n_occurrences",
    )


def encode_tokens(df: DataFrame, vocab: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", unk_id: int = UNK_ID) -> DataFrame:
    """(id, token_ids array<int>, n_tokens, n_oov). See module docstring."""
    toks = df.select(
        F.col(id_col),
        F.posexplode_outer(tokens(F.col(text_col))).alias("pos", "token"),
    )
    joined = toks.join(F.broadcast(vocab.select("token", "token_id")),
                       "token", "left")
    tid = F.coalesce("token_id", F.lit(unk_id)).cast("int")
    per_doc = joined.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct(F.col("pos"), tid.alias("tid"))))
        .alias("pairs"),
    )
    # posexplode_outer keeps empty docs as a (null pos, null token) row so
    # they survive the groupBy; filter the null pair back out here.
    pairs = F.filter("pairs", lambda p: p["pos"].isNotNull())
    return per_doc.select(
        F.col(id_col),
        F.transform(pairs, lambda p: p["tid"]).alias("token_ids"),
        F.size(pairs).cast("bigint").alias("n_tokens"),
        F.size(F.filter(pairs, lambda p: p["tid"] == F.lit(unk_id)))
        .cast("bigint").alias("n_oov"),
    )


def vocab_coverage(encoded: DataFrame) -> DataFrame:
    """One-row corpus report over :func:`encode_tokens` output:
    (n_docs, total_tokens, total_oov, oov_rate)."""
    return encoded.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("n_oov").cast("bigint").alias("total_oov"),
        F.round(F.sum("n_oov") / F.greatest(F.sum("n_tokens"), F.lit(1)), 6)
        .alias("oov_rate"),
    )


def tokenizer_fertility(
    encoded: DataFrame, docs: DataFrame, id_col: str = "doc_id",
    text_col: str = "text", group_cols: list[str] | None = None,
) -> DataFrame:
    """Tokenizer QA report: fertility (subword tokens per whitespace
    word) and unknown-token rate, per group (default: corpus-wide).

    ``encoded`` is any (id, n_tokens, n_unk) frame — the output shape of
    ``bpe_encode`` / ``unigram_encode`` / ``encode_tokens`` — joined back
    to ``docs`` for word counts and grouping columns. Fertility is THE
    acceptance metric for a tokenizer on a new language/domain mix: a
    multilingual corpus whose minority-language fertility is 2-3× the
    English baseline is under-tokenized and trains badly (published
    SentencePiece/BPE evaluation practice). One join + one aggregation.

    Returns (groups…, n_docs, n_words, n_tokens, fertility, unk_rate),
    ratios rounded 6 dp; docs with zero words are excluded (no fertility
    is defined for them).
    """
    from datapump_spark.functions.hashing import tokens

    g = list(group_cols or [])
    base = (docs.select(F.col(id_col), *g,
                        F.size(tokens(F.col(text_col)))
                        .cast("bigint").alias("__w"))
            .where(F.col("__w") > 0)
            .join(encoded.select(id_col, "n_tokens", "n_unk"), id_col))
    agg = (base.groupBy(*g)
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("__w").alias("n_words"),
                F.sum("n_tokens").alias("n_tokens"),
                F.sum("n_unk").alias("__unk")))
    return agg.select(
        *g, "n_docs", "n_words", "n_tokens",
        F.round(F.col("n_tokens") / F.col("n_words"), 6).alias("fertility"),
        F.round(F.col("__unk") / F.col("n_tokens"), 6).alias("unk_rate"))
