"""Blocked edit-distance similarity join (record-linkage / fuzzy dedup).

Extends the reference (SURVEY §2.9 — no string-similarity surface there).
The classic entity-resolution shape: a cheap *blocking* pass bounds the
candidate pair space, then the exact (expensive) ``levenshtein`` distance
runs only inside blocks.

Scale notes (100 TB):

- All-pairs levenshtein over N strings is O(N²·L²) — never. Blocking
  turns it into Σ_b |b|² over block sizes; the join is a plain equi-join
  on the block key, so Spark shuffles each side once on that key and AQE
  splits any skewed block.
- **Multi-dimensional lossless banding.** Any 1-Lipschitz feature f
  (|f(a)−f(b)| ≤ dist(a,b): length, vowel count, consonant count — one
  edit moves each by ≤ 1) gives bands ``floor(f/k)`` that differ by ≤ 1
  for any pair within distance k. The probe side explodes each band
  coordinate into {b−1, b, b+1} (3^d emissions of tiny rows); the build
  side stays single. Every qualifying ORDERED pair then matches exactly
  once (the emission equal to the build's band vector), so
  ``id_p < id_b`` keeps each unordered pair exactly once — no
  ``distinct``, no double levenshtein. Each extra dimension multiplies
  probe emissions by 3 but divides candidates by that dimension's
  selectivity; on near-uniform-length corpora (where length-only
  blocking degenerates) the content dims do the real work.
- **Count filter before the distance** (lossless): one edit changes
  per-character-class counts by ≤ 2 units of L1, so dist ≤ k ⇒
  Σ_cls |c_p − c_b| ≤ 2k. Kept as scalar per-class columns — array +
  higher-order-function formulations are interpreted per element
  (measured 3× slower than just running levenshtein); scalar columns
  stay inside whole-stage codegen.
- The surviving pairs pay Spark's threshold'd ``levenshtein(l, r, k)``,
  which abandons a cell early once the running distance exceeds k
  (O(k·L) per pair, not O(L²)).
- The probe side is repartitioned before the band explode: the build
  side typically broadcasts, so pair-loop parallelism inherits the
  PROBE partitioning — a single-file input would otherwise run the
  whole candidate loop on one core. Repartitioning upstream of the
  explode moves 1× rows through the shuffle, not the 3^d× stream.
- For corpora where these dims still block poorly, compose a content
  block (e.g. a MinHash band key from :mod:`.dedup_fuzzy`) via
  ``extra_block_col`` — the plan shape is unchanged (a wider equi-key);
  that path trades recall for cost and is no longer oracle-exact.
"""

from __future__ import annotations

from itertools import product

from datapump_spark.cachescope import scoped_persist
from datapump_spark.functions.hashing import sql_ident

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_VOWELS = "aeiou"
_CONSONANTS = "bcdfghjklmnpqrstvwxyz"

# count-filter character classes: a PARTITION of (a subset of) the
# alphabet; any grouping is lossless, finer groupings prune harder
_CLASSES = ["aeiou", "bcd", "fgh", "jkl", "mnp", "qrs", "tvw", "xyz",
            "0123", "4567", "89", " "]


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 8,
    extra_block_col: str | Column | None = None,
    char_filter: bool = True,
) -> DataFrame:
    """All pairs within edit distance ``max_dist``: lossless 3-D banding
    (length, vowels, consonants) + lossless class-count filter +
    threshold'd levenshtein. Returns ``(id_l, id_r, dist)`` with
    ``id_l < id_r``, one row per pair. See module docstring for why each
    stage exists and how it scales.
    """
    if max_dist < 1:
        raise ValueError("max_dist must be ≥ 1")
    txt = sql_ident(text_col)
    # numeric feature chains as parsed SQL (r13, guide §7.3): the
    # per-class translate/length chains and the 3^d combo structs were
    # ~400 py4j Column calls per build; identical expressions parsed
    # server-side. (SQL int/int division is fractional, like the
    # Column API's — floor() yields the same BIGINT bands.)

    def _count_sql(expr: str, chars: str) -> str:
        return (f"CAST(length({expr}) - "
                f"length(translate({expr}, '{chars}', '')) AS INT)")

    dims_sql = [f"length({txt})", _count_sql(txt, _VOWELS),
                _count_sql(txt, _CONSONANTS)]
    nd = len(dims_sql)
    xb = []
    if extra_block_col is not None:
        c = (extra_block_col if isinstance(extra_block_col, Column)
             else F.col(extra_block_col))
        xb = [c.alias("__xb")]
    k_cls = len(_CLASSES) if char_filter else 0
    # Persist the banded/counted base (r12, guide §1.2/§4.4-adjacent):
    # probe and build each re-derived it from the raw scan, and the join
    # pushes isnotnull(band) constraints BELOW this projection — in the
    # unpersisted plan the filter re-inflated the full text→key→count
    # expression chain ~26× per row. Materializing (id, t, bands,
    # counts) once makes those filters read stored columns and halves
    # the scan count.
    base = scoped_persist(df.select(
        F.col(id_col).alias("id"),
        F.col(txt).alias("t"),
        *[F.expr(f"floor({d} / {max_dist})").alias(f"__b{i}")
          for i, d in enumerate(dims_sql)],
        *xb,
        *[F.expr(_count_sql(txt, cls)).alias(f"__s{i}")
          for i, cls in enumerate(_CLASSES[:k_cls])],
    ))
    on = [f"__band{i}" for i in range(nd)] + (["__xb"] if xb else [])
    # probe emits every band vector within ±1 per dim (3^d tiny rows);
    # exactly one emission equals any qualifying partner's band vector
    combos = F.expr("array(" + ", ".join(
        "struct(" + ", ".join(
            f"(__b{i} + {off[i]}) AS b{i}" for i in range(nd)) + ")"
        for off in product((-1, 0, 1), repeat=nd)) + ")")
    # repartition BEFORE the 3^d explode: the shuffle spreads pair-loop
    # parallelism (the build side broadcasts, so the probe partitioning
    # is the loop partitioning) while carrying 1× rows instead of the
    # exploded 3^d× stream (guide §2.3)
    probe = base.repartition(
        df.sparkSession.sparkContext.defaultParallelism
    ).select(
        F.col("id").alias("id_p"), F.col("t").alias("t_p"),
        F.explode(combos).alias("__c"),
        *([F.col("__xb")] if xb else []),
        *[F.col(f"__s{i}").alias(f"__p{i}") for i in range(k_cls)],
    ).select(
        "id_p", "t_p",
        *[F.col(f"__c.b{i}").alias(f"__band{i}") for i in range(nd)],
        *(["__xb"] if xb else []),
        *[f"__p{i}" for i in range(k_cls)],
    )
    build = base.select(
        F.col("id").alias("id_b"), F.col("t").alias("t_b"),
        *[F.col(f"__b{i}").alias(f"__band{i}") for i in range(nd)],
        *([F.col("__xb")] if xb else []),
        *[F.col(f"__s{i}").alias(f"__q{i}") for i in range(k_cls)],
    )
    cond = ((F.col("id_p") < F.col("id_b"))
            & (F.abs(F.length("t_p") - F.length("t_b")) <= F.lit(max_dist)))
    if char_filter:
        l1 = " + ".join(f"abs(__p{i} - __q{i})" for i in range(k_cls))
        cond = cond & F.expr(f"({l1}) <= {2 * max_dist}")
    pairs = (probe.join(build, on)
             .where(cond)
             .select(F.col("id_p").alias("id_l"),
                     F.col("id_b").alias("id_r"),
                     "t_p", "t_b"))
    return (pairs
            .withColumn("dist", F.levenshtein("t_p", "t_b", max_dist))
            .where(F.col("dist") >= 0)
            .select("id_l", "id_r", F.col("dist").cast("int").alias("dist")))
