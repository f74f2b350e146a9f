"""Deduplication family for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale design (the whole point of these operators at 100 TB):
- Exact dedup: hash-groupBy on a 16-byte fingerprint — one shuffle keyed on
  the fingerprint, no text comparison.
- MinHash/LSH: per-doc signatures via ONE explode(shingles) + groupBy(doc)
  (k min-aggregates in a single pass), then candidate generation by banding —
  a join on (band_idx, band_key), never all-pairs. Verification joins only
  candidate pairs. All-pairs never materializes.
- n-gram Jaccard: exact pairwise similarity *within a blocking key* (caller
  chooses; e.g. source or an LSH band) — the blocking key bounds the
  quadratic term.
- SimHash: one explode + 32 conditional sums in a single aggregation;
  near-dup = Hamming distance on a bigint (XOR + bit_count), no text join.
- Embedding near-dup: exact path is a blocked distributed GEMM (block-pair
  groups, per-task BLAS, nothing collected to the driver); production path
  at extreme scale is LSH bucketing + per-bucket GEMM (linear shuffle,
  pruned pair space).

Hashes default to the md5-based cross-engine profile (functions/hashing.py)
so every deterministic step is DuckDB-oracle-checkable; flip
``hash_fn='xxhash64'`` for production speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datapump_spark.cachescope import persist_shared, scoped_persist
from datapump_spark.functions.hashing import hash63, sql_ident, tokens


def normalize_text(c: Column) -> Column:
    return F.regexp_replace(F.lower(c), "[^a-z0-9]", "")


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest-id document per normalized-text fingerprint.

    Shuffle key = md5 fingerprint (16 bytes), not the text — at 100 TB the
    shuffle moves ids+hashes only. Full rows are preserved via row_number
    on the fingerprint partition (single shuffle, reused sort)."""
    fp = F.md5(normalize_text(F.col(text_col)))
    w = Window.partitionBy(fp).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) — distinct word n-gram shingles per document.
    Docs with fewer than ``n`` tokens are dropped (no full shingle exists)."""
    toks = tokens(F.col(text_col))
    df2 = df.select(F.col(id_col), toks.alias("__toks")).where(F.size("__toks") >= n)
    joined = " , ' ', ".join(f"element_at(__toks, i + {j})" for j in range(n))
    shingles = F.expr(
        f"transform(sequence(1, size(__toks) - {n - 1}), i -> concat({joined}))"
    )
    return (
        df2.select(F.col(id_col), F.explode(F.array_distinct(shingles)).alias("shingle"))
    )


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 16, shingle_n: int = 3, hash_fn: str = "md5",
) -> DataFrame:
    """(id, mh0..mh{k-1}): k independent min-hashes of the shingle set.

    ONE base hash per shingle (md5 profile) + k universal-hash linear mixes
    (functions/hashing.py) — k× cheaper than k independent digests, same
    independence guarantees; one explode + one groupBy computes all k mins
    in a single aggregation pass (map-side partial mins)."""
    sh = word_shingles(df, id_col, text_col, shingle_n)
    return _signatures_from_shingles(sh, id_col, k, hash_fn)


def _signatures_from_shingles(sh: DataFrame, id_col: str, k: int,
                              hash_fn: str = "md5") -> DataFrame:
    """The aggregation half of :func:`minhash_signatures`, split out so a
    pipeline that also needs the raw shingles (verification) can compute
    the shingle frame ONCE and share it (guide §1.2: don't re-derive)."""
    from datapump_spark.functions.hashing import mixed_hash_sql

    h = sh.withColumn("__h", hash63(F.col("shingle"), hash_fn))
    # k min-aggregates as parsed SQL (one server-side parse per agg vs
    # ~6 py4j Column calls each — r13, guide §7.3; identical
    # expressions/plan, mixed_hash_sql is the same mixer the DuckDB
    # twin uses)
    aggs = [F.expr(f"min({mixed_hash_sql('__h', i)})").alias(f"mh{i}")
            for i in range(k)]
    return h.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str, bands: int, rows_per_band: int,
    scope_col: str | None = None,
    band_subset: list[int] | None = None,
) -> DataFrame:
    """(id_a, id_b) candidate pairs: equal on at least one band of the
    signature. Join key = (band_idx, band values) — never all-pairs.
    ``scope_col`` (a column of ``sigs``) folds into every band key, so
    only same-scope rows can collide. ``band_subset`` restricts the
    explode to those band indexes (the staged-sweep building block:
    bands are independent, so a union of per-subset candidate sets over
    a partition of the bands equals the full candidate set exactly)."""
    k = bands * rows_per_band
    # the band-struct array as ONE parsed expression (was bands x
    # rows_per_band struct/lit/col py4j calls — r13, guide §7.3;
    # identical array literal, identical plan)
    scope_sql = f", {sql_ident(scope_col)} AS __scope" if scope_col else ""

    def _band_sql(b: int) -> str:
        rows = ", ".join(
            f"`mh{b * rows_per_band + r}` AS r{r}"
            for r in range(rows_per_band))
        return (f"struct({b} AS band, "
                f"struct({rows}{scope_sql}) AS key)")

    band_structs = F.expr("array(" + ", ".join(
        _band_sql(b) for b in (band_subset if band_subset is not None
                               else range(bands))) + ")")
    banded = sigs.select(F.col(id_col), F.explode(band_structs).alias("bk")) \
                 .select(id_col, "bk.band", "bk.key")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def verify_jaccard(
    shingles: DataFrame, pairs: DataFrame, id_col: str,
    persist_pruned: bool = True,
) -> DataFrame:
    """Exact Jaccard for candidate pairs via a shingle join restricted to
    the candidates: |A∩B| from the co-occurrence join, |A|,|B| from per-doc
    counts. Returns (id_a, id_b, jaccard)."""
    # Prune the shingle stream to candidate docs before any wide join:
    # near-dup candidates are a small fraction of the corpus, so without
    # the semi-join the (id_b, shingle) join below would shuffle the FULL
    # corpus-sized shingle table — the measured superlinear cliff at the
    # 250 k local tier, and a non-starter at 100 TB. AQE turns the semi
    # join into a broadcast when the candidate id set is small.
    # r12 (guide §1.2/§5): ONE pruning pass over the shingle lineage
    # (semi vs the union of both pair sides), persisted — previously the
    # corpus shingle subtree executed three times (sizes, sa, sb); now
    # sizes/sa/sb are all reads of the small pruned cache.
    ids = (pairs.select(F.col("id_a").alias(id_col))
           .unionByName(pairs.select(F.col("id_b").alias(id_col)))
           .distinct())
    # (persist_pruned=False for callers that eagerly materialize the
    # result per call and manage their own cache budget — the n_sweeps
    # staged path, which would otherwise leak one cache entry per sweep)
    pruned = shingles.join(ids, id_col, "leftsemi")
    if persist_pruned:
        pruned = scoped_persist(pruned)
    sizes = pruned.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    sa = pruned.withColumnRenamed(id_col, "id_a")
    sb = pruned.withColumnRenamed(id_col, "id_b")
    # intersection size: route A's shingles through the candidate pairs to B
    inter = (
        sa.join(pairs, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n", "na")
    nb = sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n", "nb")
    return (
        inter.join(na, "id_a").join(nb, "id_b")
        .select(
            "id_a", "id_b",
            (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))).alias("jaccard"),
        )
    )


def minhash_near_dup_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    bands: int = 4, rows_per_band: int = 4, shingle_n: int = 3,
    threshold: float = 0.5, hash_fn: str = "md5",
    scope_col: str | None = None, n_sweeps: int = 1,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded candidates →
    exact-Jaccard verify → threshold. (id_a, id_b, jaccard).

    ``scope_col`` (e.g. ``'lang'``) restricts pairs to rows sharing that
    value by folding it into every LSH band key — the standard production
    scoping (dedup within language): candidate volume shrinks and
    cross-scope accidental collisions cost nothing, at zero extra
    shuffles (the scope rides the band key that was the join key
    anyway).

    ``n_sweeps`` (r12, VERDICT r11 #4 / the PERF.md 10 M-doc plan):
    run the WHOLE candidate+verify pipeline over the bands in
    ``n_sweeps`` sequential subsets, eagerly materializing each
    sweep's verified pairs via localCheckpoint before starting the
    next — bands are independent and a pair's exact Jaccard is
    deterministic, so the distinct union EXACTLY equals the
    single-sweep output (pinned by test), while the shuffle in flight
    at any moment (band self-join AND the shingle verify join, the
    two disk hogs) is ~1/n_sweeps of the full run's. Each sweep's
    shuffle dependencies are dropped and a JVM GC is nudged so the
    ContextCleaner reclaims the files mid-app (shuffle files otherwise
    persist to app exit). The knob trades wall-clock (signatures and
    shingles are persisted and re-joined per sweep) for peak scratch
    disk — the binding constraint past ~10 M docs/node."""
    # ONE shingle materialization (guide §1.2/§5): the tokenize + shingle
    # explode feeds both the signature aggregation and the verify pass
    # from a single persisted frame (previously only the n_sweeps path
    # persisted it; the single-sweep path re-derived the corpus shingle
    # subtree up to four times).
    sh = scoped_persist(word_shingles(df, id_col, text_col, shingle_n))
    sigs = _signatures_from_shingles(sh, id_col, bands * rows_per_band,
                                     hash_fn)
    if scope_col is not None:
        sigs = sigs.join(df.select(id_col, scope_col), id_col)
    if n_sweeps <= 1:
        # the candidate pair list — consumed by the verify pruning
        # semi-join AND the intersection join — is persisted instead of
        # re-running the band self-join per consumer
        cands = scoped_persist(lsh_candidate_pairs(
            sigs, id_col, bands, rows_per_band, scope_col=scope_col))
        verified = verify_jaccard(sh, cands, id_col)
        return verified.where(F.col("jaccard") >= threshold)

    import gc
    from functools import reduce

    sigs = sigs.persist()
    sh = sh.persist()
    per = -(-bands // n_sweeps)
    parts = []
    for s in range(n_sweeps):
        subset = list(range(s * per, min((s + 1) * per, bands)))
        if not subset:
            break
        cands = lsh_candidate_pairs(
            sigs, id_col, bands, rows_per_band,
            scope_col=scope_col, band_subset=subset)
        verified = verify_jaccard(sh, cands, id_col,
                                  persist_pruned=False) \
            .where(F.col("jaccard") >= threshold)
        parts.append(verified.localCheckpoint(eager=True))
        gc.collect()
        try:
            sigs.sparkSession.sparkContext._jvm.System.gc()
        except Exception:
            pass
    sigs.unpersist()
    sh.unpersist()
    # a pair surfacing in bands of two different sweeps yields the
    # identical (id_a, id_b, jaccard) row twice: distinct() restores
    # the single-sweep output exactly
    return reduce(lambda x, y: x.unionByName(y), parts).distinct()


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    block_col: str = "source", shingle_n: int = 3, threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard for every pair *within a blocking key*.

    The block key bounds the quadratic term; at scale the block is an LSH
    band (see minhash_near_dup_pairs) — here it doubles as the verifiable
    all-pairs baseline. (id_a, id_b, jaccard)."""
    # persisted: per-doc sizes and both self-join sides consume the
    # blocked shingle stream (r12)
    sh = scoped_persist(
        word_shingles(df, id_col, text_col, shingle_n)
        .join(df.select(F.col(id_col), F.col(block_col)), id_col))
    sizes = sh.groupBy(id_col, block_col).agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("shingle"), F.col(block_col))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("shingle"), F.col(block_col))
    inter = (
        a.join(b, ["shingle", block_col])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "id_a").join(nb, "id_b")
        .select("id_a", "id_b",
                F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6)
                .alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    bits: int = 32, hash_fn: str = "md5",
) -> DataFrame:
    """(id, simhash bigint): sign-aggregated token-hash bits.

    One explode(distinct tokens) + one groupBy with ``bits`` conditional
    sums; bit b is set when more token hashes have bit b set than not.
    Near-dup test downstream = bit_count(xor) ≤ d — no text comparison."""
    tok = (
        df.select(F.col(id_col), F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"))
        .withColumn("h", hash63("tok", hash_fn))
    )
    # One server-side expression instead of ~350 per-Column py4j round
    # trips (bits× sum(when)+alias plus a bits-term when-chain): the
    # driver spent ~0.5 s per call BUILDING this tree (r12 optimization
    # round, guide §7.3 — the lsh_topk/mediasniff precedent). Identical
    # aggregates and arithmetic, so values (and the oracle hash) are
    # unchanged: bit b of the signature is set when more token hashes
    # have bit b set than not.
    sign_sums = " + ".join(
        f"(CASE WHEN sum(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END)"
        f" > 0 THEN {2 ** b} ELSE 0 END)" for b in range(bits))
    return tok.groupBy(id_col).agg(
        F.expr(f"CAST(({sign_sums}) AS BIGINT)").alias("simhash"))


def embedding_near_dup(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.3, strategy: str = "gemm", n_blocks: int = 8,
    n_planes: int = 4, seed: int = 42, dim: int | None = None,
) -> DataFrame:
    """All-pairs cosine near-dup. (id_a, id_b, cos).

    ``strategy`` picks between an exact and an approximate answer:

    - ``gemm`` (default): EXACT blocked distributed GEMM. Rows are hashed
      into ``n_blocks`` blocks; every unordered block pair (i ≤ j) becomes
      one ``applyInPandas`` group holding the two blocks' rows, and each
      group runs one float64 BLAS matmul. Nothing is collected to the
      driver and no broadcast exists: shuffle volume is N×n_blocks rows,
      per-task memory is 2N/n_blocks vectors — size ``n_blocks`` so that
      fits the executor (compute stays inherently O(N²), which is the
      price of exactness; see ``gemm_lsh`` for the pruned pair space).
      ``n_blocks=1`` is one whole-corpus GEMM.
    - ``gemm_lsh``: production path at 100 TB — random-hyperplane LSH
      buckets (similarity.lsh_bucket) then one GEMM per bucket, so the
      pair space is pruned to same-bucket pairs. Approximate (cross-bucket
      pairs are missed; recall graded in tests), linear shuffle, and the
      bucket id doubles as the natural partition/bucketBy key."""
    if strategy == "gemm":
        return _embedding_near_dup_blocked(df, id_col, vec_col, threshold, n_blocks)
    if strategy == "gemm_lsh":
        return _embedding_near_dup_lsh(df, id_col, vec_col, threshold,
                                       n_planes, seed, dim)
    raise ValueError(
        f"strategy must be 'gemm' or 'gemm_lsh': {strategy!r}")


def _pair_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("cos", T.DoubleType()),
    ])


def _gemm_pairs(ids_a, A, ids_b, B, threshold):
    """Threshold-filtered cosine pairs between two row-normalized float64
    matrices; emits id_a < id_b only (dedupes the diagonal group)."""
    import numpy as np
    import pandas as pd

    S = A @ B.T
    ii, jj = np.nonzero(S >= threshold)
    ia, ib, cs = ids_a[ii], ids_b[jj], S[ii, jj]
    keep = ia < ib
    return pd.DataFrame({
        "id_a": ia[keep], "id_b": ib[keep], "cos": np.round(cs[keep], 6),
    })


def _rows_to_mat(pdf):
    import numpy as np

    ids = pdf["id"].to_numpy(dtype=np.int64)
    M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
    nrm = np.linalg.norm(M, axis=1, keepdims=True)
    nrm[nrm == 0] = 1.0
    return ids, M / nrm


def _embedding_near_dup_blocked(
    df: DataFrame, id_col: str, vec_col: str, threshold: float, n_blocks: int,
) -> DataFrame:
    """Exact distributed all-pairs: block-pair replication + per-group GEMM.

    Each row lands in block ``pmod(xxhash64(id), P)`` and is replicated to
    the P unordered block pairs it participates in, so group (i, j) holds
    blocks i and j exactly once each. The diagonal group computes its own
    upper triangle; off-diagonal groups compute the cross product between
    the two block sides (within-block pairs belong to the diagonal, so no
    pair is scored twice). Driver sees nothing; per-task memory is two
    blocks."""
    P = max(1, n_blocks)
    rows = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("blk", F.pmod(F.xxhash64("id"), F.lit(P)).cast("int"))
    )
    rep = rows.select(
        "id", "v", "blk",
        F.explode(F.sequence(F.lit(0), F.lit(P - 1))).alias("other"),
    ).select(
        "id", "v", "blk",
        F.least("blk", "other").alias("bi"),
        F.greatest("blk", "other").alias("bj"),
    )

    def kernel(key, pdf):
        import pandas as pd

        bi, bj = int(key[0]), int(key[1])
        if bi == bj:
            ids, M = _rows_to_mat(pdf)
            return _gemm_pairs(ids, M, ids, M, threshold)
        left = pdf[pdf["blk"] == bi]
        right = pdf[pdf["blk"] == bj]
        if left.empty or right.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        ia, A = _rows_to_mat(left)
        ib, B = _rows_to_mat(right)
        S = A @ B.T
        import numpy as np

        ii, jj = np.nonzero(S >= threshold)
        xa, xb, cs = ia[ii], ib[jj], S[ii, jj]
        lo = np.minimum(xa, xb)
        hi = np.maximum(xa, xb)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos": np.round(cs, 6)})

    return rep.groupBy("bi", "bj").applyInPandas(kernel, _pair_schema())


def _embedding_near_dup_lsh(
    df: DataFrame, id_col: str, vec_col: str, threshold: float,
    n_planes: int, seed: int, dim: int | None = None,
) -> DataFrame:
    """Approximate all-pairs: sign-bit LSH bucket → one GEMM per bucket.

    Linear shuffle (each row moves once, keyed on its bucket), pair space
    pruned to same-bucket pairs; recall vs the exact path is graded in
    tests (cosine-close vectors agree on most hyperplane signs). At 100 TB
    the bucket id is the bucketBy/partition key for the corpus table."""
    from datapump_spark.operators.similarity import hyperplanes, lsh_bucket, vec_dim

    try:
        planes = hyperplanes(vec_dim(df, vec_col, dim), n_planes, seed)
    except ValueError:  # empty corpus → empty pair set
        return df.sparkSession.createDataFrame([], _pair_schema())
    rows = (
        df.select(F.col(id_col).alias("id"),
                  F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"))
        .withColumn("bucket", lsh_bucket(F.col("v"), planes))
    )

    def kernel(key, pdf):
        ids, M = _rows_to_mat(pdf)
        return _gemm_pairs(ids, M, ids, M, threshold)

    return rows.groupBy("bucket").applyInPandas(kernel, _pair_schema())


def _np_connected_components(a, b):
    """Vectorized CC over an edge list (two equal-length int arrays):
    min-label scatter + pointer jumping (Shiloach–Vishkin shape) on
    compacted node indices. Returns (nodes, min-id label per node).
    ~2.7 s for 2 M edges vs ~6.6 s for dict union-find and ~20 s for
    the old toLocalIterator feed (round-9 fix for the driver-CC cost
    that dominated the 2.5 M-doc tier in PERF.md)."""
    import numpy as np

    a = np.asarray(a, np.int64)
    b = np.asarray(b, np.int64)
    nodes, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    e = len(a)
    ia, ib = idx[:e], idx[e:]
    labels = np.arange(len(nodes), dtype=np.int64)
    while True:
        la, lb = labels[ia], labels[ib]
        lo = np.minimum(la, lb)
        before = labels.copy()
        np.minimum.at(labels, la, lo)
        np.minimum.at(labels, lb, lo)
        while True:                     # pointer jumping to roots
            nl = labels[labels]
            if np.array_equal(nl, labels):
                break
            labels = nl
        if np.array_equal(labels, before):
            break
    return nodes, nodes[labels]


def _driver_union_find(pairs_df, spark, id_col: str):
    """Solve CC for a small, already-pruned edge list on the driver;
    returns a (node, label) DataFrame. One Arrow toPandas collect +
    the vectorized numpy CC + one Arrow createDataFrame — no
    per-row Python anywhere.

    This is NOT a corpus collect: the input is the candidate-pair list
    (LSH survivors), typically orders of magnitude smaller than the
    corpus, and callers gate on a measured edge count before choosing
    this path."""
    import pandas as pd

    local = pairs_df.toPandas()
    nodes, labels = _np_connected_components(
        local["id_a"].to_numpy(), local["id_b"].to_numpy())
    return spark.createDataFrame(
        pd.DataFrame({"node": nodes, "label": labels}),
        "node long, label long")


def connected_components(
    pairs: DataFrame, nodes: DataFrame, id_col: str = "doc_id",
    max_iters: int = 20, driver_edge_cap: int = 2_000_000,
) -> DataFrame:
    """(id, cluster_id): connected components over an undirected pair graph
    — turns near-dup *pairs* into dedup *groups* (cluster_id = min member
    id; nodes without edges are their own singleton cluster).

    Adaptive strategy, chosen by a *measured* edge count (never an
    assumption about the corpus):

    - **small graph** (≤ ``driver_edge_cap`` edges, default 2M ≈ 32 MB):
      collect the already-pruned candidate-pair list and solve with
      path-compressed union-find on the driver in O(E α(E)). The pair
      list is the output of LSH + verification — a tiny fraction of the
      corpus at near-dup thresholds — so this is bounded, unlike a corpus
      collect. One pass, zero iterative Spark jobs.
    - **large graph** (> cap, or ``driver_edge_cap=0``): iterative
      min-label propagation **restricted to edge-connected nodes** — the
      corpus never enters the loop; each round is one join + one groupBy
      keyed on the node id. Rounds needed = graph diameter; near-dup
      graphs are dense little cliques, so this converges in 2-3 rounds
      (bounded by ``max_iters``).

    Either way every corpus document gets a label via one final left
    join (singletons label themselves).
    """
    # Persist the edge list once: its lineage (a full MinHash-LSH pipeline
    # when called from near_dup_clusters) must not re-execute per round —
    # nor once per union branch when symmetrizing below.
    pairs_c = pairs.select("id_a", "id_b").persist()
    n_edges = pairs_c.count()
    if n_edges <= driver_edge_cap and driver_edge_cap > 0:
        final = _driver_union_find(pairs_c, pairs.sparkSession, id_col)
        pairs_c.unpersist()
        return (
            nodes.select(F.col(id_col))
            .join(F.broadcast(final), nodes[id_col] == final["node"], "left")
            .select(F.col(id_col),
                    F.coalesce("label", F.col(id_col)).alias("cluster_id"))
        )
    sym = pairs_c.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"),
    ).unionByName(pairs_c.select(
        F.col("id_b").alias("src"), F.col("id_a").alias("dst"))).persist()
    labels = sym.select(F.col("src").alias("node")).distinct() \
                .withColumn("label", F.col("node"))
    converged = False
    for _ in range(max_iters):
        neigh = (
            sym.join(labels, sym["dst"] == labels["node"])
            .groupBy("src").agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neigh, labels["node"] == neigh["src"], "left")
            .select("node",
                    F.least("label", F.coalesce("nlabel", "label")).alias("label"))
        )
        new_labels = new_labels.persist()
        changed = (
            new_labels.join(labels.withColumnRenamed("label", "old"), "node")
            .where(F.col("label") != F.col("old")).count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # silently returning split components would under-dedupe and
        # diverge from the transitive-closure oracle — fail loudly
        labels.unpersist()
        sym.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(component diameter exceeds max_iters); raise max_iters"
        )
    # cut lineage so BOTH caches can be released without the returned
    # frame re-running the (expensive) pair-generation lineage on recompute
    final = labels.localCheckpoint(eager=True)
    labels.unpersist()
    sym.unpersist()
    # singletons: every node not in the pair graph labels itself
    return (
        nodes.select(F.col(id_col))
        .join(final, nodes[id_col] == final["node"], "left")
        .select(F.col(id_col),
                F.coalesce("label", F.col(id_col)).alias("cluster_id"))
    )


def near_dup_clusters(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    threshold: float = 0.5, **minhash_kwargs,
) -> DataFrame:
    """End-to-end fuzzy-dedup grouping: MinHash-LSH pairs → connected
    components. (id, cluster_id) for EVERY document; keep
    ``min(id) per cluster`` to materialize the deduped corpus."""
    pairs = minhash_near_dup_pairs(
        df, id_col, text_col, threshold=threshold, **minhash_kwargs)
    return connected_components(pairs, df, id_col)


def canonical_docs(
    clusters: DataFrame, scores: DataFrame, id_col: str = "doc_id",
    score_col: str = "quality",
) -> DataFrame:
    """Representative selection: per duplicate cluster keep the best-scored
    document (ties → lowest id) — the step that turns a clustering into a
    deduplicated corpus when "first doc wins" is too crude.

    ``clusters`` is (id, cluster_id) (from :func:`near_dup_clusters`),
    ``scores`` is (id, score_col). One co-partitioned join on the id plus
    one aggregation on cluster_id; the argmax is a sortless ``max`` of a
    ``(score, -id)`` struct, so partial aggregation absorbs giant clusters
    the way the line-dedup winner search does (line_dedup.py).
    """
    j = clusters.join(scores.select(id_col, score_col), id_col)
    agg = j.groupBy("cluster_id").agg(
        F.max(
            F.struct(F.col(score_col).alias("s"),
                     (-F.col(id_col)).alias("negid"))
        ).alias("__w"),
        F.count("*").alias("cluster_size"),
    )
    return agg.select(
        "cluster_id",
        (-F.col("__w.negid")).cast("bigint").alias(id_col),
        F.col("__w.s").alias(score_col),
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
    )


def simhash_near_dup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    bits: int = 32, max_hamming: int = 3, hash_fn: str = "md5",
    max_block_size: int | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming): all pairs whose SimHash signatures differ in
    at most ``max_hamming`` bits — WITHOUT an all-pairs comparison.

    The Manku et al. 2007 (Google web-dedup) pigeonhole index: split the
    b-bit signature into ``max_hamming + 1`` contiguous blocks; any pair
    within distance d must agree EXACTLY on ≥ 1 block, so candidates come
    from an equi-join per block (explode block index → self-join on
    (block#, block value)) and only candidates pay the bit_count(xor)
    verify. Lossless by construction — pinned against the O(n²) oracle.

    At 100 TB: candidate volume is governed by block width (bits/(d+1));
    widen ``bits`` (the signature) rather than shrinking d to keep blocks
    selective. The (block#, value) key is the shuffle/bucket key; the
    signature table is ~16 bytes/doc, the only thing that moves.

    ``max_block_size`` caps the dense-graph worst case (the mega-basket
    hazard ``assoc.pair_rules`` documents): a corpus slice of B
    near-identical docs collapses into one block and would emit ~B²/2
    pairs — quadratic OUTPUT no downstream consumer wants. With the cap
    set, each (block#, value) group keeps only its ``max_block_size``
    lowest ids (deterministic), bounding per-block candidates at cap²
    while every retained member still pairs against the block's minimum
    id — so connected-components clustering downstream still groups the
    clique. Capped runs are APPROXIMATE on over-cap blocks (completeness
    is the price); leave as None (default) for the lossless index the
    brute-force oracle pins.
    """
    sigs = simhash(df, id_col, text_col, bits=bits, hash_fn=hash_fn)
    return hamming_pairs(sigs, id_col, "simhash", bits=bits,
                         max_hamming=max_hamming,
                         max_block_size=max_block_size)


def hamming_probe(
    probe: DataFrame, index: DataFrame, id_col: str, sig_col: str,
    bits: int = 64, max_hamming: int = 3,
) -> DataFrame:
    """Asymmetric pigeonhole probe: ids of ``probe`` rows whose signature
    is within ``max_hamming`` bits of ANY ``index`` signature — the
    incremental-dedup shape (daily batch vs persisted index) where
    :func:`hamming_pairs`' self-join would wastefully pair the index
    against itself. One block equi-join; the index side never self-pairs,
    and at scale the bucketed index stays put while the batch shuffles
    to it. Returns distinct ``(id)`` probe hits."""
    nb = max_hamming + 1
    if bits // nb == 0:
        raise ValueError(f"bits={bits} too small for {nb} blocks")
    widths = [bits // nb + (1 if i < bits % nb else 0) for i in range(nb)]
    offs = [sum(widths[:i]) for i in range(nb)]

    sig = sql_ident(sig_col)

    def keyed(df: DataFrame, with_id: bool) -> DataFrame:
        blocks = F.array(*[
            F.struct(
                F.lit(i).alias("bno"),
                F.expr(f"({sig} >> {offs[i]}) "
                       f"& {(1 << widths[i]) - 1}").alias("bval"))
            for i in range(nb)])
        cols = ([F.col(id_col).alias("id")] if with_id else []) \
            + [F.col(sig).alias("__sig"), F.explode(blocks).alias("b")]
        out = df.select(*cols)
        return out.select(*(["id"] if with_id else []),
                          "__sig", F.col("b.bno").alias("bno"),
                          F.col("b.bval").alias("bval"))

    a = keyed(probe, True)
    b = keyed(index, False).select(
        F.col("__sig").alias("__isig"), "bno", "bval").distinct()
    hd = F.bit_count(F.col("__sig").bitwiseXOR(F.col("__isig")))
    return (a.join(b, ["bno", "bval"])
            .where(hd <= max_hamming)
            .select("id").distinct())


def hamming_pairs(
    sigs: DataFrame, id_col: str, sig_col: str,
    bits: int = 64, max_hamming: int = 3,
    max_block_size: int | None = None,
) -> DataFrame:
    """Manku pigeonhole pair index over ANY integer-signature frame —
    the machinery behind :func:`simhash_near_dup`, exposed so other
    fixed-width signatures (image perceptual hashes, audio fingerprints)
    get the same no-all-pairs join. Semantics and the ``max_block_size``
    cap exactly as documented there. Sign-safe: arithmetic ``>>`` plus
    the block mask extracts the same bits for negative int64s."""
    nb = max_hamming + 1
    if bits // nb == 0:
        raise ValueError(f"bits={bits} too small for {nb} blocks")
    widths = [bits // nb + (1 if i < bits % nb else 0) for i in range(nb)]
    offs = [sum(widths[:i]) for i in range(nb)]

    sig = sql_ident(sig_col)
    blocks = F.array(*[
        F.struct(
            F.lit(i).alias("bno"),
            F.expr(f"({sig} >> {offs[i]}) & {(1 << widths[i]) - 1}")
            .alias("bval"))
        for i in range(nb)])
    keyed = sigs.select(
        F.col(id_col).alias("id"), F.col(sig).alias("__sig"),
        F.explode(blocks).alias("b")
    ).select("id", "__sig", F.col("b.bno").alias("bno"),
             F.col("b.bval").alias("bval"))
    if max_block_size is not None:
        if max_block_size < 2:
            raise ValueError(f"max_block_size must be >= 2: {max_block_size}")
        from pyspark.sql import Window
        wb = Window.partitionBy("bno", "bval").orderBy("id")
        keyed = (keyed.withColumn("__r", F.row_number().over(wb))
                 .where(F.col("__r") <= max_block_size).drop("__r"))
    # persisted: both self-join sides consume the keyed stream, whose
    # lineage is the full signature computation (SimHash: a token
    # explode + 32 conditional sums) — r12, guide §1.2/§5. nb+1
    # ints/row, the cheapest frame in the operator.
    # persist_shared: persists iff the keyed stream's lineage carries a
    # wide step or a Python kernel. All current callers qualify — the
    # SimHash signature is itself a groupBy(doc) aggregate and the
    # image/audio signatures come through mapInPandas decode kernels —
    # but the policy guards any future caller whose signature frame is
    # a plain narrow scan, where the barrier would cost more than the
    # recompute (r13 policy, guide §5; plans/r13 shows the persist
    # retained: InMemoryRelation 4 -> 4).
    keyed = persist_shared(keyed)
    a = keyed.select(F.col("id").alias("id_a"),
                     F.col("__sig").alias("sig_a"), "bno", "bval")
    b = keyed.select(F.col("id").alias("id_b"),
                     F.col("__sig").alias("sig_b"), "bno", "bval")
    hd = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        a.join(b, ["bno", "bval"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hd.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
