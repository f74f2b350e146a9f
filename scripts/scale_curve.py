"""Scaling-curve evidence: run core operators at 1× / 10× / 50× the sf0.1
events table (in-memory replication with shifted keys, so group cardinality
scales too) and print sec per run. Near-linear growth = no cliff; the
point of the exercise is that the same plans that pass the sf0.01
correctness gate keep their shape as data grows.

Usage: python scripts/scale_curve.py [sf_dir]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    # --fuzzy-only 100,200 : run ONLY the minhash_near_dup / dup_clusters
    # tier at the given multipliers (200 × 5k docs = 1M — the round-6
    # extension of the 250k sub-linearity claim) and skip everything else
    fuzzy_only = None
    rest = sys.argv[1:]
    if "--fuzzy-only" in rest:
        i = rest.index("--fuzzy-only")
        fuzzy_only = [int(x) for x in rest[i + 1].split(",")]
        rest = rest[:i] + rest[i + 2:]
    # --fuzzy-op minhash,clusters,span : limit the fuzzy tier to named
    # ops so the huge multipliers can run ONE op per process — shuffle
    # files are only guaranteed reclaimed at app exit, and the 5 M-doc
    # tier's combined shuffle volume exceeds local disk otherwise
    fuzzy_ops = {"minhash", "clusters", "span"}
    if "--fuzzy-op" in rest:
        i = rest.index("--fuzzy-op")
        fuzzy_ops = set(rest[i + 1].split(","))
        rest = rest[:i] + rest[i + 2:]
    # --sweeps N : run the minhash op in staged band-sweep mode (r12,
    # minhash_near_dup_pairs(n_sweeps=N)) — bounds peak scratch disk to
    # ~1/N of the single-sweep run at the cost of re-joining the
    # persisted signatures per sweep
    sweeps = 1
    if "--sweeps" in rest:
        i = rest.index("--sweeps")
        sweeps = int(rest[i + 1])
        rest = rest[:i] + rest[i + 2:]
    sf_dir = rest[0] if rest else "/root/testdata/sf0.1"

    from pyspark.sql import functions as F

    from datapump_spark.operators.dedupe import dedupe_by_key
    from datapump_spark.operators.resample import freq_resample
    from datapump_spark.operators.sampling import shard_assign
    from datapump_spark.queries import _t
    from datapump_spark.session import tuned_builder

    import os as _os
    cpus = _os.environ.get("SPARK_GRAFT_CPUS", "*")
    # the 50x replication tiers need more than the 1g local-mode default
    spark = (
        tuned_builder("scale-curve").master(f"local[{cpus}]")
        .config("spark.driver.memory", "24g")
        # zstd shuffle blocks (~30% smaller than the lz4 default): the
        # x1000 / 5 M-doc tier's per-op shuffle would otherwise brush
        # this box's ~80 GB free disk (r8: killed at 92%); on a real
        # cluster this is the same knob you set when shuffle volume,
        # not CPU, is the binding constraint
        .config("spark.io.compression.codec", "zstd")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    base = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value")

    out: dict[str, dict[str, float]] = {}
    for mult in () if fuzzy_only else (1, 10, 50):
        big = (
            base.crossJoin(spark.range(mult).select(F.col("id").alias("__rep")))
            .withColumn("user_id", F.col("user_id") + F.col("__rep") * 1000)
            .withColumn("event_id", F.col("event_id") + F.col("__rep") * 10_000_000)
            .drop("__rep")
            .repartition(64)   # see dedup tier note: un-starve map stages
            .persist()
        )
        big.count()
        runs = {}

        t0 = time.perf_counter()
        freq_resample(big, ["user_id"], "ts", "H", value_cols=["value"]) \
            .write.format("noop").mode("overwrite").save()
        runs["resample_hourly"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        dedupe_by_key(big, ["user_id", "event_type"], "event_id", "last") \
            .write.format("noop").mode("overwrite").save()
        runs["dedupe_last"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        shard_assign(big, "event_id", 64, hash_fn="xxhash64") \
            .write.format("noop").mode("overwrite").save()
        runs["shard_assign"] = round(time.perf_counter() - t0, 2)

        out[f"x{mult}"] = runs
        big.unpersist()

    # --- fuzzy-dedup tier (VERDICT r1 item 10): minhash_near_dup and
    # dup_clusters on replicated documents. Replica words get a per-replica
    # suffix so shingle sets are disjoint across replicas — the near-dup
    # graph grows linearly (same structure per replica), never
    # quadratically, exactly how a larger real corpus behaves.
    from datapump_spark.operators.dedup_fuzzy import (
        minhash_near_dup_pairs,
        near_dup_clusters,
    )

    def shuffle_write_bytes() -> int | None:
        """Total shuffle-write bytes across completed stages (driver UI
        REST API) — deltas around an op give its shuffle volume."""
        import json as _json
        import urllib.request

        try:
            ui = spark.sparkContext.uiWebUrl
            app = spark.sparkContext.applicationId
            url = f"{ui}/api/v1/applications/{app}/stages?status=complete"
            with urllib.request.urlopen(url, timeout=10) as r:
                stages = _json.load(r)
            return sum(s.get("shuffleWriteBytes", 0) for s in stages)
        except Exception:
            return None

    def timed(runs: dict, key: str, fn) -> None:
        import shutil
        import threading

        peak = [shutil.disk_usage("/tmp").used]
        stop = threading.Event()

        def sample():
            while not stop.wait(2.0):
                peak[0] = max(peak[0], shutil.disk_usage("/tmp").used)

        th = threading.Thread(target=sample, daemon=True)
        base_used = shutil.disk_usage("/tmp").used
        th.start()
        s0 = shuffle_write_bytes()
        t0 = time.perf_counter()
        fn()
        runs[key] = round(time.perf_counter() - t0, 2)
        s1 = shuffle_write_bytes()
        stop.set()
        th.join()
        if s0 is not None and s1 is not None:
            runs[key + "_shuffle_mb"] = round((s1 - s0) / 1e6, 1)
        runs[key + "_disk_peak_gb"] = round(
            (peak[0] - base_used) / 1e9, 2)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dedup_out: dict[str, dict[str, float]] = {}
    for mult in fuzzy_only or (1, 10, 50):
        # Persist + repartition the replicated input before timing: a real
        # corpus of this size arrives as many files/partitions, while
        # crossJoin replication inherits the base table's 1-2 — without
        # this every pre-shuffle map stage (tokenize/hash, the hot part)
        # runs near-serial and the curve measures the harness, not the op.
        big_docs = (
            docs.crossJoin(spark.range(mult).select(F.col("id").alias("__rep")))
            .withColumn("doc_id", F.col("doc_id") + F.col("__rep") * 10_000_000)
            .withColumn(
                "text",
                F.array_join(
                    F.transform(
                        F.split("text", " "),
                        lambda w: F.concat(w, F.lit("_"),
                                           F.col("__rep").cast("string")),
                    ), " "),
            )
            .drop("__rep")
            .repartition(64)
            .persist()
        )
        big_docs.count()
        runs = {}
        if "minhash" in fuzzy_ops:
            key = ("minhash_near_dup" if sweeps <= 1
                   else f"minhash_near_dup_sweeps{sweeps}")
            timed(runs, key, lambda: minhash_near_dup_pairs(
                big_docs, threshold=0.5, hash_fn="xxhash64",
                n_sweeps=sweeps)
                .write.format("noop").mode("overwrite").save())

        if "clusters" in fuzzy_ops:
            timed(runs, "dup_clusters", lambda: near_dup_clusters(
                big_docs, threshold=0.5, hash_fn="xxhash64")
                .write.format("noop").mode("overwrite").save())

        # exact repeated-span removal on the same replicated corpus: the
        # suffixed replicas keep cross-replica grams disjoint, so the
        # duplicated-gram table grows linearly in mult
        from datapump_spark.operators.line_dedup import remove_duplicate_spans

        if "span" in fuzzy_ops:
            timed(runs, "span_dedup", lambda: remove_duplicate_spans(
                big_docs, n=10, hash_fn="xxhash64")
                .write.format("noop").mode("overwrite").save())

        if fuzzy_only:
            dedup_out[f"x{mult}"] = runs
            big_docs.unpersist()
            print(json.dumps({"tier": "fuzzy_dedup", "sf_dir": sf_dir,
                              f"x{mult}": runs}))
            continue

        # line dedup on 10-token pseudo-lines (q_line_dedup's rechunking);
        # suffixed replicas keep the duplicate-line graph linear in mult
        from datapump_spark.operators.line_dedup import dedup_lines

        lined = (
            big_docs.withColumn("__t", F.split("text", " "))
            .withColumn("__n", F.greatest(
                F.ceil(F.size("__t") / F.lit(10)), F.lit(1)).cast("int"))
            .select(
                "doc_id",
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(1), F.col("__n")),
                        lambda i: F.array_join(
                            F.slice("__t", (i - 1) * 10 + 1, 10), " "),
                    ), "\n").alias("text"),
            )
        )
        t0 = time.perf_counter()
        dedup_lines(lined, hash_fn="xxhash64") \
            .write.format("noop").mode("overwrite").save()
        runs["line_dedup"] = round(time.perf_counter() - t0, 2)

        # decontamination: replicated corpus vs the (fixed-size) benchmark
        # slice, which is small enough for the broadcast-set scan
        from datapump_spark.operators.decontam import decontaminate

        bench_slice = docs.where(F.col("doc_id") % 20 == 0)
        t0 = time.perf_counter()
        decontaminate(big_docs, bench_slice) \
            .write.format("noop").mode("overwrite").save()
        runs["decontam"] = round(time.perf_counter() - t0, 2)

        # round-3 text operators on the same replicated corpus: replica
        # suffixes keep each op's per-doc structure identical, so the
        # honest expectation is linear growth
        from datapump_spark.operators.bpe import bpe_encode, train_bpe
        from datapump_spark.operators.chunking import chunk_documents
        from datapump_spark.operators.lm import train_and_score
        from datapump_spark.operators.repetition import repetition_signals

        t0 = time.perf_counter()
        repetition_signals(big_docs) \
            .write.format("noop").mode("overwrite").save()
        runs["repetition"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        train_and_score(big_docs, big_docs) \
            .write.format("noop").mode("overwrite").save()
        runs["lm_train_score"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        chunk_documents(big_docs) \
            .write.format("noop").mode("overwrite").save()
        runs["chunking"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        bpe_encode(big_docs, train_bpe(big_docs, n_merges=200)) \
            .write.format("noop").mode("overwrite").save()
        runs["bpe_train_encode"] = round(time.perf_counter() - t0, 2)

        dedup_out[f"x{mult}"] = runs
        big_docs.unpersist()

    # --- embedding tier: semantic dedup on replicated vectors; replicas
    # are rotated per-dimension so cross-replica pairs stay far apart —
    # cluster sizes (and the within-cluster pair work) grow linearly
    from datapump_spark.operators.semantic_dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    emb_out: dict[str, dict[str, float]] = {}
    for mult in () if fuzzy_only else (1, 10, 50):
        big_emb = (
            emb.crossJoin(spark.range(mult).select(F.col("id").alias("__rep")))
            .withColumn("vec_id", F.col("vec_id") + F.col("__rep") * 10_000_000)
            .withColumn(
                "embedding",
                F.transform(
                    "embedding",
                    lambda x, i: (x + F.cos((F.col("__rep") + 1) * (i + 1))
                                  ).cast("float"),
                ),
            )
            .drop("__rep")
            .repartition(64)
            .persist()
        )
        big_emb.count()
        n_cl = max(16, (2000 * mult) // 500)   # keep ~500 vectors/cluster
        t0 = time.perf_counter()
        semantic_dedup(big_emb, n_clusters=n_cl, threshold=0.9) \
            .write.format("noop").mode("overwrite").save()
        emb_out[f"x{mult}"] = {
            "semantic_dedup": round(time.perf_counter() - t0, 2),
            "n_clusters": n_cl,
        }
        big_emb.unpersist()

    # --- round-3 tier: heavy hitters (bounded MG summaries), drift
    # (bounded bucket agg), and blocked sparse cosine. Sparse-sim
    # replicas get a DISTINCT block id (source suffix), so block sizes —
    # and with them the Σ df² pair work — stay constant per replica and
    # total work grows linearly, the same way a bigger real corpus adds
    # domains rather than fattening one domain.
    from datapump_spark.operators.drift import time_split_drift
    from datapump_spark.operators.sketches import heavy_hitters
    from datapump_spark.operators.sparse_sim import sparse_cosine_pairs

    docs_ls = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text")
    r3_out: dict[str, dict[str, float]] = {}
    for mult in () if fuzzy_only else (1, 10, 50):
        big_docs = (
            docs_ls.crossJoin(spark.range(mult)
                              .select(F.col("id").alias("__rep")))
            .withColumn("doc_id", F.col("doc_id") + F.col("__rep") * 10_000_000)
            .withColumn("source", F.concat("source", F.lit("_r"),
                                           F.col("__rep")))
            .drop("__rep")
            .repartition(64)
            .persist()
        )
        big_docs.count()
        big_ev = (
            base.crossJoin(spark.range(mult).select(F.col("id").alias("__rep")))
            .withColumn("event_id",
                        F.col("event_id") + F.col("__rep") * 10_000_000)
            .drop("__rep")
            .repartition(64)
            .persist()
        )
        big_ev.count()
        runs = {}

        toks = big_docs.select(
            F.explode(F.split(F.lower("text"), r"[^a-z0-9]+")).alias("tok")
        ).where(F.col("tok") != "")
        t0 = time.perf_counter()
        heavy_hitters(toks, "tok", phi=0.001) \
            .write.format("noop").mode("overwrite").save()
        runs["heavy_hitters"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        time_split_drift(big_ev, "ts", "value", ["event_type"]) \
            .write.format("noop").mode("overwrite").save()
        runs["psi_drift"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        sparse_cosine_pairs(big_docs, block_cols=["lang", "source"],
                            threshold=0.2) \
            .write.format("noop").mode("overwrite").save()
        runs["sparse_cosine"] = round(time.perf_counter() - t0, 2)

        r3_out[f"x{mult}"] = runs
        big_docs.unpersist()
        big_ev.unpersist()

    # --- round-3b tier: broadcast-state encode scans. The production
    # pattern at 100 TB is train-once (bounded state: codebooks, tokenizer
    # probs) then scan-everything — so the state here is fit ONCE on the
    # base tables and only the encode scans ride the replication curve;
    # honest expectation is linear, since each is a shuffle-free
    # mapInPandas/codegen pass.
    from datapump_spark.operators.mediasniff import sniff_media
    from datapump_spark.operators.pq import pq_encode, train_pq
    from datapump_spark.operators.unigram import train_unigram, unigram_encode
    from datapump_spark.queries import _media_real_headers

    cb = train_pq(emb, id_col="vec_id", vec_col="embedding", m=8, k=64,
                  lloyd_iters=2, dim=64)
    uni = train_unigram(docs, vocab_size=400, seed_size=3000,
                        max_piece_len=5, em_iters=2)
    media = _media_real_headers(spark, sf_dir)
    r3b_out: dict[str, dict[str, float]] = {}
    for mult in () if fuzzy_only else (1, 10, 50):
        big_emb = (
            emb.crossJoin(spark.range(mult).select(F.col("id").alias("__rep")))
            .withColumn("vec_id", F.col("vec_id") + F.col("__rep") * 10_000_000)
            .drop("__rep").repartition(64).persist()
        )
        big_docs = (
            docs.crossJoin(spark.range(mult).select(F.col("id").alias("__rep")))
            .withColumn("doc_id", F.col("doc_id") + F.col("__rep") * 10_000_000)
            .drop("__rep").repartition(64).persist()
        )
        big_media = (
            media.crossJoin(spark.range(mult).select(F.col("id").alias("__rep")))
            .withColumn("media_id",
                        F.col("media_id") + F.col("__rep") * 10_000_000)
            .drop("__rep").repartition(64).persist()
        )
        for df in (big_emb, big_docs, big_media):
            df.count()
        runs = {}

        t0 = time.perf_counter()
        pq_encode(big_emb, cb, id_col="vec_id", vec_col="embedding") \
            .write.format("noop").mode("overwrite").save()
        runs["pq_encode"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        unigram_encode(big_docs, uni) \
            .write.format("noop").mode("overwrite").save()
        runs["unigram_encode"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        sniff_media(big_media, strategy="expr") \
            .write.format("noop").mode("overwrite").save()
        runs["sniff_media_expr"] = round(time.perf_counter() - t0, 2)

        r3b_out[f"x{mult}"] = runs
        for df in (big_emb, big_docs, big_media):
            df.unpersist()

    # --- round-5 tier: incremental near-dup admission (fixed persisted
    # index, batch rides the replication — the daily-crawl shape), DSIR
    # selection (fixed target, raw corpus scales), multi-probe OR-table
    # LSH top-k and semantic decontam (fixed query/bench side, corpus
    # scales). Honest expectation: all linear — every op is
    # fixed-state-vs-scaling-scan by construction.
    from datapump_spark.operators.decontam import semantic_decontaminate
    from datapump_spark.operators.importance import dsir_sample
    from datapump_spark.operators.incremental import (
        incremental_near_dup,
        signature_index,
    )
    from datapump_spark.operators.similarity import lsh_topk

    idx_sigs = signature_index(docs, hash_fn="xxhash64") \
        .localCheckpoint(eager=True)
    target = docs.where(F.col("doc_id") % 10 == 0)
    bench_emb = emb.where(F.col("vec_id") % 20 == 0)
    r5_out: dict[str, dict[str, float]] = {}
    for mult in () if fuzzy_only else (1, 10, 50):
        big_docs = (
            docs.crossJoin(spark.range(mult).select(F.col("id").alias("__rep")))
            .withColumn("doc_id", F.col("doc_id") + F.col("__rep") * 10_000_000)
            .withColumn(
                "text",
                F.array_join(
                    F.transform(
                        F.split("text", " "),
                        lambda w: F.concat(w, F.lit("_"),
                                           F.col("__rep").cast("string")),
                    ), " "),
            )
            .drop("__rep").repartition(64).persist()
        )
        big_emb = (
            emb.crossJoin(spark.range(mult).select(F.col("id").alias("__rep")))
            .withColumn("vec_id", F.col("vec_id") + F.col("__rep") * 10_000_000)
            .withColumn(
                "embedding",
                F.transform(
                    "embedding",
                    lambda x, i: (x + F.cos((F.col("__rep") + 1) * (i + 1))
                                  ).cast("float"),
                ),
            )
            .drop("__rep").repartition(64).persist()
        )
        big_docs.count(); big_emb.count()
        runs = {}

        t0 = time.perf_counter()
        incremental_near_dup(big_docs, idx_sigs, hash_fn="xxhash64") \
            .write.format("noop").mode("overwrite").save()
        runs["incremental_near_dup"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        dsir_sample(big_docs, target, k=1000, hash_fn="xxhash64") \
            .write.format("noop").mode("overwrite").save()
        runs["dsir_sample"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        lsh_topk(big_emb, k=10, query_max_id=10, n_planes=6, n_probe=8,
                 n_tables=4) \
            .write.format("noop").mode("overwrite").save()
        runs["lsh_topk_multiprobe"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        semantic_decontaminate(big_emb, bench_emb, threshold=0.3) \
            .write.format("noop").mode("overwrite").save()
        runs["semantic_decontam"] = round(time.perf_counter() - t0, 2)

        r5_out[f"x{mult}"] = runs
        big_docs.unpersist(); big_emb.unpersist()

    print(json.dumps({
        "rows_base": base.count(),
        "curve": out,
        "docs_base": docs.count(),
        "dedup_curve": dedup_out,
        "emb_curve": emb_out,
        "r3_curve": r3_out,
        "r3b_curve": r3b_out,
        "r5_curve": r5_out,
    }))


if __name__ == "__main__":
    main()
