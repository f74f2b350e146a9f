"""Text-operator yardstick: the reference's execution model (eager
single-process pandas, datapump.py's architecture) vs this engine on the
training-data operators, same machine.

Ops timed on the documents table, optionally replicated in memory with
per-replica word suffixes (disjoint shingles — duplicate structure grows
linearly like a real corpus, exactly as scripts/scale_curve.py does):

- exact_dedup  : normalize → hash → keep one row per hash.
  pandas: vectorized str ops + hash_pandas_object + drop_duplicates —
  the generous implementation, no python loop.
- line_dedup   : 10-token pseudo-lines, corpus-wide first-wins line
  dedup + doc reassembly. pandas: explode/drop_duplicates/groupby-agg —
  all vectorized.
- span_dedup   : ExactSubstr 10-gram repeated-span removal (winner
  keeps, other occurrences cut). pandas: dict-of-positions + python
  loops — the idiomatic single-process formulation (as with decontam,
  n-gram work has no vectorized form).
- decontam     : 13-gram overlap vs the doc_id%20==0 benchmark slice.
  pandas: per-row python gram sets — the idiomatic pandas formulation
  (n-gram extraction has no vectorized form).

Usage: python scripts/text_yardstick.py [sf_dir] [scale_mult]
Prints one JSON line {"pandas": {...}, "spark": {...}, "docs": n}.
"""

from __future__ import annotations

import json
import re
import sys
import time
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TOK_RE = re.compile(r"[^a-z0-9]+")


def _tokens(s: str) -> list[str]:
    return [t for t in TOK_RE.split(s.lower()) if t]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 1

    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet",
                          columns=["doc_id", "text"])
    if mult > 1:
        reps = []
        for i in range(mult):
            r = pdf.copy()
            r["doc_id"] = r["doc_id"] + i * 10_000_000
            if i:
                suf = f"_{i}"
                r["text"] = r["text"].str.replace(" ", f"{suf} ", regex=False) + suf
            reps.append(r)
        pdf = pd.concat(reps, ignore_index=True)
    n = len(pdf)
    out: dict[str, dict[str, float]] = {"pandas": {}, "spark": {}}

    # ---------------- pandas side (reference architecture) ----------------
    t0 = time.perf_counter()
    norm = pdf["text"].str.lower().str.replace(TOK_RE, " ", regex=True).str.strip()
    h = pd.util.hash_pandas_object(norm, index=False)
    pdf.assign(__h=h).sort_values("doc_id").drop_duplicates("__h", keep="first")
    out["pandas"]["exact_dedup"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    toks = pdf["text"].map(_tokens)
    lines = toks.map(
        lambda t: [" ".join(t[i:i + 10]) for i in range(0, max(len(t), 1), 10)])
    ex = pdf[["doc_id"]].assign(line=lines).explode("line")
    ex["line_no"] = ex.groupby(level=0).cumcount()
    kept = ex.sort_values(["doc_id", "line_no"]).drop_duplicates("line", keep="first")
    kept.sort_values(["doc_id", "line_no"]).groupby("doc_id")["line"].agg("\n".join)
    out["pandas"]["line_dedup"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    occ: dict[int, list[tuple[int, int]]] = {}
    doc_ids = pdf["doc_id"].tolist()
    for row, t in enumerate(toks):
        for i in range(len(t) - 9):
            occ.setdefault(hash(tuple(t[i:i + 10])), []).append((row, i))
    cut: dict[int, set[int]] = {}
    for places in occ.values():
        if len(places) >= 2:
            places.sort(key=lambda rp: (doc_ids[rp[0]], rp[1]))
            for row, p_ in places[1:]:
                cut.setdefault(row, set()).update(range(p_, p_ + 10))
    for row, t in enumerate(toks):
        dead = cut.get(row, ())
        " ".join(tok for i, tok in enumerate(t) if i not in dead)
    out["pandas"]["span_dedup"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    is_bench = pdf["doc_id"] % 20 == 0
    bench_grams: set[str] = set()
    for t in toks[is_bench]:
        for i in range(len(t) - 12):
            bench_grams.add(" ".join(t[i:i + 13]))
    hits = toks[~is_bench].map(
        lambda t: sum(1 for i in range(len(t) - 12)
                      if " ".join(t[i:i + 13]) in bench_grams))
    (hits >= 1).sum()
    out["pandas"]["decontam"] = round(time.perf_counter() - t0, 3)

    # ---------------- engine side -----------------------------------------
    from pyspark.sql import functions as F

    from datapump_spark.operators.decontam import decontaminate
    from datapump_spark.operators.dedup_fuzzy import exact_dedup
    from datapump_spark.operators.line_dedup import dedup_lines
    from datapump_spark.queries import _t
    from datapump_spark.session import tuned_builder

    spark = (tuned_builder("text-yardstick")
             .config("spark.driver.memory", "24g").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm-up

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    if mult > 1:
        docs = (
            docs.crossJoin(spark.range(mult).select(F.col("id").alias("__rep")))
            .withColumn("doc_id", F.col("doc_id") + F.col("__rep") * 10_000_000)
            .withColumn(
                "text",
                F.when(F.col("__rep") == 0, F.col("text")).otherwise(
                    F.concat(
                        F.regexp_replace(
                            "text", " ",
                            F.concat(F.lit("_"), F.col("__rep").cast("string"),
                                     F.lit(" "))),
                        F.lit("_"), F.col("__rep").cast("string"))),
            )
            .drop("__rep")
        )
    # many-partition layout + persist: a real corpus of this size arrives
    # as many files; time the operators, not the in-memory replication
    docs = docs.repartition(64).persist()
    docs.count()

    t0 = time.perf_counter()
    exact_dedup(docs).write.format("noop").mode("overwrite").save()
    out["spark"]["exact_dedup"] = round(time.perf_counter() - t0, 3)

    lined = (
        docs.withColumn("__t", F.split("text", " "))
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
    out["spark"]["line_dedup"] = round(time.perf_counter() - t0, 3)

    from datapump_spark.operators.line_dedup import remove_duplicate_spans

    t0 = time.perf_counter()
    remove_duplicate_spans(docs, n=10, hash_fn="xxhash64") \
        .write.format("noop").mode("overwrite").save()
    out["spark"]["span_dedup"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    decontaminate(docs, docs.where(F.col("doc_id") % 20 == 0)) \
        .write.format("noop").mode("overwrite").save()
    out["spark"]["decontam"] = round(time.perf_counter() - t0, 3)

    print(json.dumps({**out, "docs": n, "sf_dir": sf_dir}))


if __name__ == "__main__":
    main()
