"""``query_mix``: 15 builders from ``queries.py``, one at a time, each
forced with the noop writer, in an order permuted by the seed.

A step is one query: the builder call (driver-side plan build, py4j and
analysis) plus the noop write that executes it. The warm-up runs every
query once on an identical copy of the tables and collects its output;
that pass is also the correctness gate (each output against its DuckDB
oracle, normalised as ``scripts/check_oracle.py`` does). A traced run
also collects every query once more after its timed region, on the
tables its last pass read, and checks it against the same oracle
results.

``q_canonical_docs`` is left out: it reads ``q_dup_clusters``' session
memo, so whichever of the two ran second would be timed at a memo hit.
"""

from __future__ import annotations

import random
import shutil
import time

import gen
import refs
from harness import pinned_rdds

MIX = [
    # reference stats
    "q_dedupe_last", "q_resample_hourly", "q_describe_numeric", "q_mode",
    # dedup, including the corpus ingest's incremental admission gate
    "q_exact_dedup", "q_fingerprint", "q_minhash_near_dup",
    "q_dup_clusters", "q_incremental_dedup",
    # search
    "q_cosine_topk",
    # text
    "q_gopher_quality", "q_jsonl_scan",
    # multi-stage
    "q_pagerank", "q_triangles", "q_assoc_rules",
]
# table sizes in the shape of the engine's sf0.01 test data
SIZE = {"n_events": 10_000, "n_orders": 15_000, "n_docs": 500,
        "n_emb": 500}
TABLES = ["events", "orders", "lineitem", "documents", "embeddings"]


def generate(ctx) -> None:
    from datapump_spark.queries import scaled_events_jsonl

    import pyarrow.parquet as pq

    # Directory names key the engine's fixture cache (.csvcache/<name>),
    # so they are unique per run and removed in cleanup(). The warm-up and
    # each timed pass read their own identical copy of the tables: what
    # the warm-up checks is exactly what a timed pass computes, and no
    # path-keyed memo of the engine carries over from one pass into the
    # next.
    tag = f"pb{ctx.work.name.replace('-', '')}"
    small = gen.sf_tables(ctx.work / f"{tag}t0", ctx.seed, **SIZE)
    copies = [ctx.work / f"{tag}w"] + [ctx.work / f"{tag}t{k}"
                                       for k in range(1, 1 + 2 * ctx.trace)]
    for d in copies:
        shutil.copytree(small, d)
    ctx.dirs = [small, *copies]
    for d in ctx.dirs:      # the engine's derived JSONL fixture
        scaled_events_jsonl(str(d))
    ctx.inputs.update(warm=copies[0], timed=[small, *copies[1:]],
                      order=random.Random(ctx.seed).sample(MIX, len(MIX)))
    ctx.rows_per_pass = sum(pq.ParquetFile(small / f"{t}.parquet")
                            .metadata.num_rows for t in TABLES)
    ctx.info["order"] = ctx.inputs["order"]


def cleanup(ctx) -> None:
    from datapump_spark.queries import REPO_ROOT

    for d in getattr(ctx, "dirs", []):
        shutil.rmtree(REPO_ROOT / ".csvcache" / d.name, ignore_errors=True)


def _builders() -> dict:
    from datapump_spark.queries import BENCH_VARIANTS, EXTRA_QUERIES, QUERIES

    return {**QUERIES, **EXTRA_QUERIES, **BENCH_VARIANTS}


def _collect_and_check(ctx, src, name: str) -> list[str]:
    """Collect one query on the tables under ``src`` and diff it against
    its oracle result: column names, row count and the order-insensitive
    value hash of ``scripts/check_oracle.py``."""
    try:
        df = _builders()[name](ctx.spark, str(src))
        cols, rows = df.columns, [tuple(r) for r in df.collect()]
    except Exception as exc:  # noqa: BLE001 — a failure is a finding
        return [f"{name}: {type(exc).__name__}: {exc}"[:300]]
    want = ctx.oracle[name]
    if (sorted(cols) != sorted(want[0]) or len(rows) != len(want[1])
            or refs.table_hash(cols, rows) != refs.table_hash(*want)):
        return refs.diff(name, cols, rows, *want) or [
            f"{name}: value-hash mismatch"]
    return []


def warm(ctx) -> None:
    """Every mix query once on the copy of the tables, collected and
    checked (untimed; the DuckDB side of the check is excluded from set-up
    time). The oracle results are kept for the traced run's re-check."""
    import duckdb

    from datapump_spark.oracles import EXTRA_ORACLES, ORACLES

    oracles = {**ORACLES, **EXTRA_ORACLES}
    src = ctx.inputs["warm"]
    t = time.perf_counter()
    con = duckdb.connect()
    for tb in TABLES:
        con.execute(f"CREATE VIEW {tb} AS SELECT * FROM '{src}/{tb}.parquet'")
    ctx.oracle = {name: refs.fetch(con, oracles[name]) for name in MIX}
    ctx.excluded_s += time.perf_counter() - t
    ctx.problems = []
    for name in ctx.inputs["order"]:
        ctx.problems += _collect_and_check(ctx, src, name)


def run(ctx) -> None:
    fns = _builders()
    spark = ctx.spark
    tr = ctx.tracer
    ctx.pinned = 0

    def one_pass(k, rec):
        sf = str(ctx.inputs["timed"][k])
        for name in ctx.inputs["order"]:
            t = time.perf_counter()
            ok = True
            try:
                with tr.span(f"queries.{name}.build", jobs=True):
                    df = fns[name](spark, sf)
                with tr.span(f"queries.{name}.exec", jobs=True):
                    df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 — counted as a failed step
                ok = False
            rec["steps"].append(time.perf_counter() - t)
            rec["ok"].append(ok)
            ctx.info.setdefault(f"pass{k}_step_s", {})[name] = round(
                rec["steps"][-1], 2)
            if tr.enabled:
                ctx.pinned = max(ctx.pinned, pinned_rdds(spark.sparkContext))

    ctx.run_passes(one_pass, max_passes=len(ctx.inputs["timed"]))


def check(ctx) -> list[str]:
    """The warm-up's findings; a traced run adds a re-check of every
    query on the tables its last pass read, after all state of the timed
    region carried over."""
    if ctx.trace:
        src = ctx.inputs["timed"][len(ctx.passes) - 1]
        for name in ctx.inputs["order"]:
            ctx.problems += [f"after timed region: {p}" for p in
                             _collect_and_check(ctx, src, name)]
    return ctx.problems


def layers(ctx) -> dict:
    tr = ctx.tracer
    lo, hi = ctx.traced()[0]["spans"]
    spans = tr.spans[lo:hi]
    out = tr.spark_totals(lo, hi)
    out["cachescope.pinned_rdds"] = ctx.pinned
    for name in MIX:
        b = [s for s in spans if s["name"] == f"queries.{name}.build"]
        e = [s for s in spans if s["name"] == f"queries.{name}.exec"]
        if not b or not e:
            continue
        out[f"queries.{name}.build_s"] = b[0]["end"] - b[0]["start"]
        out[f"queries.{name}.exec_s"] = e[0]["end"] - e[0]["start"]
        out[f"queries.{name}.stages"] = b[0]["stages"] + e[0]["stages"]
    return out
