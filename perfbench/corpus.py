"""``corpus_stream``: a ``StreamingCorpusIngest`` AvailableNow drain of a
seeded jsonl drop-box (plain, gzip and zstd files read with
``input_format="jsonl-compressed"``), with the cross-batch near-dup gate
on at the threshold ``tests/test_streaming_corpus.py`` uses.

One pass drains every file into a fresh corpus/index directory with a
fresh checkpoint, one file per micro-batch. A step is a micro-batch; its
time is the ``triggerExecution`` duration the stream reports in
``StreamingQuery.recentProgress``.
"""

from __future__ import annotations

import re
from pathlib import Path

import gen
from harness import median, pinned_rdds

N_BATCHES = 3
DOCS = 200
WARM_BATCHES = 2
NEAR_DUP_THRESHOLD = 0.5
MIN_WORDS = 10


def generate(ctx) -> None:
    ctx.inputs["drop"] = gen.corpus_dropbox(ctx.work / "in", ctx.seed,
                                            N_BATCHES, DOCS)
    # same shape, other seed; all but the first batch probe a non-empty
    # index
    ctx.inputs["warm"] = gen.corpus_dropbox(ctx.work / "warm_in",
                                            ctx.seed + 7919, WARM_BATCHES,
                                            DOCS)
    ctx.rows_per_pass = N_BATCHES * DOCS
    ctx.outs = []


def _drain(ctx, drop: dict, tag: str):
    from datapump_spark.streaming.corpus import StreamingCorpusIngest

    ing = StreamingCorpusIngest(
        ctx.spark, str(drop["paths"][0].parent), str(ctx.work / tag / "out"),
        min_words=MIN_WORDS, max_files_per_trigger=1,
        input_format="jsonl-compressed",
        near_dup_threshold=NEAR_DUP_THRESHOLD)
    q = ing.stream(ctx.work / tag / "cp").trigger(availableNow=True).start()
    q.awaitTermination(170)
    if q.isActive:
        q.stop()
        raise TimeoutError(f"{tag}: drain did not finish")
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return ing, [p for p in q.recentProgress if p.numInputRows > 0]


def warm(ctx) -> None:
    _drain(ctx, ctx.inputs["warm"], "warm")


def run(ctx) -> None:
    if ctx.trace:
        _instrument(ctx)
    ctx.progress = []

    def one_pass(k, rec):
        try:
            ing, progress = _drain(ctx, ctx.inputs["drop"], f"pass{k}")
        except Exception as exc:  # noqa: BLE001 — every batch failed
            rec["steps"] += [0.0] * N_BATCHES
            rec["ok"] += [False] * N_BATCHES
            ctx.info.setdefault("errors", []).append(str(exc)[:300])
            return
        ctx.outs.append(ing)
        ctx.progress.append((rec, progress))
        for p in progress:
            rec["steps"].append(p.durationMs["triggerExecution"] / 1000)
            rec["ok"].append(True)

    ctx.run_passes(one_pass)


def _instrument(ctx) -> None:
    """A span (with its own job group) around each micro-batch body, and
    the cache state it leaves behind."""
    from datapump_spark.streaming.corpus import StreamingCorpusIngest

    tr = ctx.tracer
    orig = StreamingCorpusIngest._handle_batch
    ctx.pinned = 0

    def handle_batch(self, batch_df, batch_id):
        with tr.span("streaming.corpus.batch", jobs=True):
            orig(self, batch_df, batch_id)
        if tr.enabled:
            ctx.pinned = max(ctx.pinned, pinned_rdds(ctx.spark.sparkContext))

    StreamingCorpusIngest._handle_batch = handle_batch


def layers(ctx) -> dict:
    tr = ctx.tracer
    prog = [p for rec, ps in ctx.progress if rec["traced"] for p in ps]
    add = [p.durationMs["addBatch"] / 1000 for p in prog]
    trig = [p.durationMs["triggerExecution"] / 1000 for p in prog]
    out = {
        "streaming.corpus.add_batch_s": median(add),
        "streaming.corpus.trigger_overhead_s": median(
            [t - a for t, a in zip(trig, add)]),
        "streaming.corpus.jobs_per_batch": median(
            [s["jobs"] for s in tr.named("streaming.corpus.batch")]),
        "cachescope.pinned_rdds": ctx.pinned,
        **tr.spark_totals(*ctx.traced()[0]["spans"]),
    }
    audit = _audit(ctx.outs[-1])
    n_in = sum(a["n_in"] for a in audit.values())
    n_low = sum(a["n_low_quality"] for a in audit.values())
    n_dup = sum(a["n_dup"] for a in audit.values())
    out["operators.quality.drop_share"] = n_low / n_in
    out["operators.incremental.dup_share"] = n_dup / (n_in - n_low)
    ing = ctx.outs[-1]
    written = sum(_parquet_bytes(d) for d in (
        ing.corpus_dir, ing.index_dir, ing.sig_index_dir))
    out["sinks.corpus.bytes_written_per_input_byte"] = (
        written / ctx.inputs["drop"]["raw_bytes"])
    return out


def _parquet_bytes(d: str) -> int:
    return sum(p.stat().st_size for p in Path(d).rglob("*.parquet"))


# ------------------------------------------------------------ correctness

_TOKEN = re.compile(r"[^a-z0-9]+")


def _keep(text: str) -> bool:
    """The gopher gate's default rules (operators/quality.gopher_filter)
    recomputed in Python."""
    from datapump_spark.operators.text import STOPWORDS

    toks = [t for t in _TOKEN.split(text.lower()) if t]
    n = len(toks)
    nz = max(n, 1)
    mean_len = round(sum(map(len, toks)) / nz, 6)
    alpha = round((n - sum(t.isdigit() for t in toks)) / nz, 6)
    stops = sum(t in STOPWORDS for t in toks)
    dup_word = round(1 - len(set(toks)) / nz, 6)
    dup_2 = (round(1 - len(set(zip(toks, toks[1:]))) / (n - 1), 6)
             if n >= 2 else 0.0)
    return (MIN_WORDS <= n <= 100_000 and 3.0 <= mean_len <= 10.0
            and alpha >= 0.8 and stops >= 2 and dup_word <= 0.95
            and dup_2 <= 0.75)


def _fp(text: str) -> str:
    """The exact gate's content key: lowercased alphanumerics only."""
    return re.sub(r"[^a-z0-9]", "", text.lower())


def _read(d: str, cols: str) -> list[tuple]:
    import duckdb

    return duckdb.sql(
        f"SELECT {cols} FROM read_parquet('{d}/**/*.parquet', "
        "hive_partitioning=true, union_by_name=true)").fetchall()


def _audit(ing) -> dict:
    keys = ("n_in", "n_low_quality", "n_dup", "n_admitted")
    return {int(r[0]): dict(zip(keys, r[1:])) for r in _read(
        ing.audit_dir, "__batch_id, " + ", ".join(keys))}


def check(ctx) -> list[str]:
    """Every pass: per batch, the audit counts and admitted ids against the
    quality and exact gates recomputed in Python from the generated
    documents. The near-dup gate (MinHash, estimated) may only drop
    documents the generator derived from another one. Invariants: no
    fingerprint admitted twice; n_in = low-quality + dup + admitted."""
    drop = ctx.inputs["drop"]
    problems = []
    for k, ing in enumerate(ctx.outs):
        audit = _audit(ing)
        corpus = _read(ing.corpus_dir, "doc_id, __batch_id")
        fps = [r[0] for r in _read(ing.index_dir, "fp")]
        if len(fps) != len(set(fps)):
            problems.append(f"pass{k}: a fingerprint is admitted twice")
        if len(fps) != len(corpus):
            problems.append(f"pass{k}: {len(fps)} fingerprints for "
                            f"{len(corpus)} admitted docs")
        admitted_fps: set[str] = set()
        for b, rows in enumerate(drop["batches"]):
            a = audit.get(b)
            if a is None:
                problems.append(f"pass{k} batch {b}: no audit row")
                continue
            good = [r for r in rows if _keep(r["text"])]
            exact, seen = [], set(admitted_fps)
            for r in sorted(good, key=lambda r: r["doc_id"]):
                if _fp(r["text"]) not in seen:
                    seen.add(_fp(r["text"]))
                    exact.append(r["doc_id"])
            got = {i for i, bid in corpus if bid == b}
            want = (len(rows), len(rows) - len(good),
                    len(good) - len(got), len(got))
            have = (a["n_in"], a["n_low_quality"], a["n_dup"],
                    a["n_admitted"])
            if have != want:
                problems.append(f"pass{k} batch {b}: audit {have} != {want}")
            if a["n_in"] != a["n_low_quality"] + a["n_dup"] + a["n_admitted"]:
                problems.append(f"pass{k} batch {b}: counts do not add up")
            if not got <= set(exact):
                problems.append(f"pass{k} batch {b}: admitted ids outside "
                                f"the exact gate: {sorted(got - set(exact))[:5]}")
            near = set(exact) - got
            if not near <= drop["derived"]:
                problems.append(f"pass{k} batch {b}: near-dup gate dropped "
                                f"original docs {sorted(near - drop['derived'])[:5]}")
            text = {r["doc_id"]: r["text"] for r in rows}
            admitted_fps |= {_fp(text[i]) for i in got}
    return problems

