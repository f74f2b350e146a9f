"""End-to-end pre-training corpus recipe: the operators composed the way
a production pipeline chains them.

    raw docs ─ quality filter ─ (repetition gate) ─ (LM-perplexity gate)
             ─ decontam ─ PII redact ─ exact dedup
             ─ near-dup clusters → canonical docs ─ (weighted mix)
             ─ sequence packing ─ (training shards)

Each stage is one of the engine's tested operators; this module only
wires them, so the composed lineage stays a single declarative Spark plan
until the optional shard write. Rejected documents are *routed*, not
dropped — every stage's reject stream carries a ``reject_reason``,
mirroring the ingest pipeline's archive/problems split
(streaming/pipeline.py).

Scale shape: quality/PII/decontam are scan-speed column passes (decontam
broadcast-set), the dedups shuffle on hash keys, packing is the two-phase
prefix sum — nothing here adds a shuffle beyond its component operators,
and nothing touches the driver except the benchmark gram set.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datapump_spark.operators.decontam import decontaminate
from datapump_spark.operators.dedup_fuzzy import (
    canonical_docs,
    exact_dedup,
    near_dup_clusters,
)
from datapump_spark.operators.packing import pack_concat_chunks
from datapump_spark.operators.pii import pii_redact
from datapump_spark.operators.quality import gopher_filter
from datapump_spark.operators.sampling import weighted_mix
from datapump_spark.operators.text import quality_score


@dataclass
class CorpusRecipe:
    """Tuning knobs for :func:`pretrain_corpus`; defaults are the
    component operators' published defaults."""

    min_words: int = 50
    decontam_n: int = 13
    # surgical decontamination: cut ONLY the benchmark-overlapping spans
    # (operators/decontam.remove_contaminated_spans) instead of dropping
    # whole flagged docs; docs that were pure benchmark quotes empty out
    # and still route to 'contaminated'. NB rewrites text as the
    # NORMALIZED token stream (same contract as span_dedup_n).
    surgical_decontam: bool = False
    dedup_threshold: float = 0.5
    # near-dup scoping column (e.g. 'lang'): only same-scope docs can
    # pair in the MinHash-LSH stage — the per-language production
    # scoping; None = corpus-wide
    dedup_scope_col: str | None = None
    seq_budget: int = 1024
    weights: dict[str, float] | None = None
    source_col: str = "source"
    hash_fn: str = "md5"
    gopher_kwargs: dict = field(default_factory=dict)
    # optional repetition gate (operators/repetition.py); None = off
    max_dup_line_frac: float | None = None
    max_top_ngram_char_frac: float | None = None
    # optional LM-perplexity gate (operators/lm.py, CCNet shape): keep
    # docs with ppl ≤ ppl_max under a bigram LM fitted on lm_reference
    # (or, when None, on the quality-surviving corpus itself): None = off
    ppl_max: float | None = None
    # optional exact repeated-span REMOVAL (Lee et al. 2022 ExactSubstr,
    # operators/line_dedup.py remove_duplicate_spans): token n-grams
    # repeated corpus-wide keep one occurrence, every other occurrence is
    # cut out of its doc. NB the stage rewrites text as the NORMALIZED
    # token stream (lowercased alphanumerics, single spaces); None = off
    span_dedup_n: int | None = None


def pretrain_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    recipe: CorpusRecipe | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    lm_reference: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Run the full cleaning chain. Returns named streams:

    - ``clean``     — surviving docs (redacted text), one row per doc
    - ``rejected``  — every dropped doc with ``reject_reason``
                      (``quality`` | ``repetitive`` | ``perplexity`` |
                      ``contaminated`` | ``exact_dup`` | ``near_dup`` |
                      ``span_dup``)
    - ``sequences`` — packed (seq_id, doc_id, n_tok_in_seq) rows over
                      the clean stream

    All lazy: callers materialize the streams they need.
    """
    r = recipe or CorpusRecipe()

    # 1. quality gate (keep column, never drops)
    q = gopher_filter(docs, id_col, text_col,
                      min_words=r.min_words, **r.gopher_kwargs)
    keep_ids = q.where(F.col("keep")).select(id_col)
    rej_quality = (q.where(~F.col("keep")).select(id_col)
                   .withColumn("reject_reason", F.lit("quality")))
    cur = docs.join(keep_ids, id_col, "semi")  # AQE sizes the join at runtime

    # 1b. repetition gate (optional, Gopher-style)
    rej_rep = None
    if (r.max_dup_line_frac is not None
            or r.max_top_ngram_char_frac is not None):
        from datapump_spark.operators.repetition import repetition_signals

        sig = repetition_signals(cur, id_col, text_col)
        bad_rep = F.lit(False)
        if r.max_dup_line_frac is not None:
            bad_rep = bad_rep | (
                F.col("dup_line_frac") > r.max_dup_line_frac)
        if r.max_top_ngram_char_frac is not None:
            bad_rep = bad_rep | (
                F.col("top_ngram_char_frac") > r.max_top_ngram_char_frac)
        bad = sig.where(bad_rep).select(id_col)
        rej_rep = bad.withColumn("reject_reason", F.lit("repetitive"))
        cur = cur.join(bad, id_col, "anti")

    # 1c. LM-perplexity gate (optional, CCNet-style)
    rej_ppl = None
    if r.ppl_max is not None:
        from datapump_spark.operators.lm import train_and_score

        ref = lm_reference if lm_reference is not None else cur
        scores = train_and_score(ref, cur, id_col, text_col)
        bad = scores.where(F.col("ppl") > r.ppl_max).select(id_col)
        rej_ppl = bad.withColumn("reject_reason", F.lit("perplexity"))
        cur = cur.join(bad, id_col, "anti")

    # 2. benchmark decontamination (optional; drop-doc or surgical-cut)
    if benchmark is not None and r.surgical_decontam:
        from datapump_spark.operators.decontam import (
            remove_contaminated_spans,
        )

        # max_passes=3: iterate past cut-seam regrams so the clean
        # stream provably contains no benchmark n-gram (the same
        # invariant the drop-doc mode gives for free)
        spans = remove_contaminated_spans(cur, benchmark, id_col, text_col,
                                          n=r.decontam_n, hash_fn=r.hash_fn,
                                          max_passes=3)
        cur = (cur.drop(text_col)
               .join(spans.where(F.col("clean_text") != "")
                     .select(id_col, F.col("clean_text").alias(text_col)),
                     id_col))
        rej_contam = (spans.where(F.col("clean_text") == "").select(id_col)
                      .withColumn("reject_reason", F.lit("contaminated")))
    elif benchmark is not None:
        flags = decontaminate(cur, benchmark, id_col, text_col,
                              n=r.decontam_n, hash_fn=r.hash_fn)
        bad = flags.where(F.col("contaminated")).select(id_col)
        rej_contam = bad.withColumn("reject_reason", F.lit("contaminated"))
        cur = cur.join(bad, id_col, "anti")
    else:
        rej_contam = None

    # 3. PII redaction (text rewrite, no row change)
    red = pii_redact(cur, id_col, text_col, out_col="__clean")
    cur = (cur.drop(text_col).join(red, id_col)
           .withColumnRenamed("__clean", text_col))

    # 4. exact dedup (normalized-hash, lowest id wins)
    survivors = exact_dedup(cur, id_col, text_col)
    rej_exact = (cur.select(id_col).join(survivors.select(id_col), id_col, "anti")
                 .withColumn("reject_reason", F.lit("exact_dup")))

    # 5. near-dup clustering → best-quality canonical per cluster
    scope_kw = ({"scope_col": r.dedup_scope_col}
                if r.dedup_scope_col else {})
    clusters = near_dup_clusters(survivors, id_col, text_col,
                                 threshold=r.dedup_threshold,
                                 hash_fn=r.hash_fn, **scope_kw)
    canon = canonical_docs(clusters, quality_score(survivors, id_col, text_col),
                           id_col)
    clean = survivors.join(canon.select(id_col), id_col, "semi")
    rej_near = (survivors.select(id_col)
                .join(canon.select(id_col), id_col, "anti")
                .withColumn("reject_reason", F.lit("near_dup")))

    # 5b. exact repeated-span removal (optional, Lee et al. ExactSubstr):
    # duplicated passages are cut out of the survivors' text (normalized
    # token stream — see CorpusRecipe.span_dedup_n); docs left empty are
    # rejected as span_dup rather than packed as zero-token husks.
    rej_span = None
    if r.span_dedup_n is not None:
        from datapump_spark.operators.line_dedup import remove_duplicate_spans

        spans = remove_duplicate_spans(clean, id_col, text_col,
                                       n=r.span_dedup_n, hash_fn=r.hash_fn)
        clean = (clean.drop(text_col)
                 .join(spans.where(F.col("clean_text") != "")
                       .select(id_col, F.col("clean_text").alias(text_col)),
                       id_col))
        rej_span = (spans.where(F.col("clean_text") == "").select(id_col)
                    .withColumn("reject_reason", F.lit("span_dup")))

    # 6. optional corpus recipe weights
    if r.weights is not None:
        clean = weighted_mix(clean, r.source_col, r.weights, id_col)

    rejected = rej_quality.unionByName(rej_exact).unionByName(rej_near)
    for extra in (rej_contam, rej_rep, rej_ppl, rej_span):
        if extra is not None:
            rejected = rejected.unionByName(extra)

    sequences = pack_concat_chunks(clean, r.seq_budget, id_col, text_col)
    return {"clean": clean, "rejected": rejected, "sequences": sequences}


# --------------------------------------------------------------------------
# RAG retrieval recipe: chunk → hash-embed → PQ index → compressed search
# --------------------------------------------------------------------------

def rag_index(
    docs: DataFrame,
    workdir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
    dim: int = 64,
    pq_m: int = 8,
    pq_k: int = 16,
    lloyd_iters: int = 2,
) -> dict[str, str]:
    """Build a persisted retrieval index with zero external dependencies:
    sliding-window chunking → feature-hashing embeddings → PQ codebooks →
    compressed codes. Everything a later :func:`rag_search` session needs
    lands under ``workdir``: chunk metadata (provenance), full-precision
    vectors (the re-rank store), codes (the scan store), codebooks
    (model_io JSON).

    The layout IS the scale story: searches scan ``codes`` (m bytes per
    chunk), touch ``vectors`` only for the shortlist ids, and never read
    ``chunks`` until the final provenance join. The embedder is lexical
    (hashing trick) — swap ``hash_embed`` for a model encoder behind the
    same (id, embedding) contract when one is available.
    """
    from datapump_spark.functions.model_io import save_model
    from datapump_spark.operators.chunking import chunk_documents
    from datapump_spark.operators.embeddings import hash_embed
    from datapump_spark.operators.pq import pq_encode, train_pq

    chunks = chunk_documents(docs, id_col, text_col,
                             chunk_tokens=chunk_tokens, overlap=overlap)
    # stable 63-bit chunk key: survives re-indexing and layout changes
    chunks = chunks.withColumn(
        "chunk_key",
        F.xxhash64(F.col(id_col), F.col("chunk_id"))
        .bitwiseAND(F.lit((1 << 63) - 1)))
    paths = {k: f"{workdir}/{k}" for k in
             ("chunks", "vectors", "codes", "codebooks.json")}
    chunks.write.mode("overwrite").parquet(paths["chunks"])
    chunks = docs.sparkSession.read.parquet(paths["chunks"])

    # The 63-bit key is the join identity of all three stores — a silent
    # collision would cross-wire provenance and vectors. Assert uniqueness
    # at build time (one aggregation over the just-written table; birthday
    # bound makes a hit astronomically unlikely below ~2^31 chunks, but a
    # wrong index must be impossible, not just improbable).
    collided = (chunks.groupBy("chunk_key").count()
                .where(F.col("count") > 1).limit(1).collect())
    if collided:
        raise ValueError(
            f"chunk_key collision detected (key {collided[0]['chunk_key']}):"
            " re-chunk with different parameters or widen the key")

    emb = hash_embed(chunks, id_col="chunk_key", text_col="chunk_text",
                     dim=dim)
    emb.write.mode("overwrite").parquet(paths["vectors"])
    emb = docs.sparkSession.read.parquet(paths["vectors"])

    cb = train_pq(emb, id_col="chunk_key", vec_col="embedding",
                  m=pq_m, k=pq_k, lloyd_iters=lloyd_iters, dim=dim)
    pq_encode(emb, cb, id_col="chunk_key", vec_col="embedding") \
        .write.mode("overwrite").parquet(paths["codes"])
    save_model(cb, paths["codebooks.json"])
    # Build-time manifest: the append path (rag_index_append) needs the
    # chunking/embedding params to encode new docs identically, and the
    # training-time reconstruction MSE as the drift baseline.
    from datapump_spark.operators.pq import pq_reconstruction_mse
    _write_manifest(workdir, {
        "chunk_tokens": chunk_tokens, "overlap": overlap, "dim": dim,
        "pq_m": pq_m, "pq_k": pq_k, "lloyd_iters": lloyd_iters,
        "gen": 0,
        "baseline_mse": pq_reconstruction_mse(
            emb, cb, id_col="chunk_key", vec_col="embedding"),
    })
    return paths


def _write_manifest(workdir: str, manifest: dict) -> None:
    import json
    from pathlib import Path

    p = Path(workdir) / "manifest.json"
    tmp = p.with_name(p.name + ".tmp")
    tmp.write_text(json.dumps(manifest))
    tmp.replace(p)


def _read_manifest(workdir: str) -> dict:
    import json
    from pathlib import Path

    return json.loads((Path(workdir) / "manifest.json").read_text())


def _index_paths(workdir: str, man: dict) -> dict:
    """Resolve the index stores for the manifest's active generation.

    ``chunks``/``vectors`` are append-only and generation-free; the
    codebooks+codes PAIR must never be read mixed, so a retrain writes
    both under a NEW generation suffix and the atomic manifest swap
    (``_write_manifest`` tmp+replace) is the single commit point — a
    reader that resolves paths through one manifest snapshot sees either
    the old complete pair or the new complete pair, never a hybrid.
    """
    gen = man.get("gen", 0)
    suffix = "" if gen == 0 else f"_g{gen}"
    return {
        "chunks": f"{workdir}/chunks",
        "vectors": f"{workdir}/vectors",
        "codes": f"{workdir}/codes{suffix}",
        "codebooks": f"{workdir}/codebooks{suffix}.json",
    }


def rag_index_append(
    new_docs: DataFrame,
    workdir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    drift_retrain_factor: float = 2.0,
) -> dict:
    """Append a new batch of documents to a persisted :func:`rag_index`
    WITHOUT rebuilding it — the retrieval twin of incremental dedup's
    admitted-never-re-read contract: already-indexed TEXT is never read
    again; only the new batch is chunked and embedded, then encoded
    against the PERSISTED codebooks and appended to the three stores.

    Drift gate: the new batch's PQ reconstruction MSE is compared to the
    build-time baseline (manifest.json). If it exceeds
    ``drift_retrain_factor × baseline`` the codebooks no longer fit the
    distribution the corpus has drifted to, so the index retrains — from
    the persisted full-precision VECTOR store (old + new), still never
    touching admitted text — and re-encodes every code row. The new
    codebooks+codes pair lands under a fresh generation suffix and the
    atomic manifest swap is the single commit point, so a search that
    resolves paths through one manifest snapshot (``_index_paths``) sees
    either the old complete pair or the new complete pair, never new
    codebooks with old codes; the superseded generation stays on disk
    for in-flight readers (drop it once they drain).

    At 100 TB: the steady-state append is one pass over the new batch
    (chunk → embed → encode, no shuffle wider than the batch) plus
    parquet appends; retrain is rare, touches only the vector store (dim
    floats per chunk, ~25× smaller than text), and is itself
    hash-sampleable via train_pq's train_fraction.

    Returns {"appended_chunks", "batch_mse", "baseline_mse", "retrained"}.
    """
    from datapump_spark.functions.model_io import load_model, save_model
    from datapump_spark.operators.chunking import chunk_documents
    from datapump_spark.operators.embeddings import hash_embed
    from datapump_spark.operators.pq import (
        pq_encode,
        pq_reconstruction_mse,
        train_pq,
    )

    spark = new_docs.sparkSession
    man = _read_manifest(workdir)
    paths = _index_paths(workdir, man)
    cb = load_model(paths["codebooks"])

    chunks = chunk_documents(new_docs, id_col, text_col,
                             chunk_tokens=man["chunk_tokens"],
                             overlap=man["overlap"])
    chunks = chunks.withColumn(
        "chunk_key",
        F.xxhash64(F.col(id_col), F.col("chunk_id"))
        .bitwiseAND(F.lit((1 << 63) - 1)))
    # key-uniqueness gate, same doctrine as the build path but across the
    # UNION of old and new keys — the old store contributes only its key
    # column (pruned scan), never its text
    old_keys = spark.read.parquet(paths["chunks"]).select("chunk_key")
    dup_new = (chunks.groupBy("chunk_key").count()
               .where(F.col("count") > 1).limit(1).collect())
    collided = (chunks.join(old_keys, "chunk_key", "semi")
                .limit(1).collect()) or dup_new
    if collided:
        raise ValueError(
            f"chunk_key collision on append (key {collided[0]['chunk_key']}):"
            " a doc_id was re-indexed or keys must be widened")
    # localCheckpoint before appending to dirs the lineage read from
    # (old_keys reads chunks/) — a later re-list of the appended dir must
    # not recompute this plan against changed files
    chunks = chunks.localCheckpoint()

    emb = hash_embed(chunks, id_col="chunk_key", text_col="chunk_text",
                     dim=man["dim"]).localCheckpoint()
    n_new = emb.count()
    batch_mse = pq_reconstruction_mse(emb, cb, id_col="chunk_key",
                                      vec_col="embedding")
    retrain = (batch_mse == batch_mse  # NaN-safe: empty batch never retrains
               and batch_mse > drift_retrain_factor * man["baseline_mse"])

    chunks.write.mode("append").parquet(paths["chunks"])
    emb.write.mode("append").parquet(paths["vectors"])

    if not retrain:
        pq_encode(emb, cb, id_col="chunk_key", vec_col="embedding") \
            .write.mode("append").parquet(paths["codes"])
    else:
        # drift: retrain on the full persisted vector store (old + the
        # rows just appended), re-encode everything under a NEW
        # generation, then commit by swapping the manifest atomically —
        # readers resolving through _index_paths never pair new
        # codebooks with old codes (or vice versa).
        all_vecs = spark.read.parquet(paths["vectors"])
        cb = train_pq(all_vecs, id_col="chunk_key", vec_col="embedding",
                      m=man["pq_m"], k=man["pq_k"],
                      lloyd_iters=man["lloyd_iters"], dim=man["dim"])
        man["gen"] = man.get("gen", 0) + 1
        new_paths = _index_paths(workdir, man)
        save_model(cb, new_paths["codebooks"])
        pq_encode(all_vecs, cb, id_col="chunk_key", vec_col="embedding") \
            .write.mode("overwrite").parquet(new_paths["codes"])
        man["baseline_mse"] = pq_reconstruction_mse(
            all_vecs, cb, id_col="chunk_key", vec_col="embedding")
        _write_manifest(workdir, man)

    return {"appended_chunks": n_new, "batch_mse": batch_mse,
            "baseline_mse": man["baseline_mse"], "retrained": bool(retrain)}


def rag_search(
    spark,
    workdir: str,
    queries: list[tuple[int, str]],
    k: int = 5,
    rerank_factor: int = 8,
    dim: int = 64,
) -> DataFrame:
    """(query_id, doc_id, chunk_id, chunk_text, score): top-k chunks per
    query from a :func:`rag_index` directory — ADC scan of the code table,
    exact re-rank of the shortlist against the vector store, provenance
    join against chunk metadata last (smallest possible read of each).
    ``queries`` are (query_id, text); ids must be distinct from chunk
    keys (negative ids are safe — chunk keys are non-negative)."""
    from datapump_spark.functions.model_io import load_model
    from datapump_spark.operators.embeddings import hash_embed
    from datapump_spark.operators.pq import pq_topk

    # One manifest snapshot resolves the codebooks+codes pair — the
    # atomic manifest swap in rag_index_append's retrain branch makes
    # this read see a complete generation, never a mixed pair.
    paths = _index_paths(workdir, _read_manifest(workdir))
    cb = load_model(paths["codebooks"])
    vectors = spark.read.parquet(paths["vectors"])
    codes = spark.read.parquet(paths["codes"])
    qdf = hash_embed(
        spark.createDataFrame(queries, "chunk_key long, chunk_text string"),
        id_col="chunk_key", text_col="chunk_text", dim=dim)
    hits = pq_topk(
        vectors, cb, id_col="chunk_key", vec_col="embedding", k=k,
        codes=codes, rerank_factor=rerank_factor, queries=qdf)
    chunks = spark.read.parquet(f"{workdir}/chunks")
    return (
        hits.join(chunks.withColumnRenamed("chunk_key", "neighbor_id"),
                  "neighbor_id")
        .select(F.col("query_id"), "doc_id", "chunk_id", "chunk_text",
                "score")
    )


# --------------------------------------------------------------------------
# Web-corpus recipe: raw Common Crawl WARC shards → training streams
# --------------------------------------------------------------------------

def web_corpus(
    spark,
    warc_path: str,
    benchmark: DataFrame | None = None,
    recipe: CorpusRecipe | None = None,
    min_words_per_block: int = 5,
    max_link_density: float = 0.5,
) -> dict[str, DataFrame]:
    """Common Crawl → packed training sequences in ONE call: WARC
    ``response`` records → HTTP header strip → block-scored main-content
    extraction (``sources/warc.read_warc_html``) → the full
    :func:`pretrain_corpus` chain. ``doc_id`` is the 63-bit target-URI
    hash, ``source`` the page's host — so per-source mixing/weights work
    on web data out of the box. Returns pretrain_corpus's named streams
    (clean / rejected / sequences)."""
    from datapump_spark.functions.hashing import hash63
    from datapump_spark.sources.warc import read_warc_html

    pages = read_warc_html(spark, warc_path,
                           min_words=min_words_per_block,
                           max_link_density=max_link_density)
    # one row per URI: a shard can hold several captures of the same
    # page and every downstream operator assumes unique doc ids —
    # latest capture wins (deterministic tie-break on the text)
    docs = (pages
            .groupBy("target_uri")
            .agg(F.max_by(
                F.struct("main_text"),
                F.struct("warc_date", "main_text")).alias("__w"))
            .select(hash63(F.col("target_uri")).alias("doc_id"),
                    F.col("__w.main_text").alias("text"),
                    F.regexp_extract("target_uri", r"^[a-z]+://([^/]+)", 1)
                    .alias("source")))
    return pretrain_corpus(docs, benchmark, recipe)


def document_corpus(
    spark,
    pdf_path: str,
    benchmark: DataFrame | None = None,
    recipe: CorpusRecipe | None = None,
    glob: str = "*.{pdf,doc,docx,odt,epub,rtf,ppt,pptx}",
    passwords: dict[str, str] | None = None,
) -> dict[str, DataFrame]:
    """Directory of documents → packed training sequences in ONE call —
    the document twin of :func:`web_corpus`: ``binaryFile`` scan
    (JVM-side listing, mtime/length pushdown) → REAL text extraction
    with per-payload magic dispatch (PDF via ``operators/pdftext``,
    DOCX/ODT/EPUB/PPTX via ``operators/docx`` and RTF via
    ``operators/rtf``, round 9; EPUB/RTF/PPTX r11) → the
    full :func:`pretrain_corpus` chain.

    ``doc_id`` is the 63-bit path hash (stable across re-ingestion),
    ``source`` the file's parent directory name — so per-source
    mixing/weights work on document trees out of the box. Files the
    parser can't read (corrupt, encrypted, CID-font-only) land in the
    extra ``quarantine`` stream with their flags rather than polluting
    the corpus — the same routing doctrine as media_corpus.

    At 100 TB: extraction is per-file CPU inside an Arrow kernel
    (embarrassingly parallel, same shape as the image decode path);
    everything downstream is the already-measured pretrain chain.
    """
    from datapump_spark.operators.docx import document_text
    from datapump_spark.sources.mediadir import read_media_dir

    raw = read_media_dir(spark, pdf_path, glob=glob)
    files = raw.select(
        F.xxhash64("path").bitwiseAND(F.lit((1 << 63) - 1))
        .alias("media_id"),
        F.col("content").alias("payload"),
        F.col("path"),
        F.regexp_extract("path", r"([^/]+)/[^/]+$", 1).alias("source"),
    )
    # provenance rides THROUGH the kernel: joining it back would plan a
    # second binaryFile scan plus a shuffle on the path hash
    # passwords: per-source map (path substring -> password, r10) for
    # user/owner-passworded PDFs in the tree
    extracted = document_text(files, on_error="null",
                              passthrough=("path", "source"),
                              passwords=passwords)
    # 'decrypted' is informational (empty-user-password RC4 was read in
    # full, r8) — every other flag marks content the parser could not
    # fully read and routes to quarantine
    bad_flags = F.size(F.array_except(
        "flags", F.array(F.lit("decrypted"))))
    ok = (extracted
          .where(F.col("text").isNotNull() & (F.col("text") != "")
                 & (bad_flags == 0)))
    quarantine = (extracted
                  .where(F.col("text").isNull() | (F.col("text") == "")
                         | (bad_flags > 0))
                  .select("media_id", "path", "flags"))
    docs = ok.select(F.col("media_id").alias("doc_id"), "text", "source")
    streams = pretrain_corpus(docs, benchmark, recipe)
    streams["quarantine"] = quarantine
    return streams


def contrastive_triples(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    dim: int = 64,
    k: int = 10,
    n_neg: int = 1,
    skip_top: int = 1,
    hash_fn: str = "md5",
) -> DataFrame:
    """Weak-supervision contrastive training data from a RAW corpus —
    the standard recipe for bootstrapping embedding models without
    labels: POSITIVES are near-duplicate pairs (paraphrase supervision —
    the same signal the dedup stack computes anyway), NEGATIVES are
    hard negatives mined from a hashing-embedding ANN ranking with the
    positives as qrels (skip-top unlabeled-positive guard).

    Returns ``(anchor_id, positive_id, negative_id, neg_rank)`` — up to
    ``n_neg`` triples per (anchor, positive) pair. Every stage is an
    existing gated operator (near_dup_clusters ∘ hash_embed ∘
    cosine_topk_frame ∘ hard_negatives); only anchors broadcast.
    """
    from datapump_spark.operators.dedup_fuzzy import near_dup_clusters
    from datapump_spark.operators.embeddings import hash_embed
    from datapump_spark.operators.raneval import hard_negatives
    from datapump_spark.operators.similarity import cosine_topk_frame

    clusters = near_dup_clusters(docs, id_col, text_col,
                                 threshold=threshold, hash_fn=hash_fn)
    a, b = clusters.alias("a"), clusters.alias("b")
    pos = (a.join(b, "cluster_id")
           .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
           .select(F.col(f"a.{id_col}").alias("anchor_id"),
                   F.col(f"b.{id_col}").alias("positive_id")))
    # qrels: both orientations — a positive must never be mined as a
    # negative for either member of its pair
    qrels = (pos.select(F.col("anchor_id").alias("query_id"),
                        F.col("positive_id").alias("neighbor_id"))
             .unionByName(pos.select(
                 F.col("positive_id").alias("query_id"),
                 F.col("anchor_id").alias("neighbor_id"))))
    emb = hash_embed(docs, id_col, text_col, dim=dim, hash_fn=hash_fn)
    anchors = emb.join(
        pos.select(F.col("anchor_id").alias(id_col)).distinct(), id_col,
        "semi")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    ranking = (cosine_topk_frame(emb, anchors, id_col, "embedding", k=k)
               .withColumn("rank", F.row_number().over(w)))
    negs = hard_negatives(ranking, qrels, m=n_neg, skip_top=skip_top)
    return (pos.join(negs.select(F.col("query_id").alias("anchor_id"),
                                 F.col("neighbor_id").alias("negative_id"),
                                 "neg_rank"),
                     "anchor_id")
            .select("anchor_id", "positive_id", "negative_id", "neg_rank"))


REJECT_REASONS = ("quality", "repetitive", "perplexity", "contaminated",
                  "exact_dup", "near_dup", "span_dup")


def curation_funnel(
    docs: DataFrame,
    streams: dict[str, DataFrame],
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source curation funnel over :func:`pretrain_corpus` (or
    :func:`web_corpus`) streams — the audit table a curation run reports:
    one row per source with ``n_in``, one column per reject reason,
    ``n_clean`` and ``survival_rate`` (6-dp). Reasons are pivoted against
    the CLOSED reason set (`REJECT_REASONS`), so the schema is stable no
    matter which gates were enabled. ``n_clean`` is COUNTED from the
    clean stream (not derived as n_in − rejects): a weighted recipe
    downsamples the clean stream without emitting reject rows, so the
    arithmetic would overstate survival. Three aggregations + two
    broadcast-able joins on the source key; never touches text."""
    per_src = docs.groupBy(source_col).agg(F.count("*").alias("n_in"))
    rej = (streams["rejected"]
           .join(docs.select(id_col, source_col), id_col)
           .groupBy(source_col)
           .pivot("reject_reason", list(REJECT_REASONS))
           .count())
    clean = (streams["clean"].select(id_col)
             .join(docs.select(id_col, source_col), id_col)
             .groupBy(source_col)
             .agg(F.count("*").alias("__n_clean")))
    out = per_src.join(rej, source_col, "left").join(clean, source_col,
                                                     "left")
    reasons = [F.coalesce(F.col(r), F.lit(0)).cast("bigint").alias(r)
               for r in REJECT_REASONS]
    n_clean = F.coalesce(F.col("__n_clean"), F.lit(0))
    return out.select(
        source_col, F.col("n_in").cast("bigint").alias("n_in"), *reasons,
        n_clean.cast("bigint").alias("n_clean"),
        F.round(n_clean / F.col("n_in"), 6).alias("survival_rate"),
    )


# --------------------------------------------------------------------------
# Media-corpus recipe: directory of media files → curated media streams
# --------------------------------------------------------------------------

def media_corpus(
    spark,
    media_path: str,
    glob: str | None = None,
    max_hamming: int = 6,
) -> dict[str, DataFrame]:
    """Curate a directory of media files in ONE call — the multimodal
    twin of :func:`pretrain_corpus`:

    ``binaryFile`` scan → media model → codegen header sniff (mislabel
    gate) → REAL stdlib decode (PNG/BMP/WAV features; undecodable →
    quarantine) → perceptual image near-dedup (dHash pigeonhole pairs;
    within each pair group the LOWEST media_id survives).

    Returns named streams (all lazy):
    - ``media``      — curated rows: (media_id, path, sniffed_format,
                       n_bytes, features)
    - ``dup_pairs``  — (id_a, id_b, hamming) perceptual near-dup pairs
    - ``quarantine`` — mislabeled / undecodable rows with ``reason``
    """
    from datapump_spark.operators.mediasniff import sniff_media
    from datapump_spark.operators.multimodal import (
        extract_features,
        image_near_dup,
    )
    from datapump_spark.sources.mediadir import media_table, read_media_dir

    media = media_table(read_media_dir(spark, media_path, glob=glob))
    sniffed = sniff_media(media, strategy="expr").select(
        "media_id", F.col("format").alias("sniffed_format"))
    feats = extract_features(media, fake=False, on_error="null")
    claimed = F.when(F.col("meta.format") == "jpg", "jpeg") \
        .otherwise(F.col("meta.format"))
    joined = (
        media.select("media_id", "path", claimed.alias("claimed_format"))
        .join(sniffed, "media_id")
        .join(feats.select("media_id", "n_bytes", "features"), "media_id")
        .withColumn(
            "reason",
            F.when(F.col("features").isNotNull()
                   & ~F.col("claimed_format")
                   .eqNullSafe(F.col("sniffed_format")),
                   F.lit("mislabeled"))
            .when(F.col("features").isNull(), F.lit("undecodable")))
    )
    ok_ids = joined.where(F.col("reason").isNull()).select("media_id")
    images = (media.join(ok_ids, "media_id", "semi")
              .where(F.col("meta.kind") == "image"))
    pairs = image_near_dup(images, max_hamming=max_hamming)
    # true connected components (dedup_fuzzy's adaptive CC), NOT a
    # pairwise loser rule: a component {a,b,c} with edges a–c, b–c must
    # keep ONE image, and the cluster_id convention (min member id)
    # makes the survivor deterministic
    from datapump_spark.operators.dedup_fuzzy import connected_components

    clusters = connected_components(pairs, images.select("media_id"),
                                    id_col="media_id")
    losers = (clusters.where(F.col("media_id") != F.col("cluster_id"))
              .select("media_id"))
    curated = (joined.where(F.col("reason").isNull())
               .join(losers, "media_id", "anti")
               .select("media_id", "path", "sniffed_format",
                       "n_bytes", "features"))
    quarantine = (joined.where(F.col("reason").isNotNull())
                  .select("media_id", "path", "claimed_format",
                          "sniffed_format", "n_bytes", "reason"))
    return {"media": curated, "dup_pairs": pairs, "quarantine": quarantine}


# --------------------------------------------------------------------------
# Training-run recipe: clean → token-budget mix → pack → shards + manifest
# --------------------------------------------------------------------------

def training_run(
    docs: DataFrame,
    workdir: str,
    benchmark: DataFrame | None = None,
    recipe: CorpusRecipe | None = None,
    token_weights: dict[str, float] | None = None,
    token_budget: int | None = None,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> dict[str, object]:
    """Materialize one training run end to end: the full
    :func:`pretrain_corpus` cleaning chain, an optional TOKEN-budget
    mixture (:func:`~datapump_spark.operators.sampling.token_budget_mix`
    — recipes are stated in tokens, not documents), sequence packing to
    the recipe's ``seq_budget``, and deterministic shard layout
    (:func:`~datapump_spark.sinks.shards.write_training_shards`), plus a
    driver-side ``manifest.json`` whose accounting is the run's audit:

        n_in == n_clean + n_rejected            (cleaning partition)
        n_selected ≤ n_clean                    (token mix is a subset)
        sum(selected tokens per source) ≤ weight × budget   (strict)

    Returns the manifest dict (also written to ``workdir/manifest.json``).
    Everything bounded collected to the driver is aggregate counts.
    """
    import json as _json
    from pathlib import Path as _Path

    from datapump_spark.operators.packing import pack_concat_chunks
    from datapump_spark.operators.sampling import token_budget_mix
    from datapump_spark.sinks.shards import write_training_shards

    r = recipe or CorpusRecipe()
    if r.weights is not None:
        # doc-count mixing drops rows WITHOUT reject rows, which would
        # break the manifest's partition accounting; this recipe mixes by
        # tokens instead
        raise ValueError(
            "training_run mixes by tokens — pass token_weights/"
            "token_budget and leave recipe.weights unset")
    streams = pretrain_corpus(docs, benchmark, r, id_col, text_col)
    clean, rejected = streams["clean"], streams["rejected"]

    n_in = docs.count()
    rej_rows = (rejected.groupBy("reject_reason")
                .agg(F.count(F.lit(1)).alias("n")).collect())
    n_rejected = sum(r_["n"] for r_ in rej_rows)

    if token_weights is not None:
        if token_budget is None:
            raise ValueError("token_weights requires token_budget")
        selected = token_budget_mix(clean, source_col, token_weights,
                                    token_budget, id_col,
                                    text_col=text_col, hash_fn=r.hash_fn)
    else:
        from datapump_spark.functions.hashing import tokens as _tokens

        selected = clean.withColumn(
            "n_tok", F.size(_tokens(F.col(text_col))).cast("bigint"))

    sel_stats = (selected.groupBy(source_col)
                 .agg(F.count(F.lit(1)).alias("n_docs"),
                      F.sum("n_tok").alias("n_tokens")).collect())
    n_selected = sum(r_["n_docs"] for r_ in sel_stats)

    paths = {k: str(_Path(workdir) / k)
             for k in ("shards", "sequences", "rejected", "manifest.json")}
    write_training_shards(
        selected.drop("cum_tok"), paths["shards"], id_col, n_shards,
        hash_fn=r.hash_fn, mode="overwrite")
    sequences = pack_concat_chunks(selected, r.seq_budget, id_col,
                                   token_col="n_tok")
    sequences.write.mode("overwrite").parquet(paths["sequences"])
    rejected.write.mode("overwrite").parquet(paths["rejected"])

    n_seqs = sequences.select("seq_id").distinct().count()
    manifest = {
        "n_in": n_in,
        "n_clean": n_in - n_rejected,
        "n_rejected": n_rejected,
        "rejected_by_reason": {r_["reject_reason"]: r_["n"]
                               for r_ in rej_rows},
        "n_selected": n_selected,
        "tokens_by_source": {r_[source_col]: r_["n_tokens"]
                             for r_ in sel_stats},
        "token_budget": token_budget,
        "token_weights": token_weights,
        "seq_budget": r.seq_budget,
        "n_sequences": n_seqs,
        "n_shards": n_shards,
        "paths": paths,
    }
    _Path(workdir).mkdir(parents=True, exist_ok=True)
    _Path(paths["manifest.json"]).write_text(_json.dumps(manifest, indent=1))
    return manifest
