"""pretrain_corpus recipe: stream partition invariants + stage semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datapump_spark.queries import _t
from datapump_spark.recipes import CorpusRecipe, pretrain_corpus


@pytest.fixture(scope="module")
def streams(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    bench = docs.where(F.col("doc_id") % 20 == 0).select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    out = pretrain_corpus(corpus, bench, CorpusRecipe(min_words=10))
    return corpus, out


@pytest.mark.slow
def test_streams_partition_the_input(streams):
    corpus, out = streams
    clean_ids = {r.doc_id for r in out["clean"].select("doc_id").collect()}
    rej = [(r.doc_id, r.reject_reason) for r in out["rejected"].collect()]
    rej_ids = {i for i, _ in rej}
    assert len(rej) == len(rej_ids), "a doc was rejected twice"
    assert clean_ids.isdisjoint(rej_ids)
    all_ids = {r.doc_id for r in corpus.select("doc_id").collect()}
    assert clean_ids | rej_ids == all_ids
    assert {rr for _, rr in rej} <= {
        "quality", "contaminated", "exact_dup", "near_dup"}
    assert clean_ids, "recipe rejected everything"


@pytest.mark.slow  # decontamination itself is oracle-gated
# (q_decontam/q_decontam_spans); this re-flags the recipe's clean
# stream — composition routing, like the other slow recipe stages
def test_clean_is_decontaminated(spark, sf_dir, streams):
    _, out = streams
    from datapump_spark.operators.decontam import decontaminate

    # re-flag the clean stream against the original benchmark slice;
    # NB the clean text is PII-redacted, which never *creates* a 13-gram
    # overlap, so zero flags is the invariant
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 20 == 0).select("doc_id", "text")
    flags = decontaminate(out["clean"].select("doc_id", "text"), bench)
    assert flags.where(F.col("contaminated")).count() == 0


@pytest.mark.slow  # packing gated in-default by test_packing_quality;
# the clean-only linkage also holds in the slow composition tests
def test_sequences_reference_only_clean_docs(streams):
    _, out = streams
    seq_docs = {r.doc_id for r in out["sequences"].select("doc_id").collect()}
    clean_ids = {r.doc_id for r in out["clean"].select("doc_id").collect()}
    assert seq_docs <= clean_ids


@pytest.mark.slow
def test_repetition_and_ppl_gates(spark):
    """Optional gates: a degenerate-repetition doc routes to
    'repetitive', an out-of-domain doc to 'perplexity', and the
    partition invariant (clean ⊎ rejected = input) still holds.

    slow: the detectors themselves are oracle-gated in the default run
    (q_repetition, q_lm_score EXTRA DuckDB gates) and the clean⊎rejected
    partition invariant is covered in-default by
    test_streaming_corpus.test_full_recipe_composition_per_batch; what
    this 22 s test adds beyond those is only the reject_reason labels."""
    base = ("the quick brown fox jumps over the lazy dog and then "
            "the dog naps while the fox runs far away happily today")
    rows = [(i, f"{base} variant w{i}a w{i}b w{i}c", "src0")
            for i in range(1, 20)]
    rows.append((50, ("spam ham " * 40).strip(), "src0"))        # repetitive
    rows.append((51, "zyxwv qwvut plkmn mnbvc vcxza zasdf "
                 + " ".join(f"gibber{j} wobble{j}" for j in range(8)),
                 "src0"))                                         # OOD
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string")
    ref = docs.where(F.col("doc_id") < 20)
    out = pretrain_corpus(
        docs, None,
        # neutralize gopher's own repetition/stopword rules so the docs
        # reach the dedicated gates under test
        # ppl_max sits between in-domain ppl (~7) and the uniform-floor
        # ppl of an all-unseen doc (= V = 75 with this tiny reference)
        CorpusRecipe(min_words=5, max_top_ngram_char_frac=0.5, ppl_max=20.0,
                     gopher_kwargs=dict(max_dup_word_frac=1.0,
                                        max_dup_2gram_frac=1.0,
                                        min_stop_hits=0)),
        lm_reference=ref)
    # ONE action over clean ∪ rejected: the streams share the whole gate
    # cascade upstream, and a single plan lets ReusedExchange compute each
    # shared shuffle once instead of once per collect
    both = (out["clean"].select("doc_id",
                                F.lit(None).cast("string").alias("reject_reason"))
            .unionByName(out["rejected"].select("doc_id", "reject_reason"))
            .collect())
    rej = {r.doc_id: r.reject_reason for r in both if r.reject_reason}
    clean_ids = {r.doc_id for r in both if not r.reject_reason}
    assert rej.get(50) == "repetitive"
    assert rej.get(51) == "perplexity"
    assert clean_ids.isdisjoint(rej)
    assert clean_ids | set(rej) == {r[0] for r in rows}


# slow: redaction itself is driver-oracle-gated (q_pii_redact
# EXTRA); this adds only the recipe-stage routing
@pytest.mark.slow
def test_pii_redacted_in_clean(spark):
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog contact "
             "a@b.com now " + " ".join(f"w{j}x{i}" for j in range(12)),
          "src0") for i in range(1, 30)],
        "doc_id bigint, text string, source string")
    out = pretrain_corpus(docs, None, CorpusRecipe(min_words=5))
    texts = [r.text for r in out["clean"].collect()]
    assert texts and all("a@b.com" not in t for t in texts)
    assert any("[EMAIL]" in t for t in texts)


@pytest.mark.slow
def test_training_run_manifest_and_artifacts(spark, tmp_path):
    """End-to-end training-run materialization: manifest accounting
    (partition + token-budget invariants), shard/sequences artifacts
    readable, budgets strict, recipe.weights rejected."""
    import pytest as _pytest

    from datapump_spark.recipes import training_run

    base = ("the quick brown fox jumps over the lazy dog while the small "
            "bird watches from a tall tree and sings a morning song")
    rows = [(i, f"{base} a{i} b{i} c{i}", "web") for i in range(30)]
    rows += [(100 + i, f"{base} code{i} parse{i} stack{i}", "code")
             for i in range(30)]
    rows.append((500, "too short", "web"))                # quality reject
    rows.append((501, f"{base} a1 b1 c1", "web"))         # exact dup of 1
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string")

    m = training_run(
        docs, str(tmp_path / "run"),
        recipe=CorpusRecipe(min_words=10, dedup_threshold=0.9),
        token_weights={"web": 0.7, "code": 0.3}, token_budget=1000,
        n_shards=4)

    assert m["n_in"] == 62
    assert m["n_in"] == m["n_clean"] + m["n_rejected"]
    assert m["rejected_by_reason"].get("quality") == 1
    assert m["rejected_by_reason"].get("exact_dup") == 1
    assert m["n_selected"] <= m["n_clean"]
    assert m["tokens_by_source"]["web"] <= 700
    assert m["tokens_by_source"]["code"] <= 300

    shards = spark.read.parquet(m["paths"]["shards"])
    assert shards.select("doc_id").distinct().count() == m["n_selected"]
    assert shards.select("shard").distinct().count() <= 4
    seqs = spark.read.parquet(m["paths"]["sequences"])
    assert seqs.select("seq_id").distinct().count() == m["n_sequences"]
    # sequences reference only selected docs
    sel = {r["doc_id"] for r in shards.select("doc_id").collect()}
    assert {r["doc_id"] for r in seqs.collect()} <= sel
    rej = spark.read.parquet(m["paths"]["rejected"])
    assert rej.count() == m["n_rejected"]

    with _pytest.raises(ValueError, match="token"):
        training_run(docs, str(tmp_path / "run2"),
                     recipe=CorpusRecipe(min_words=10,
                                         weights={"web": 1.0}))


# slow: q_span_dedup's DuckDB oracle gates the cut semantics in the
# default run; this adds only the recipe's reject routing
@pytest.mark.slow
def test_span_dedup_stage(spark):
    """Optional ExactSubstr stage: a doc sharing a 10-token prefix with an
    earlier doc keeps only its unique tail; a doc that is ENTIRELY a
    repeated span empties out and routes to 'span_dup'."""
    base = [f"alpha{i}" for i in range(30)]
    uniq = [f"uniq{i}" for i in range(15)]
    rows = [(1, " ".join(base), "src0"),
            (60, " ".join(base[:10] + uniq), "src0"),   # shared prefix
            (61, " ".join(base[:12]), "src0")]          # pure sub-span
    # unique filler docs so corpus-level stages have context
    rows += [(100 + i, " ".join(f"w{i}x{j}" for j in range(20)), "src0")
             for i in range(5)]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string")
    out = pretrain_corpus(
        docs, None,
        CorpusRecipe(min_words=5, span_dedup_n=10,
                     gopher_kwargs=dict(max_dup_word_frac=1.0,
                                        max_dup_2gram_frac=1.0,
                                        min_stop_hits=0)))
    both = (out["clean"].select("doc_id", "text",
                                F.lit(None).cast("string").alias("reject_reason"))
            .unionByName(out["rejected"].select(
                "doc_id", F.lit(None).alias("text"), "reject_reason"))
            .collect())
    rej = {r.doc_id: r.reject_reason for r in both if r.reject_reason}
    clean = {r.doc_id: r.text for r in both if not r.reject_reason}
    assert rej.get(61) == "span_dup"
    assert clean[60] == " ".join(uniq)          # shared prefix cut out
    assert clean[1] == " ".join(base)           # first occurrence untouched
    assert set(clean) | set(rej) == {r[0] for r in rows}
    assert set(clean).isdisjoint(rej)


# slow: every component is gated in-default (q_warc_scan,
# q_main_content oracles; crawl-to-corpus in test_warc); this adds
# only the one-call composition
@pytest.mark.slow
def test_web_corpus_one_call(spark, tmp_path):
    """Raw WARC shards in, training streams out: prose pages admitted,
    an exact duplicate page under a mirror URI rejected as exact_dup,
    link-farm pages never even reach the corpus."""
    from tests.test_warc import _response_record
    from datapump_spark.recipes import web_corpus

    def page(i):
        # mostly-distinct prose per page so the near-dup stage keeps all
        # five; only the mirror is an exact duplicate
        prose = ("the quick story " + " ".join(
            f"site{i}word{j}" for j in range(16)))
        return ('<html><body><div><a href="/">Home</a> <a href="/a">About'
                '</a></div><p>' + prose + '</p></body></html>')
    shard = b"".join(
        [_response_record(f"https://site{i}.example/art", page(i))
         for i in range(1, 6)]
        + [_response_record("https://mirror.example/art", page(1)),  # dup
           _response_record("https://farm.example/", (
               '<html><body><div><a href="/1">One</a> '
               '<a href="/2">Two</a></div></body></html>'))])
    p = tmp_path / "crawl-00000.warc"
    p.write_bytes(shard)

    out = web_corpus(spark, str(p),
                     recipe=CorpusRecipe(min_words=5,
                                         gopher_kwargs=dict(
                                             max_dup_word_frac=1.0,
                                             max_dup_2gram_frac=1.0,
                                             min_stop_hits=0)))
    clean = out["clean"].collect()
    assert len(clean) == 5
    srcs = {r["source"] for r in clean}
    # exact-dedup winner between the original and its mirror is the
    # smaller URI hash — deterministic, but either host may win
    assert {f"site{i}.example" for i in range(2, 6)} <= srcs
    assert len(srcs & {"site1.example", "mirror.example"}) == 1
    rej = {r["doc_id"]: r["reject_reason"] for r in out["rejected"].collect()}
    assert list(rej.values()) == ["exact_dup"]
    assert out["sequences"].count() >= 1


# slow: q_decontam_spans' DuckDB oracle gates the cut semantics in
# the default run; this adds only the two recipe modes' routing
@pytest.mark.slow
def test_surgical_decontam_stage(spark):
    """surgical_decontam=True: a doc partially quoting the benchmark
    survives with the quote cut out; a pure-quote doc empties and routes
    to 'contaminated' (the drop-doc mode would reject both)."""
    quote = " ".join(f"bench{j}" for j in range(13))
    rows = [(1, "clean prose " + " ".join(f"own{j}" for j in range(14)),
             "src0"),
            (2, " ".join(f"pre{j}" for j in range(8)) + " " + quote + " "
             + " ".join(f"post{j}" for j in range(8)), "src0"),
            (3, quote, "src0")]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string")
    bench = spark.createDataFrame([(100, quote)], "doc_id bigint, text string")
    kw = dict(min_words=5,
              gopher_kwargs=dict(max_dup_word_frac=1.0,
                                 max_dup_2gram_frac=1.0, min_stop_hits=0))
    out = pretrain_corpus(docs, bench,
                          CorpusRecipe(surgical_decontam=True, **kw))
    clean = {r.doc_id: r.text for r in out["clean"].collect()}
    rej = {r.doc_id: r.reject_reason for r in out["rejected"].collect()}
    assert rej == {3: "contaminated"}
    assert "bench0" not in clean[2] and clean[2].startswith("pre0")
    assert set(clean) == {1, 2}
    # the drop-doc mode rejects BOTH quoting docs
    out2 = pretrain_corpus(docs, bench, CorpusRecipe(**kw))
    rej2 = {r.doc_id: r.reject_reason for r in out2["rejected"].collect()}
    assert rej2 == {2: "contaminated", 3: "contaminated"}


@pytest.mark.slow  # composition-only: every funnel stage (quality,
# exact/near/span dedup, decontam, mixing) is individually oracle- or
# unit-gated in-default; this test adds the end-to-end reject-reason
# routing, which the pytest.ini doctrine parks in the slow tier
# (r10 rebalance)
def test_curation_funnel(spark):
    """Per-source funnel accounting: n_in = rejects + clean per source,
    stable schema across enabled gates, survival rate exact."""
    from datapump_spark.recipes import curation_funnel

    base = ("the quick brown fox jumps over the lazy dog while the small "
            "bird watches from a tall tree and sings a morning song")
    rows = [(i, f"{base} w{i}a w{i}b", "web") for i in range(10)]
    rows += [(100 + i, f"{base} c{i}x c{i}y", "code") for i in range(5)]
    rows.append((500, "too short", "web"))            # quality reject
    rows.append((501, f"{base} w1a w1b", "code"))     # exact dup of web #1
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string")
    out = pretrain_corpus(docs, None, CorpusRecipe(min_words=10,
                                                   dedup_threshold=0.95))
    funnel = {r["source"]: r for r in
              curation_funnel(docs, out).collect()}
    web, code = funnel["web"], funnel["code"]
    assert web["n_in"] == 11 and web["quality"] == 1
    assert code["n_in"] == 6 and code["exact_dup"] == 1
    for r in funnel.values():
        total_rej = sum(r[c] for c in
                        ("quality", "repetitive", "perplexity",
                         "contaminated", "exact_dup", "near_dup",
                         "span_dup"))
        assert r["n_in"] == total_rej + r["n_clean"]
    assert abs(code["survival_rate"] - round(code["n_clean"] / 6, 6)) < 1e-12


@pytest.mark.slow  # the funnel arithmetic is gated in-default by
# test_curation_funnel; this adds the weighted-mix accounting twin
@pytest.mark.slow  # composition-only: every funnel stage (quality,
# exact/near/span dedup, decontam, mixing) is individually oracle- or
# unit-gated in-default; this test adds the end-to-end reject-reason
# routing, which the pytest.ini doctrine parks in the slow tier
# (r10 rebalance)
def test_curation_funnel_counts_weighted_clean_stream(spark):
    """With recipe.weights set, weighted_mix downsamples the clean stream
    WITHOUT emitting reject rows — n_clean must count the actual stream,
    not be derived as n_in − rejects (which would overstate survival)."""
    from datapump_spark.recipes import curation_funnel

    base = ("the quick brown fox jumps over the lazy dog while the small "
            "bird watches from a tall tree and sings a morning song")
    rows = [(i, f"{base} w{i}a w{i}b", "web") for i in range(40)]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string")
    out = pretrain_corpus(docs, None,
                          CorpusRecipe(min_words=10, dedup_threshold=0.95,
                                       weights={"web": 0.5}))
    n_clean_actual = out["clean"].count()
    assert n_clean_actual < 40, "weights must downsample the clean stream"
    row = curation_funnel(docs, out).collect()[0]
    assert row["n_clean"] == n_clean_actual
    assert row["survival_rate"] == round(n_clean_actual / 40, 6)


def test_contrastive_triples(spark):
    """Positives are near-dup pairs, negatives come from the ANN ranking
    minus the positives, and a triple never pairs an anchor with its own
    paraphrase as the negative."""
    from datapump_spark.recipes import contrastive_triples

    base_a = "the quick brown fox jumps over the lazy dog near the river"
    base_b = "stock markets rallied today as investors cheered the report"
    rows = [(1, base_a + " tail one"), (2, base_a + " tail two"),
            (10, base_b + " extra x"), (11, base_b + " extra y")]
    rows += [(100 + i, " ".join(f"w{i}z{j}" for j in range(12)))
             for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = contrastive_triples(docs, threshold=0.4, n_neg=2, skip_top=0)
    triples = [(r.anchor_id, r.positive_id, r.negative_id)
               for r in out.collect()]
    assert triples, "no triples mined"
    pos_pairs = {(1, 2), (10, 11)}
    for anc, pos, neg in triples:
        assert (anc, pos) in pos_pairs
        assert neg not in (anc, pos)
        # the negative is never the anchor's paraphrase partner
        assert (min(anc, neg), max(anc, neg)) not in pos_pairs
    assert {(a, p) for a, p, _ in triples} == pos_pairs


# slow: the duplicate-id collapse hazard is gated in-default by
# test_streaming_corpus.test_duplicate_doc_id_within_batch_collapses;
# this adds only the WARC-side latest-capture rule
@pytest.mark.slow
def test_web_corpus_recrawl_same_uri_latest_wins(spark, tmp_path):
    """Two captures of the SAME URI in one shard must collapse to one
    doc (latest warc_date wins) before any downstream operator sees a
    duplicated doc_id."""
    from tests.test_warc import _response_record
    from datapump_spark.recipes import web_corpus

    def rec(uri, text, date):
        body = (b"HTTP/1.1 200 OK\r\n\r\n<html><body><p>"
                + text.encode() + b"</p></body></html>")
        return (b"WARC/1.0\r\nWARC-Type: response\r\n"
                + f"WARC-Target-URI: {uri}\r\n".encode()
                + f"WARC-Date: {date}\r\n".encode()
                + f"Content-Length: {len(body)}\r\n\r\n".encode()
                + body + b"\r\n\r\n")

    old = ("the quick brown fox jumps over the lazy dog before the "
           "morning edit happened")
    new = ("the quick brown fox jumps over the lazy dog after the "
           "evening edit happened")
    p = tmp_path / "c.warc"
    p.write_bytes(rec("https://a.example/x", old, "2024-03-01T00:00:00Z")
                  + rec("https://a.example/x", new, "2024-03-02T00:00:00Z"))
    out = web_corpus(spark, str(p),
                     recipe=CorpusRecipe(min_words=5,
                                         gopher_kwargs=dict(
                                             max_dup_word_frac=1.0,
                                             max_dup_2gram_frac=1.0,
                                             min_stop_hits=0)))
    clean = out["clean"].collect()
    assert len(clean) == 1 and "evening" in clean[0]["text"]
    assert out["rejected"].count() == 0       # collapsed upstream, not rejected


# slow: the scoped-banding semantics are gated in-default at the
# operator level (test_text_dedup.test_scoped_near_dup_pairs); this
# adds only the recipe knob plumbing
@pytest.mark.slow
def test_dedup_scope_col_in_recipe(spark):
    """dedup_scope_col='lang': an identical doc in another language is
    NOT near-dup-rejected (and not exact-rejected either — exact dedup
    fingerprints content corpus-wide, so make the twin a near- not
    exact-dup)."""
    body = ("the quick brown fox jumps over the lazy dog while the small "
            "bird watches from a tall tree and sings loudly")
    rows = [(1, body + " ending one", "en"),
            (2, body + " ending two", "fr"),   # near-dup of 1, other lang
            (3, body + " ending three", "en")]  # near-dup of 1, same lang
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string")
    kw = dict(min_words=5, gopher_kwargs=dict(max_dup_word_frac=1.0,
                                              max_dup_2gram_frac=1.0,
                                              min_stop_hits=0))
    scoped = pretrain_corpus(docs, None,
                             CorpusRecipe(dedup_scope_col="lang", **kw))
    ids = {r.doc_id for r in scoped["clean"].collect()}
    # en pair {1,3} collapses to its best-quality member; fr doc 2 is
    # out of scope and survives untouched
    assert 2 in ids and len(ids) == 2 and len(ids & {1, 3}) == 1
    unscoped = pretrain_corpus(docs, None, CorpusRecipe(**kw))
    assert len({r.doc_id for r in unscoped["clean"].collect()}) == 1
