"""dedup_lines: hand-checkable corpus, doc scope, edge cases."""

from __future__ import annotations

import pytest

from datapump_spark.operators.line_dedup import dedup_lines

DOCS = [
    (1, "alpha\nboiler\nbeta"),
    (2, "boiler\ngamma\nboiler"),
    (3, "boiler"),
    (4, "delta\ndelta"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id bigint, text string")


def _rows(df):
    return {r.doc_id: (r.text, r.n_lines_kept, r.n_lines_removed)
            for r in df.collect()}


def test_corpus_scope(docs):
    out = _rows(dedup_lines(docs))
    # doc 1 holds the first 'boiler'; all later occurrences drop
    assert out[1] == ("alpha\nboiler\nbeta", 3, 0)
    assert out[2] == ("gamma", 1, 2)
    assert out[3] == ("", 0, 1)  # whole doc was boilerplate
    assert out[4] == ("delta", 1, 1)


def test_doc_scope(docs):
    out = _rows(dedup_lines(docs, scope="doc"))
    # cross-doc repeats survive; only within-doc repeats drop
    assert out[1] == ("alpha\nboiler\nbeta", 3, 0)
    assert out[2] == ("boiler\ngamma", 2, 1)
    assert out[3] == ("boiler", 1, 0)
    assert out[4] == ("delta", 1, 1)


def test_bad_scope(docs):
    with pytest.raises(ValueError):
        dedup_lines(docs, scope="paragraph")


def test_every_doc_returned_once(docs):
    assert sorted(r.doc_id for r in dedup_lines(docs).collect()) == [1, 2, 3, 4]


def test_xxhash_profile_same_result(docs):
    a = _rows(dedup_lines(docs))
    b = _rows(dedup_lines(docs, hash_fn="xxhash64"))
    assert a == b


def test_decontam_pandas_strategy_equivalent(spark, sf_dir, monkeypatch):
    """The broadcast-set scan and the expr gram join flag the same
    documents on the full fixture."""
    from pyspark.sql import functions as F

    from datapump_spark.operators import decontam as mod
    from datapump_spark.queries import _t

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    a = {tuple(r) for r in mod.decontaminate(corpus, bench).collect()}
    # force the gate down so the same benchmark takes the expr join
    monkeypatch.setattr(mod, "AUTO_PANDAS_MAX_BENCH_ROWS", 0)
    b = {tuple(r) for r in mod.decontaminate(corpus, bench).collect()}
    assert a == b
    assert any(r[2] for r in a)  # the fixture does contain contamination


def test_decontam_auto_picks_by_measured_size(spark, sf_dir, monkeypatch):
    """decontaminate routes a small benchmark to the broadcast-set scan
    and a benchmark over the gate to the expr gram join; both flag the
    same documents."""
    from pyspark.sql import functions as F

    from datapump_spark.operators import decontam as mod
    from datapump_spark.queries import _t

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0).limit(50)

    called = {"pandas": False}
    orig = mod._decontaminate_pandas

    def spy(*a, **k):
        called["pandas"] = True
        return orig(*a, **k)

    monkeypatch.setattr(mod, "_decontaminate_pandas", spy)
    small = {tuple(r)
             for r in mod.decontaminate(corpus, bench).collect()}
    assert called["pandas"]  # small benchmark → broadcast-set scan

    # force the gate down so the same benchmark counts as "large" → expr
    monkeypatch.setattr(mod, "AUTO_PANDAS_MAX_BENCH_ROWS", 0)
    called["pandas"] = False
    large = {tuple(r) for r in mod.decontaminate(corpus, bench).collect()}
    assert not called["pandas"]  # over the gate → expr join, no collect
    assert small == large


def test_decontam_swapped_args_guard(spark, sf_dir):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from datapump_spark.operators.decontam import _decontaminate_pandas
    from datapump_spark.queries import _t

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    big = docs.crossJoin(
        docs.sparkSession.range(3000).select(F.col("id").alias("__r"))
    ).select("doc_id", "text")
    with _pytest.raises(ValueError):
        _decontaminate_pandas(docs, big, "doc_id", "text", 13, 1)


def test_dup_passages_hand_docs(spark):
    from datapump_spark.operators.line_dedup import dup_passages

    shared = "one two three four five"
    df = spark.createDataFrame(
        [
            (1, shared + " alpha beta gamma"),
            (2, shared + " delta epsilon zeta"),
            (3, "entirely different words with no overlap at all here"),
            (4, "short"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in dup_passages(df, n=5, threshold=0.2).collect()}
    # docs 1 and 2 share exactly the window "one two three four five"
    assert out[1].n_shared_grams == 1 and out[2].n_shared_grams == 1
    assert out[1].n_grams == 4  # 8 tokens -> 4 distinct 5-gram windows
    assert out[1].shared_frac == 0.25 and out[1].near_dup
    assert out[2].near_dup
    assert out[3].n_shared_grams == 0 and not out[3].near_dup
    assert out[4].n_grams == 0 and out[4].shared_frac == 0.0
    # detection only flags; at threshold above the shared share it passes
    strict = {r.doc_id: r for r in
              dup_passages(df, n=5, threshold=0.3).collect()}
    assert not strict[1].near_dup and not strict[2].near_dup


@pytest.mark.slow  # q_semantic_decontam's EXTRA oracle hash-gates the
# same operator per round; this adds hand-vector flag semantics
def test_semantic_decontam_flags_similar_vectors(spark):
    """Embedding-space decontamination: an exact copy and a slightly
    perturbed copy of a benchmark vector flag; an orthogonal vector does
    not; degenerate (zero/null) vectors are skipped, not crashed on."""
    from pyspark.sql import functions as F

    from datapump_spark.operators.decontam import semantic_decontaminate

    bench = spark.createDataFrame(
        [(1000, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>")
    corpus = spark.createDataFrame(
        [(1, [2.0, 0.0, 0.0, 0.0]),          # same direction → cos 1.0
         (2, [0.9, 0.1, 0.0, 0.0]),          # near copy
         (3, [0.0, 1.0, 0.0, 0.0]),          # orthogonal
         (4, [0.0, 0.0, 0.0, 0.0]),          # zero norm → skipped
         (5, None)],                          # null → skipped
        "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r for r in
           semantic_decontaminate(corpus, bench, threshold=0.85).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["contaminated"] and got[1]["max_cos"] == 1.0
    assert got[2]["contaminated"]                 # cos ≈ 0.994
    assert not got[3]["contaminated"] and got[3]["max_cos"] == 0.0

    # LSH-pruned variant: same-direction pair always shares every sign
    # bucket, so the exact copy still flags
    lsh = {r["vec_id"]: r for r in
           semantic_decontaminate(corpus, bench, threshold=0.85,
                                  n_planes=4).collect()}
    assert 1 in lsh and lsh[1]["contaminated"]
    # the LSH path still reports EVERY usable corpus vector: an
    # antipodal vector differs from the benchmark in every plane sign,
    # so it has zero bucket collisions — it must surface as
    # max_cos null / contaminated false, not vanish
    anti = spark.createDataFrame(
        [(6, [-1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>")
    lsh2 = {r["vec_id"]: r for r in
            semantic_decontaminate(corpus.unionByName(anti), bench,
                                   threshold=0.85, n_planes=4).collect()}
    assert set(lsh2) == {1, 2, 3, 6}
    assert lsh2[6]["max_cos"] is None and not lsh2[6]["contaminated"]


SPAN_DOCS = [
    (1, "a b c d e f"),
    (2, "X, y! A b C d z"),          # normalization: same grams as doc 1
    (3, "p q r p q r p q r"),        # within-doc repeats, overlapping cuts
    (4, "m n"),                      # shorter than n: untouched
    (5, "a b c"),                    # entirely a duplicated gram
]


@pytest.fixture(scope="module")
def span_docs(spark):
    return spark.createDataFrame(SPAN_DOCS, "doc_id bigint, text string")


def _span_rows(df):
    return {r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
            for r in df.collect()}


def test_remove_duplicate_spans(span_docs):
    from datapump_spark.operators.line_dedup import remove_duplicate_spans

    out = _span_rows(remove_duplicate_spans(span_docs, n=3))
    assert len(out) == 5
    # doc 1 is the first occurrence of every shared gram: untouched
    assert out[1] == (6, 0, "a b c d e f")
    # doc 2: grams (a b c), (b c d) already won by doc 1 -> cuts [3,5] and
    # [4,6] merge into one contiguous [3,6] deletion
    assert out[2] == (7, 4, "x y z")
    # doc 3: 'p q r' x3 -> all grams past the first window repeat; the
    # overlapping cuts at starts 4..7 merge into [4,9]
    assert out[3] == (9, 6, "p q r")
    # doc 4 has no 3-gram at all
    assert out[4] == (2, 0, "m n")
    # doc 5 IS a duplicated gram whose winner is doc 1
    assert out[5] == (3, 3, "")


def test_remove_duplicate_spans_no_dups_is_identity(spark):
    from datapump_spark.operators.line_dedup import remove_duplicate_spans

    docs = spark.createDataFrame(
        [(1, "one two three four"), (2, "five six seven eight")],
        "doc_id bigint, text string")
    out = _span_rows(remove_duplicate_spans(docs, n=3))
    assert out == {1: (4, 0, "one two three four"),
                   2: (4, 0, "five six seven eight")}


def test_remove_contaminated_spans(spark):
    """Surgical decontamination: ONLY benchmark-overlapping spans cut —
    every occurrence (no winner kept), overlaps merged, clean docs
    untouched, a fully-contaminated doc empties out."""
    from datapump_spark.operators.decontam import remove_contaminated_spans

    corpus = spark.createDataFrame(
        [(1, "intro words lead in then alpha beta gamma delta echo "
             "and the prose resumes cleanly after"),
         (2, "this document never quotes anything from the benchmark"),
         (3, "alpha beta gamma delta echo")],          # pure quote
        "doc_id bigint, text string")
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta echo")], "doc_id bigint, text string")
    out = {r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
           for r in remove_contaminated_spans(corpus, bench, n=5).collect()}
    assert out[1] == (16, 5, "intro words lead in then "
                             "and the prose resumes cleanly after")
    assert out[2] == (8, 0,
                      "this document never quotes anything from the benchmark")
    assert out[3] == (5, 5, "")


@pytest.mark.slow  # redundancy: q_decontam_spans is oracle-gated
# per round; the fixed-point property is structural and re-checked
# in the per-round full-tier pass (r12 tier move)
def test_surgical_decontam_seam_fixed_point(spark):
    """Cutting a span can GLUE a new benchmark n-gram at the seam
    ('alpha beta [cut] gamma' -> 'alpha beta gamma'); one pass leaves
    that residual, max_passes>1 iterates to a provably clean fixed
    point with accounting against the ORIGINAL text."""
    from datapump_spark.operators.decontam import (
        decontaminate,
        remove_contaminated_spans,
    )

    bench_gram = "alpha beta gamma"
    # doc: 'alpha beta' + a span that IS a benchmark gram + 'gamma ...'
    # cutting the middle glues alpha beta|gamma -> a NEW benchmark gram
    doc = "intro alpha beta red green blue gamma delta closing words"
    corpus = spark.createDataFrame([(1, doc)], "doc_id bigint, text string")
    bench = spark.createDataFrame(
        [(100, bench_gram), (101, "red green blue")],
        "doc_id bigint, text string")

    one = remove_contaminated_spans(corpus, bench, n=3).collect()[0]
    assert "red green blue" not in one.clean_text
    assert "alpha beta gamma" in one.clean_text     # the seam residual

    fp = remove_contaminated_spans(corpus, bench, n=3,
                                   max_passes=3).collect()[0]
    assert "alpha beta gamma" not in fp.clean_text
    assert fp.n_tokens == 10 and fp.n_removed == 6
    assert fp.clean_text == "intro delta closing words"
    # zero residual: re-flagging the cleaned text finds nothing
    flags = decontaminate(
        spark.createDataFrame([(1, fp.clean_text)],
                              "doc_id bigint, text string"),
        bench, n=3).collect()[0]
    assert not flags.contaminated
