"""Gopher quality rules and C4 line cleaning — hand-pinned cases."""

from __future__ import annotations

from pyspark.sql import functions as F

from diagnosisextraction_ml_spark.operators.corpus_filters import (
    c4_clean_lines,
    gopher_quality_flags,
)

GOOD = (
    "the quick brown fox jumps over the lazy dog and then runs to be "
    "free of the noisy farm with many other animals that have seen it "
    "all happen before today " * 3
).strip()  # ~90 words, normal lengths, has stopwords


def _flags(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {r.doc_id: r for r in gopher_quality_flags(df).collect()}


def test_gopher_passes_normal_prose(spark):
    out = _flags(spark, [(1, GOOD)])
    r = out[1]
    assert r.gopher_pass, r
    assert r.ok_min_words and r.ok_mean_word_len and r.ok_stopwords


def test_gopher_min_words(spark):
    out = _flags(spark, [(1, "too short to pass")])
    assert not out[1].ok_min_words and not out[1].gopher_pass


def test_gopher_mean_word_length(spark):
    # 60 one-char words -> mean length 1 < 3
    out = _flags(spark, [(1, "a " * 60)])
    assert not out[1].ok_mean_word_len


def test_gopher_symbol_ratio(spark):
    text = GOOD + " " + "#" * 40
    out = _flags(spark, [(1, text)])
    assert not out[1].ok_symbol_ratio


def test_gopher_alpha_words(spark):
    # majority numeric tokens
    nums = " ".join(str(i) for i in range(80))
    out = _flags(spark, [(1, nums + " the and of to be that have with")])
    assert not out[1].ok_alpha_words


def test_gopher_stopword_floor(spark):
    words = " ".join(f"zqx{i}word" for i in range(60))
    out = _flags(spark, [(1, words)])
    assert not out[1].ok_stopwords and not out[1].gopher_pass


def test_gopher_bullet_lines(spark):
    text = "\n".join(f"- bullet item {i}" for i in range(10))
    out = _flags(spark, [(1, text)])
    assert not out[1].ok_bullet_lines


def test_gopher_null_text(spark):
    out = _flags(spark, [(1, None)])
    assert not out[1].gopher_pass and out[1].n_words == 0


def _c4(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {r.doc_id: r for r in c4_clean_lines(df).collect()}


def test_c4_keeps_terminal_punctuation(spark):
    text = "This is a good sentence.\nno terminal punctuation\nAnother fine line!"
    out = _c4(spark, [(1, text)])
    r = out[1]
    assert r.n_lines == 3 and r.n_kept_lines == 2
    assert r.cleaned_text == "This is a good sentence.\nAnother fine line!"


def test_c4_min_words_per_line(spark):
    out = _c4(spark, [(1, "Too short.\nThis one is long enough.")])
    r = out[1]
    assert r.n_kept_lines == 1
    assert r.cleaned_text == "This one is long enough."


def test_c4_blocklist(spark):
    text = "Normal sentence stays here.\nSome lorem ipsum filler text here.\nvar x = { a: 1 }."
    out = _c4(spark, [(1, text)])
    assert out[1].n_kept_lines == 1
    assert "lorem" not in out[1].cleaned_text and "{" not in out[1].cleaned_text


def test_c4_empty_result(spark):
    out = _c4(spark, [(1, "no punct\nalso no"), (2, None)])
    assert out[1].n_kept_lines == 0 and out[1].cleaned_text == ""
    assert out[2].n_lines == 0 and out[2].cleaned_text == ""


def test_filters_zero_shuffle_plan(spark):
    df = spark.createDataFrame([(1, GOOD)], "doc_id long, text string")
    for out in (gopher_quality_flags(df), c4_clean_lines(df)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


def test_gopher_source_scorecard(spark):
    from diagnosisextraction_ml_spark.operators.corpus_filters import (
        gopher_source_scorecard,
    )

    good = "the words " + " ".join(f"item{i} have with that" for i in range(20))
    bad = "x y z"  # fails min_words and stopwords
    rows = [(i, good, "clean") for i in range(4)] + [
        (10 + i, bad, "junk") for i in range(3)
    ] + [(20, good, "junk")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in gopher_source_scorecard(df).collect()}
    assert out["clean"]["n_docs"] == 4 and out["clean"]["n_pass"] == 4
    assert out["clean"]["pass_micro"] == 1_000_000
    junk = out["junk"]
    assert junk["n_docs"] == 4 and junk["n_pass"] == 1
    assert junk["pass_micro"] == 250_000
    assert junk["fail_min_words"] == 3 and junk["fail_max_words"] == 0


def test_ccnet_buckets_in_domain_vs_garbage(spark):
    """A doc drawn from the training distribution lands in a better
    bucket than token-soup garbage; counts cover every scored doc."""
    from diagnosisextraction_ml_spark.operators import lm
    from diagnosisextraction_ml_spark.operators.corpus_filters import (
        ccnet_perplexity_buckets,
    )

    train_text = "the cat sat on the mat and the dog sat on the rug " * 20
    rows = [(i, train_text, "en") for i in range(8)]
    rows.append((100, "the cat sat on the mat and the dog sat on the rug", "en"))
    rows.append((101, "zq xv qqj kpw zzv jxq wvq pzk qzz vxw kjq wqz", "xx"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    tri, big, uni = lm.fit_trigram_counts(docs.filter(F.col("lang") == "en"))
    out = ccnet_perplexity_buckets(docs, tri, big, uni)
    got = {(r["lang"], r["bucket"]): r["n_docs"] for r in out.collect()}
    assert sum(got.values()) == 10  # every doc has >= 3 tokens -> scored
    assert got.get(("en", "head"), 0) == 9  # in-domain -> head
    assert ("xx", "head") not in got and ("xx", "middle") not in got
    assert got.get(("xx", "tail"), 0) == 1  # garbage -> tail


def test_ccnet_buckets_short_docs_drop(spark):
    from diagnosisextraction_ml_spark.operators import lm
    from diagnosisextraction_ml_spark.operators.corpus_filters import (
        ccnet_perplexity_buckets,
    )

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat", "en"), (2, "two words", "en")],
        "doc_id long, text string, lang string",
    )
    tri, big, uni = lm.fit_trigram_counts(docs)
    out = ccnet_perplexity_buckets(docs, tri, big, uni).collect()
    assert sum(r["n_docs"] for r in out) == 1  # <3 tokens carries no trigrams
