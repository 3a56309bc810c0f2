"""Named corpus filters from the pre-training literature — Gopher & C4.

North-star extension (no reference counterpart): the two rule sets
every large-scale text pipeline reaches for by name, implemented as
pure native expressions (zero shuffles, zero UDFs — each is one
projection over one scan, the cheapest possible plan and trivially
linear at 100 TB):

- **Gopher quality rules** (Rae et al. 2021, "Scaling Language Models:
  Methods, Analysis & Insights from Training Gopher", Table A1): word
  count bounds, mean word length bounds, symbol-to-word ratios,
  bullet/ellipsis line fractions, alphabetic-word fraction, stopword
  floor. Emitted as one boolean column per rule plus the conjunction,
  so downstream can either gate on `gopher_pass` or analyze per-rule
  rejection rates (the usual first diagnostic on a new crawl).
- **C4 line cleaning** (Raffel et al. 2020, "Exploring the Limits of
  Transfer Learning...", §2.2): per-LINE filters (terminal
  punctuation, minimum words, brace/lorem-ipsum blocklist) applied
  before document-level gates. Returns the cleaned text plus
  kept/dropped line counts.

Determinism: all counts are exact integers, ratios are IEEE divisions
of exact ints, and thresholds are closed-form — both operators carry
hash-exact DuckDB twins in the registry.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from diagnosisextraction_ml_spark.functions.text import tokenize_expr

# Gopher Table A1 thresholds
MIN_WORDS = 50
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 3.0
MAX_MEAN_WORD_LEN = 10.0
MAX_SYMBOL_WORD_RATIO = 0.1
MAX_BULLET_LINE_FRAC = 0.9
MAX_ELLIPSIS_LINE_FRAC = 0.3
MIN_ALPHA_WORD_FRAC = 0.8
MIN_STOPWORD_HITS = 2
_GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _lines(c: Column) -> Column:
    return F.filter(F.split(c, r"\n"), lambda l: F.trim(l) != "")


def gopher_quality_flags(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per doc: each Gopher rule as a boolean + the conjunction.

    Single projection, token array shared across all rules (Catalyst
    keeps the non-cheap shared aliases un-inlined, same pattern as
    textstats.document_stats).
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    base = df.select(
        F.col(id_col),
        c.alias("__text"),
        tokenize_expr(F.lower(c)).alias("__toks"),
        _lines(c).alias("__lines"),
    )
    t, toks, lines = F.col("__text"), F.col("__toks"), F.col("__lines")
    n_words = F.size(toks)
    n_lines = F.greatest(F.size(lines), F.lit(1))
    # exact integer char count over words (no float accumulation)
    total_word_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    mean_word_len = total_word_chars / F.greatest(n_words, F.lit(1))
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    bullet_lines = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"^[-\*•]"))
    )
    ellipsis_lines = F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"\.\.\.$")))
    alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[a-z]")))
    sw = F.array(*[F.lit(w) for w in _GOPHER_STOPWORDS])
    stop_hits = F.size(F.filter(toks, lambda w: F.array_contains(sw, w)))

    mid = base.select(
        F.col(id_col),
        n_words.alias("n_words"),
        (n_words >= MIN_WORDS).alias("ok_min_words"),
        (n_words <= MAX_WORDS).alias("ok_max_words"),
        (
            (mean_word_len >= MIN_MEAN_WORD_LEN)
            & (mean_word_len <= MAX_MEAN_WORD_LEN)
        ).alias("ok_mean_word_len"),
        (
            (n_hash + n_ellipsis) / F.greatest(n_words, F.lit(1))
            <= MAX_SYMBOL_WORD_RATIO
        ).alias("ok_symbol_ratio"),
        (bullet_lines / n_lines <= MAX_BULLET_LINE_FRAC).alias("ok_bullet_lines"),
        (ellipsis_lines / n_lines <= MAX_ELLIPSIS_LINE_FRAC).alias(
            "ok_ellipsis_lines"
        ),
        (
            alpha_words / F.greatest(n_words, F.lit(1)) >= MIN_ALPHA_WORD_FRAC
        ).alias("ok_alpha_words"),
        (stop_hits >= MIN_STOPWORD_HITS).alias("ok_stopwords"),
    )
    rule_cols = [c for c in mid.columns if c.startswith("ok_")]
    pass_expr = F.col(rule_cols[0])
    for rc in rule_cols[1:]:
        pass_expr = pass_expr & F.col(rc)
    return mid.select("*", pass_expr.alias("gopher_pass"))


# C4 line rules
C4_MIN_LINE_WORDS = 3
_C4_TERMINAL = (".", "!", "?", '"', "'")
_C4_BLOCKLIST = ["lorem ipsum", "{"]


def c4_line_keep(line: Column) -> Column:
    """C4 §2.2 keep-predicate for one line."""
    l = F.trim(line)
    low = F.lower(l)
    ends_ok = F.lit(False)
    for ch in _C4_TERMINAL:
        ends_ok = ends_ok | l.endswith(ch)
    blocked = F.lit(False)
    for b in _C4_BLOCKLIST:
        blocked = blocked | low.contains(b)
    n_words = F.size(tokenize_expr(line))
    return ends_ok & ~blocked & (n_words >= C4_MIN_LINE_WORDS)


def c4_clean_lines(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Apply the C4 per-line filters; docs whose text has no newlines
    are treated as one line (kept or dropped whole).

    Output: (id, n_lines int, n_kept_lines int, cleaned_text) — one
    projection, no shuffle; `cleaned_text` re-joins kept lines with
    '\\n' (trimmed), empty when nothing survives.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    base = df.select(F.col(id_col), _lines(c).alias("__lines"))
    kept = F.filter(F.col("__lines"), lambda l: c4_line_keep(l))
    return base.select(
        F.col(id_col),
        F.size("__lines").alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        F.array_join(F.transform(kept, lambda l: F.trim(l)), "\n").alias(
            "cleaned_text"
        ),
    )


def gopher_source_scorecard(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source Gopher-rule scorecard — pipeline observability.

    The question an operator asks before pointing the corpus gate at a
    new crawl slice: WHICH source is failing and on WHICH rule. One
    flags pass (shared with :func:`gopher_quality_flags`) + one
    aggregation keyed by the source; each rule becomes an exact fail
    count and the headline pass rate is a micro-unit integer — the
    whole scorecard is hash-exact and costs one scan + one tiny
    shuffle.

    Output: (group, n_docs, n_pass, pass_micro, fail_<rule>... ).
    """
    flags = gopher_quality_flags(df, text_col=text_col, id_col=id_col)
    joined = flags.join(df.select(id_col, group_col), id_col)
    rules = [
        "ok_min_words",
        "ok_max_words",
        "ok_mean_word_len",
        "ok_symbol_ratio",
        "ok_bullet_lines",
        "ok_ellipsis_lines",
        "ok_alpha_words",
        "ok_stopwords",
    ]
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("gopher_pass").cast("long")).alias("n_pass"),
    ] + [
        F.sum((~F.col(r)).cast("long")).alias(f"fail_{r[3:]}") for r in rules
    ]
    return (
        df.select(group_col).distinct().join(
            joined.groupBy(group_col).agg(*aggs), group_col
        )
        .withColumn(
            "pass_micro", F.expr("1000000 * n_pass div n_docs")
        )
        .select(
            group_col,
            "n_docs",
            "n_pass",
            "pass_micro",
            *[f"fail_{r[3:]}" for r in rules],
        )
    )


# CCNet (Wenzek et al. 2020, "CCNet: Extracting High Quality
# Monolingual Datasets from Web Crawl Data", §4.3) perplexity buckets.
# In production the cutoffs are computed OFFLINE per language from a
# held-out sample's perplexity tertiles and shipped as constants with
# the LM — which is exactly what keeps this scale-safe: bucketing is
# then a pure projection over the scored corpus (no global sort, no
# corpus-wide quantile pass at serving time).
CCNET_HEAD_CUT = -3.0
CCNET_MIDDLE_CUT = -3.8


def ccnet_perplexity_buckets(
    docs: DataFrame,
    tri: DataFrame,
    big: DataFrame,
    uni: DataFrame,
    head_cut: float = CCNET_HEAD_CUT,
    middle_cut: float = CCNET_MIDDLE_CUT,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet-style head/middle/tail split by in-domain LM score.

    Scores every document with the interpolated trigram LM
    (:func:`~.lm.score_trigram_interp` — broadcast model joins,
    integer-exact per-position micro-nat sums) and buckets on the
    per-trigram mean logprob against FIXED cutoffs: ``head`` is the
    most in-domain (score ≥ head_cut), ``tail`` the least
    (score < middle_cut). Documents with fewer than 3 tokens carry no
    trigrams and drop, as in the scorer.

    Plan: the scoring pass's aggregate is the only shuffle keyed on
    the corpus; the bucket CASE and the final (lang, bucket) rollup
    add one metadata-sized exchange. ``lang`` rides the scoring pass
    as a carry column (r16: it is functionally dependent on the doc
    id, so grouping on (id, lang) is row-identical to the former
    join-back by id — minus a second corpus scan and its exchange).
    Determinism: `score` is an exact integer sum divided by an exact
    integer count — bucket membership replays hash-exactly in the SQL
    twin.

    Output: (lang, bucket, n_docs, sum_trigrams) — the mixture table a
    curriculum/sampling stage consumes.
    """
    from diagnosisextraction_ml_spark.operators.lm import score_trigram_interp

    scored = score_trigram_interp(
        docs.select(F.col(id_col), F.col(lang_col).alias("lang"), F.col(text_col)),
        tri, big, uni, text_col=text_col, id_col=id_col, carry_cols=("lang",),
    )
    bucket = (
        F.when(F.col("score") >= F.lit(float(head_cut)), F.lit("head"))
        .when(F.col("score") >= F.lit(float(middle_cut)), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scored.select("lang", bucket.alias("bucket"), "n_trigrams")
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_trigrams").alias("sum_trigrams"),
        )
    )
