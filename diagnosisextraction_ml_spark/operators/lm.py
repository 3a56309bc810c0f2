"""Bigram language-model scoring — perplexity-style filtering as algebra.

The second standard corpus gate next to the linear quality classifier
(:mod:`.quality_model`): CCNet-style pipelines score every document
with a language model trained on a reference corpus and keep the
low-perplexity tail. A full KenLM is out of scope (and unnecessary for
filtering); an add-α bigram model over hashed token buckets captures
the ranking signal and — like everything in this engine — runs as pure
DataFrame algebra with exact cross-engine arithmetic:

- **Counts**: bigrams come from ``arrays_zip`` of two shifted slices
  of the token array (the repo's shingle trick — two array copies, not
  one per position); tokens hash into ``n_buckets`` md5 buckets, so
  unigram state is ≤B rows and bigram state ≤ observed distinct
  hashed bigrams (Zipf-bounded; ``min_count`` prunes the tail to keep
  the table broadcastable at 100 TB).
- **Scoring**: per-bigram log-probability
  ``ln P(w2|w1) = ln(C(w1,w2)+α) − ln(C(w1)+αB)`` quantized to integer
  micro-nats; a document's score is the exact integer sum over its
  bigrams divided by their count — mean per-token log-prob, monotone
  in perplexity (``ppl = exp(−score)``). Unseen bigrams fall back to
  the same formula with C=0 via left joins, so cold documents are
  scored, not dropped.
- **Plan shape**: train = one corpus pass with two groupBys (map-side
  combine); score = two broadcast joins (bigram table, unigram table)
  + one partial-agg shuffle keyed by doc id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from diagnosisextraction_ml_spark.functions.hashing import md5_hash64
from diagnosisextraction_ml_spark.functions.text import tokenize_expr

DEFAULT_BUCKETS = 4096


def _bigram_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *carry, b1, b2) — one row per adjacent token pair (hashed).

    ``carry_cols`` are per-document attributes (functionally dependent
    on ``id_col``) that ride the explode so a scorer can group on them
    without a join-back scan; they add no shuffle volume (the scorer's
    partial aggregation combines per document before the exchange).
    """
    toks = tokenize_expr(F.lower(F.col(text_col)))
    carry = [F.col(c) for c in carry_cols]
    with_toks = df.select(F.col(id_col), *carry, toks.alias("toks")).filter(
        F.size("toks") >= 2
    )
    n = F.size("toks")
    pairs = F.arrays_zip(
        F.slice(F.col("toks"), 1, n - 1).alias("w1"),
        F.slice(F.col("toks"), 2, n - 1).alias("w2"),
    )
    exploded = with_toks.select(F.col(id_col), *carry, F.explode(pairs).alias("p"))
    return exploded.select(
        F.col(id_col),
        *carry,
        (md5_hash64(F.col("p.w1")) % F.lit(n_buckets)).alias("b1"),
        (md5_hash64(F.col("p.w2")) % F.lit(n_buckets)).alias("b2"),
    )


def fit_bigram_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    min_count: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Train: (bigram_counts, unigram_counts) over hashed buckets.

    ``unigram_counts`` counts each bucket's occurrences as a *left*
    bigram element (the conditioning context), so the conditional
    probabilities normalize exactly: Σ_w2 C(w1,w2) = C(w1).
    ``min_count`` prunes rare bigrams from the broadcast table (they
    fall back to the unseen-bigram path at scoring — same formula,
    C=0), bounding table size at web scale.
    """
    bg = _bigram_buckets(df, text_col, id_col, n_buckets)
    bigrams = bg.groupBy("b1", "b2").agg(F.count("*").alias("c_bigram"))
    if min_count > 1:
        bigrams = bigrams.filter(F.col("c_bigram") >= min_count)
    unigrams = bg.groupBy("b1").agg(F.count("*").alias("c_left"))
    # localCheckpoint: same reasoning as fit_trigram_counts — the
    # scorer broadcasts both tables (unigrams also as a 1-row total),
    # and left lazy each broadcast re-runs the corpus bigram explode.
    return bigrams.localCheckpoint(), unigrams.localCheckpoint()


def score_bigram_logprob(
    df: DataFrame,
    bigrams: DataFrame,
    unigrams: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    alpha: int = 1,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Score: (id, *carry, n_bigrams, lp_sum, score) — exact mean log-prob.

    Per bigram: ``round(1e6·(ln(C(w1,w2)+α) − ln(C(w1)+αB)))`` integer
    micro-nats, with C=0 via left-join coalesce for unseen pairs or
    contexts; ``score = lp_sum / (1e6 · n_bigrams)`` (≤ 0; higher =
    more reference-corpus-like; perplexity = exp(−score)).

    ``carry_cols`` (per-document attributes, e.g. ``lang``) ride the
    scoring pass and its groupBy — row-identical to joining them back
    by id afterwards, minus the extra corpus scan + join exchange.
    """
    ab = alpha * n_buckets
    bg = _bigram_buckets(df, text_col, id_col, n_buckets, carry_cols)
    joined = bg.join(F.broadcast(bigrams), ["b1", "b2"], "left").join(
        F.broadcast(unigrams), ["b1"], "left"
    )
    lp_micro = F.round(
        F.lit(1_000_000)
        * (
            F.log(F.coalesce(F.col("c_bigram"), F.lit(0)) + F.lit(alpha))
            - F.log(F.coalesce(F.col("c_left"), F.lit(0)) + F.lit(ab))
        ),
        0,
    ).cast("long")
    return (
        joined.groupBy(F.col(id_col), *[F.col(c) for c in carry_cols])
        .agg(F.count("*").alias("n_bigrams"), F.sum(lp_micro).alias("lp_sum"))
        .select(
            F.col(id_col),
            *carry_cols,
            "n_bigrams",
            "lp_sum",
            (F.col("lp_sum") / (F.lit(1_000_000.0) * F.col("n_bigrams"))).alias(
                "score"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Interpolated trigram model (Jelinek-Mercer smoothing)
# ---------------------------------------------------------------------------

JM_L3 = 0.5
JM_L2 = 0.3
JM_L1 = 0.2


def _trigram_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *carry, b1, b2, b3) — one row per adjacent token triple
    (hashed). ``carry_cols``: see :func:`_bigram_buckets`."""
    toks = tokenize_expr(F.lower(F.col(text_col)))
    carry = [F.col(c) for c in carry_cols]
    with_toks = df.select(F.col(id_col), *carry, toks.alias("toks")).filter(
        F.size("toks") >= 3
    )
    n = F.size("toks")
    triples = F.arrays_zip(
        F.slice(F.col("toks"), 1, n - 2).alias("w1"),
        F.slice(F.col("toks"), 2, n - 2).alias("w2"),
        F.slice(F.col("toks"), 3, n - 2).alias("w3"),
    )
    exploded = with_toks.select(F.col(id_col), *carry, F.explode(triples).alias("p"))
    return exploded.select(
        F.col(id_col),
        *carry,
        (md5_hash64(F.col("p.w1")) % F.lit(n_buckets)).alias("b1"),
        (md5_hash64(F.col("p.w2")) % F.lit(n_buckets)).alias("b2"),
        (md5_hash64(F.col("p.w3")) % F.lit(n_buckets)).alias("b3"),
    )


def fit_trigram_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    min_count: int = 1,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train: (trigrams, bigrams, unigrams) over hashed buckets.

    Unlike the conditional bigram model (whose unigram table counts
    only left-contexts), the interpolated model needs *stream* counts:
    unigrams over every token, bigrams over every adjacent pair — each
    serves both as a context denominator and a continuation numerator.
    ``min_count`` prunes only the trigram table (the big one at web
    scale); the lower orders are the backoff mass and stay complete.
    """
    toks = tokenize_expr(F.lower(F.col(text_col)))
    uni = (
        df.select(F.explode(toks).alias("w"))
        .select((md5_hash64(F.col("w")) % F.lit(n_buckets)).alias("b1"))
        .groupBy("b1")
        .agg(F.count(F.lit(1)).alias("c_uni"))
    )
    big = _bigram_buckets(df, text_col, id_col, n_buckets).groupBy(
        "b1", "b2"
    ).agg(F.count(F.lit(1)).alias("c_big"))
    tri = _trigram_buckets(df, text_col, id_col, n_buckets).groupBy(
        "b1", "b2", "b3"
    ).agg(F.count(F.lit(1)).alias("c_tri"))
    if min_count > 1:
        tri = tri.filter(F.col("c_tri") >= min_count)
    # localCheckpoint: every scorer BROADCASTS these tables, some in
    # two roles (big as context + continuation, uni as denominator +
    # floor + 1-row total) — left lazy, each broadcast re-runs the
    # full corpus explode+count (r15 plan audit: lm_trigram_interp
    # scanned documents 7×, mix_doremi_weights 30×). The materialized
    # relations are the bucket-bounded model tables the scorer's
    # broadcast already requires to be small; train-time eagerness is
    # the natural semantics for a fit.
    return tri.localCheckpoint(), big.localCheckpoint(), uni.localCheckpoint()


def score_trigram_interp(
    df: DataFrame,
    trigrams: DataFrame,
    bigrams: DataFrame,
    unigrams: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    alpha: int = 1,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Score: (id, *carry, n_trigrams, lp_sum, score) — interpolated
    mean log-prob. ``carry_cols``: see :func:`score_bigram_logprob`.

    Per position: ``P = λ3·C3/C2(w1,w2) + λ2·C2(w2,w3)/C1(w2) +
    λ1·(C1(w3)+α)/(N+αB)`` — Jelinek-Mercer interpolation; a zero
    denominator drops its term (the add-α unigram floor keeps P > 0,
    so ln is always defined). Quantized to integer micro-nats per
    position, integer-summed per document.

    Plan: five broadcast left joins (tri, two bigram roles, two
    unigram roles) + the 1-row totals broadcast + one partial-agg
    shuffle keyed by id. Every model table is bucket-bounded.
    """
    tg = _trigram_buckets(df, text_col, id_col, n_buckets, carry_cols)
    total = unigrams.agg(F.sum("c_uni").alias("n_total")).select(
        F.lit(1).alias("j"), "n_total"
    )
    ctx = bigrams.select(
        F.col("b1").alias("x1"), F.col("b2").alias("x2"),
        F.col("c_big").alias("c_ctx"),
    )
    cont = bigrams.select(
        F.col("b1").alias("y2"), F.col("b2").alias("y3"),
        F.col("c_big").alias("c_cont"),
    )
    u_mid = unigrams.select(F.col("b1").alias("m2"), F.col("c_uni").alias("c_mid"))
    u_last = unigrams.select(F.col("b1").alias("m3"), F.col("c_uni").alias("c_last"))
    joined = (
        tg.join(F.broadcast(trigrams), ["b1", "b2", "b3"], "left")
        .join(
            F.broadcast(ctx),
            (F.col("b1") == F.col("x1")) & (F.col("b2") == F.col("x2")),
            "left",
        )
        .join(
            F.broadcast(cont),
            (F.col("b2") == F.col("y2")) & (F.col("b3") == F.col("y3")),
            "left",
        )
        .join(F.broadcast(u_mid), F.col("b2") == F.col("m2"), "left")
        .join(F.broadcast(u_last), F.col("b3") == F.col("m3"), "left")
        .withColumn("j", F.lit(1))
        .join(F.broadcast(total), ["j"])
    )
    c_tri = F.coalesce(F.col("c_tri"), F.lit(0)).cast("double")
    c_ctx = F.coalesce(F.col("c_ctx"), F.lit(0)).cast("double")
    c_cont = F.coalesce(F.col("c_cont"), F.lit(0)).cast("double")
    c_mid = F.coalesce(F.col("c_mid"), F.lit(0)).cast("double")
    c_last = F.coalesce(F.col("c_last"), F.lit(0)).cast("double")
    t3 = F.when(c_ctx > 0, c_tri / c_ctx).otherwise(F.lit(0.0))
    t2 = F.when(c_mid > 0, c_cont / c_mid).otherwise(F.lit(0.0))
    t1 = (c_last + F.lit(float(alpha))) / (
        F.col("n_total").cast("double") + F.lit(float(alpha * n_buckets))
    )
    p = F.lit(JM_L3) * t3 + F.lit(JM_L2) * t2 + F.lit(JM_L1) * t1
    lp_micro = F.round(F.lit(1_000_000.0) * F.log(p), 0).cast("long")
    return (
        joined.groupBy(F.col(id_col), *[F.col(c) for c in carry_cols])
        .agg(F.count(F.lit(1)).alias("n_trigrams"), F.sum(lp_micro).alias("lp_sum"))
        .select(
            F.col(id_col),
            *carry_cols,
            "n_trigrams",
            "lp_sum",
            (F.col("lp_sum") / (F.lit(1_000_000.0) * F.col("n_trigrams"))).alias(
                "score"
            ),
        )
    )
