"""DSIR — Data Selection via Importance Resampling, as pure algebra.

Implements the data-selection recipe of Xie et al., *Data Selection
for Language Models via Importance Resampling* (NeurIPS 2023): score
every raw document by the log-ratio of a target-corpus n-gram
distribution to the raw-corpus distribution over **hashed** n-gram
buckets, then sample the training subset with probability proportional
to the importance weight (Gumbel top-k, without replacement).

The reference repo has no equivalent (it selects training rows by
patient-level resampling, src/TextClassification.py); this operator is
part of the LLM-data-pipeline extension surface, next to the hashed
quality classifier (:mod:`.quality_model`) and the bigram LM
(:mod:`.lm`).

Design — both phases are DataFrame algebra with exact cross-engine
arithmetic, so the whole pipeline is DuckDB-oracle-checkable:

- **Features**: unigrams AND bigrams of whitespace tokens, hashed into
  one shared ``n_buckets`` md5-bucket space (the paper's hashed n-gram
  generative model). Bigrams come from ``arrays_zip`` of the token
  array with its shifted tail (the repo's shingle trick — ``arrays_zip``
  pads the shorter side with null, which marks the final
  unigram-only row), so gram generation is one scan, no shuffle, no
  interpreted lambda.
- **Fit**: one ``groupBy(bucket)`` pass yields per-bucket target/raw
  counts (map-side combine; ≤``n_buckets`` result rows, persisted so
  the grand totals derive from the cached counts instead of a second
  corpus scan). Log-ratio weights are quantized to integer
  **micro-nats** — downstream sums are exact int64 arithmetic,
  bit-reproducible across engines, partitionings, and cluster sizes.
- **Score**: second scan joins exploded grams against the broadcast
  ≤B-row ratio table and sums per document. Buckets unseen at fit time
  coalesce to the smoothed-empty-bucket ratio (importance of a gram
  neither corpus contains), so a disjoint scoring corpus still scores.
- **Resample**: Gumbel top-k = ``log w + Gumbel(0,1)`` per doc, take
  the k largest — equivalent to sampling without replacement with
  probability ∝ w. The Gumbel variate derives from an md5 hash of the
  doc id (functions/hashing.py), not ``rand()``: deterministic,
  partition-independent, and replayable by the SQL oracle.

Plan shape at 100 TB: fit = corpus scan → B-row shuffle; score =
corpus scan → broadcast hash join → one (doc, sum, count) partial-agg
shuffle; select = TakeOrdered (per-partition top-k, no global sort).
Everything except the final k rows stays distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from diagnosisextraction_ml_spark.functions.hashing import md5_hash64
from diagnosisextraction_ml_spark.functions.text import tokenize_expr

DEFAULT_BUCKETS = 4096
_TWO60 = float(1 << 60)  # md5_hash64 range is [0, 2^60)


def hashed_gram_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    extra: list[str] | None = None,
) -> DataFrame:
    """(id, [extra], bucket) — one row per unigram AND per bigram.

    One scan, no shuffle: ``arrays_zip(toks, toks[2:])`` null-pads the
    tail, so each exploded row carries (w_i, w_{i+1}|null); the unigram
    bucket comes from w_i, the bigram bucket from "w_i w_{i+1}" when
    the successor exists, and ``array_compact`` drops the missing one.
    """
    cols = list(extra or [])
    toks = tokenize_expr(F.lower(F.col(text_col)))
    n = F.size("toks")
    pairs = F.arrays_zip(
        F.col("toks").alias("w1"),
        F.slice("toks", 2, F.greatest(n - 1, F.lit(0))).alias("w2"),
    )
    exploded = (
        df.select(F.col(id_col), *[F.col(c) for c in cols], toks.alias("toks"))
        .filter(F.size("toks") >= 1)
        .select(F.col(id_col), *[F.col(c) for c in cols], F.explode(pairs).alias("p"))
    )
    b_uni = md5_hash64(F.col("p.w1")) % n_buckets
    b_bi = F.when(
        F.col("p.w2").isNotNull(),
        md5_hash64(F.concat(F.col("p.w1"), F.lit(" "), F.col("p.w2"))) % n_buckets,
    )
    return exploded.select(
        F.col(id_col),
        *[F.col(c) for c in cols],
        F.explode(F.array_compact(F.array(b_uni, b_bi))).alias("bucket"),
    )


def fit_log_ratio(
    df: DataFrame,
    target_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    alpha: int = 1,
) -> DataFrame:
    """Fit the (bucket, ratio_micro) importance table.

    ``target_col`` is a 0/1 column marking target-distribution rows;
    the raw distribution is the full input. Per bucket::

        ratio = ln((t_b+α)/(T+αB)) − ln((r_b+α)/(R+αB))

    quantized to integer micro-nats. Returns ≤``n_buckets`` rows plus
    the totals folded in as ``t_tot``/``r_tot`` columns (constant per
    row) so callers can derive the unseen-bucket default without a
    second scan.
    """
    g = hashed_gram_buckets(df, text_col, id_col, n_buckets, extra=[target_col])
    agg = (
        g.groupBy("bucket")
        .agg(
            F.sum(F.col(target_col)).alias("t_n"),
            F.count("*").alias("r_n"),
        )
        .persist()
    )
    totals = agg.agg(
        F.sum("t_n").alias("t_tot"), F.sum("r_n").alias("r_tot")
    )
    b = n_buckets
    a = alpha
    ratio = (
        F.log(F.col("t_n") + a)
        - F.log(F.col("t_tot") + a * b)
        - F.log(F.col("r_n") + a)
        + F.log(F.col("r_tot") + a * b)
    )
    return (
        agg.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.round(ratio * 1_000_000).cast("long").alias("ratio_micro"),
            "t_tot",
            "r_tot",
        )
    )


def score_importance(
    df: DataFrame,
    ratios: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    alpha: int = 1,
) -> DataFrame:
    """(id, n_grams, logw_micro, logw) — per-doc importance log-weight.

    Exact int64 sum of per-gram micro-nat ratios; buckets absent from
    the fitted table coalesce to the smoothed empty-bucket ratio
    ``ln(α/(T+αB)) − ln(α/(R+αB))`` derived from the totals the fit
    carries — no second fit-corpus scan, no collect.
    """
    b, a = n_buckets, alpha
    default = F.round(
        (
            F.log(F.lit(float(a)))
            - F.log(F.col("t_tot") + a * b)
            - F.log(F.lit(float(a)))
            + F.log(F.col("r_tot") + a * b)
        )
        * 1_000_000
    ).cast("long")
    w = ratios.select("bucket", "ratio_micro", default.alias("default_micro"))
    g = hashed_gram_buckets(df, text_col, id_col, n_buckets)
    # default_micro is constant across rows; max() just carries it
    # through the aggregate without a separate 1-row join.
    d0 = F.broadcast(w.agg(F.max("default_micro").alias("d0")))
    scored = (
        g.join(F.broadcast(w.select("bucket", "ratio_micro")), "bucket", "left")
        .crossJoin(d0)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("ratio_micro"), F.col("d0"))).alias("logw_micro"),
        )
    )
    return scored.select(
        id_col,
        "n_grams",
        F.col("logw_micro").cast("long").alias("logw_micro"),
        (F.col("logw_micro") / F.lit(1_000_000.0)).alias("logw"),
    )


def gumbel_topk(
    scores: DataFrame,
    k: int,
    id_col: str = "doc_id",
    weight_col: str = "logw_micro",
    salt: str = "dsir",
) -> DataFrame:
    """Sample k docs without replacement with probability ∝ exp(logw).

    Gumbel top-k: ``key = logw + G`` with ``G = −ln(−ln(u))`` and
    ``u = (md5(salt|id)+0.5)/2^60`` — a deterministic uniform in (0,1)
    from the repo's cross-engine hash, so the "random" sample is
    reproducible at any partitioning and replayable by the SQL oracle.
    ``orderBy(...).limit(k)`` compiles to TakeOrdered: per-partition
    top-k then a k-row merge on the driver — no global sort.
    """
    h = md5_hash64(F.concat(F.lit(salt + "|"), F.col(id_col).cast("string")))
    u = (h + F.lit(0.5)) / F.lit(_TWO60)
    g_micro = F.round(-F.log(-F.log(u)) * 1_000_000).cast("long")
    keyed = scores.withColumn("gumbel_micro", g_micro).withColumn(
        "key_micro", F.col(weight_col) + F.col("gumbel_micro")
    )
    return keyed.orderBy(F.desc("key_micro"), F.col(id_col)).limit(k)


def doremi_mixture_step(
    docs: DataFrame,
    trigrams: DataFrame,
    bigrams: DataFrame,
    unigrams: DataFrame,
    eta: float = 1.0,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """One DoReMi-style exponentiated-gradient domain-reweighting step
    (Xie et al. 2023, *DoReMi: Optimizing Data Mixtures Speeds Up
    Language Model Pretraining* — the update rule of Algorithm 1, with
    the in-domain trigram LM standing in for the proxy/reference model
    pair).

    Per source: mean logprob-per-trigram under the LM
    (:func:`~.lm.score_trigram_interp`); the EXCESS loss is how far the
    source falls below the corpus-wide mean (clipped at 0, as DoReMi
    clips); the EG update boosts each source by ``exp(eta * excess)``
    scaled by its current (proportional-to-size) weight, then
    renormalizes.

    Determinism doctrine: per-source and corpus means are divisions of
    exact integer micro-nat sums; the only transcendental is one
    ``exp`` per SOURCE (20 rows, not 20M), micro-quantized the moment
    it is produced (same pattern as idf_micro); the final weights are
    IEEE divisions of exact integer products. Plan: one scoring pass,
    one source-keyed aggregate, two single-row broadcasts — nothing
    corpus-sized shuffles twice. At 100 TB the scored corpus is the
    only big relation and it is touched once.

    Output: (source, n_docs, src_score, excess, boost_micro, weight) —
    weight sums to 1 over sources.

    Magnitude bound: the weight numerator ``n_docs · boost_micro`` is
    an exact int64 product; with boost ≤ 1e6·e^(η·excess) it overflows
    only past ~10^12 docs per source at η·excess ≈ 1 (Spark raises
    under ANSI, DuckDB's HUGEINT sum then fails the final BIGINT cast
    — loud on both engines, same doctrine as cusum_drift).
    """
    from diagnosisextraction_ml_spark.operators.lm import score_trigram_interp

    # localCheckpoint: `scored` feeds BOTH the per-source rollup and
    # the corpus-wide reference mean — left lazy the whole scoring
    # pass (corpus scan + five broadcast model joins + the id-keyed
    # aggregate) runs twice (r15 plan audit: mix_doremi_weights
    # scanned documents 30× through the lazy scored/per/model chain).
    # The materialized relation is the narrow (id, source, n_trigrams,
    # lp_sum, score) per-doc rollup — the right thing to keep at any
    # scale. `source` rides the scoring pass as a carry column (r16):
    # functionally dependent on the doc id, so grouping on it is
    # row-identical to the former join-back by id — minus a second
    # docs scan and the |docs|-row join exchange. At-scale tradeoff:
    # localCheckpoint on a corpus-proportional relation trades lineage
    # for plan reuse (executor loss is unrecoverable downstream, the
    # job runs eagerly at plan build); a fault-tolerant cluster run
    # would use persist()+unpersist or a reliable checkpoint dir.
    scored = score_trigram_interp(
        docs.select(F.col(id_col), F.col(source_col).alias("source"), F.col("text")),
        trigrams,
        bigrams,
        unigrams,
        id_col=id_col,
        carry_cols=("source",),
    ).localCheckpoint()
    per = (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("lp_sum").alias("__lp"),
            F.sum("n_trigrams").alias("__nt"),
        )
    )
    tot = (
        scored.agg(
            F.sum("lp_sum").alias("__tlp"), F.sum("n_trigrams").alias("__tnt")
        ).select(F.lit(1).alias("__j"), "__tlp", "__tnt")
    )
    src_score = F.col("__lp").cast("double") / (
        F.lit(1_000_000.0) * F.col("__nt").cast("double")
    )
    ref_score = F.col("__tlp").cast("double") / (
        F.lit(1_000_000.0) * F.col("__tnt").cast("double")
    )
    per = (
        per.withColumn("__j", F.lit(1))
        .join(F.broadcast(tot), ["__j"])
        .select(
            "source",
            "n_docs",
            src_score.alias("src_score"),
            F.greatest(F.lit(0.0), ref_score - src_score).alias("excess"),
        )
        .withColumn(
            "boost_micro",
            F.round(
                F.lit(1_000_000.0) * F.exp(F.lit(float(eta)) * F.col("excess")), 0
            ).cast("long"),
        )
        # localCheckpoint: `per` (one row per SOURCE) feeds both the
        # weight denominator and the final projection — left lazy each
        # re-runs the source join + rollup over `scored`.
        .localCheckpoint()
    )
    den = per.agg(
        F.sum(F.col("n_docs") * F.col("boost_micro")).alias("__den")
    ).select(F.lit(1).alias("__j"), "__den")
    return (
        per.withColumn("__j", F.lit(1))
        .join(F.broadcast(den), ["__j"])
        .select(
            "source",
            "n_docs",
            "src_score",
            "excess",
            "boost_micro",
            (
                (F.col("n_docs") * F.col("boost_micro")).cast("double")
                / F.col("__den").cast("double")
            ).alias("weight"),
        )
    )
