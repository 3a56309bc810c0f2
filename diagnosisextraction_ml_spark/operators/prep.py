"""Data-prep operators (SURVEY.md §2.2 P1-P7, §2.4 A1, §2.5 V1-V7).

Every operator is a pure DataFrame→DataFrame function; Catalyst fuses
the chain into as few stages as the shuffles require. The reference's
equivalents are eager pandas mutations (and A1 is an O(n·m) Python
loop); here A1 is a single hash aggregation and every "random" choice
is a deterministic hash of the row key, so results are reproducible
across partitionings and cluster sizes.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from diagnosisextraction_ml_spark.functions.hashing import M31, knuth_bucket, md5_hash64
from diagnosisextraction_ml_spark.functions.typo import correct_tokens_batch


# --------------------------------------------------------------------------
# Projections / simple row ops (§2.2)
# --------------------------------------------------------------------------

def recode_label(df: DataFrame, src: str = "annotation", dst: str = "Outcome") -> DataFrame:
    """P2 — boolean label → 'y'/'n'. Ref: NB cell 8 apply(lambda)."""
    return df.withColumn(dst, F.when(F.col(src), F.lit("y")).otherwise(F.lit("n")))


def binarize_label(df: DataFrame, col: str = "Outcome", dst: str = "label") -> DataFrame:
    """P3 — 'y' → 1 else 0.

    Ref: binarize (src/NLP_functions.py:187-192), binarizeLabel
    (src/TextClassification.py:232-237).
    """
    return df.withColumn(dst, (F.col(col) == F.lit("y")).cast("int"))


def class_partition(df: DataFrame, label_col: str, value) -> DataFrame:
    """P4 — one-class predicate filter. Ref: src/TextClassification.py:1381."""
    return df.filter(F.col(label_col) == F.lit(value))


def class_prevalence(df: DataFrame, label_col: str) -> DataFrame:
    """A5 — per-class counts and fractions in one aggregation.

    Ref: src/TextClassification.py:1384-1390 (len(df_class)/total on
    the driver). The total comes from a 1-row broadcast re-aggregation
    of the tiny grouped result — no second scan of the input, no
    driver arithmetic, and no global (empty-partition-spec) window
    anywhere in the plan (the repo-wide plan guard forbids those).
    """
    counts = df.groupBy(label_col).agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("fraction", F.col("n") / F.col("__total"))
        .drop("__total")
    )


# --------------------------------------------------------------------------
# A1 — per-patient group-concat (the reference's only "join")
# --------------------------------------------------------------------------

def merge_on_column(
    df: DataFrame,
    key: str = "PATNR",
    text_col: str = "text",
    label_col: str = "annotation",
    order_col: str | None = None,
    out_text: str = "Text",
    out_label: str = "Outcome",
) -> DataFrame:
    """A1 — concatenate all of a patient's entries into one row.

    Ref: mergeOnColumn / entriesPatientMerge
    (src/NLP_functions.py:838-886): a Python loop over
    ``df[key].unique()`` with per-patient filtering and ``df.append``
    — O(n_patients * n_rows) on one core. Here: one hash aggregation
    (single shuffle on the patient key).

    ``collect_list`` order is nondeterministic under parallel
    execution, so entries are carried as (order, text) structs and
    ``array_sort``-ed before joining — deterministic output at any
    parallelism. ``order_col`` defaults to the text itself (stable for
    bag-of-words semantics); pass an entry id/timestamp to preserve
    record order at scale.

    Skew note: a "hot" patient with millions of entries would skew the
    shuffle; AQE skew handling covers the agg at this shape, and the
    label comes from ``min`` (order-insensitive) rather than ``first``
    (the label is constant per patient — FIXTURES.md §1).
    """
    order = F.col(order_col) if order_col else F.col(text_col)
    pairs = F.struct(order.alias("o"), F.col(text_col).alias("t"))
    return (
        df.groupBy(key)
        .agg(
            F.array_join(F.array_sort(F.collect_list(pairs)).getField("t"), " ").alias(out_text),
            F.min(label_col).alias(out_label),
        )
    )


def merge_on_column_salted(
    df: DataFrame,
    key: str = "PATNR",
    text_col: str = "text",
    label_col: str = "annotation",
    order_col: str | None = None,
    out_text: str = "Text",
    out_label: str = "Outcome",
    salt_buckets: int = 16,
) -> DataFrame:
    """A1 with two-phase salted aggregation for hot keys.

    Same result as :func:`merge_on_column`; use when one key owns an
    outsized share of rows (a patient with millions of entries at
    100 TB). Phase 1 groups by (key, salt) — the hot key's list
    building spreads over ``salt_buckets`` reducers; phase 2 merges
    the ≤``salt_buckets`` pre-sorted partial arrays per key (flatten +
    sort of far fewer, larger items). The salt is a deterministic hash
    of the order value, so output is identical at any parallelism.
    """
    order = F.col(order_col) if order_col else F.col(text_col)
    salt = F.conv(F.substring(F.md5(order.cast("string")), 1, 8), 16, 10).cast("long") % salt_buckets
    pairs = F.struct(order.alias("o"), F.col(text_col).alias("t"))
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(key, "__salt")
        .agg(
            F.array_sort(F.collect_list(pairs)).alias("__partial"),
            F.min(label_col).alias("__lbl"),
        )
    )
    return (
        partial.groupBy(key)
        .agg(
            F.array_join(
                F.array_sort(F.flatten(F.collect_list("__partial"))).getField("t"), " "
            ).alias(out_text),
            F.min("__lbl").alias(out_label),
        )
    )


# --------------------------------------------------------------------------
# V1-V7 — shuffle / balance / resample / split / subset / set ops
# --------------------------------------------------------------------------

def shuffle_rows(df: DataFrame, seed: int, key: Column | str | None = None) -> DataFrame:
    """V1 — deterministic row shuffle. Ref: df.sample(frac=1, random_state).

    Spark DataFrames are unordered; this exists only for parity with
    order-sensitive reference steps. Ordering follows the repo's hashing
    doctrine (functions/hashing.py): md5 of (key, seed) — ``rand(seed)``
    is partition-dependent, so the same seed would yield a different
    order after a repartition. Without an explicit ``key`` the hash
    covers every column (content-addressed order).
    """
    if key is None:
        # Injective content key: per-column md5 of (null-flag, value) so
        # ('a', NULL) vs ('a',) or values containing a separator char
        # cannot collide (concat_ws silently drops NULLs and its
        # separator may legally occur inside values).
        keyc = F.concat(
            *[
                F.md5(
                    F.concat(
                        F.when(F.col(c).isNull(), F.lit("0")).otherwise(F.lit("1")),
                        F.coalesce(F.col(c).cast("string"), F.lit("")),
                    )
                )
                for c in df.columns
            ]
        )
    else:
        keyc = (F.col(key) if isinstance(key, str) else key).cast("string")
    h = F.md5(F.concat_ws("§", keyc, F.lit(str(seed))))
    return df.orderBy(h, keyc)


def downsample_to_balance(
    df: DataFrame, label_col: str, key: Column | str, seed_salt: str = ""
) -> DataFrame:
    """V2 — downsample the majority class to the minority class size.

    Ref: notebook cell 21; classifyOnLowerPrevalence
    (src/NLP_functions.py:260-308) — pandas ``sample(n)``. Kept rows
    are chosen by thresholding a deterministic per-row hash: class c
    keeps rows with ``h % B < ceil(n_min/n_c · B)``. One tiny count
    aggregation, then a pure filter — no window. (The earlier
    window-rank variant funneled the entire dataset through
    n_classes partitions: a binary label meant 2 tasks total — a
    single-executor bottleneck at scale.) Sampled sizes are within
    ~sqrt(n) of exact n_min rather than exact: the right trade for a
    class-balancing step that feeds a stochastic trainer anyway.
    Deterministic: same rows kept at any parallelism/scale.
    """
    import math

    counts = {r[label_col]: r["cnt"] for r in df.groupBy(label_col).agg(F.count("*").alias("cnt")).collect()}
    n_min = min(counts.values())
    buckets = 1_000_000
    keyc = F.col(key) if isinstance(key, str) else key
    h = F.conv(F.substring(F.md5(F.concat_ws("§", keyc.cast("string"), F.lit(seed_salt))), 1, 15), 16, 10).cast("long") % buckets
    cond = None
    for label_val, n_c in counts.items():
        cut = min(buckets, math.ceil(n_min / n_c * buckets))
        this = (F.col(label_col) == F.lit(label_val)) & (h < cut)
        cond = this if cond is None else (cond | this)
    return df.filter(cond)


def resample_to_prevalence(
    df: DataFrame,
    label_col: str,
    target_prevalence: float,
    total: int | None = None,
    seed: int = 26062019,
) -> DataFrame:
    """V3 — over/undersample classes to a target positive prevalence.

    Ref: plotPrevalencePR (src/TextClassification.py:1332-1424) —
    pandas ``sample(n, replace=True)`` per class keeping total n.
    Spark: per-class ``sample(withReplacement=True, fraction)``; the
    fractions are computed from one count aggregation. Sampling with
    replacement is inherently randomized — use only in robustness
    sweeps (E12), not in oracle-checked paths.
    """
    counts = {r[label_col]: r["cnt"] for r in df.groupBy(label_col).agg(F.count("*").alias("cnt")).collect()}
    n_total = total or sum(counts.values())
    n_pos_target = target_prevalence * n_total
    n_neg_target = n_total - n_pos_target
    pos = df.filter(F.col(label_col) == 1).sample(
        withReplacement=True, fraction=n_pos_target / max(counts.get(1, 1), 1), seed=seed
    )
    neg = df.filter(F.col(label_col) == 0).sample(
        withReplacement=True, fraction=n_neg_target / max(counts.get(0, 1), 1), seed=seed + 1
    )
    return pos.unionByName(neg)


def assign_folds(
    df: DataFrame,
    key: str,
    n_folds: int = 10,
    rounds: int = 1,
    prefix: str = "fold",
) -> DataFrame:
    """V4 — CV fold assignment as *columns*, not index arrays.

    Ref: preset_CV10Folds (src/NLP_functions.py:198-212) / splitData
    (src/TextClassification.py:219-230) — sklearn ShuffleSplit index
    arrays. Distributed translation: fold membership is data. For each
    round r a deterministic md5 bucket of (key, r) gives each row a
    fold id in [0, n_folds); train/test for split (r, f) is then
    ``fold_r != f`` / ``== f``. No driver materialization, stable
    under repartitioning, and O(1) extra columns per round.

    sklearn's exact permutation for a given seed is RNG-internal —
    reproducing it bit-for-bit would mean collecting ids to the driver
    (fine at 668 patients, impossible at 100 TB). Documented semantic
    difference: folds are statistically equivalent, not identical.
    """
    out = df
    for r in range(rounds):
        h = F.conv(
            F.substring(F.md5(F.concat_ws("§", F.col(key).cast("string"), F.lit(str(r)))), 1, 15),
            16,
            10,
        ).cast("long")
        out = out.withColumn(f"{prefix}_{r}", (h % n_folds).cast("int"))
    return out


def assign_folds_exact(
    df: DataFrame,
    key: str,
    n_splits: int = 10,
    test_size: float = 0.5,
    seed: int = 26062019,
    order_col: str | None = None,
    prefix: str = "split",
) -> DataFrame:
    """V4 — *exact* sklearn-ShuffleSplit replay (SURVEY §7 hard part 3).

    The scale path is :func:`assign_folds` (hash folds, no driver
    materialization). This compat knob reproduces the reference's
    ShuffleSplit indices bit-for-bit (preset_CV10Folds,
    src/NLP_functions.py:198-212 / splitData,
    src/TextClassification.py:219-230): sklearn's ShuffleSplit draws
    ``permutation = RandomState(seed).permutation(n)`` per split and
    takes ``test = permutation[:ceil(test_size*n)]``,
    ``train = permutation[n_test : n_test + floor((1-test_size)*n)]``
    — plain published numpy arithmetic, no sklearn import needed.

    Row order matters to sklearn (indices address the X array): rows
    are numbered by ``order_col`` ascending (default: ``key``), which
    must mirror the order the reference loaded its rows in.
    ``order_col`` must be a *total* order (no ties) — ties would make
    the sklearn index mapping run-dependent; key uniqueness is
    asserted below for the same reason (duplicate keys would also fan
    out the membership join).

    The key column is collected to the driver (fold assignment is
    metadata-sized — fine to ~10⁶ keys, documented non-goal beyond);
    membership joins back via a broadcast map, adding one
    ``{prefix}_{i}`` column per split with values 'train'/'test'
    ('none' for rows unused when test_size+train_size < 1).
    """
    import numpy as np
    from pyspark.sql.types import StringType, StructField, StructType

    order = order_col or key
    keys = [r[0] for r in df.select(key).orderBy(F.col(order).asc()).collect()]
    n = len(keys)
    if len(set(keys)) != n:
        raise ValueError(
            f"assign_folds_exact requires unique '{key}' values: "
            f"{n - len(set(keys))} duplicate(s) found — duplicates fan out the "
            "membership join and make the sklearn index mapping ambiguous"
        )
    n_test = int(math.ceil(test_size * n))
    # sklearn ShuffleSplit with train_size=None: n_train = n - n_test
    # (NOT floor((1-test_size)*n) — IEEE float makes those diverge,
    # e.g. test_size=0.3, n=10: floor(6.9999999999999996)=6 vs 7).
    n_train = n - n_test
    rng = np.random.RandomState(seed)
    membership: list[list[str]] = [["none"] * n_splits for _ in range(n)]
    for s in range(n_splits):
        perm = rng.permutation(n)
        for idx in perm[:n_test]:
            membership[idx][s] = "test"
        for idx in perm[n_test : n_test + n_train]:
            membership[idx][s] = "train"
    key_field = df.schema[key]
    schema = StructType(
        [StructField(key, key_field.dataType)]
        + [StructField(f"{prefix}_{s}", StringType()) for s in range(n_splits)]
    )
    rows = [(keys[i], *membership[i]) for i in range(n)]
    mapping = df.sparkSession.createDataFrame(rows, schema)
    return df.join(F.broadcast(mapping), on=key, how="left")


def split_train_test(
    df: DataFrame, key: str, test_frac: float = 0.5, salt: str = "0"
) -> tuple[DataFrame, DataFrame]:
    """V4/E13 — one deterministic train/test split (hash of key).

    Ref: holdOutSplitPerformance (src/NLP_functions.py:311-334).
    """
    buckets = 1_000_000
    cut = int(test_frac * buckets)
    h = F.conv(
        F.substring(F.md5(F.concat_ws("§", F.col(key).cast("string"), F.lit(salt))), 1, 15), 16, 10
    ).cast("long") % buckets
    test = df.filter(h < cut)
    train = df.filter(h >= cut)
    return train, test


def subset_first_n(df: DataFrame, order_key: str, n: int) -> DataFrame:
    """V5 — deterministic first-n subset (learning-curve sweeps).

    Ref: sampleSizeROC/PR (src/NLP_functions.py:752-836) — pandas
    head(n) after shuffle. Deterministic order via the key hash.
    """
    return df.orderBy(knuth_bucket(order_key, M31), F.col(order_key)).limit(n)


def union_all(dfs: Sequence[DataFrame]) -> DataFrame:
    """V6 — pd.concat equivalent."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def intersect_rows(a: DataFrame, b: DataFrame) -> DataFrame:
    """V7 — set intersection. Ref: intersection, src/TextClassification.py:1239."""
    return a.intersect(b)


# --------------------------------------------------------------------------
# T5 at scale — typo correction as dedupe + broadcast-join
# --------------------------------------------------------------------------

def correct_typos_df(
    df: DataFrame,
    text_col: str,
    vocab: Sequence[str],
    thresh: float = 0.20,
    out_col: str | None = None,
) -> DataFrame:
    """T5 — distributed typo correction (see functions/typo.py).

    Plan shape:
      1. key every row by md5(text) — deterministic (unlike
         ``monotonically_increasing_id``, which is partition-layout-
         dependent and can diverge between the two sides of the
         self-join under AQE/recomputation) and collapses duplicate
         texts so correction work runs once per *distinct text*,
      2. ``posexplode(split(text))`` to token rows per distinct text,
      3. ``distinct`` tokens (Heaps' law: vastly smaller than corpus),
      4. pandas-UDF argmin Damerau-Levenshtein vs the vocab for tokens
         *outside* the vocab only,
      5. join fixes back, re-aggregate ordered by position, join the
         corrected text onto the original rows by the same md5 key.

    Empty/whitespace-only texts produce no token rows; the final
    ``coalesce`` keeps the original text (the reference's
    ``TypoCorrection.correct`` returns such input unchanged — the EHR
    reader fills text with '' per S5, so these rows are real).

    The reference corrects token-by-token per row with a driver memo
    dict (src/NLP_functions.py:52-79) — the dedupe here is that memo,
    expressed as data.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    out_col = out_col or text_col
    key = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    texts = (
        df.select(key.alias("__tkey"), F.col(text_col).alias("__text")).distinct()
    )

    toks = texts.select(
        "__tkey",
        F.posexplode(F.split(F.col("__text"), r"\s+")).alias("__pos", "__tok"),
    ).filter(F.col("__tok") != "")

    vocab_list = list(vocab)
    vocab_set = set(vocab_list)

    @pandas_udf(StringType())
    def _fix(tokens: pd.Series) -> pd.Series:
        return correct_tokens_batch(tokens, vocab_list, thresh)

    distinct_toks = toks.select("__tok").distinct()
    in_vocab = F.col("__tok").isin(vocab_set)
    fixes = (
        distinct_toks.withColumn(
            "__fix", F.when(in_vocab, F.col("__tok")).otherwise(_fix(F.col("__tok")))
        )
    )

    # No forced broadcast: the distinct-token side is Heaps'-law small
    # relative to the corpus but can still be tens of millions of rows
    # at 100 TB — let AQE pick broadcast vs shuffle join at runtime.
    corrected = (
        toks.join(fixes, "__tok", "left")
        .groupBy("__tkey")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__pos").alias("p"), F.col("__fix").alias("t")))
                ).getField("t"),
                " ",
            ).alias("__corrected")
        )
    )
    original = df.withColumn("__tkey", key)
    joined = (
        original.join(corrected, "__tkey", "left")
        .withColumn(
            out_col,
            F.coalesce(F.col("__corrected"), F.col(text_col), F.lit("")),
        )
        .drop("__tkey", "__corrected")
    )
    return joined


def stratified_sample_exact(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    num: int,
    den: int,
    n_buckets: int = 64,
) -> DataFrame:
    """Exact-count deterministic stratified sample (V-extension).

    Keeps, within every stratum, exactly ``ceil(num/den * n_s)`` rows:
    the ones with the smallest md5 hash of the key. Hash order is a
    deterministic uniform permutation, so this is sampling without
    replacement that reproduces on any cluster and any partitioning
    (``df.sample``/``rand()`` do not — their draws are
    partition-dependent), and the cutoff is pure integer arithmetic
    (global_rank <= (n_s*num + den - 1) div den), exact in any engine.

    Scale design: a naive ``row_number() OVER (PARTITION BY stratum)``
    serializes each stratum through ONE task — with few strata
    (languages, sources: the common case) that is exactly the
    single-partition funnel this repo bans. The rank here is two-level,
    like ``evaluate._bucketed_cumsum``: rows rank within
    (stratum, hash-range bucket) — strata x n_buckets-way parallel —
    and each bucket adds an offset (count of earlier buckets in its
    stratum) computed by a broadcast self-join of the per-(stratum,
    bucket) totals table. That table has |strata| x n_buckets rows with
    no fixed bound, so unlike the curve cumsum's ≤ n_buckets totals it
    is not collected. No single-partition Exchange.
    """
    from pyspark.sql import Window

    bits = n_buckets.bit_length() - 1
    if (1 << bits) != n_buckets:
        raise ValueError("n_buckets must be a power of two")
    h = md5_hash64(F.col(key_col).cast("string"))
    # top bits of the 60-bit hash -> bucket order == hash order
    with_b = df.withColumn("__h", h).withColumn(
        "__sb", F.shiftrightunsigned(F.col("__h"), 60 - bits).cast("int")
    )
    # localCheckpoint: totals feeds three consumers (earlier, the
    # offsets join's build side, n_per_stratum) — left lazy each
    # broadcast re-ran the full input scan + count (r15 plan audit:
    # 4 input scans; 2 after). |strata|·n_buckets rows at any scale.
    totals = (
        with_b.groupBy(strata_col, "__sb")
        .agg(F.count("*").alias("__c"))
        .localCheckpoint()
    )
    earlier = totals.select(
        F.col(strata_col).alias("__es"),
        F.col("__sb").alias("__eb"),
        F.col("__c").alias("__ec"),
    )
    offsets = (
        totals.join(
            F.broadcast(earlier),
            (F.col(strata_col) == F.col("__es")) & (F.col("__eb") < F.col("__sb")),
            "left",
        )
        .groupBy(strata_col, "__sb")
        .agg(F.coalesce(F.sum("__ec"), F.lit(0)).alias("__off"))
    )
    n_per_stratum = totals.groupBy(strata_col).agg(F.sum("__c").alias("__n"))
    w = Window.partitionBy(strata_col, "__sb").orderBy(F.col("__h").asc(), F.col(key_col).asc())
    keep_expr = F.expr(f"(__n * {num} + {den - 1}) div {den}")
    return (
        with_b.withColumn("__rn", F.row_number().over(w))
        .join(F.broadcast(offsets), [strata_col, "__sb"])
        .join(F.broadcast(n_per_stratum), strata_col)
        .filter((F.col("__rn") + F.col("__off")) <= keep_expr)
        .drop("__h", "__sb", "__rn", "__off", "__n")
    )


def mixture_resample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    weights: dict[str, tuple[int, int]],
    default: tuple[int, int] = (1, 1),
) -> DataFrame:
    """Deterministic domain-mixture resampling (data-mixing step).

    Reweights groups (domains/sources/languages) to target sampling
    weights for training: a row in a group with weight ``num/den``
    appears ``floor(num/den)`` times, plus once more when
    ``md5(key) mod den < num mod den`` — so multiplicity is exact per
    key, the expected group weight is exactly ``num/den``, and the
    same row keeps the same multiplicity on any cluster or
    partitioning (the repo's hash-not-rand doctrine). Weights > 1
    upsample by repetition (``copy_idx`` distinguishes the copies for
    downstream shuffling), weights < 1 downsample.

    Scale design: one codegen'd map stage — a CASE over the (tiny,
    literal) weight table, an md5 of the key, and an
    ``explode(sequence(...))`` whose fan-out Catalyst sees up front.
    No shuffle, no join, no UDF; at 100 TB this is scan-speed.
    """
    num = F.lit(int(default[0]))
    den = F.lit(int(default[1]))
    for g, (nu, de) in sorted(weights.items()):
        if de <= 0 or nu < 0:
            raise ValueError(f"weight for {g!r} must have num >= 0, den > 0")
        num = F.when(F.col(group_col) == g, F.lit(int(nu))).otherwise(num)
        den = F.when(F.col(group_col) == g, F.lit(int(de))).otherwise(den)
    h = md5_hash64(F.col(key_col).cast("string"))
    n_copies = (num - (num % den)) / den + F.when((h % den) < (num % den), 1).otherwise(0)
    return (
        df.withColumn("__n", n_copies.cast("int"))
        .filter(F.col("__n") >= 1)
        .withColumn("copy_idx", F.explode(F.sequence(F.lit(1), F.col("__n"))))
        .drop("__n")
    )


def weighted_sample_es(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Weight-proportional sample without replacement (Efraimidis-
    Spirakis 2006), deterministic and single-pass.

    The LLM-corpus use: subsample documents with probability ∝ a
    quality/importance weight (A-ES: draw u ~ U(0,1] per item, keep
    the k largest u^(1/w)). Following the repo's hashing doctrine the
    "random" u is md5(id)-derived — (h+1)/2^60, exact in double — so
    the sample is reproducible on any cluster, any partitioning, and
    in the DuckDB oracle. The rank key is ln(u)/w (monotone in
    u^(1/w)) quantized to integer micro-nats, with the id as total
    tie-break — the one float op (ln) goes through the engine's
    standard micro-rounding before any comparison.

    One scan + a top-k (TakeOrderedAndProject: every partition ships
    at most k rows — the documented safe top-k shape). Rows with
    weight ≤ 0 or NULL are excluded (zero mass).

    Output: (id, weight, es_score_micro), the k sampled rows.
    """
    h = md5_hash64(F.col(id_col).cast("string"))
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    w = F.col(weight_col).cast("double")
    score = F.round(
        F.lit(1_000_000.0) * F.log(u) / w, 0
    ).cast("long")
    return (
        df.filter(w > 0)
        .select(
            F.col(id_col),
            F.col(weight_col).alias("weight"),
            score.alias("es_score_micro"),
        )
        .orderBy(F.desc("es_score_micro"), F.asc(id_col))
        .limit(k)
    )


def temperature_mixture_plan(
    df: DataFrame,
    group_col: str,
    alpha: float = 0.7,
    target_rows: int | None = None,
) -> DataFrame:
    """T5-style temperature-scaled mixing weights from observed counts.

    Data mixing's standard rebalancing (Raffel et al. 2020 §3.4.3,
    examples-proportional with temperature): source s gets weight
    wₛ ∝ nₛ^α — α = 1 is proportional, α = 0 uniform, the usual
    0.3-0.7 band boosts small sources without drowning big ones.

    Determinism: the one float op (pow) is quantized to integer
    micro-units PER SOURCE before any cross-source arithmetic — the
    normalizing sum is an exact integer sum (a float Σ nₛ^α would
    depend on accumulation order), and the final weights/rates are
    integral divisions in DECIMAL(38,0). Valid for nₛ^α·10⁶ < 2⁶³
    (any α ≤ 1 and nₛ ≤ 10¹³). The per-source table is one map-side-
    combined groupBy + a 1-row broadcast of the sum — the engine's
    standard corpus-scalar shape.

    Output: (group, n, weight_micro, rate_micro?) — ``weight_micro``
    the normalized mixing weight, and, when ``target_rows`` is given,
    ``rate_micro`` = min(1, target·wₛ/nₛ) in micro-units: the exact
    per-source sampling rate that realizes the mixture at the target
    corpus size (feed (rate_micro, 10⁶) pairs to
    :func:`mixture_resample` to materialize it).
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    counts = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wq = F.round(F.pow(F.col("n").cast("double"), F.lit(float(alpha))) * 1_000_000, 0).cast("long")
    per = counts.withColumn("__w", wq)
    tot = per.agg(F.sum("__w").alias("__tot"))
    out = per.crossJoin(F.broadcast(tot)).select(
        "group",
        "n",
        F.expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * __w div __tot AS BIGINT)"
        ).alias("weight_micro"),
        *(
            [
                F.expr(
                    f"CAST(least(CAST(1000000 AS DECIMAL(38,0)),"
                    f" CAST({int(target_rows)} AS DECIMAL(38,0)) * 1000000 * __w"
                    f" div (__tot * n)) AS BIGINT)"
                ).alias("rate_micro")
            ]
            if target_rows is not None
            else []
        ),
    )
    return out


def target_encode_loo(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    id_col: str,
) -> DataFrame:
    """Leave-one-out target encoding — the standard high-cardinality
    categorical encoder, leak-free by construction: each row's code is
    the mean target of its category EXCLUDING the row itself,
    ``(Σ_cat − y_i) / (n_cat − 1)``.

    Plan: one category-keyed aggregate (DECIMAL-exact Σ, order-
    independent) broadcast-joined back — categories are vocabulary-
    sized next to the fact table, so the join adds no fact-side
    shuffle beyond the aggregate's own. The per-row subtraction uses
    the same DECIMAL quantization as the sum, so the encoding replays
    hash-exactly in the SQL twin. Singleton categories (n=1) have no
    leave-one-out peers → NULL, never a divide-by-zero.

    Output: (id, cat, target, loo_enc double).
    """
    dec = "decimal(38,12)"
    per_cat = df.groupBy(cat_col).agg(
        F.sum(F.col(target_col).cast(dec)).alias("__s"),
        F.count(F.lit(1)).alias("__n"),
    )
    return (
        df.select(id_col, cat_col, target_col)
        .join(F.broadcast(per_cat), [cat_col])
        .select(
            id_col,
            cat_col,
            target_col,
            F.when(
                F.col("__n") > 1,
                # 6dp round: Spark and DuckDB disagree in the last ULP
                # of the DECIMAL(38,12)->double conversion
                F.round(
                    (F.col("__s") - F.col(target_col).cast(dec)).cast("double")
                    / (F.col("__n") - 1).cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(None).cast("double"))
            .alias("loo_enc"),
        )
    )
