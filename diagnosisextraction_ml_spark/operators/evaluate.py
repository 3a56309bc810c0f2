"""Evaluation operators (SURVEY.md §2.7 E1-E11) — the analytical core.

The reference builds ROC/PR curves with a Python loop over a sorted
prediction list (score_binary, src/TextClassification.py:691-723;
sortedPredictionList, :612-648). That is exactly a *sort + window
cumulative sum*, so here it is expressed as one:

    w = Window.orderBy(desc(score))
    TP(rank) = sum(label)  over w      FP(rank) = sum(1-label) over w

Two curve shapes are provided:

- :func:`curve_per_rank` — one row per test row (bit-parity with the
  reference's vectors, including its trailing-rank conventions). A
  global-order window is a single-partition sort at heart, so this is
  for parity and driver-sized test sets.
- :func:`curve_by_threshold` — one row per *distinct score*
  (tie-collapsed, the sklearn ``roc_curve`` convention). The heavy
  lifting is a groupBy(score) aggregation first, so the windowed part
  runs over |distinct scores| rows — the scalable default at 100 TB
  (a billion-row test set with float scores still collapses to at
  most a few million curve points, and the window input is tiny).
  The cumulative sums are two-level (:func:`_bucketed_cumsum`):
  bucket-partitioned windows plus offsets from one collect of at most
  ``n_buckets`` totals, driver-sized by construction.

AUC is provided as trapezoid-over-curve (exact parity with
calculateAUC, src/NLP_functions.py:663-678) and as the rank-statistic
form (Mann-Whitney with tie correction) which needs no curve at all —
one aggregation, fully distributed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# Two-level distributed cumulative sum (the curve engine's scale core)
# --------------------------------------------------------------------------

def _range_bucket(
    c: Column, n_buckets: int, lo: float, hi: float, descending: bool
) -> Column:
    """Monotone range-bucket id in [0, n_buckets) for ``c``.

    Bucket 0 is *first* in the requested order (highest scores when
    ``descending``). Values outside [lo, hi] clamp into the end
    buckets — the split stays order-correct (the cumsum is exact for
    any monotone bucketing), only the balance suffers, so ``lo``/``hi``
    need only be approximate. NaN sorts greatest in Spark, so it maps
    to the greatest-value bucket explicitly.
    """
    span = float(hi) - float(lo)
    u = (F.least(F.greatest(c, F.lit(float(lo))), F.lit(float(hi))) - F.lit(float(lo))) / F.lit(span)
    pos = F.least(F.floor(u * n_buckets), F.lit(n_buckets - 1)).cast("int")
    pos = F.when(F.isnan(c), F.lit(n_buckets - 1)).otherwise(pos)
    return (F.lit(n_buckets - 1) - pos) if descending else pos


def _bucketed_cumsum(
    per_key: DataFrame,
    key_col: str,
    sum_cols: dict[str, str],
    descending: bool,
    n_buckets: int,
    score_range: tuple[float, float],
) -> DataFrame:
    """Cumulative sums of ``sum_cols`` over ``per_key`` ordered by
    ``key_col``, with no global window.

    The classic two-level split: range-bucket the keys (bucket order =
    key order), cumsum *within* each bucket (``Window.partitionBy(
    bucket)`` — distributed), and add each bucket's offset = the sum of
    all earlier buckets' totals. The totals table has at most
    ``n_buckets`` rows, driver-sized by construction, so it comes back
    in one collect; offsets and grand totals are a sequential Python sum
    over it, injected as one array literal per column (read with
    ``element_at(offsets, __b + 1)``) and one ``__tot_<col>`` literal.
    No single-partition Exchange anywhere in the plan.

    Exactness: the inputs here are counts (integer-valued doubles), so
    regrouping the additions cannot round — the two-level sums equal
    the sequential ones bit-for-bit below 2^53 rows.

    ``sum_cols`` maps input column → output cumulative column (offsets
    are ``double``). Global totals ride along as ``__tot_<col>``
    columns of ``sum(<col>)``'s type, null on empty input.
    """
    key = F.col(key_col)
    bucketed = per_key.withColumn(
        "__b", _range_bucket(key, n_buckets, *score_range, descending=descending)
    )
    totals = bucketed.groupBy("__b").agg(*[F.sum(src).alias(src) for src in sum_cols])
    by_bucket = {row["__b"]: row for row in totals.collect()}
    order = key.desc() if descending else key.asc()
    w = Window.partitionBy("__b").orderBy(order).rowsBetween(Window.unboundedPreceding, 0)
    grand, cums = {}, {}
    for src, dst in sum_cols.items():
        offsets, run = [], None
        for b in range(n_buckets):
            offsets.append(float(run or 0))
            t = by_bucket[b][src] if b in by_bucket else None
            if t is not None:
                run = t if run is None else run + t
        grand[f"__tot_{src}"] = F.lit(run).cast(totals.schema[src].dataType)
        # One string literal split and cast in the JVM (folded to an array
        # literal): a list or numpy literal costs a py4j call per element.
        arr = F.split(F.lit(",".join(map(repr, offsets))), ",").cast("array<double>")
        off = F.element_at(arr, F.col("__b") + 1)
        cums[dst] = F.sum(src).over(w) + off
    return bucketed.withColumns({**grand, **cums}).drop("__b")


# --------------------------------------------------------------------------
# E1/E2 — curve construction
# --------------------------------------------------------------------------

def curve_per_rank(
    df: DataFrame, score_col: str = "score", label_col: str = "label", tiebreak: str | None = None
) -> DataFrame:
    """E1+E2 — full ROC/PR/F1 curve, one row per ranked prediction.

    Columns: rank, score, tp, fp, tpr (recall), fpr, precision, f1.
    Ref: sortedPredictionList + score_binary
    (src/TextClassification.py:612-723). Deterministic under score
    ties via ``tiebreak`` (defaults to the label, matching a stable
    sort on score only as closely as SQL semantics allow — pass an id
    column for full determinism).
    """
    order = [F.col(score_col).desc()]
    order.append(F.col(tiebreak).asc() if tiebreak else F.col(label_col).desc())
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    lbl = F.col(label_col).cast("double")
    out = (
        df.select(
            F.col(score_col).cast("double").alias("score"),
            lbl.alias("label"),
            *([F.col(tiebreak).alias("__tb")] if tiebreak else []),
        )
        .withColumn("tp", F.sum("label").over(w))
        .withColumn("fp", F.sum(1 - F.col("label")).over(w))
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)))
    )
    n_pos = F.sum("label").over(Window.partitionBy())
    n_neg = F.sum(1 - F.col("label")).over(Window.partitionBy())
    out = (
        out.withColumn("tpr", F.col("tp") / n_pos)
        .withColumn("fpr", F.col("fp") / n_neg)
        .withColumn("precision", F.col("tp") / (F.col("tp") + F.col("fp")))
        .withColumn(
            "f1",
            F.when(
                (F.col("precision") + F.col("tpr")) > 0,
                2 * F.col("precision") * F.col("tpr") / (F.col("precision") + F.col("tpr")),
            ).otherwise(F.lit(0.0)),
        )
    )
    cols = ["rank", "score", "label", "tp", "fp", "tpr", "fpr", "precision", "f1"]
    return out.select(*cols)


def curve_by_threshold(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    n_buckets: int = 1024,
    score_range: tuple[float, float] = (0.0, 2.0),
) -> DataFrame:
    """E2 (scalable) — tie-collapsed curve, one row per distinct score.

    groupBy(score) first (full map-side combine), then the cumulative
    TP/FP sums run as a *two-level* cumsum (:func:`_bucketed_cumsum`):
    range-bucketed partition-local windows plus per-bucket offsets from
    one collect of at most ``n_buckets`` totals. No global window — at
    10⁹ distinct raw-double scores the old ``Window.orderBy(score)``
    funneled the whole curve through one task; this plan keeps every
    stage partitioned. Semantics match sklearn's ``roc_curve`` points
    (thresholds descending), and the values are bit-identical to the
    sequential cumsum (counts sum exactly in any order). The curve
    comes back materialised, so its readers share one computation.

    ``score_range`` bounds only the bucket *balance* (defaults cover
    probabilities and the shifted scores used in tests); out-of-range
    scores clamp into the end buckets, still correct.
    """
    lbl = F.col(label_col).cast("double")
    per_score = df.groupBy(F.col(score_col).cast("double").alias("score")).agg(
        F.sum(lbl).alias("pos"),
        F.sum(1 - lbl).alias("neg"),
    )
    out = _bucketed_cumsum(
        per_score,
        "score",
        {"pos": "tp", "neg": "fp"},
        descending=True,
        n_buckets=n_buckets,
        score_range=score_range,
    )
    n_pos = F.col("__tot_pos")
    n_neg = F.col("__tot_neg")
    # localCheckpoint: the CV harness reads the curve three times (one
    # collect, two PR trapezoids); left lazy, each read re-ran the score
    # groupBy and the windows. The curve is ≤ |distinct scores| rows.
    return (
        out.withColumn("tpr", F.col("tp") / n_pos)
        .withColumn("fpr", F.col("fp") / n_neg)
        .withColumn("precision", F.col("tp") / (F.col("tp") + F.col("fp")))
        .withColumn(
            "f1",
            F.when(
                (F.col("precision") + F.col("tpr")) > 0,
                2 * F.col("precision") * F.col("tpr") / (F.col("precision") + F.col("tpr")),
            ).otherwise(F.lit(0.0)),
        )
        .select("score", "tp", "fp", "tpr", "fpr", "precision", "f1")
        .localCheckpoint()
    )


# --------------------------------------------------------------------------
# E3 — AUC
# --------------------------------------------------------------------------

def auc_trapezoid(
    curve: DataFrame, x_col: str = "fpr", y_col: str = "tpr", anchor_origin: bool = True
) -> DataFrame:
    """E3 — trapezoid integration of a curve DataFrame → 1-row DF.

    Ref: calculateAUC (src/NLP_functions.py:663-678,
    src/TextClassification.py:385-400) — manual trapezoid sum. Here:
    lag window + sum. ``anchor_origin`` prepends the implicit (0,0)
    point (the reference's curves start from the first ranked row).

    Scale contract (like :func:`curve_per_rank`): expects a
    *driver-sized* curve (the tie-collapsed output of model
    probabilities — thousands of points), so the single lag window is
    one small task, and the sequential sum keeps the float result
    run-stable. For billion-distinct-score ROC integration use
    :func:`auc_rank` (exact rank arithmetic, fully distributed);
    trapezoid segments are not exactly representable, so a distributed
    float sum would trade bit-stability for nothing this op needs.
    The curve is coalesced to one partition before the window, so the
    window needs no ``Exchange SinglePartition`` (one job, not two).
    """
    w = Window.orderBy(F.col(x_col).asc(), F.col(y_col).asc())
    x, y = F.col(x_col), F.col(y_col)
    lx = F.lag(x_col).over(w)
    ly = F.lag(y_col).over(w)
    if anchor_origin:
        lx = F.coalesce(lx, F.lit(0.0))
        ly = F.coalesce(ly, F.lit(0.0))
    seg = (x - lx) * (y + ly) / 2.0
    return curve.coalesce(1).select(seg.alias("seg")).agg(F.sum("seg").alias("auc"))


def auc_rank(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    n_buckets: int = 1024,
    score_range: tuple[float, float] = (0.0, 2.0),
) -> DataFrame:
    """E3 (scalable) — ROC-AUC as the Mann-Whitney rank statistic.

    AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg) with average
    ranks for ties — identical to trapezoid ROC-AUC on the
    tie-collapsed curve, but computed with one groupBy + a two-level
    distributed cumsum over distinct scores (:func:`_bucketed_cumsum`
    — no global window, no single-partition funnel) + one aggregate.
    ``cnt`` is integral, so the regrouped rank sums are bit-identical
    to a sequential cumsum.
    """
    lbl = F.col(label_col).cast("double")
    per_score = df.groupBy(F.col(score_col).cast("double").alias("s")).agg(
        F.sum(lbl).alias("pos"), F.count("*").cast("double").alias("cnt")
    )
    ranked = _bucketed_cumsum(
        per_score,
        "s",
        {"cnt": "cum"},
        descending=False,
        n_buckets=n_buckets,
        score_range=score_range,
    ).withColumn("avg_rank", F.col("cum") - (F.col("cnt") - 1) / 2.0)
    agg = ranked.agg(
        F.sum(F.col("avg_rank") * F.col("pos")).alias("r_pos"),
        F.sum("pos").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("pos")).alias("n_neg"),
    )
    return agg.select(
        (
            (F.col("r_pos") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0)
            / (F.col("n_pos") * F.col("n_neg"))
        ).alias("auc")
    )


# --------------------------------------------------------------------------
# E7/E8 — confusion matrix and derived scores
# --------------------------------------------------------------------------

def confusion_counts(
    df: DataFrame, label_col: str = "label", pred_col: str = "pred"
) -> DataFrame:
    """E7 — long-form confusion matrix: (label, pred, n).

    Ref: plot_confusion_matrix (src/TextClassification.py:892-949).
    """
    return (
        df.groupBy(F.col(label_col).cast("int").alias("label"), F.col(pred_col).cast("int").alias("pred"))
        .agg(F.count("*").alias("n"))
    )


def confusion_scores(
    df: DataFrame, label_col: str = "label", pred_col: str = "pred"
) -> DataFrame:
    """E8 — TPR/TNR/PPV/NPV/FPR/FNR/FDR/ACC as one aggregation row.

    Ref: scoresCM (src/TextClassification.py:865-890). One pass, four
    conditional counts, scalar arithmetic — no pivot needed.
    """
    lbl = F.col(label_col).cast("int")
    prd = F.col(pred_col).cast("int")
    agg = df.agg(
        F.sum(((lbl == 1) & (prd == 1)).cast("long")).alias("tp"),
        F.sum(((lbl == 0) & (prd == 1)).cast("long")).alias("fp"),
        F.sum(((lbl == 1) & (prd == 0)).cast("long")).alias("fn"),
        F.sum(((lbl == 0) & (prd == 0)).cast("long")).alias("tn"),
    )
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    return agg.select(
        tp, fp, fn, tn,
        (tp / (tp + fn)).alias("tpr"),
        (tn / (tn + fp)).alias("tnr"),
        (tp / (tp + fp)).alias("ppv"),
        (tn / (tn + fn)).alias("npv"),
        (fp / (fp + tn)).alias("fpr"),
        (fn / (fn + tp)).alias("fnr"),
        (fp / (fp + tp)).alias("fdr"),
        ((tp + tn) / (tp + tn + fp + fn)).alias("acc"),
        (2 * tp / (2 * tp + fp + fn)).alias("f1"),
    )


def kappa_mcc(
    df: DataFrame, label_col: str = "label", pred_col: str = "pred"
) -> DataFrame:
    """Cohen's κ and Matthews correlation from one confusion pass.

    Extends E8 (scoresCM, src/TextClassification.py:865-890) with the
    two chance-corrected agreement statistics the reference's
    classification_report lacks. κ is emitted in exact integer
    micro-units — κ = (n·(tp+tn) − E) / (n² − E) with
    E = (tp+fp)(tp+fn) + (fn+tn)(fp+tn), every product in
    DECIMAL(38,0) (n up to ~10⁹ squares past 2^63) and one integral
    division at the end, so the value hashes identically on any
    partitioning and in the SQL oracle. MCC needs a square root, so it
    is a double — computed from the same exact integer products and
    rounded to 1e-6 (one sqrt + one divide; IEEE-deterministic in both
    engines). Degenerate margins (all-one-class) yield NULL for both,
    matching the SQL twin.

    Output: 1 row (tp, fp, fn, tn, kappa_micro, mcc).
    """
    lbl = F.col(label_col).cast("int")
    prd = F.col(pred_col).cast("int")
    agg = df.agg(
        F.sum(((lbl == 1) & (prd == 1)).cast("long")).alias("tp"),
        F.sum(((lbl == 0) & (prd == 1)).cast("long")).alias("fp"),
        F.sum(((lbl == 1) & (prd == 0)).cast("long")).alias("fn"),
        F.sum(((lbl == 0) & (prd == 0)).cast("long")).alias("tn"),
    )
    d = "CAST({} AS DECIMAL(38,0))"
    e = (
        "(CAST(tp+fp AS DECIMAL(38,0)) * (tp+fn)"
        " + CAST(fn+tn AS DECIMAL(38,0)) * (fp+tn))"
    )
    n = d.format("tp+fp+fn+tn")
    kappa = (
        f"CAST(CASE WHEN {n}*{n} - {e} <> 0 THEN"
        f" (1000000 * ({n} * (tp+tn) - {e})) div ({n}*{n} - {e})"
        " ELSE NULL END AS BIGINT)"
    )
    mcc_num = "CAST(tp AS DECIMAL(38,0)) * tn - CAST(fp AS DECIMAL(38,0)) * fn"
    mcc_den = (
        "CAST(tp+fp AS DECIMAL(38,0)) * (tp+fn) * (tn+fp) * (tn+fn)"
    )
    mcc = (
        f"CASE WHEN {mcc_den} <> 0 THEN"
        f" round(CAST(({mcc_num}) AS DOUBLE) / sqrt(CAST({mcc_den} AS DOUBLE)), 6)"
        " ELSE NULL END"
    )
    return agg.select(
        "tp", "fp", "fn", "tn",
        F.expr(kappa).alias("kappa_micro"),
        F.expr(mcc).alias("mcc"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins in exact micro-units (the data behind a
    calibration curve / ECE — a model-QC step the reference stops short
    of, essential when harvested probabilities gate a training-data
    pipeline).

    One map-side-combined groupBy over ``clamp(floor(score·n_bins))``:
    per bin the count, positive count, mean predicted score and
    empirical positive rate — the latter two as integer micro-units
    (score quantized to 1e-6 BEFORE summation, then one integral
    division), so bins hash identically across engines and
    partitionings; a float mean would depend on accumulation order.

    Output: (bin, n, n_pos, mean_score_micro, pos_rate_micro).
    """
    if n_bins < 2:
        raise ValueError(f"calibration_bins needs n_bins >= 2, got {n_bins}")
    s = F.col(score_col).cast("double")
    # bin is LONG to match the oracle twin's BIGINT final (int-width
    # drift is hash-safe today but costs nothing to normalize away)
    b = F.least(
        F.greatest(F.floor(s * n_bins).cast("long"), F.lit(0).cast("long")),
        F.lit(n_bins - 1).cast("long"),
    )
    sm = F.round(s * 1_000_000, 0).cast("long")
    per = (
        df.select(b.alias("bin"), sm.alias("sm"), F.col(label_col).cast("long").alias("y"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("n_pos"),
            F.sum("sm").alias("ssm"),
        )
    )
    return per.select(
        "bin",
        "n",
        "n_pos",
        F.expr("ssm div n").alias("mean_score_micro"),
        F.expr("1000000 * n_pos div n").alias("pos_rate_micro"),
    )


def expected_calibration_error(bins: DataFrame) -> DataFrame:
    """ECE (micro-units) from :func:`calibration_bins` output — the
    bin-weighted mean |confidence − accuracy|, all integer arithmetic:
    ece = Σ n·|mean_score_micro − pos_rate_micro| div Σ n."""
    return bins.agg(
        F.expr(
            "CAST(sum(CAST(n AS DECIMAL(38,0))"
            " * abs(mean_score_micro - pos_rate_micro))"
            " div sum(n) AS BIGINT)"
        ).alias("ece_micro")
    )


def auc_by_group(
    df: DataFrame,
    group_col: str,
    score_col: str = "score",
    label_col: str = "label",
) -> DataFrame:
    """Per-group Mann-Whitney ROC-AUC with tie correction — the metric
    breakdown behind per-source / per-cohort model QC (does the
    classifier hold up on every data source, not just on average?).

    Same rank statistic as :func:`auc_rank`, but the cumulative rank
    runs under a window PARTITIONED BY GROUP over the per-(group,
    score) aggregate — bounded by each group's distinct-score count,
    never corpus-global, and the heavy row-level pass is one
    map-side-combined groupBy. ``cnt`` is integral so the rank sums
    are order-exact; the final AUC is one exact-integer-ratio divide.

    Groups with no positives or no negatives yield NULL AUC (the
    statistic is undefined there), matching the SQL twin.

    Output: (group_col, n_pos, n_neg, auc).
    """
    lbl = F.col(label_col).cast("double")
    per = df.groupBy(
        F.col(group_col).alias("__grp"), F.col(score_col).cast("double").alias("s")
    ).agg(F.sum(lbl).alias("pos"), F.count("*").cast("double").alias("cnt"))
    w = (
        Window.partitionBy("__grp")
        .orderBy(F.col("s").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = per.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "avg_rank", F.col("cum") - (F.col("cnt") - 1) / 2.0
    )
    agg = ranked.groupBy("__grp").agg(
        F.sum(F.col("avg_rank") * F.col("pos")).alias("r_pos"),
        F.sum("pos").alias("p"),
        F.sum(F.col("cnt") - F.col("pos")).alias("q"),
    )
    return agg.select(
        F.col("__grp").alias(group_col),
        F.col("p").cast("long").alias("n_pos"),
        F.col("q").cast("long").alias("n_neg"),
        F.when(
            (F.col("p") > 0) & (F.col("q") > 0),
            (F.col("r_pos") - F.col("p") * (F.col("p") + 1) / 2.0)
            / (F.col("p") * F.col("q")),
        ).alias("auc"),
    )


def threshold_predictions(
    df: DataFrame, score_col: str = "score", threshold: float = 0.5, out_col: str = "pred"
) -> DataFrame:
    """Apply a probability cut-off (ref: classificationReport at 0.68,
    NB cell 86)."""
    return df.withColumn(out_col, (F.col(score_col) >= F.lit(threshold)).cast("int"))


# --------------------------------------------------------------------------
# E9 — threshold search over the curve table
# --------------------------------------------------------------------------

def search_threshold(
    curve: DataFrame, metric: str, desired: float, maximize: str = "precision"
) -> DataFrame:
    """E9 — smallest-score threshold meeting ``metric >= desired`` that
    maximizes ``maximize``.

    Ref: getConfusionMatrix (src/TextClassification.py:793-823). Pure
    filter + order + limit over the (tiny) curve table.
    """
    return (
        curve.filter(F.col(metric) >= F.lit(desired))
        .orderBy(F.col(maximize).desc(), F.col("score").desc())
        .limit(1)
    )


def optimal_cutoff_youden(curve: DataFrame) -> DataFrame:
    """E9 — reference's optimalCutoff: argmin |tpr - (1 - fpr)|.

    Ref: src/NLP_functions.py:229-257.
    """
    gap = F.abs(F.col("tpr") - (1 - F.col("fpr")))
    return curve.orderBy(gap.asc(), F.col("score").desc()).limit(1)


def cutoff_plot_points(curve: DataFrame, max_points: int = 512) -> list:
    """Driver-bounded (score, tpr, fpr) rows for the CutOffPlot figure.

    Ref: optimalCutoff(plot=True) (src/NLP_functions.py:229-257) plots
    the FULL per-threshold vectors; at 100 TB a tie-collapsed curve can
    still be millions of rows, so this thins to ≤ ``max_points`` rows
    with a deterministic every-kth-rank pick (the last row is always
    kept so the curve reaches its endpoint). The rank window runs over
    the already-collapsed curve table — the same driver-sized relation
    the ≤100-pt ROC grids read — never over row-level predictions.
    """
    n = curve.count()
    if n == 0:
        return []
    step = max(1, -(-n // max_points))  # ceil
    w = Window.orderBy(F.col("score").desc())
    rn = F.row_number().over(w)
    thin = (
        curve.select("score", "tpr", "fpr", rn.alias("__rn"))
        .filter(((F.col("__rn") - 1) % step == 0) | (F.col("__rn") == n))
        .orderBy(F.col("__rn").asc())
    )
    return [(r["score"], r["tpr"], r["fpr"]) for r in thin.collect()]


# --------------------------------------------------------------------------
# E14 — swarm/scatter plot data
# --------------------------------------------------------------------------

def swarm_points(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    max_points: int = 2000,
    salt: str = "swarm",
    key_col: str | None = None,
) -> DataFrame:
    """E14 — the (label, score) points behind plotSwarm/plotScatter.

    Ref: plotSwarm (src/TextClassification.py:986-1019), plotScatter
    (:484-513) — seaborn scatter of predicted probabilities per class.
    Plotting itself is out of engine scope; this op produces the
    plot's data, hash-downsampled to a driver-safe point budget
    (deterministic md5 threshold per row — same points at any
    parallelism, no window, no sort).

    Pass ``key_col`` (a row id) when scores can tie heavily — e.g. a
    hard 0/1 classifier: hashing the score alone keeps or drops every
    tied row together, so the sample would be all-or-nothing per
    distinct score. Without a key the hash falls back to the score
    (fine for continuous probabilities, where ties are rare).
    """
    n = df.count()
    if n <= max_points:
        return df.select(F.col(label_col).alias("label"), F.col(score_col).alias("score"))
    # Scale the bucket count with n so the keep-fraction never floors to
    # zero: at n > max_points·1e6 a fixed 1e6-bucket grid would truncate
    # cut to 0 and return nothing at exactly the scale sampling matters.
    buckets = max(1_000_000, n)
    cut = max(1, int(max_points / n * buckets))
    key = F.col(key_col) if key_col else F.col(score_col)
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("§", key.cast("string"), F.lit(salt))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % buckets
    )
    return df.filter(h < cut).select(
        F.col(label_col).alias("label"), F.col(score_col).alias("score")
    )


# --------------------------------------------------------------------------
# E10 — classification report (composition)
# --------------------------------------------------------------------------

def classification_report(
    df: DataFrame, score_col: str = "score", label_col: str = "label", threshold: float = 0.5
) -> DataFrame:
    """E10 — thresholded confusion scores + ROC-AUC in one row.

    Ref: classificationReport (src/TextClassification.py:1097-1145).
    """
    preds = threshold_predictions(df, score_col, threshold)
    scores = confusion_scores(preds, label_col, "pred")
    auc = auc_rank(df, score_col, label_col)
    return scores.crossJoin(auc)


# Poisson(1) CDF, cumulative — the inverse-CDF thresholds for the
# deterministic bootstrap weights (hash-uniform u -> draw k).
_POISSON1_CDF = (
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712, 0.9999897508033253, 0.999998874797402,
)


def auc_bootstrap_ci(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    id_col: str = "id",
    n_boot: int = 32,
    alpha: float = 0.05,
) -> DataFrame:
    """Deterministic Poisson-bootstrap confidence interval for ROC-AUC.

    "AUC = 0.953" alone cannot gate a model promotion — the CI can.
    The classic with-replacement bootstrap doesn't distribute (sampling
    N rows N times per replicate needs global coordination); the
    standard scale trick is the POISSON bootstrap: each row enters
    replicate b with weight ~ Poisson(1), independent per (row, b) —
    and here the draw is derived from ``md5(id|b)`` through the exact
    inverse CDF (thresholds are shared literals; u is an exact rational
    micro-grid point, so every engine and partitioning draws identical
    weights). Each replicate's AUC is the WEIGHTED Mann-Whitney rank
    statistic — integer weights mean it equals the plain statistic on
    the expanded multiset — computed for all replicates in one plan:
    explode ``n_boot`` tags, one map-side-combined groupBy to
    (b, score) weighted counts, per-replicate rank windows (partitioned
    by b — bounded by distinct scores), and an exact order-statistic
    pick of the percentile bounds over the ≤n_boot AUC rows.

    Replicates that lose a whole class (possible only for tiny inputs)
    drop out; ``n_effective`` reports how many contributed.

    Output: 1 row (n_boot, n_effective, auc_lo, auc_hi) — bounds
    rounded to 1e-6.
    """
    if n_boot < 4 or not 0 < alpha < 1:
        raise ValueError("auc_bootstrap_ci needs n_boot >= 4 and 0 < alpha < 1")
    from diagnosisextraction_ml_spark.functions.hashing import md5_hash64

    b = F.explode(F.sequence(F.lit(0), F.lit(n_boot - 1))).alias("b")
    base = df.select(
        F.col(id_col).cast("string").alias("__id"),
        F.col(score_col).cast("double").alias("s"),
        F.col(label_col).cast("double").alias("y"),
    ).select("__id", "s", "y", b)
    u = (
        (md5_hash64(F.concat_ws("|", F.col("__id"), F.col("b").cast("string")))
         % 1_000_000).cast("double") + 0.5
    ) / 1_000_000.0
    w = F.lit(len(_POISSON1_CDF))
    for k in range(len(_POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < _POISSON1_CDF[k], F.lit(k)).otherwise(w)
    per = (
        base.withColumn("w", w.cast("double"))
        .groupBy("b", "s")
        .agg(
            F.sum(F.col("w") * F.col("y")).alias("pos"),
            F.sum("w").alias("cnt"),
        )
        .filter(F.col("cnt") > 0)
    )
    wr = (
        Window.partitionBy("b")
        .orderBy(F.col("s").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = per.withColumn("cum", F.sum("cnt").over(wr)).withColumn(
        "avg_rank", F.col("cum") - (F.col("cnt") - 1) / 2.0
    )
    aucs = (
        ranked.groupBy("b")
        .agg(
            F.sum(F.col("avg_rank") * F.col("pos")).alias("r_pos"),
            F.sum("pos").alias("p"),
            F.sum(F.col("cnt") - F.col("pos")).alias("q"),
        )
        .filter((F.col("p") > 0) & (F.col("q") > 0))
        .select(
            F.round(
                (F.col("r_pos") - F.col("p") * (F.col("p") + 1) / 2.0)
                / (F.col("p") * F.col("q")),
                6,
            ).alias("auc")
        )
    )
    wa = Window.orderBy(F.col("auc").asc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wi = Window.orderBy(F.col("auc").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked_aucs = aucs.select(
        "auc",
        F.count(F.lit(1)).over(wi).alias("i"),
        F.count(F.lit(1)).over(wa).alias("m"),
    )
    lo_i = F.greatest(F.ceil(F.col("m") * (alpha / 2)), F.lit(1))
    hi_i = F.least(F.ceil(F.col("m") * (1 - alpha / 2)), F.col("m"))
    return ranked_aucs.agg(
        F.lit(n_boot).alias("n_boot"),
        F.max("m").cast("long").alias("n_effective"),
        F.min(F.when(F.col("i") >= lo_i, F.col("auc"))).alias("auc_lo"),
        F.min(F.when(F.col("i") >= hi_i, F.col("auc"))).alias("auc_hi"),
    )


def ndcg_at_k(
    ranked: DataFrame,
    relevance: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    rel_col: str = "rel",
) -> DataFrame:
    """NDCG@k per query — the graded ranking metric for the retrieval
    stack (BM25 / QL / RRF emit the ``ranked`` shape directly).

    ``ranked``: (query_id, rank, id...) — a ``*_topk`` output.
    ``relevance``: (query_id, id, rel) integer grades ≥ 0; missing
    (query, doc) pairs grade 0.

    Exactness: the per-rank discount 1/log₂(rank+1) enters as a
    PRECOMPUTED literal per rank (k literals — no runtime log), each
    gain (2^rel − 1)·discount is rounded to micro-units per row, and
    DCG/IDCG are integer sums of those — so the ratio is one integral
    division, bit-identical across engines. IDCG ranks each query's
    top-k grades with a per-query window (bounded by |relevance| per
    query). Queries with IDCG = 0 (no relevant docs) yield NULL.

    Output: (query_id, dcg_micro, idcg_micro, ndcg_micro).
    """
    if k < 1:
        raise ValueError(f"ndcg_at_k needs k >= 1, got {k}")
    import math

    discounts = {r: 1.0 / math.log2(r + 1) for r in range(1, k + 1)}
    disc = F.lit(None).cast("double")
    for r, d in discounts.items():
        disc = F.when(F.col("rank") == r, F.lit(d)).otherwise(disc)
    gain = F.pow(F.lit(2.0), F.col(rel_col).cast("double")) - F.lit(1.0)

    hits = (
        ranked.filter(F.col("rank") <= k)
        .join(relevance, ["query_id", id_col], "left")
        .na.fill({rel_col: 0})
        .select(
            "query_id",
            F.round(gain * disc * 1_000_000, 0).cast("long").alias("g"),
        )
    )
    dcg = hits.groupBy("query_id").agg(F.sum("g").alias("dcg_micro"))

    w = Window.partitionBy("query_id").orderBy(
        F.col(rel_col).desc(), F.col(id_col).asc()
    )
    ideal = (
        relevance.filter(F.col(rel_col) > 0)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.round(gain * disc * 1_000_000, 0).cast("long").alias("g"),
        )
        .groupBy("query_id")
        .agg(F.sum("g").alias("idcg_micro"))
    )
    return (
        dcg.join(ideal, ["query_id"], "left")
        .na.fill({"idcg_micro": 0})
        .select(
            "query_id",
            "dcg_micro",
            "idcg_micro",
            F.when(
                F.col("idcg_micro") > 0,
                F.expr(
                    "CAST(CAST(1000000 AS DECIMAL(38,0)) * dcg_micro"
                    " div idcg_micro AS BIGINT)"
                ),
            ).alias("ndcg_micro"),
        )
    )
