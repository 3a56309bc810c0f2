"""E1-E10 — curve engine tests against the reference's golden files.

The 16 committed ``output_files/pred*.csv`` (PRED|TRUE, written by
writePredictionsToFile, src/TextClassification.py:431-444) pin exact
ROC/PR vectors: an independent numpy implementation inside this test
recomputes them and the Spark window-cumsum curves must agree, and the
resulting ROC-AUCs must match BASELINE.md.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from diagnosisextraction_ml_spark.operators.evaluate import (
    _bucketed_cumsum,
    auc_rank,
    auc_trapezoid,
    classification_report,
    confusion_counts,
    confusion_scores,
    curve_by_threshold,
    curve_per_rank,
    optimal_cutoff_youden,
    search_threshold,
    threshold_predictions,
)

# BASELINE.md ROC-AUC targets recomputed from the golden files.
GOLDEN_ROC = {
    "predSVM.csv": 0.952,
    "predNaiveBayes.csv": 0.953,
    "predGradientBoosting.csv": 0.902,
    "predWordMatching.csv": 0.828,
    "predDummy.csv": 0.517,
    "predXGBoost.csv": 0.976,
}


def _numpy_rank_auc(scores: np.ndarray, labels: np.ndarray) -> float:
    """Independent Mann-Whitney AUC with average ranks for ties."""
    order = np.argsort(scores, kind="mergesort")
    s, y = scores[order], labels[order]
    ranks = np.empty(len(s))
    i = 0
    while i < len(s):
        j = i
        while j + 1 < len(s) and s[j + 1] == s[i]:
            j += 1
        ranks[i : j + 1] = (i + j) / 2.0 + 1.0
        i = j + 1
    n_pos = y.sum()
    n_neg = len(y) - n_pos
    return float((ranks[y == 1].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg))


@pytest.mark.parametrize("fname,target", sorted(GOLDEN_ROC.items()))
def test_golden_roc_auc(spark, reference_dir, fname, target):
    from diagnosisextraction_ml_spark.sources.readers import read_predictions

    df = read_predictions(spark, f"{reference_dir}/output_files/{fname}")
    got = auc_rank(df, "PRED", "TRUE").collect()[0]["auc"]
    rows = df.collect()
    scores = np.array([r["PRED"] for r in rows])
    labels = np.array([r["TRUE"] for r in rows])
    assert got == pytest.approx(_numpy_rank_auc(scores, labels), abs=1e-12)
    assert got == pytest.approx(target, abs=5e-4)


def test_golden_curve_vectors(spark, reference_dir):
    """The tie-collapsed curve equals an independent numpy cumsum."""
    from diagnosisextraction_ml_spark.sources.readers import read_predictions

    df = read_predictions(spark, f"{reference_dir}/output_files/predSVM.csv")
    rows = df.collect()
    scores = np.array([r["PRED"] for r in rows])
    labels = np.array([r["TRUE"] for r in rows])

    curve = curve_by_threshold(df, "PRED", "TRUE").orderBy("score").collect()
    uniq = np.unique(scores)
    for row in curve:
        mask = scores >= row["score"]
        assert row["tp"] == labels[mask].sum()
        assert row["fp"] == (1 - labels[mask]).sum()
        assert row["tpr"] == pytest.approx(labels[mask].sum() / labels.sum())
        assert row["precision"] == pytest.approx(labels[mask].mean())
    assert len(curve) == len(uniq)

    # Trapezoid over the tie-collapsed ROC equals the rank AUC.
    roc = auc_trapezoid(curve_by_threshold(df, "PRED", "TRUE")).collect()[0]["auc"]
    rank = auc_rank(df, "PRED", "TRUE").collect()[0]["auc"]
    assert roc == pytest.approx(rank, abs=1e-12)


def test_curve_per_rank_small(spark):
    df = spark.createDataFrame(
        [(0.9, 1), (0.8, 0), (0.7, 1), (0.3, 0)], "score double, label int"
    )
    rows = curve_per_rank(df).orderBy("rank").collect()
    assert [r["tp"] for r in rows] == [1, 1, 2, 2]
    assert [r["fp"] for r in rows] == [0, 1, 1, 2]
    assert rows[2]["tpr"] == pytest.approx(1.0)
    assert rows[2]["fpr"] == pytest.approx(0.5)
    assert rows[2]["precision"] == pytest.approx(2 / 3)


def test_confusion_and_report(spark):
    df = spark.createDataFrame(
        [(1, 1), (1, 1), (1, 0), (0, 1), (0, 0), (0, 0)], "label int, pred int"
    )
    counts = {(r["label"], r["pred"]): r["n"] for r in confusion_counts(df).collect()}
    assert counts == {(1, 1): 2, (1, 0): 1, (0, 1): 1, (0, 0): 2}
    s = confusion_scores(df).collect()[0]
    assert s["tp"] == 2 and s["fp"] == 1 and s["fn"] == 1 and s["tn"] == 2
    assert s["tpr"] == pytest.approx(2 / 3)
    assert s["acc"] == pytest.approx(4 / 6)
    assert s["f1"] == pytest.approx(2 * 2 / (2 * 2 + 1 + 1))

    scored = spark.createDataFrame(
        [(0.9, 1), (0.6, 1), (0.4, 0), (0.2, 0)], "score double, label int"
    )
    rep = classification_report(scored, threshold=0.5).collect()[0]
    assert rep["tp"] == 2 and rep["tn"] == 2
    assert rep["auc"] == pytest.approx(1.0)


def test_threshold_search_and_youden(spark):
    scored = spark.createDataFrame(
        [(0.9, 1), (0.8, 1), (0.6, 0), (0.5, 1), (0.3, 0), (0.1, 0)],
        "score double, label int",
    )
    curve = curve_by_threshold(scored)
    hit = search_threshold(curve, "tpr", 0.9, maximize="precision").collect()[0]
    assert hit["tpr"] >= 0.9
    yod = optimal_cutoff_youden(curve).collect()[0]
    assert 0.0 < yod["score"] <= 0.9

    preds = threshold_predictions(scored, "score", 0.55)
    assert [r["pred"] for r in preds.orderBy(preds.score.desc()).collect()] == [
        1, 1, 1, 0, 0, 0,
    ]


def test_swarm_points(spark):
    from diagnosisextraction_ml_spark.operators.evaluate import swarm_points

    df = spark.createDataFrame(
        [(i / 1000.0, i % 2) for i in range(1000)], "score double, label int"
    )
    small = swarm_points(df, max_points=5000)
    assert small.count() == 1000  # under budget: passthrough
    sampled = swarm_points(df, max_points=100)
    n = sampled.count()
    assert 40 < n < 200  # hash-threshold ~budget
    again = swarm_points(df.repartition(7), max_points=100)
    assert sorted(map(tuple, sampled.collect())) == sorted(map(tuple, again.collect()))


# ---------------------------------------------------------------------------
# κ / MCC, calibration bins + ECE, per-group AUC
# ---------------------------------------------------------------------------

def test_kappa_mcc_hand_computed(spark):
    from diagnosisextraction_ml_spark.operators.evaluate import kappa_mcc

    # tp=4 fp=1 fn=2 tn=3 -> n=10, po=0.7, pe=(5*6+5*4)/100=0.5
    # kappa=(0.7-0.5)/0.5=0.4; mcc=(12-2)/sqrt(5*6*4*5)=10/sqrt(600)
    rows = [(1, 1)] * 4 + [(0, 1)] * 1 + [(1, 0)] * 2 + [(0, 0)] * 3
    df = spark.createDataFrame(rows, "label int, pred int")
    r = kappa_mcc(df).collect()[0]
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (4, 1, 2, 3)
    assert r["kappa_micro"] == 400_000
    assert r["mcc"] == pytest.approx(10 / np.sqrt(600), abs=1e-6)


def test_kappa_mcc_degenerate_null(spark):
    from diagnosisextraction_ml_spark.operators.evaluate import kappa_mcc

    df = spark.createDataFrame([(1, 1), (1, 1)], "label int, pred int")
    r = kappa_mcc(df).collect()[0]
    assert r["kappa_micro"] is None and r["mcc"] is None


def test_calibration_bins_and_ece(spark):
    from diagnosisextraction_ml_spark.operators.evaluate import (
        calibration_bins,
        expected_calibration_error,
    )

    rows = [
        (0.05, 0), (0.05, 0),           # bin 0: rate 0, mean 50_000
        (0.75, 1), (0.75, 0),           # bin 7: rate 0.5, mean 750_000
        (1.2, 1),                       # clamps into bin 9
        (-0.1, 0),                      # clamps into bin 0
    ]
    df = spark.createDataFrame(rows, "score double, label int")
    bins = {r["bin"]: r for r in calibration_bins(df, n_bins=10).collect()}
    assert set(bins) == {0, 7, 9}
    assert bins[0]["n"] == 3 and bins[0]["n_pos"] == 0
    assert bins[0]["mean_score_micro"] == (50_000 + 50_000 - 100_000) // 3
    assert bins[7]["pos_rate_micro"] == 500_000
    assert bins[7]["mean_score_micro"] == 750_000
    assert bins[9]["pos_rate_micro"] == 1_000_000
    ece = expected_calibration_error(calibration_bins(df, n_bins=10)).collect()[0]
    # hand sum: 3*|0-0| + 2*|750000-500000| + 1*|1200000-1000000| over 6
    assert ece["ece_micro"] == (3 * 0 + 2 * 250_000 + 1 * 200_000) // 6


def test_auc_by_group_matches_numpy(spark):
    from diagnosisextraction_ml_spark.operators.evaluate import auc_by_group

    rows = []
    for i in range(200):
        g = i % 3
        label = 1 if i % 4 == 0 else 0
        score = ((i * 37) % 100) / 100.0 + 0.25 * label
        rows.append((g, score, label))
    df = spark.createDataFrame(rows, "grp int, score double, label int")
    got = {r["grp"]: r for r in auc_by_group(df, "grp").collect()}
    import numpy as np

    for g in (0, 1, 2):
        sub = [(s, y) for gg, s, y in rows if gg == g]
        scores = np.array([s for s, _ in sub])
        labels = np.array([y for _, y in sub])
        expect = _numpy_rank_auc(scores, labels)
        assert got[g]["auc"] == pytest.approx(expect, abs=1e-12)
        assert got[g]["n_pos"] == labels.sum()
        assert got[g]["n_neg"] == len(labels) - labels.sum()


def test_auc_by_group_single_class_null(spark):
    from diagnosisextraction_ml_spark.operators.evaluate import auc_by_group

    df = spark.createDataFrame(
        [("a", 0.4, 1), ("a", 0.6, 1), ("b", 0.5, 1), ("b", 0.2, 0)],
        "grp string, score double, label int",
    )
    got = {r["grp"]: r for r in auc_by_group(df, "grp").collect()}
    assert got["a"]["auc"] is None
    assert got["b"]["auc"] == pytest.approx(1.0)


def test_auc_bootstrap_ci_brackets_point_auc(spark):
    from diagnosisextraction_ml_spark.operators.evaluate import (
        auc_bootstrap_ci,
        auc_rank,
    )

    rows = [
        (i, ((i * 37) % 100) / 100.0 + 0.3 * (i % 3 == 0), int(i % 3 == 0))
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "id long, score double, label int")
    point = auc_rank(df).collect()[0]["auc"]
    ci = auc_bootstrap_ci(df, id_col="id", n_boot=24).collect()[0]
    assert ci["n_boot"] == 24 and ci["n_effective"] == 24
    assert ci["auc_lo"] <= point <= ci["auc_hi"]
    assert ci["auc_hi"] - ci["auc_lo"] < 0.2  # a real interval, not [0,1]
    # deterministic under repartitioning (hash-derived draws)
    again = auc_bootstrap_ci(df.repartition(7), id_col="id", n_boot=24).collect()[0]
    assert (ci["auc_lo"], ci["auc_hi"]) == (again["auc_lo"], again["auc_hi"])


def test_auc_bootstrap_ci_validation(spark):
    from diagnosisextraction_ml_spark.operators.evaluate import auc_bootstrap_ci

    df = spark.createDataFrame([(1, 0.5, 1)], "id long, score double, label int")
    with pytest.raises(ValueError):
        auc_bootstrap_ci(df, id_col="id", n_boot=2)
    with pytest.raises(ValueError):
        auc_bootstrap_ci(df, id_col="id", alpha=1.5)


def test_ndcg_hand_case(spark):
    import math

    from diagnosisextraction_ml_spark.operators.evaluate import ndcg_at_k

    ranked = spark.createDataFrame(
        [("q", 1, 10), ("q", 2, 20), ("q", 3, 30)],
        "query_id string, rank int, doc_id long",
    )
    rel = spark.createDataFrame(
        [("q", 10, 3), ("q", 30, 1), ("q", 99, 2)],
        "query_id string, doc_id long, rel int",
    )
    r = ndcg_at_k(ranked, rel, k=3).collect()[0]
    d2, d3 = 1 / math.log2(3), 1 / math.log2(4)
    dcg = round(7 * 1 * 1e6) + round(0 * d2 * 1e6) + round(1 * d3 * 1e6)
    # ideal: grades 3, 2, 1 -> 7 + 3·d2 + 1·d3
    idcg = round(7 * 1e6) + round(3 * d2 * 1e6) + round(1 * d3 * 1e6)
    assert r["dcg_micro"] == dcg
    assert r["idcg_micro"] == idcg
    assert r["ndcg_micro"] == (1_000_000 * dcg) // idcg


def test_ndcg_no_relevant_is_null(spark):
    from diagnosisextraction_ml_spark.operators.evaluate import ndcg_at_k

    ranked = spark.createDataFrame(
        [("q", 1, 10)], "query_id string, rank int, doc_id long"
    )
    rel = spark.createDataFrame([], "query_id string, doc_id long, rel int")
    r = ndcg_at_k(ranked, rel, k=3).collect()[0]
    assert r["dcg_micro"] == 0 and r["ndcg_micro"] is None


def test_curve_metrics_pinned_to_independent_hand_computed_values(spark):
    """Anchor curve_by_threshold + auc_trapezoid to constants derived
    OUTSIDE this repo's code (GOLDEN gate licensing: the PR-AUC and
    max-F1 goldens in tools/golden_report.py are recomputed with these
    same functions, so a shared-convention bug would cancel there —
    this fixture pins the convention itself).

    Fixture: scores .9..-.1 step .1, labels [1,0,1,1,0,1,0,1,0,0] with
    the two 0.7s tied. Hand-derived expectations:
    - ROC-AUC = 0.72, cross-checked by Mann-Whitney pair counting:
      positives {.9,.7,.7,.5,.3} beat negatives {.8,.6,.4,.2,.1} in
      5+4+4+3+2 = 18 of 25 pairs.
    - Anchored PR-AUC (sklearn-style (recall=0, precision=1) anchor,
      trapezoid over (recall, precision) sorted x asc, y asc) =
      3/20 + 8/25 + 37/280 + 7/60 = 3019/4200.
    - max F1 = 10/13 at threshold 0.3 (p=5/8, r=1).
    """
    import pytest
    from pyspark.sql import functions as F

    from diagnosisextraction_ml_spark.operators.evaluate import (
        auc_rank,
        auc_trapezoid,
        curve_by_threshold,
    )

    rows = list(
        zip(
            [0.9, 0.8, 0.7, 0.7, 0.6, 0.5, 0.4, 0.3, 0.2, 0.1],
            [1, 0, 1, 1, 0, 1, 0, 1, 0, 0],
        )
    )
    df = spark.createDataFrame(rows, "score double, label int")
    curve = curve_by_threshold(df).cache()

    roc = auc_trapezoid(curve, "fpr", "tpr").collect()[0]["auc"]
    assert roc == pytest.approx(18 / 25, abs=1e-12)
    rank = auc_rank(df).collect()[0]["auc"]
    assert rank == pytest.approx(18 / 25, abs=1e-12)

    pr_pts = curve.select(F.col("tpr").alias("x"), F.col("precision").alias("y"))
    anchor = spark.range(1).select(F.lit(0.0).alias("x"), F.lit(1.0).alias("y"))
    pr = auc_trapezoid(
        pr_pts.unionByName(anchor), "x", "y", anchor_origin=False
    ).collect()[0]["auc"]
    assert pr == pytest.approx(3019 / 4200, abs=1e-12)

    max_f1 = curve.agg(F.max("f1").alias("m")).collect()[0]["m"]
    assert max_f1 == pytest.approx(10 / 13, abs=1e-12)
    curve.unpersist()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _spark_order_key(k, descending):
    """Spark's sort position for a double key: nulls first ascending and
    last descending, NaN greater than every number."""
    if k is None:
        return (0, 0.0) if not descending else (3, 0.0)
    if math.isnan(k):
        return (2, 0.0) if not descending else (0, 0.0)
    return (1, k) if not descending else (1, -k)


@pytest.mark.parametrize("descending", [True, False])
def test_bucketed_cumsum_equals_sequential_python_cumsum(spark, descending):
    """The two-level cumsum (bucket-local windows + driver-side bucket
    offsets) equals a plain sequential cumsum exactly, over many
    buckets, with keys outside score_range, a NaN key and a null key
    (``greatest`` clamps null into the lowest bucket, so it keeps its
    row)."""
    import random

    rnd = random.Random(11)
    keys = sorted({round(rnd.uniform(-3.0, 13.0), 6) for _ in range(600)})
    keys += [float("nan"), None]
    rows = [(k, float(rnd.randint(0, 50)), rnd.randint(0, 9)) for k in keys]
    df = spark.createDataFrame(rows, "k double, a double, c long")
    out = _bucketed_cumsum(
        df, "k", {"a": "cum_a", "c": "cum_c"}, descending, 64, (0.0, 10.0)
    )

    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("k", "double"), ("a", "double"), ("c", "bigint"),
        ("__tot_a", "double"), ("__tot_c", "bigint"),
        ("cum_a", "double"), ("cum_c", "double"),
    ]
    expected, run_a, run_c = {}, 0.0, 0
    for k, a, c in sorted(rows, key=lambda r: _spark_order_key(r[0], descending)):
        run_a, run_c = run_a + a, run_c + c
        expected["null" if k is None else repr(k)] = (run_a, float(run_c))
    got = {
        "null" if r["k"] is None else repr(r["k"]): (r["cum_a"], r["cum_c"])
        for r in out.collect()
    }
    assert got == expected
    tots = out.select("__tot_a", "__tot_c").distinct().collect()
    assert [tuple(t) for t in tots] == [(run_a, run_c)]

    plan = _plan(out).replace(" ", "")
    assert "windowspecdefinition(__b" in plan
    assert plan.count("windowspecdefinition(") == plan.count("windowspecdefinition(__b")


def test_bucketed_cumsum_empty_and_null_counts(spark):
    """Empty input keeps the schema and yields no rows; counts that are
    all null give a null ``__tot_<col>`` of ``sum(<col>)``'s type."""
    from pyspark.sql import functions as F

    schema = "k double, c long"
    empty = _bucketed_cumsum(
        spark.createDataFrame([], schema), "k", {"c": "cum"}, True, 16, (0.0, 1.0)
    )
    nulls = _bucketed_cumsum(
        spark.createDataFrame([(0.5, None)], schema), "k", {"c": "cum"}, True, 16, (0.0, 1.0)
    )
    want = [("k", "double"), ("c", "bigint"), ("__tot_c", "bigint"), ("cum", "double")]
    assert empty.dtypes == nulls.dtypes == want
    assert empty.collect() == []
    assert empty.agg(F.max("__tot_c")).collect()[0][0] is None
    assert [tuple(r) for r in nulls.collect()] == [(0.5, None, None, None)]
