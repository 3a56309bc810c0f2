"""O1-O4 / E4-E6 / E11 — CV harness tests, including the EP2
end-to-end reproduction of BASELINE.md metrics on the reference's own
dummy corpus (marked slow)."""

from __future__ import annotations

import math

import pytest

from diagnosisextraction_ml_spark.functions.stats import t_sf, ttest_5x2cv
from diagnosisextraction_ml_spark.plans.harness import CVConfig, TextClassificationHarness


def test_t_sf_against_known_values():
    # Student-t survival values (two-sided tables, df=5):
    # P(T > 2.015) ≈ 0.05, P(T > 0) = 0.5
    assert t_sf(0.0, 5) == pytest.approx(0.5, abs=1e-12)
    assert t_sf(2.015, 5) == pytest.approx(0.05, abs=2e-3)
    assert t_sf(12.7062, 1) == pytest.approx(0.025, abs=1e-4)


def test_ttest_5x2cv_identical_is_insignificant():
    a = [0.9, 0.91, 0.89, 0.9, 0.92, 0.88, 0.9, 0.91, 0.9, 0.89]
    t, p = ttest_5x2cv(a, a)
    assert t == 0.0 and p == pytest.approx(1.0)
    b = [x - 0.2 for x in a]
    t2, p2 = ttest_5x2cv(a, b)
    assert p2 < 0.05


@pytest.fixture(scope="module")
def patient_df(spark):
    from diagnosisextraction_ml_spark.operators.prep import binarize_label
    from diagnosisextraction_ml_spark.sources.readers import read_patient_cache

    df = read_patient_cache(spark, "/root/reference/sample_data/autocorrect_dummydata.csv")
    return binarize_label(df, "Outcome", "label").persist()


def test_harness_wordmatching_fast(patient_df):
    cfg = CVConfig(rounds=1, folds=2)
    h = TextClassificationHarness(patient_df, ["WordMatching"], cfg)
    results = h.fit_models()
    assert len(results["WordMatching"]) == 2
    for res in results["WordMatching"]:
        assert 0.6 < res.roc_auc < 1.0  # baseline WM ROC-AUC ≈ 0.83
    grid, mean_tpr, std_tpr = h.roc_grid("WordMatching", n_points=50)
    assert len(grid) == 50 and mean_tpr[-1] == pytest.approx(1.0)
    assert (std_tpr >= 0).all()
    med = h.median_iteration("WordMatching")
    assert med.model == "WordMatching"


@pytest.mark.slow
def test_fit_models_parallel_identical_to_sequential(patient_df):
    """O1 — the bounded thread pool must change wall-time only: same
    FoldResults (AUCs bit-identical), same result-list order."""
    import time

    cfg = CVConfig(rounds=2, folds=2)
    t0 = time.time()
    seq = TextClassificationHarness(patient_df, ["WordMatching", "NaiveBayes"], cfg)
    seq.fit_models(parallelism=1)
    t_seq = time.time() - t0
    t0 = time.time()
    par = TextClassificationHarness(patient_df, ["WordMatching", "NaiveBayes"], cfg)
    par.fit_models(parallelism=4)
    t_par = time.time() - t0
    for name in ["WordMatching", "NaiveBayes"]:
        a, b = seq.results[name], par.results[name]
        assert [(x.round, x.fold) for x in a] == [(y.round, y.fold) for y in b]
        assert [x.roc_auc for x in a] == [y.roc_auc for y in b]  # bit-exact
        assert [x.pr_auc for x in a] == [y.pr_auc for y in b]
        assert [x.max_f1 for x in a] == [y.max_f1 for y in b]
    # not asserted (timing flakes), but visible in -s runs:
    print(f"sequential {t_seq:.1f}s vs parallel {t_par:.1f}s")


@pytest.mark.slow
def test_ep2_baseline_parity(patient_df):
    """EP2 — NaiveBayes + SVM + WordMatching 5x2cv on the reference
    corpus; mean ROC-AUC within tolerance of BASELINE.md (SVM 0.952,
    NB 0.953, WM 0.828 — exact parity impossible: different TF-IDF
    formula/optimizers, SURVEY §7)."""
    cfg = CVConfig(rounds=5, folds=2)
    h = TextClassificationHarness(patient_df, ["WordMatching", "NaiveBayes", "SVM"], cfg)
    h.fit_models()
    s = h.summary()
    assert s["NaiveBayes"]["roc_auc_mean"] == pytest.approx(0.953, abs=0.05)
    assert s["SVM"]["roc_auc_mean"] == pytest.approx(0.952, abs=0.05)
    assert s["WordMatching"]["roc_auc_mean"] == pytest.approx(0.828, abs=0.06)
    # 5x2cv: learned models should beat the rule baseline significantly
    t, p = h.compare_5x2cv("NaiveBayes", "WordMatching")
    assert not math.isnan(t)


def test_prevalence_sweep_wordmatching(patient_df):
    from diagnosisextraction_ml_spark.plans.harness import prevalence_sweep

    rows = prevalence_sweep(patient_df, "WordMatching", [0.5, 0.2])
    assert [r["prevalence"] for r in rows] == [0.5, 0.2]
    for r in rows:
        assert 0.5 < r["roc_auc"] <= 1.0
        assert r["n_test"] > 0


def test_sample_size_sweep_wordmatching(patient_df):
    from diagnosisextraction_ml_spark.plans.harness import sample_size_sweep

    rows = sample_size_sweep(patient_df, "WordMatching", [50, 200])
    assert [r["n_train"] for r in rows] == [50, 200]
    assert all(0.5 < r["roc_auc"] <= 1.0 for r in rows)


def test_write_median_predictions(patient_df, tmp_path):
    from diagnosisextraction_ml_spark.plans.harness import CVConfig, TextClassificationHarness
    from diagnosisextraction_ml_spark.sources.readers import read_predictions

    cfg = CVConfig(rounds=1, folds=2)
    h = TextClassificationHarness(patient_df, ["WordMatching"], cfg)
    h.fit_models(persist_models=True)
    path = str(tmp_path / "predWM")
    med = h.write_median_predictions("WordMatching", path)
    spark = patient_df.sparkSession
    back = read_predictions(spark, path)
    assert back.count() > 100
    assert set(back.columns) == {"PRED", "TRUE"}
    # the written fold is the median result's test fold
    assert med.model == "WordMatching"


@pytest.mark.slow
@pytest.mark.parametrize(
    "model_name",
    ["NaiveBayes", "GradientBoosting", "NeuralNetworks", "DecisionTree",
     "SVM", "RandomForest", "Dummy", "SGDClassifier", "WordMatching",
     "XGBoost"],
)
def test_model_zoo_fits_and_scores(patient_df, model_name):
    """M1-M9 — every registry model fits and emits p1 in [0, 1]."""
    from diagnosisextraction_ml_spark.plans.models import build_model_pipeline

    small = patient_df.limit(120)
    model = build_model_pipeline(model_name).fit(small)
    scored = model.transform(small).select("p1")
    vals = [r["p1"] for r in scored.collect()]
    assert len(vals) == 120
    assert all(v is not None and 0.0 <= v <= 1.0 for v in vals)


def test_shuffle_rows_is_deterministic_for_seed(spark):
    from diagnosisextraction_ml_spark.operators.prep import shuffle_rows

    df = spark.range(100)
    a = [r["id"] for r in shuffle_rows(df, seed=42).collect()]
    b = [r["id"] for r in shuffle_rows(df, seed=42).collect()]
    assert a == b
    assert sorted(a) == list(range(100))


@pytest.mark.slow
def test_ep2_tree_models_parity(patient_df):
    """EP2 (tree models) — 1x2cv ROC-AUC vs BASELINE.md rows
    (GBT 0.902, RF 0.941, DT 0.721, Dummy 0.517). Trees diverge most
    across implementations (different split heuristics/feature
    hashing), so tolerances are wider than the linear/NB test."""
    cfg = CVConfig(rounds=1, folds=2)
    h = TextClassificationHarness(
        patient_df,
        ["GradientBoosting", "RandomForest", "DecisionTree", "Dummy",
         "NeuralNetworks", "SGDClassifier", "XGBoost"],
        cfg,
    )
    h.fit_models()
    s = h.summary()
    assert s["GradientBoosting"]["roc_auc_mean"] == pytest.approx(0.902, abs=0.06)
    # M9 stand-in (GBT with xgboost-0.90 defaults); golden predXGBoost
    # cohort is 0.976 — on the EP2 sample cohort it lands in GBT's band
    assert s["XGBoost"]["roc_auc_mean"] > 0.85
    assert s["RandomForest"]["roc_auc_mean"] == pytest.approx(0.941, abs=0.05)
    assert 0.65 < s["DecisionTree"]["roc_auc_mean"] < 0.92
    assert s["Dummy"]["roc_auc_mean"] == pytest.approx(0.517, abs=0.09)
    assert s["NeuralNetworks"]["roc_auc_mean"] == pytest.approx(0.948, abs=0.06)
    assert s["SGDClassifier"]["roc_auc_mean"] > 0.9  # LR stand-in (M9)
