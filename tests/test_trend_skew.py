"""Exact-OLS trend slopes and key-skew profiling."""

from __future__ import annotations

from diagnosisextraction_ml_spark.operators.profile import key_skew_profile
from diagnosisextraction_ml_spark.operators.rollup import grouped_ols_trend


def test_ols_trend_exact_lines(spark):
    # y = 3x + 7 (micro: slope 3_000_000); y = -2x + 100; constant y
    rows = (
        [("up", x, 3_000_000 * x + 7_000_000) for x in range(10)]
        + [("down", x, -2_000_000 * x + 100_000_000) for x in range(10)]
        + [("flat", x, 5_000_000) for x in range(10)]
    )
    df = spark.createDataFrame(rows, "k string, x long, y long")
    got = {
        r["k"]: (r["n_points"], r["slope_micro"])
        for r in grouped_ols_trend(df, ["k"], "x", "y").collect()
    }
    assert got == {"up": (10, 3_000_000), "down": (10, -2_000_000), "flat": (10, 0)}


def test_ols_trend_negative_slope_truncates_like_positive(spark):
    # slope = -1/3: floor-vs-trunc would differ; sign-split must give
    # -(10^6 // 3) = -333333 (NOT -333334), mirror of the +1/3 case
    df = spark.createDataFrame(
        [("neg", 0, 0), ("neg", 3, -1_000_000), ("pos", 0, 0), ("pos", 3, 1_000_000)],
        "k string, x long, y long",
    )
    got = {r["k"]: r["slope_micro"] for r in grouped_ols_trend(df, ["k"], "x", "y").collect()}
    assert got["pos"] == 333_333
    assert got["neg"] == -333_333  # symmetric truncation


def test_ols_trend_degenerate_x_dropped(spark):
    df = spark.createDataFrame(
        [("a", 5, 1_000_000), ("a", 5, 2_000_000), ("b", 1, 1_000_000), ("b", 2, 3_000_000)],
        "k string, x long, y long",
    )
    got = {r["k"]: r["slope_micro"] for r in grouped_ols_trend(df, ["k"], "x", "y").collect()}
    assert set(got) == {"b"}
    assert got["b"] == 2_000_000


def test_ols_trend_partitioning_invariant(spark):
    rows = [("k", x, (x * 17 + (x % 5) * 31) * 1000) for x in range(200)]
    df = spark.createDataFrame(rows, "k string, x long, y long")
    a = grouped_ols_trend(df.repartition(1), ["k"], "x", "y").collect()[0]
    b = grouped_ols_trend(df.repartition(13), ["k"], "x", "y").collect()[0]
    assert a["slope_micro"] == b["slope_micro"]


def test_key_skew_profile(spark):
    # one hot key (50 rows), 50 uniform keys (1 row each): n=100, keys=51
    rows = [(0,)] * 50 + [(i,) for i in range(1, 51)]
    df = spark.createDataFrame(rows, "u long")
    out = key_skew_profile(df, "u", k=3).collect()
    assert [r["key"] for r in out] == ["0", "1", "10"]  # cnt desc, key asc
    top = out[0]
    assert (top["cnt"], top["n_rows"], top["n_keys"]) == (50, 100, 51)
    # skew = 1e6 * 50 * 51 / 100 = 25_500_000 (hot key is 25.5x the mean)
    assert top["skew_micro"] == 25_500_000


def test_key_skew_uniform_is_one(spark):
    df = spark.createDataFrame([(i % 10,) for i in range(100)], "u long")
    out = key_skew_profile(df, "u", k=1).collect()[0]
    assert out["skew_micro"] == 1_000_000
