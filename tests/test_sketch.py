"""Count-min sketch — overestimate guarantee, merge law, determinism."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from diagnosisextraction_ml_spark.operators import sketch


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "alpha beta gamma alpha"),
        (2, "beta beta delta"),
        (3, "alpha epsilon zeta eta theta"),
        (4, ""),
        (5, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _exact_counts(spark, corpus):
    from diagnosisextraction_ml_spark.functions.text import tokenize_expr

    return (
        corpus.select(F.explode(tokenize_expr(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )


def test_cms_never_underestimates(spark, corpus):
    sk = sketch.cms_build(corpus)
    exact = _exact_counts(spark, corpus)
    est = sketch.cms_estimate(sk, exact).collect()
    assert len(est) == 8  # distinct tokens
    for r in est:
        assert r.cms_est >= r.exact_n, r


def test_cms_exact_at_tiny_vocab(spark, corpus):
    # 8 tokens into 4x8192 cells: collisions are possible in principle
    # but the md5 cells of these fixed tokens do not collide, so the
    # estimates are exactly the counts — pins the arithmetic.
    sk = sketch.cms_build(corpus)
    exact = _exact_counts(spark, corpus)
    for r in sketch.cms_estimate(sk, exact).collect():
        assert r.cms_est == r.exact_n, r


def test_cms_total_mass_per_row(spark, corpus):
    # Every row of the grid sums to the total token count — the sketch
    # is a partition of the occurrence stream, per row.
    sk = sketch.cms_build(corpus).collect()
    total_tokens = 12  # count the fixture's tokens
    by_row = {}
    for r in sk:
        by_row[r.cms_row] = by_row.get(r.cms_row, 0) + r.cnt
    assert by_row == {r: total_tokens for r in range(sketch.DEPTH)}


def test_cms_merge_is_cellwise_sum(spark, corpus):
    # Sketch(a ∪ b) == cellwise Sketch(a) + Sketch(b): the monoid law
    # that makes map-side combine (and cross-day sketch merging) valid.
    a = corpus.filter(F.col("doc_id") <= 2)
    b = corpus.filter(F.col("doc_id") > 2)
    whole = {
        (r.cms_row, r.cms_col): r.cnt for r in sketch.cms_build(corpus).collect()
    }
    merged: dict[tuple[int, int], int] = {}
    for part in (a, b):
        for r in sketch.cms_build(part).collect():
            key = (r.cms_row, r.cms_col)
            merged[key] = merged.get(key, 0) + r.cnt
    assert merged == whole


def test_cms_partitioning_invariance(spark, corpus):
    one = {
        (r.cms_row, r.cms_col): r.cnt
        for r in sketch.cms_build(corpus.coalesce(1)).collect()
    }
    many = {
        (r.cms_row, r.cms_col): r.cnt
        for r in sketch.cms_build(corpus.repartition(7)).collect()
    }
    assert one == many


def test_cms_estimate_unseen_token_is_zero_or_collision(spark, corpus):
    sk = sketch.cms_build(corpus)
    cand = spark.createDataFrame([("nosuchtoken",)], "token string")
    [r] = sketch.cms_estimate(sk, cand).collect()
    # true count 0; estimate is >= 0 and only > 0 under cell collision
    assert r.cms_est >= 0


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def keyed(spark):
    # group 'small': 40 distinct keys (linear-counting branch);
    # group 'large': 5000 distinct keys (raw-estimate branch);
    # duplicates included to prove estimate depends on the SET only.
    rows = [("small", f"s{i % 40}") for i in range(200)]
    rows += [("large", f"l{i}") for i in range(5000)]
    return spark.createDataFrame(rows, "g string, k string")


def test_hll_accuracy_both_branches(spark, keyed):
    est = {
        r.g: r.hll_est
        for r in sketch.hll_distinct(keyed, F.col("k"), ["g"]).collect()
    }
    # m=512 registers → ~1.04/sqrt(512) ≈ 4.6% std error; allow 3 sigma.
    assert abs(est["small"] - 40) / 40 < 0.15
    assert abs(est["large"] - 5000) / 5000 < 0.15


def test_hll_duplicates_are_free(spark, keyed):
    once = keyed.dropDuplicates(["g", "k"])
    a = sorted(sketch.hll_distinct(keyed, F.col("k"), ["g"]).collect())
    b = sorted(sketch.hll_distinct(once, F.col("k"), ["g"]).collect())
    assert a == b


def test_hll_register_merge_is_union(spark, keyed):
    """Monoid law: max-merge of two halves' registers == whole's registers."""
    left = keyed.filter(F.length("k") <= 2)
    right = keyed.filter(F.length("k") > 2)
    whole = sketch.hll_registers(keyed, F.col("k"), ["g"])
    merged = (
        sketch.hll_registers(left, F.col("k"), ["g"])
        .unionByName(sketch.hll_registers(right, F.col("k"), ["g"]))
        .groupBy("g", "hll_reg")
        .agg(F.max("rho_max").alias("rho_max"))
    )
    assert sorted(map(tuple, whole.collect())) == sorted(
        map(tuple, merged.collect())
    )


def test_hll_rho_exact_on_crafted_hashes(spark):
    """The ulp-corrected bitlen must be exact at powers of two."""
    # Build rows whose md5 hash we don't control — instead check the
    # bitlen helper directly over every power of two in the w range.
    df = spark.range(0, 51).select(
        F.col("id").alias("e"),
        F.pow(F.lit(2.0), F.col("id").cast("double")).cast("long").alias("w"),
    )
    got = df.select(
        "e", (sketch._bitlen_exact(F.col("w")) - 1).alias("b")
    ).collect()
    for r in got:
        assert r.b == r.e, r


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def members(spark):
    return spark.range(0, 2000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )


def test_bloom_no_false_negatives(spark, members):
    bloom = sketch.bloom_build(members, F.col("k"))
    probed = sketch.bloom_probe(members, bloom, F.col("k")).collect()
    assert len(probed) == 2000
    assert all(r.bloom_maybe for r in probed)


def test_bloom_fpr_sane(spark, members):
    bloom = sketch.bloom_build(members, F.col("k"))
    novel = spark.range(0, 2000).select(
        F.concat(F.lit("other-"), F.col("id")).alias("k")
    )
    probed = sketch.bloom_probe(novel, bloom, F.col("k")).collect()
    fp = sum(1 for r in probed if r.bloom_maybe)
    # n=2000, m=65536, k=7 → theoretical FPR ≈ 2.8e-4; allow 1%.
    assert fp <= 20, fp


def test_bloom_or_merge_is_union(spark, members):
    """Monoid law: bitwise-OR merge of two halves == bloom of the union."""
    left = members.filter(F.col("k") < "key-1")
    right = members.filter(F.col("k") >= "key-1")
    whole = sketch.bloom_build(members, F.col("k"))
    merged = (
        sketch.bloom_build(left, F.col("k"))
        .unionByName(sketch.bloom_build(right, F.col("k")))
        .groupBy("bloom_word")
        .agg(F.bit_or("bloom_bits").alias("bloom_bits"))
    )
    assert sorted(map(tuple, whole.collect())) == sorted(
        map(tuple, merged.collect())
    )


def test_bloom_filter_is_small(spark, members):
    bloom = sketch.bloom_build(members, F.col("k"))
    assert bloom.count() <= sketch.BLOOM_BITS // 32


# ---------------------------------------------------------------------------
# Bottom-k sample
# ---------------------------------------------------------------------------


def test_bottomk_exact_below_k(spark):
    df = spark.createDataFrame(
        [("g", f"k{i % 20}") for i in range(200)], "g string, k string"
    )
    samp = sketch.bottomk_sample(df, F.col("k"), ["g"], k=64)
    assert samp.count() == 20  # all distinct keys survive
    est = sketch.bottomk_distinct_estimate(samp, ["g"], k=64).collect()[0]
    assert est.bk_est == 20  # exact below k


def test_bottomk_estimate_accuracy(spark, keyed):
    samp = sketch.bottomk_sample(df=keyed, key=F.col("k"), group_cols=["g"], k=64)
    est = {
        r.g: r.bk_est
        for r in sketch.bottomk_distinct_estimate(samp, ["g"], k=64).collect()
    }
    assert est["small"] == 40  # below k → exact
    assert abs(est["large"] - 5000) / 5000 < 0.5  # k=64 → ~12% σ; 3σ+slack


def test_bottomk_sample_is_dedup_invariant(spark, keyed):
    once = keyed.dropDuplicates(["g", "k"])
    a = sorted(map(tuple, sketch.bottomk_sample(keyed, F.col("k"), ["g"], k=32).collect()))
    b = sorted(map(tuple, sketch.bottomk_sample(once, F.col("k"), ["g"], k=32).collect()))
    assert a == b


def test_bottomk_merge_law(spark, keyed):
    """bottom-k of the union == bottom-k of concatenated samples."""
    from pyspark.sql import Window

    left = keyed.filter(F.length("k") <= 2)
    right = keyed.filter(F.length("k") > 2)
    whole = sketch.bottomk_sample(keyed, F.col("k"), ["g"], k=32)
    parts = sketch.bottomk_sample(left, F.col("k"), ["g"], k=32).unionByName(
        sketch.bottomk_sample(right, F.col("k"), ["g"], k=32)
    )
    w = Window.partitionBy("g").orderBy(F.asc("bk_hash"))
    merged = (
        parts.select("g", "bk_hash")
        .distinct()
        .withColumn("bk_rank", F.row_number().over(w))
        .filter(F.col("bk_rank") <= 32)
    )
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))


def test_bloom_semi_join_equals_plain_semi_join(spark):
    from diagnosisextraction_ml_spark.operators.sketch import bloom_semi_join

    big = spark.createDataFrame([(i, i % 100) for i in range(2000)], "id long, k long")
    small = spark.createDataFrame([(k,) for k in range(0, 100, 7)], "sk long")
    got = sorted(map(tuple, bloom_semi_join(big, small, "k", "sk").collect()))
    want = sorted(
        map(
            tuple,
            big.join(
                small.selectExpr("sk as k").distinct(), "k", "left_semi"
            ).collect(),
        )
    )
    assert got == want and got


def test_bloom_semi_join_prefilter_reduces_rows(spark):
    from pyspark.sql import functions as F

    from diagnosisextraction_ml_spark.operators.sketch import bloom_build, bloom_probe

    big = spark.createDataFrame([(i, i) for i in range(5000)], "id long, k long")
    small = spark.createDataFrame([(k,) for k in range(10)], "sk long")
    bloom = bloom_build(small, F.col("sk"))
    passed = bloom_probe(big, bloom, F.col("k")).filter("bloom_maybe").count()
    # ~1% false-positive rate: the pre-filter kills almost everything
    # before the join's exchange would run
    assert passed < 5000 * 0.05
    assert passed >= 10  # no false negatives


def test_logbin_quantiles_contain_exact_quantiles(spark):
    import math

    from diagnosisextraction_ml_spark.operators.sketch import logbin_quantiles

    vals = [((i * 37) % 10007) * 13 + 1 for i in range(5000)]
    df = spark.createDataFrame([(v,) for v in vals], "cents long")
    out = {
        (r["p_num"], r["p_den"]): r
        for r in logbin_quantiles(df, "cents").collect()
    }
    svals = sorted(vals)
    for (n, d), r in out.items():
        target = math.ceil(n * len(vals) / d)
        exact = svals[target - 1]
        assert r["target_rank"] == target
        # true quantile lies inside the reported bin
        assert r["bin_lo"] <= exact < r["bin_hi"]
        # <= 6.25% relative bin width (unit bins below 16)
        assert r["bin_hi"] - r["bin_lo"] <= max(1, r["bin_lo"] // 16)
        assert r["cum_count"] >= target


def test_logbin_bins_exact_for_small_values(spark):
    from diagnosisextraction_ml_spark.operators.sketch import with_quantile_bins

    df = spark.createDataFrame([(v,) for v in range(40)], "v long")
    rows = {r["v"]: r for r in with_quantile_bins(df, "v").collect()}
    for v in range(16):
        assert (rows[v]["bin_lo"], rows[v]["bin_hi"]) == (v, v + 1)
    for v in range(16, 32):  # e=4: still unit bins
        assert (rows[v]["bin_lo"], rows[v]["bin_hi"]) == (v, v + 1)
    assert rows[33]["bin_lo"] == 32 and rows[33]["bin_hi"] == 34  # width 2
    # bins partition the line: every v inside its own bin
    assert all(r["bin_lo"] <= v < r["bin_hi"] for v, r in rows.items())


def test_logbin_sketch_mergeable(spark):
    from pyspark.sql import functions as F

    from diagnosisextraction_ml_spark.operators.sketch import with_quantile_bins

    df = spark.createDataFrame([(v * 7 + 1,) for v in range(3000)], "v long")
    whole = (
        with_quantile_bins(df, "v").groupBy("bin_id").agg(F.count("*").alias("c"))
    )
    h1 = (
        with_quantile_bins(df.filter("v % 2 = 0"), "v")
        .groupBy("bin_id")
        .agg(F.count("*").alias("c"))
    )
    h2 = (
        with_quantile_bins(df.filter("v % 2 = 1"), "v")
        .groupBy("bin_id")
        .agg(F.count("*").alias("c"))
    )
    merged = (
        h1.unionByName(h2).groupBy("bin_id").agg(F.sum("c").alias("c"))
    )
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))


def test_hll_overlap_accuracy_and_union_law(spark):
    from pyspark.sql import functions as F

    from diagnosisextraction_ml_spark.operators.sketch import (
        hll_distinct,
        hll_overlap_pairs,
    )

    # A = users 0..999, B = 500..1499 (overlap 500), C = 5000..5099 (disjoint)
    rows = (
        [("A", u) for u in range(1000)]
        + [("B", u) for u in range(500, 1500)]
        + [("C", u) for u in range(5000, 5100)]
    )
    df = spark.createDataFrame(rows, "t string, u long")
    out = {
        (r["type_a"], r["type_b"]): r
        for r in hll_overlap_pairs(df, F.col("u").cast("string"), "t").collect()
    }
    ab = out[("A", "B")]
    assert abs(ab["overlap_est"] - 500) / 500 < 0.15
    # est_union must BE the single-set estimate of A ∪ B (max-monoid law)
    union_direct = hll_distinct(
        df.filter("t != 'C'").select(F.lit("u").alias("g"), "u"),
        F.col("u").cast("string"),
        ["g"],
    ).collect()[0]["hll_est"]
    assert ab["est_union"] == union_direct
    # disjoint pair: overlap estimate near zero (sketch noise only)
    ac = out[("A", "C")]
    assert abs(ac["overlap_est"]) < 0.1 * 1000


def test_logbin_bins_power_of_two_boundaries(spark):
    """The corrected-log2 must place 2^k-1, 2^k, 2^k+1 in correct,
    monotone bins for every k — exactly where a 1-ulp libm wobble
    would misbin."""
    from diagnosisextraction_ml_spark.operators.sketch import with_quantile_bins

    vals = sorted({max(v, 0) for k in range(4, 62) for v in ((1 << k) - 1, 1 << k, (1 << k) + 1)})
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    rows = sorted(
        (r["v"], r["bin_id"], r["bin_lo"], r["bin_hi"])
        for r in with_quantile_bins(df, "v").collect()
    )
    prev_bin = -1
    for v, bin_id, lo, hi in rows:
        assert lo <= v < hi, (v, lo, hi)
        assert bin_id >= prev_bin  # bin ids monotone in v
        prev_bin = bin_id
        # a power of two starts its own bin exactly
        if v >= 16 and (v & (v - 1)) == 0:
            assert lo == v, (v, lo)


def test_grouped_logbin_quantiles_per_group_containment(spark):
    import math

    from diagnosisextraction_ml_spark.operators.sketch import grouped_logbin_quantiles

    data = {
        "a": [((i * 13) % 997) + 1 for i in range(2000)],
        "b": [((i * 7) % 89) * 1000 + 5 for i in range(500)],
    }
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v long")
    out = grouped_logbin_quantiles(df, ["g"], "v").collect()
    assert len(out) == 2 * 3
    for r in out:
        svals = sorted(data[r["g"]])
        target = math.ceil(r["p_num"] * len(svals) / r["p_den"])
        exact = svals[target - 1]
        assert r["bin_lo"] <= exact < r["bin_hi"], (r, exact)
