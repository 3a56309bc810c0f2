"""Experiment analysis — exact-arithmetic A/B proportion tests.

North-star extension (no reference counterpart): the product-analytics
companion to the engine's event operators. The two-proportion z-test
is the workhorse of conversion experiments; the float textbook form
(divide, sqrt, compare) is accumulation- and libm-dependent, so this
module evaluates the SQUARED test as one integer inequality::

    |p1 − p2| > z · sqrt( p̂(1−p̂)(1/n1 + 1/n2) )
    ⟺  N · (x1·n0 − x0·n1)² > z² · X·(N−X) · n0·n1
    ⟺  625 · N · d²  >  2401 · X·(N−X) · n0·n1     (N = n0+n1, X = x0+x1)

with z = 1.96 (α = 0.05 two-sided) entering as the exact rational
2401/625 and every term an exact DECIMAL(38,0)/HUGEINT product —
bit-identical across engines and partitionings. (At 10⁹⁺ units per arm
the products approach DECIMAL(38) limits; pre-aggregate to per-bucket
counts or drop to the float form where 1-ulp wobble is immaterial.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# z = 1.96 exactly as a rational: z² = 2401/625
_Z2_NUM = 2401
_Z2_DEN = 625


def two_proportion_test(
    units: DataFrame,
    arm_col: str = "arm",
    converted_col: str = "converted",
) -> DataFrame:
    """Two-sided z-test for conversion difference between two arms.

    ``units`` has one row per experimental unit with a binary arm label
    (0/1) and a boolean/0-1 conversion flag. Output is ONE row:
    (n_0, x_0, n_1, x_1, diff_micro, significant) where diff_micro is
    the micro-unit conversion difference p1 − p0 (sign-split integer
    division) and ``significant`` applies the exact-rational inequality
    above.
    """
    agg = units.groupBy().agg(
        F.sum(F.when(F.col(arm_col) == 0, 1).otherwise(0)).alias("n_0"),
        F.sum(
            F.when(
                (F.col(arm_col) == 0) & F.col(converted_col).cast("boolean"), 1
            ).otherwise(0)
        ).alias("x_0"),
        F.sum(F.when(F.col(arm_col) == 1, 1).otherwise(0)).alias("n_1"),
        F.sum(
            F.when(
                (F.col(arm_col) == 1) & F.col(converted_col).cast("boolean"), 1
            ).otherwise(0)
        ).alias("x_1"),
    )
    d = "(CAST(x_1 AS DECIMAL(38,0)) * n_0 - CAST(x_0 AS DECIMAL(38,0)) * n_1)"
    lhs = (
        f"CAST({_Z2_DEN} AS DECIMAL(38,0))"
        f" * (CAST(n_0 AS DECIMAL(38,0)) + n_1)"
        f" * {d} * {d}"
    )
    rhs = (
        f"CAST({_Z2_NUM} AS DECIMAL(38,0))"
        f" * (CAST(x_0 AS DECIMAL(38,0)) + x_1)"
        f" * ((CAST(n_0 AS DECIMAL(38,0)) + n_1) - (CAST(x_0 AS DECIMAL(38,0)) + x_1))"
        f" * (CAST(n_0 AS DECIMAL(38,0)) * n_1)"
    )
    return agg.select(
        "n_0",
        "x_0",
        "n_1",
        "x_1",
        F.expr(
            f"CASE WHEN {d} < 0 THEN -1 ELSE 1 END"
            f" * CAST((1000000 * abs({d})) DIV (CAST(n_0 AS DECIMAL(38,0)) * n_1)"
            f" AS BIGINT)"
        ).alias("diff_micro"),
        F.expr(f"({lhs}) > ({rhs})").alias("significant"),
    )


def two_proportion_test_sql(ctes: str) -> str:
    """DuckDB twin of :func:`two_proportion_test`. ``ctes`` is the body
    of a WITH list whose last relation ``u`` has one row per unit with
    columns (arm, converted); the same exact-rational inequality runs
    on HUGEINT counts."""
    return f"""
    WITH {ctes},
    agg AS (
      SELECT
        CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n_0,
        CAST(sum(CASE WHEN arm = 0 AND converted = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS x_0,
        CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n_1,
        CAST(sum(CASE WHEN arm = 1 AND converted = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS x_1
      FROM u
    )
    SELECT CAST(n_0 AS BIGINT) AS n_0, CAST(x_0 AS BIGINT) AS x_0,
           CAST(n_1 AS BIGINT) AS n_1, CAST(x_1 AS BIGINT) AS x_1,
           CAST(CASE WHEN (x_1 * n_0 - x_0 * n_1) < 0 THEN -1 ELSE 1 END
                * ((1000000 * abs(x_1 * n_0 - x_0 * n_1)) // (n_0 * n_1))
                AS BIGINT) AS diff_micro,
           ({_Z2_DEN} * (n_0 + n_1) * (x_1 * n_0 - x_0 * n_1) * (x_1 * n_0 - x_0 * n_1))
             > ({_Z2_NUM} * (x_0 + x_1) * ((n_0 + n_1) - (x_0 + x_1)) * (n_0 * n_1))
             AS significant
    FROM agg
    """


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    observed_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Kaplan-Meier survival estimate per (group, event time).

    The product-limit estimator S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) over the
    distinct OBSERVED event times tᵢ, with nᵢ the at-risk count
    (subjects whose duration ≥ tᵢ) and dᵢ the events at tᵢ; censored
    subjects (``observed`` = 0) leave the risk set without an event —
    the standard right-censoring treatment.

    Plan shape (one pass + per-group windows, the trailing_anomaly
    doctrine): one map-side-combined groupBy to (group, t, d, c); the
    at-risk count is total_g − (exclusive prior cumsum of d+c) — a
    window over the DISTINCT-TIME rows, bounded per group, never over
    subjects; the running product is exp(Σ ln((n−d)/n)) over the same
    window. ln/exp is the one float step (a true product has no integer
    form); every input to it is an exact integer ratio and the output
    is rounded to micro-units, the same discipline as the BM25/log-odds
    paths. ``duration_col`` must be integral (pre-bucket real-valued
    durations — at 100 TB you want bucketed grain anyway; it bounds the
    window input to |groups|·|distinct times| rows).

    Output: (group?, t, n_at_risk, d, censored, survival_micro) — one
    row per distinct time with ≥1 observed event, survival AFTER tᵢ.
    """
    gcols = [group_col] if group_col else []
    obs = F.col(observed_col).cast("long")
    per = df.groupBy(
        *gcols, F.col(duration_col).cast("long").alias("t")
    ).agg(
        F.sum(obs).alias("d"),
        F.sum(F.lit(1) - obs).alias("c"),
    )
    from pyspark.sql import Window

    part = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    w_all = part.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_prior = part.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    at_risk = (
        F.sum(F.col("d") + F.col("c")).over(w_all)
        - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prior), F.lit(0))
    )
    staged = per.withColumn("n_at_risk", at_risk).filter(F.col("d") > 0)
    # running ln-sum over EVENT rows only (censoring-only times carry no
    # factor), inclusive of the current row. Extinction (d == n at some
    # time) would be ln(0) — engines disagree on ln(0) (null vs -inf),
    # so it is handled as an explicit running-min flag: survival is 0
    # from the first extinct time onward.
    w_run = part.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    extinct = F.min(F.col("n_at_risk") - F.col("d")).over(w_run) == 0
    ln_term = F.when(
        F.col("n_at_risk") > F.col("d"),
        F.log(F.col("n_at_risk") - F.col("d")) - F.log(F.col("n_at_risk")),
    )
    surv = F.when(extinct, F.lit(0).cast("long")).otherwise(
        F.round(F.exp(F.sum(ln_term).over(w_run)) * 1_000_000, 0).cast("long")
    )
    return staged.select(
        *gcols,
        "t",
        "n_at_risk",
        "d",
        F.col("c").alias("censored"),
        surv.alias("survival_micro"),
    )
