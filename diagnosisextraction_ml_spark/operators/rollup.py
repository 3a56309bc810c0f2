"""Continuous aggregates — incremental rollup maintenance.

North-star extension (no reference counterpart): the "hypertable
continuous aggregate" pattern. A time-bucketed rollup (hour × type →
count/sum) is maintained *incrementally*: each new batch is rolled up
alone — touching only the batch — and merged into the stored state by
adding counters. History is never rescanned; that is the entire value
of the pattern at 100 TB.

Correct-by-algebra: every measure kept in the state table must be a
commutative monoid (count, sum, min, max — NOT avg; store sum+count
and divide at read time). Then ``merge(rollup(a), rollup(b)) ==
rollup(a ∪ b)`` exactly, which is what the oracle entry checks.

Float caveat, handled: double sums are order-dependent across
engines/partitionings, so the state keeps sums as ``DECIMAL(30,6)``
(exact, associative) and read-time views cast back to double — the
same convention as the engine's other oracle-exact aggregations
(plans/queries.py module docstring).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# element cast matches the engine-wide oracle convention (DECIMAL(18,6)
# for event values — see plans/queries.py); sums get headroom.
VAL_DECIMAL = "decimal(18,6)"
SUM_DECIMAL = "decimal(30,6)"


def hourly_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    dims: Sequence[str] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Roll one batch up to (hour, dims) grain — one map-side-combined
    groupBy; output is state-table schema: n (long), sum_value
    (decimal), plus min/max over the hour."""
    dims = list(dims)
    return (
        events.select(
            F.date_trunc("hour", F.col(ts_col)).alias("window_start"),
            *dims,
            F.col(value_col).cast(VAL_DECIMAL).alias("__v"),
        )
        .groupBy("window_start", *dims)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__v").cast(SUM_DECIMAL).alias("sum_value"),
            F.min("__v").cast(SUM_DECIMAL).alias("min_value"),
            F.max("__v").cast(SUM_DECIMAL).alias("max_value"),
        )
    )


def merge_rollup(
    state: DataFrame, batch_rollup: DataFrame, dims: Sequence[str] = ("event_type",)
) -> DataFrame:
    """Fold a batch's rollup into the state table (monoid merge).

    Both inputs carry the :func:`hourly_rollup` schema. One groupBy
    over ``state ∪ batch``; since both sides are already at rollup
    grain, the Exchange carries ≤ |state grain| + |batch grain| rows —
    never event-level data. With the state stored bucketed on the
    grain key, only the (tiny) batch side shuffles.
    """
    dims = list(dims)
    keys = ["window_start", *dims]
    combined = state.select(
        *keys, "n", "sum_value", "min_value", "max_value"
    ).unionByName(batch_rollup.select(*keys, "n", "sum_value", "min_value", "max_value"))
    return combined.groupBy(*keys).agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sum_value").cast(SUM_DECIMAL).alias("sum_value"),
        F.min("min_value").cast(SUM_DECIMAL).alias("min_value"),
        F.max("max_value").cast(SUM_DECIMAL).alias("max_value"),
    )


def trailing_anomaly(
    df: DataFrame,
    key_cols: Sequence[str],
    bucket_col: str,
    value_col: str,
    trailing: int = 24,
    min_points: int = 12,
    k: int = 3,
) -> DataFrame:
    """Trailing-window z-score anomaly flags over a bucketed series.

    For each (key, bucket) row, compare ``value`` against the trailing
    ``trailing``-bucket window (inclusive of the current bucket, RANGE —
    gaps in the series shrink the window instead of silently reaching
    further back). The classic |x − μ| > k·σ test is evaluated in
    **exact integer arithmetic** so it is bit-identical across engines
    and partitionings::

        (n·x − S)² > k² · (n·Q − S²)          [× n² both sides of
                                               (x − S/n)² > k²·var]

    with S = Σv, Q = Σv² over the window — all DECIMAL(38,0), so the
    squared terms cannot wrap even for bucket values ≫ 2^31. No float
    mean, no float variance, no engine-specific Welford accumulation
    order.

    Scale: the input is expected to be an already-bucketed rollup
    (|keys|·|buckets| rows, tiny next to the raw events that produced
    it via :func:`hourly_rollup`); the window RANGE-partitions by key —
    one Exchange, bounded per-key sort, no unpartitioned window.

    Output: key..., bucket, value, n_win, dev2 = (n·x−S)², bound =
    k²·(n·Q−S²), is_anomaly (dev2 > bound, only tested when the window
    has ≥ ``min_points`` points).
    """
    key_cols = list(key_cols)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(bucket_col).asc())
        .rangeBetween(-(trailing - 1), 0)
    )
    v = F.col(value_col).cast("long")
    # Window sums and all downstream products run in DECIMAL(38,0): the
    # S² and d² terms exceed 2^63 for bucket values above ~1.3e8 (and
    # Q = Σv² for v > 3e9), where BIGINT would wrap silently in Spark
    # while DuckDB (whose sum() is already HUGEINT) stays exact — the
    # decimal path keeps the cross-engine bit-identity the test claims.
    vd = v.cast("decimal(38,0)")
    stats = df.select(
        *key_cols,
        F.col(bucket_col).alias(bucket_col),
        v.alias(value_col),
        F.sum(vd).over(w).alias("__s"),
        F.sum(vd * vd).over(w).alias("__q"),
        F.count(F.lit(1)).over(w).alias("n_win"),
    )
    nd = F.col("n_win").cast("decimal(38,0)")
    d = nd * F.col(value_col).cast("decimal(38,0)") - F.col("__s")
    dev2 = d * d
    bound = F.lit(k * k).cast("decimal(38,0)") * (
        nd * F.col("__q") - F.col("__s") * F.col("__s")
    )
    # dev2/bound finals are DOUBLE, not DECIMAL(38,0): the anomaly TEST
    # itself still runs on the exact decimals (so the boolean can never
    # drift), but DECIMAL finals round-trip to pandas as object Decimals
    # on Spark vs float64 on DuckDB and trip a representation-sensitive
    # hash (round-8 driver finding), while BIGINT finals would wrap for
    # hot keys (d² crosses 2^63 near 1.3e8 events/hour·key). Casting the
    # SAME exact decimal to double is correctly rounded on both engines
    # → identical bits, and doubles never overflow.
    return stats.select(
        *key_cols,
        bucket_col,
        value_col,
        "n_win",
        dev2.cast("double").alias("dev2"),
        bound.cast("double").alias("bound"),
        ((F.col("n_win") >= min_points) & (dev2 > bound)).alias("is_anomaly"),
    )


def grouped_ols_trend(
    df: DataFrame,
    key_cols: Sequence[str],
    x_col: str,
    y_micro_col: str,
    scale: int = 1,
) -> DataFrame:
    """Per-key least-squares trend slope in exact arithmetic.

    Closed-form OLS per group — slope = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²)
    — with every sum kept EXACT (DECIMAL(38,0) over integer inputs:
    ``x_col`` a small-range integer such as hours-since-anchor,
    ``y_micro_col`` the measure pre-scaled to micro-units, which makes
    the slope micro-precise with no extra scaling). The slope is
    emitted as a BIGINT in y-micro units per x via sign-split division
    (``sign · ((scale·|num|) div den)``; ``scale`` > 1 recovers
    precision when x is itself micro-scaled, e.g. log-log fits) —
    truncation and floor agree on
    non-negatives, so Spark's ``div`` and DuckDB's ``//`` produce the
    same bits; a float covariance would depend on accumulation order.

    Built-in ``regr_slope`` is the float path: one pass, but its result
    varies in the last ulps with partitioning — unusable for the
    engine's cross-engine hash gate and for byte-reproducible reports.

    Scale: one groupBy with map-side combine; the five sums are the
    entire shuffle payload per key. Keys with a degenerate x (all equal
    → den = 0) are dropped — a trend needs ≥ 2 distinct x.

    Output: key..., n_points, slope_micro.
    """
    key_cols = list(key_cols)
    x = F.col(x_col).cast("decimal(38,0)")
    y = F.col(y_micro_col).cast("decimal(38,0)")
    agg = df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * y).alias("__sxy"),
        F.sum(x * x).alias("__sxx"),
    )
    num = F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    den = F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    signed = F.when(num < 0, F.lit(-1)).otherwise(F.lit(1))
    return (
        agg.withColumn("__num", num)
        .withColumn("__den", den)
        .filter(F.col("__den") != 0)
        .select(
            *key_cols,
            F.col("__n").cast("long").alias("n_points"),
            (
                signed
                * F.expr(
                    f"CAST((CAST({scale} AS DECIMAL(38,0)) * abs(__num))"
                    " DIV __den AS BIGINT)"
                )
            ).cast("long").alias("slope_micro"),
        )
    )


def interval_concurrency_daily(
    intervals: DataFrame,
    start_col: str,
    end_col: str,
    range_lo_sec: int,
    range_hi_sec: int,
    n_buckets: int = 32,
) -> DataFrame:
    """Peak concurrent intervals per day — the sweep-line as algebra.

    The classic "max concurrent sessions / calls / connections"
    question: each interval contributes +1 at its start second and −1
    one second after its end (half-open at second granularity — an
    interval contained in one second still counts in it); the running
    sum of per-second NET deltas is the concurrency curve; the answer
    is its per-day max.

    The running sum is a GLOBAL cumsum over time, exactly the shape
    the engine's two-level bucketed cumsum exists for (range-bucketed
    partial cumsums + driver-computed bucket offsets — no single-task
    window).
    ``range_lo_sec``/``range_hi_sec`` bound the timeline for the range
    bucketing (a production pipeline knows its partition's window; at
    100 TB you run this per day-partition and the "global" cumsum is
    per-partition anyway).

    Second granularity is a deliberate trade: deltas within one second
    collapse before the cumsum (start+end in the same second cancel),
    so the curve is the concurrency at each second BOUNDARY — identical
    in both engines, and the per-day max of a 86400-point curve.

    Output: (day_idx, peak_concurrency) where day_idx = epoch_sec
    div 86400.
    """
    from diagnosisextraction_ml_spark.operators.evaluate import _bucketed_cumsum

    s = F.col(start_col).cast("long")
    e = F.col(end_col).cast("long")
    deltas = intervals.select(
        F.explode(
            F.array(
                F.struct(s.alias("sec"), F.lit(1).alias("d")),
                F.struct((e + 1).alias("sec"), F.lit(-1).alias("d")),
            )
        ).alias("b")
    ).select(F.col("b.sec").alias("sec"), F.col("b.d").alias("d"))
    # Zero-delta mark at each day's first second: a day's peak can be
    # the concurrency CARRIED IN at midnight (first delta of the day
    # might be an end), and the curve only has points where deltas
    # exist. One tiny generated relation covers the range.
    day_marks = (
        intervals.sparkSession.range(
            range_lo_sec // 86400, range_hi_sec // 86400 + 1
        )
        .select((F.col("id") * 86400).alias("sec"), F.lit(0).alias("d"))
    )
    net = (
        deltas.unionByName(day_marks)
        .groupBy("sec")
        .agg(F.sum("d").cast("double").alias("nd"))
    )
    cum = _bucketed_cumsum(
        net,
        "sec",
        {"nd": "conc"},
        descending=False,
        n_buckets=n_buckets,
        score_range=(float(range_lo_sec), float(range_hi_sec)),
    )
    return (
        cum.select(
            F.expr("sec DIV 86400").alias("day_idx"),
            F.col("conc").cast("long").alias("conc"),
        )
        .groupBy("day_idx")
        .agg(F.max("conc").alias("peak_concurrency"))
    )


def cusum_drift(
    df: DataFrame,
    key_cols: Sequence[str],
    bucket_col: str,
    value_col: str,
    threshold_micro: int,
) -> DataFrame:
    """CUSUM level-shift detection over a bucketed series, exact-integer.

    The classic recursive CUSUM (C⁺ₜ = max(0, C⁺ₜ₋₁ + xₜ − μ)) is not
    window-expressible, but its closed form is: with Sₜ the running sum
    of deviations from the per-key mean, C⁺ₜ = Sₜ − min_{t'≤t} Sₜ' and
    C⁻ₜ = max_{t'≤t} Sₜ' − Sₜ — one cumulative sum plus running
    min/max, all RANGE-free ROWS windows PARTITIONED PER KEY.

    Exactness: the mean enters as exact micro-units
    (μ_micro = 10⁶·Σv div n, computed per key inside the same window
    pass — no separate join), deviations are 10⁶·v − μ_micro BIGINTs,
    and the cumulative sums run in DECIMAL(38,0) so a long series of
    large values cannot wrap. No float anywhere — the flags are
    bit-identical across engines and partitionings.

    ``threshold_micro`` is the drift threshold in micro value-units
    (e.g. 5·10⁶ ⇒ flag when the cumulated deviation exceeds 5 units).

    Output: key..., bucket, value, s_micro, cusum_up_micro,
    cusum_down_micro, drift_up, drift_down.
    """
    key_cols = list(key_cols)
    v = F.col(value_col).cast("long")
    base = df.select(*key_cols, F.col(bucket_col).alias(bucket_col), v.alias(value_col))
    w_all = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(bucket_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_run = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(bucket_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    mu = F.expr(
        f"CAST(1000000 AS DECIMAL(38,0)) * __tot div __n"
    )
    staged = (
        base.withColumn("__tot", F.sum(value_col).over(w_all))
        .withColumn("__n", F.count(F.lit(1)).over(w_all))
        .withColumn("__mu", mu)
        .withColumn(
            "__dev",
            (F.lit(1_000_000).cast("decimal(38,0)") * F.col(value_col) - F.col("__mu")),
        )
        .withColumn("__s", F.sum("__dev").over(w_run).cast("decimal(38,0)"))
        .withColumn("__smin", F.min("__s").over(w_run))
        .withColumn("__smax", F.max("__s").over(w_run))
    )
    # The recursion starts at C=0 BEFORE any data, so the running
    # min/max must include the empty prefix S₀ = 0 — otherwise the
    # first deviation can never register (a monotone series would
    # self-anchor to its own first point).
    zero = F.lit(0).cast("decimal(38,0)")
    up = F.col("__s") - F.least(zero, F.col("__smin"))
    down = F.greatest(zero, F.col("__smax")) - F.col("__s")
    # Finals are BIGINT, not DECIMAL(38,0): the internal running sums
    # stay exact-decimal, but a DECIMAL final column round-trips to
    # pandas as object Decimals on Spark vs float64 on DuckDB, so a
    # representation-sensitive hash trips even on equal values (round-8
    # driver finding). Micro-unit CUSUM magnitudes fit int64 far past
    # the tested scales (|S| < 1e6·Σ|v|; overflow would need ~9e12
    # value-units of accumulated one-sided deviation per key) — and the
    # bound is enforced, not assumed: Spark's non-ANSI decimal→long
    # cast silently NULLs on overflow while the DuckDB twin's
    # CAST(.. AS BIGINT) errors, so an out-of-range sum raises here
    # (both engines fail loudly) instead of diverging silently.
    i64 = F.lit("9223372036854775807").cast("decimal(38,0)")

    def to_long_checked(c, name: str):
        return (
            F.when(
                c.between(-i64, i64),
                c.cast("long"),
            )
            .otherwise(
                F.raise_error(
                    F.format_string(
                        f"cusum_drift: {name} overflows BIGINT (got %s)",
                        c.cast("string"),
                    )
                ).cast("long")
            )
            .alias(name)
        )

    return staged.select(
        *key_cols,
        bucket_col,
        value_col,
        to_long_checked(F.col("__s"), "s_micro"),
        to_long_checked(up, "cusum_up_micro"),
        to_long_checked(down, "cusum_down_micro"),
        (up >= F.lit(int(threshold_micro)).cast("decimal(38,0)")).alias("drift_up"),
        (down >= F.lit(int(threshold_micro)).cast("decimal(38,0)")).alias("drift_down"),
    )


def time_weighted_avg_hourly(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    max_span_hours: int = 24,
) -> DataFrame:
    """Per-(key, hour) time-weighted average over irregular samples —
    the hypertable TWA: each sample holds its value until the next
    sample (LOCF), and an hour's average weights each held value by
    the seconds it covered within the hour.

    Plan shape: one per-key ``lead`` window (ordered by ts — bounded
    per-key sort) turns samples into [ts, next_ts) intervals; each
    interval explodes to the hours it covers (the interval_join
    bucketization trick — fan-out bounded by ``max_span_hours``, which
    clips pathological gaps so one silent sensor cannot explode rows;
    clipping truncates the held duration, the standard guard) and one
    map-side-combined groupBy accumulates Σ value·overlap / Σ overlap
    in exact integer micro-seconds. The LAST sample of each key has no
    successor and contributes no covered time (a TWA needs a duration;
    callers wanting an open-ended hold should append a sentinel
    sample at their horizon).

    Output: key..., hour (epoch-hours BIGINT), covered_s, twa_micro.
    """
    key_cols = list(key_cols)
    es = F.col(ts_col).cast("long")
    iv = (
        df.select(*key_cols, es.alias("__s"),
                  F.round(F.col(value_col).cast("double") * 1_000_000, 0)
                  .cast("long").alias("__vm"))
        .withColumn("__e", F.lead("__s").over(
            # __vm as tiebreak: equal-second samples get a total order,
            # so which value holds the post-tie interval is
            # partition-independent and engine-identical
            Window.partitionBy(*key_cols).orderBy(
                F.col("__s").asc(), F.col("__vm").asc())))
        .filter(F.col("__e").isNotNull() & (F.col("__e") > F.col("__s")))
        .withColumn(
            "__e", F.least(F.col("__e"), F.col("__s") + max_span_hours * 3600)
        )
    )
    hours = iv.withColumn(
        "hour",
        F.explode(
            F.sequence(
                F.floor(F.col("__s") / 3600),
                F.floor((F.col("__e") - 1) / 3600),
            )
        ),
    )
    overlap = (
        F.least(F.col("__e"), (F.col("hour") + 1) * 3600)
        - F.greatest(F.col("__s"), F.col("hour") * 3600)
    )
    per = hours.select(
        *key_cols, "hour", overlap.alias("__o"),
        (F.col("__vm").cast("decimal(38,0)") * overlap).alias("__vo"),
    )
    return (
        per.groupBy(*key_cols, "hour")
        .agg(
            F.sum("__o").cast("long").alias("covered_s"),
            F.sum("__vo").alias("__svo"),
        )
        .select(
            *key_cols,
            "hour",
            "covered_s",
            F.expr("CAST(__svo div covered_s AS BIGINT)").alias("twa_micro"),
        )
    )


def gapfill_locf_hourly(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Dense per-(key, hour) series with last-observation-carried-
    forward gap filling — the hypertable ``time_bucket_gapfill`` +
    ``locf`` pair.

    Per key: the observed hours (last sample per hour wins, tie-broken
    by ts then value for total determinism), a generated dense hour
    axis spanning [first, last] observed hour (``sequence`` — fan-out
    bounded by the key's calendar span, rows carry only key + hour),
    and one per-key ``last(ignorenulls)`` window to carry values
    forward. No corpus-global window; everything is partitioned by key.

    Output: key..., hour, value_micro, is_gap (true for filled rows).
    """
    key_cols = list(key_cols)
    es = F.col(ts_col).cast("long")
    vm = F.round(F.col(value_col).cast("double") * 1_000_000, 0).cast("long")
    obs = df.select(*key_cols, F.floor(es / 3600).alias("hour"), es.alias("__ts"), vm.alias("__vm"))
    # last observation per (key, hour) as a struct-max aggregation
    # (r15): max(struct(__ts, __vm)) is exactly the former ranked
    # window's (__ts DESC, __vm DESC) head row, map-side combined.
    hourly = (
        obs.groupBy(*key_cols, "hour")
        .agg(F.max(F.struct("__ts", "__vm")).alias("__m"))
        .select(*key_cols, "hour", F.col("__m.__vm").alias("value_obs"))
    )
    span = hourly.groupBy(*key_cols).agg(
        F.min("hour").alias("__h0"), F.max("hour").alias("__h1")
    )
    axis = span.select(
        *key_cols, F.explode(F.sequence(F.col("__h0"), F.col("__h1"))).alias("hour")
    )
    joined = axis.join(hourly, [*key_cols, "hour"], "left")
    w_ffill = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col("hour").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        *key_cols,
        "hour",
        F.last("value_obs", ignorenulls=True).over(w_ffill).alias("value_micro"),
        F.col("value_obs").isNull().alias("is_gap"),
    )


def seasonal_naive_backtest(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    season_hours: int = 24,
) -> DataFrame:
    """Backtest the seasonal-naive forecast ŷ(t) = y(t − season) on
    hourly sums — the baseline every real forecasting pipeline must
    publish before anything fancier earns its keep.

    Plan: ONE hourly pre-aggregation (DECIMAL-exact sums — the same
    monoid state the incremental rollups use), then a self-equi-join
    on (key, hour − season): both sides share the (key, hour)
    partitioning, so AQE plans it as one exchange reused twice. Only
    hours with a non-zero actual enter the MAPE (|a−f|/|a| is
    undefined at a = 0); each APE is rounded to 6 dp and DECIMAL-cast
    before the mean so the aggregate is order-independent.

    Output per key: (key, n_hours, mape DOUBLE) over the backtestable
    hours.
    """
    # floor, not truncate-toward-zero: pre-1970 (negative-epoch)
    # timestamps must bucket like the twin's floor(epoch(ts)/3600)
    hour = F.floor(F.unix_timestamp(F.col(ts_col)).cast("long") / 3600).cast("long")
    hourly = (
        events.select(
            F.col(key_col).alias("key"),
            hour.alias("h"),
            F.col(value_col).cast("decimal(18,6)").alias("v"),
        )
        .groupBy("key", "h")
        .agg(F.sum("v").alias("actual"))
    )
    fc = hourly.select(
        "key", (F.col("h") + F.lit(season_hours)).alias("h"),
        F.col("actual").alias("forecast"),
    )
    ape = F.round(
        F.abs(F.col("actual") - F.col("forecast")).cast("double")
        / F.abs(F.col("actual").cast("double")),
        6,
    )
    return (
        hourly.join(fc, ["key", "h"])
        .filter(F.col("actual") != 0)
        .select("key", ape.cast("decimal(18,6)").alias("__ape"))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            (F.sum("__ape").cast("double") / F.count(F.lit(1))).alias("mape"),
        )
    )
