"""Mergeable frequency sketches — count-min over token streams.

North-star extension (no reference counterpart): corpus-scale token
frequency estimation without retaining the vocabulary. A count-min
sketch (Cormode & Muthukrishnan 2005) is a ``depth × width`` grid of
counters; every occurrence increments one counter per row (chosen by a
per-row hash), and a point estimate is the **min** over the rows —
always an over-estimate, within ``εN`` with probability ``1-δ`` for
``width = e/ε``, ``depth = ln(1/δ)``.

Why this is the scale-correct shape in Spark: the sketch is a
commutative monoid, so ``groupBy(row, col).count()`` builds it with
map-side combine — every task reduces its partition to at most
``depth × width`` cells before the shuffle, and the Exchange carries a
**constant** number of rows per partition regardless of corpus size or
vocabulary. That is the whole point of sketching: a 100 TB corpus with
a 10⁹-token vocabulary shuffles the same few thousand cells as a 1 GB
one. (The exact ``groupBy(token)`` twin shuffles the live vocabulary —
fine when Zipf keeps it small, unbounded when it doesn't.)

Determinism: cell choice is ``md5_hash64(row || ':' || token) %
width`` — the engine's standard cross-engine hash (functions/
hashing.py), so the DuckDB oracle builds the *bit-identical* sketch
and the estimates are hash-exact, not just statistically similar.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from diagnosisextraction_ml_spark.functions.hashing import md5_hash64
from diagnosisextraction_ml_spark.functions.text import tokenize_expr

DEPTH = 4
WIDTH = 8192


def cms_cell(token: Column, row: int, width: int = WIDTH) -> Column:
    """Column index of ``token`` in sketch row ``row``."""
    return md5_hash64(F.concat(F.lit(f"{row}:"), token)) % F.lit(width)


def cms_build(
    df: DataFrame,
    text_col: str = "text",
    depth: int = DEPTH,
    width: int = WIDTH,
) -> DataFrame:
    """Build the sketch: one row per non-empty cell.

    Plan: tokenize once → explode tokens → explode ``depth`` (row, col)
    cells per occurrence → ``groupBy(row, col).count()``. The doubled
    explode costs ``depth×`` map-side rows but zero extra shuffle:
    partial aggregation collapses each task to ≤ depth·width cells
    before the Exchange.

    Output: (cms_row int, cms_col long, cnt long).
    """
    tok = F.explode(tokenize_expr(F.lower(F.col(text_col)))).alias("token")
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("cms_row"),
                    cms_cell(F.col("token"), r, width).alias("cms_col"),
                )
                for r in range(depth)
            ]
        )
    ).alias("cell")
    return (
        df.select(tok)
        .select(cells)
        .groupBy(
            F.col("cell.cms_row").alias("cms_row"),
            F.col("cell.cms_col").alias("cms_col"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    token_col: str = "token",
    depth: int = DEPTH,
    width: int = WIDTH,
) -> DataFrame:
    """Point-estimate counts for ``candidates`` from a built sketch.

    Each candidate expands to its ``depth`` cells, equi-joins the
    sketch on (row, col), and takes the min. The candidate side is the
    small one (a top-k list, a watchlist); the sketch is ≤ depth·width
    rows, so Spark broadcasts whichever side is smaller — either way
    no large shuffle. A cell no candidate hashed into simply never
    joins; a candidate whose cell is absent from the sketch has true
    count 0 and keeps estimate 0 via the left join + coalesce.

    Output: candidates' columns + ``cms_est`` (long, ≥ true count).
    """
    cand_cells = candidates.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("cms_row"),
                        cms_cell(F.col(token_col), r, width).alias("cms_col"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("cell"),
    ).select("*", F.col("cell.cms_row").alias("cms_row"), F.col("cell.cms_col").alias("cms_col")).drop("cell")
    joined = cand_cells.join(sketch, ["cms_row", "cms_col"], "left")
    others = [c for c in candidates.columns]
    return (
        joined.groupBy(*others)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )


# ===========================================================================
# HyperLogLog — mergeable distinct-count sketch (Flajolet et al. 2007).
#
# The second classic corpus-scale sketch beside count-min: estimate the
# number of DISTINCT keys per group in one pass with 2^p fixed-size
# registers per group, no matter how many rows or how many distinct
# values. Like the CMS, the register table is a commutative monoid
# (merge = element-wise max), so ``groupBy(group, reg).max(rho)``
# builds it with map-side combine and the Exchange carries at most
# ``groups × 2^p`` rows regardless of input size — the exact
# ``count(distinct key)`` twin must shuffle every distinct key.
#
# Determinism: the key hash is the engine's md5_hash64 (60 bits), so
# register index, rank, and the final estimate are bit-identical in
# Spark and the DuckDB oracle. The rank (position of the lowest-order
# set... highest set bit) is computed from exact integer arithmetic:
# ``floor(log2(w))`` corrected by two pow-of-2 comparisons so a 1-ulp
# libm wobble at exact powers of two cannot shift the bucket.
# ===========================================================================

HLL_P = 9
HLL_M = 512  # 2^HLL_P registers
_HLL_W_BITS = 60 - HLL_P  # remaining hash bits feeding the rank
_HLL_RHO_MAX = _HLL_W_BITS + 1  # rank when w == 0
_POW2_52 = 4503599627370496  # 2^52, exact in double and BIGINT


def _bitlen_exact(w: Column) -> Column:
    """floor(log2(w)) + 1 for w > 0, with ulp-proof correction.

    ``log2`` is correctly rounded to double, which is exact enough to
    land within ±1 of the true floor; the two pow-of-2 comparisons
    (exact for exponents ≤ 51) pin it. Same three-step dance in the
    oracle SQL → identical integers in both engines.
    """
    b = F.floor(F.log2(w.cast("double"))).cast("long")
    b = F.when(F.pow(F.lit(2.0), b.cast("double")) > w, b - 1).otherwise(b)
    b = F.when(F.pow(F.lit(2.0), (b + 1).cast("double")) <= w, b + 1).otherwise(b)
    return b + 1


def hll_reg_rho() -> tuple[Column, Column]:
    """(hll_reg, rho) expressions over a projected ``_hll_h`` column.

    Shared by the batch builder below and the streaming twin
    (streaming/events.py windowed_distinct_registers) so the register
    arithmetic cannot drift between modes.
    """
    reg = (F.col("_hll_h") % F.lit(HLL_M)).alias("hll_reg")
    w = F.expr(f"_hll_h DIV {HLL_M}")
    # rank = leading zeros of the 51-bit w, plus one = 52 - bitlen(w).
    # greatest(w, 1) keeps log2's argument positive on the w = 0 rows the
    # WHEN discards — mirrored in the oracle SQL, where log2(0) raises.
    rho = (
        F.when(w == 0, F.lit(_HLL_RHO_MAX))
        .otherwise(F.lit(_HLL_RHO_MAX) - _bitlen_exact(F.greatest(w, F.lit(1))))
    ).alias("rho")
    return reg, rho


def hll_registers(
    df: DataFrame, key: Column, group_cols: list[str]
) -> DataFrame:
    """One-pass register table: (group..., hll_reg, rho_max).

    ``key`` must be a string column/expression. Output is ≤
    ``|groups| × HLL_M`` rows with map-side combine — constant shuffle
    volume per group at any input size.
    """
    h = md5_hash64(key)
    reg, rho = hll_reg_rho()
    return (
        df.select(*group_cols, h.alias("_hll_h"))
        .select(*group_cols, reg, rho)
        .groupBy(*group_cols, "hll_reg")
        .agg(F.max("rho").alias("rho_max"))
    )


def hll_estimate(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Collapse a register table to (group..., hll_est bigint).

    The harmonic sum Σ 2^-M_j is carried as the EXACT integer
    Σ 2^(52-M_j) (every term a dyadic rational over the common
    denominator 2^52; ≤ 512·2^52 < 2^62 — no overflow, no float
    accumulation order to worry about). Registers never hit contribute
    2^52 each. One float multiply-divide chain at the end is written
    identically on both engines; the small-range (linear counting)
    correction applies below 2.5·m when empty registers remain.
    """
    alpha = 0.7213 / (1.0 + 1.079 / float(HLL_M))
    agg = registers.groupBy(*group_cols).agg(
        F.sum(
            F.pow(F.lit(2.0), (F.lit(52) - F.col("rho_max")).cast("double")).cast(
                "long"
            )
        ).alias("s2_present"),
        F.count(F.lit(1)).alias("n_regs"),
    )
    v0 = F.lit(HLL_M) - F.col("n_regs")
    s2_tot = (F.col("s2_present") + v0 * F.lit(_POW2_52)).cast("double")
    e_raw = (
        F.lit(alpha * HLL_M * HLL_M) * F.lit(float(_POW2_52)) / s2_tot
    )
    # greatest(v0, 1): the branch is only selected when v0 > 0, but both
    # engines evaluate eagerly and DuckDB raises on ln of a division by 0.
    e_lc = F.lit(float(HLL_M)) * F.log(
        F.lit(float(HLL_M)) / F.greatest(v0, F.lit(1)).cast("double")
    )
    est = (
        F.when((e_raw <= F.lit(2.5 * HLL_M)) & (v0 > 0), F.round(e_lc, 0))
        .otherwise(F.round(e_raw, 0))
        .cast("long")
        .alias("hll_est")
    )
    return agg.select(*group_cols, est)


def hll_distinct(
    df: DataFrame, key: Column, group_cols: list[str]
) -> DataFrame:
    """(group..., hll_est) — approximate COUNT(DISTINCT key) per group."""
    return hll_estimate(hll_registers(df, key, group_cols), group_cols)


# ===========================================================================
# Bloom filter — mergeable set-membership sketch (Bloom 1970).
#
# The day-2 dedup primitive: build a fixed-size bit array over a
# corpus's content fingerprints once, then probe each incoming batch
# against it with NO join against the corpus itself. "No" answers are
# certain (zero false negatives); "maybe" answers are confirmed by the
# exact incremental-dedup path — so the bloom acts as a cheap prefilter
# that lets the overwhelmingly-new majority of a batch skip the
# anti-join entirely.
#
# Scale shape: the filter is ``BLOOM_BITS/32`` packed words built by
# ``groupBy(word).agg(bit_or(mask))`` — a commutative monoid (merge =
# bitwise OR), map-side combined, constant shuffle volume at any corpus
# size, and small enough to broadcast to every probe task. Bit
# positions come from md5 (functions/hashing.py), so the DuckDB oracle
# constructs the bit-identical filter.
#
# 32-bit words (not 64): masks stay in [1, 2^31] — positive in BIGINT
# on both engines, so no sign-bit/overflow divergence to reason about.
# ===========================================================================

BLOOM_BITS = 65536  # m: power of two, 2 KiB packed
BLOOM_K = 7  # hash functions; FPR ≈ (1 - e^{-kn/m})^k
_BLOOM_WORD = 32


def _bloom_cells(key: Column) -> Column:
    """Array of BLOOM_K (word, mask) structs for ``key``."""
    cells = []
    for i in range(BLOOM_K):
        pos = md5_hash64(F.concat(F.lit(f"{i}:"), key)) % F.lit(BLOOM_BITS)
        cells.append(
            F.struct(
                (pos / F.lit(_BLOOM_WORD)).cast("long").alias("bloom_word"),
                F.pow(F.lit(2.0), (pos % F.lit(_BLOOM_WORD)).cast("double"))
                .cast("long")
                .alias("mask"),
            )
        )
    return F.array(*cells)


def bloom_build(df: DataFrame, key: Column) -> DataFrame:
    """(bloom_word, bloom_bits) — ≤ BLOOM_BITS/32 rows, OR-mergeable."""
    return (
        df.select(F.explode(_bloom_cells(key)).alias("c"))
        .groupBy(F.col("c.bloom_word").alias("bloom_word"))
        .agg(F.bit_or(F.col("c.mask")).alias("bloom_bits"))
    )


def bloom_probe(
    df: DataFrame, bloom: DataFrame, key: Column, out_col: str = "bloom_maybe"
) -> DataFrame:
    """df + ``out_col`` boolean: False = certainly absent, True = maybe.

    Each row expands to its BLOOM_K cells, left-joins the broadcast
    filter on the word index, and ANDs the per-cell bit tests back
    together — one narrow broadcast join, no shuffle of ``df`` beyond
    the groupBy on its own columns.
    """
    cols = df.columns
    # Collapse the filter to ONE row holding word→bits as a map, then
    # test all BLOOM_K cells as a single row-local expression against
    # the broadcast map: zero shuffles of ``df``, duplicate rows
    # preserved (an explode + groupBy re-assembly would both shuffle
    # and collapse byte-identical rows).
    bmap = bloom.agg(
        F.map_from_entries(
            F.collect_list(F.struct("bloom_word", "bloom_bits"))
        ).alias("__bmap")
    )
    probed = df.crossJoin(F.broadcast(bmap))
    hit = F.forall(
        _bloom_cells(key),
        lambda c: (
            F.coalesce(
                F.element_at(F.col("__bmap"), c.getField("bloom_word")), F.lit(0)
            ).bitwiseAND(c.getField("mask"))
            == c.getField("mask")
        ),
    )
    return probed.select(*cols, hit.alias(out_col))


# ===========================================================================
# Bottom-k sketch — a mergeable uniform sample of the DISTINCT keys
# (Cohen & Kaplan 2007), guided by the HLL estimate so the shuffle
# only ever carries survivors.
#
# The third member of the sketch family: CMS answers "how often", HLL
# answers "how many distinct", bottom-k yields an actual deterministic
# SAMPLE of the distinct keys (plus its own cardinality estimate,
# exact below k). Dedup-invariant by construction — duplicates of a
# key share its md5, so the sample depends on the key SET only.
#
# The scale trick is the composition: a naive bottom-k must shuffle
# every distinct key to rank them. Instead, a first HLL pass (constant
# shuffle) estimates each group's cardinality n̂; only rows whose hash
# falls below ≈ oversample·k/n̂ of the hash space survive the map-side
# filter — the shuffle then carries ~oversample·k rows per group
# instead of n̂. With oversample=4 the probability of losing part of
# the true bottom-k is Chernoff-small (≈ e^{-k/3}); below k distinct
# keys the filter keeps everything and the sample is exhaustive.
# ===========================================================================

_BK_HASH_SPACE = 1 << 60  # md5_hash64 range


def bottomk_sample(
    df: DataFrame,
    key: Column,
    group_cols: list[str],
    k: int = 64,
    oversample: int = 4,
) -> DataFrame:
    """(group..., bk_hash, bk_rank ≤ k) — the k smallest distinct hashes.

    Deterministic and mergeable: bottom-k of a union == bottom-k of
    the concatenated samples (law pinned in tests).
    """
    from pyspark.sql import Window

    est = hll_distinct(df, key, group_cols)
    # threshold ≈ oversample·k/n̂ of the hash space; exact-rounded
    # double division then round — identical in the SQL twin.
    # least(..., H) caps the threshold at the full hash space — for
    # groups whose estimate is below oversample·k the filter must keep
    # everything, and the uncapped value would overflow BIGINT.
    thr = est.select(
        *group_cols,
        F.least(
            F.round(
                F.lit(float(oversample * k)) * F.lit(float(_BK_HASH_SPACE))
                / F.greatest(F.col("hll_est"), F.lit(1)).cast("double"),
                0,
            ),
            F.lit(float(_BK_HASH_SPACE)),
        )
        .cast("long")
        .alias("bk_thr"),
    )
    hashed = df.select(*group_cols, md5_hash64(key).alias("bk_hash"))
    surv = (
        hashed.join(F.broadcast(thr), group_cols)
        .filter(F.col("bk_hash") <= F.col("bk_thr"))
        .select(*group_cols, "bk_hash")
        .distinct()
    )
    w = Window.partitionBy(*group_cols).orderBy(F.asc("bk_hash"))
    return (
        surv.withColumn("bk_rank", F.row_number().over(w))
        .filter(F.col("bk_rank") <= k)
    )


def bottomk_distinct_estimate(
    sample: DataFrame, group_cols: list[str], k: int = 64
) -> DataFrame:
    """(group..., bk_est) from a bottom-k sample.

    With a full sample (rank k present): n̂ = (k−1)·H/h_k where h_k is
    the k-th smallest hash — the classic order-statistics estimator.
    With fewer than k survivors the sample IS the distinct set and the
    count is exact.
    """
    agg = sample.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_sample"),
        F.max("bk_hash").alias("h_max"),
    )
    est = (
        F.when(
            F.col("n_sample") < k, F.col("n_sample").cast("double")
        ).otherwise(
            F.lit(float(k - 1))
            * F.lit(float(_BK_HASH_SPACE))
            / F.greatest(F.col("h_max"), F.lit(1)).cast("double")
        )
    )
    return agg.select(
        *group_cols, F.round(est, 0).cast("long").alias("bk_est")
    )


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
) -> DataFrame:
    """Semi-join with a Bloom pre-filter on the big side.

    The standard shuffle-reduction pattern (runtime row-level filtering,
    what engines inject as a "bloom filter join"): build the filter from
    the SMALL side's keys (an OR-mergeable ≤``BLOOM_BITS/32``-row
    relation), broadcast it, discard big-side rows whose key is
    *certainly absent* BEFORE the join's Exchange, then run the exact
    semi-join on the survivors to remove the ~1% false positives.

    Result is row-identical to ``big ⋈ₛ small`` (Bloom filters have no
    false negatives — law test-pinned on the sketch); what changes is
    the plan: at a selectivity of s the join shuffles ≈ (s + fp)·|big|
    rows instead of |big|. At 100 TB against a 10⁴-key dimension
    that is the difference between shuffling terabytes and gigabytes.
    """
    bloom = bloom_build(small, F.col(small_key))
    maybe = bloom_probe(big, bloom, F.col(big_key)).filter(
        F.col("bloom_maybe")
    ).drop("bloom_maybe")
    return maybe.join(
        small.select(F.col(small_key).alias(big_key)).distinct(),
        big_key,
        "left_semi",
    )


# ===========================================================================
# Log-binned quantile sketch — the DDSketch idea with DETERMINISTIC
# integer bins, completing the sketch family (CMS: how often, HLL: how
# many distinct, bottom-k: which, quantiles: how big).
# ===========================================================================

QSK_SUB_BITS = 4  # 16 sub-buckets per octave → ≤ 2^(1/16) ≈ 6.25% rel. width


def with_quantile_bins(df: DataFrame, value_col: str) -> DataFrame:
    """Adds (bin_id, bin_lo, bin_hi) for a non-negative BIGINT column.

    Values < 16 get exact unit bins; larger values bin by (octave,
    top-4-mantissa-bits): bin = [ (16+sub)·2^(e-4), (17+sub)·2^(e-4) ),
    where lo simplifies to ``(v >> (e-4)) << (e-4)``. Pure integer
    shifts off the ulp-proof ``_bitlen_exact`` — the same bin on any
    engine, any partitioning. Bins are half-open, totally ordered by
    bin_id, and only ~16·64 can ever exist for 64-bit inputs, so the
    aggregated sketch is a ≤1k-row mergeable relation (counts add —
    the same monoid story as the other sketches).
    """
    sb = QSK_SUB_BITS
    v = F.col(value_col).cast("long")
    base = df.withColumn("__v", v).withColumn(
        "__e", (_bitlen_exact(F.greatest(v, F.lit(1))) - 1).cast("long")
    )
    big = f"__v >= {1 << sb}"
    lo = f"shiftright(__v, CAST(__e - {sb} AS INT)) << CAST(__e - {sb} AS INT)"
    return base.select(
        "*",
        F.expr(
            f"CASE WHEN {big} THEN __e * {1 << sb}"
            f" + (shiftright(__v, CAST(__e - {sb} AS INT)) - {1 << sb})"
            f" ELSE __v END"
        ).alias("bin_id"),
        F.expr(f"CASE WHEN {big} THEN {lo} ELSE __v END").alias("bin_lo"),
        F.expr(
            f"CASE WHEN {big} THEN ({lo})"
            f" + shiftleft(CAST(1 AS BIGINT), CAST(__e - {sb} AS INT))"
            f" ELSE __v + 1 END"
        ).alias("bin_hi"),
    ).drop("__v", "__e")


def logbin_quantiles(
    df: DataFrame,
    value_col: str,
    probes: Sequence[tuple[int, int]] = ((1, 2), (9, 10), (99, 100)),
) -> DataFrame:
    """Quantile estimates from a mergeable log-binned histogram.

    ``value_col`` must be a non-negative BIGINT (pre-scale doubles to
    cents/micros — the same canonical-integer doctrine as the rest of
    the engine). Each probe is an exact rational p = num/den; the
    answer is the first bin whose cumulative count reaches
    ``ceil(p·n)``, reported with its [lo, hi) bounds — the true
    p-quantile provably lies inside (≤6.25% relative width), which is
    what a 100 TB percentile dashboard needs at a constant-size state.

    Plan: one groupBy(bin) with map-side combine (≤1k rows survive),
    the engine's two-level bucketed cumsum (no unpartitioned window),
    a broadcast of the probe list, and a min-struct argmin per probe.
    Exact ``percentile()`` stays the oracle-checkable alternative
    (rel_quantiles); this is the sketch you run when the exact sort is
    the bottleneck — and unlike t-digest it is still hash-exact
    cross-engine, because the bins are deterministic integers.

    Output: (p_num, p_den, target_rank, bin_lo, bin_hi, cum_count).
    """
    from diagnosisextraction_ml_spark.operators.evaluate import _bucketed_cumsum

    counts = (
        with_quantile_bins(df.select(value_col), value_col)
        .groupBy("bin_id", "bin_lo", "bin_hi")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    cum = _bucketed_cumsum(
        counts,
        "bin_id",
        {"cnt": "cum"},
        descending=False,
        n_buckets=32,
        score_range=(0.0, float((1 << QSK_SUB_BITS) * 64)),
    )
    spark = df.sparkSession
    probe_df = spark.createDataFrame(
        [(int(n), int(d)) for n, d in probes], "p_num long, p_den long"
    )
    hit = (
        cum.crossJoin(F.broadcast(probe_df))
        .withColumn(
            "target",
            F.expr("(p_num * CAST(__tot_cnt AS BIGINT) + p_den - 1) DIV p_den"),
        )
        .filter(F.col("cum").cast("long") >= F.col("target"))
    )
    return (
        hit.groupBy("p_num", "p_den", "target")
        .agg(
            F.min(F.struct("bin_id", "bin_lo", "bin_hi", "cum")).alias("s")
        )
        .select(
            "p_num",
            "p_den",
            F.col("target").alias("target_rank"),
            F.col("s.bin_lo").alias("bin_lo"),
            F.col("s.bin_hi").alias("bin_hi"),
            F.col("s.cum").cast("long").alias("cum_count"),
        )
    )


def hll_overlap_pairs(
    df: DataFrame, key: Column, type_col: str
) -> DataFrame:
    """Pairwise distinct-set overlap estimates by inclusion-exclusion.

    For every unordered pair of groups (A, B):
    ``overlap ≈ est(A) + est(B) − est(A ∪ B)`` — the union sketch is
    free because HLL registers are a max-monoid: merging A's and B's
    register tables element-wise IS the register table of A ∪ B
    (zero extra passes over the data). The classic cross-segment
    audience/user-overlap question answered from one constant-size
    sketch per group.

    Plan: ONE register build over the input (map-side combined,
    ≤ |groups|·m rows, checkpointed — consumed by both the per-group
    and the union estimates); group pairs enumerate via a broadcast
    small-relation join (|groups|² metadata rows); union registers are
    an equi-join of the register table against the exploded pair
    membership plus one max-groupBy. Estimates can undershoot/overshoot
    (inclusion-exclusion subtracts two ~2%-error terms); values may
    even be slightly negative for disjoint sets — that is the sketch
    being honest, not a bug (exact twin: a distinct-count join).

    Output: (type_a, type_b, est_a, est_b, est_union, overlap_est).
    """
    regs = hll_registers(df, key, [type_col]).localCheckpoint()
    ests = hll_estimate(regs, [type_col])

    types = regs.select(type_col).distinct()
    ta = types.select(F.col(type_col).alias("type_a"))
    tb = types.select(F.col(type_col).alias("type_b"))
    pairs = ta.join(
        F.broadcast(tb), F.col("type_a") < F.col("type_b")
    ).localCheckpoint()

    members = pairs.select(
        "type_a", "type_b", F.explode(F.array("type_a", "type_b")).alias(type_col)
    )
    union_regs = (
        members.join(regs, type_col)
        .groupBy("type_a", "type_b", "hll_reg")
        .agg(F.max("rho_max").alias("rho_max"))
    )
    union_est = hll_estimate(union_regs, ["type_a", "type_b"]).select(
        "type_a", "type_b", F.col("hll_est").alias("est_union")
    )
    ea = ests.select(
        F.col(type_col).alias("type_a"), F.col("hll_est").alias("est_a")
    )
    eb = ests.select(
        F.col(type_col).alias("type_b"), F.col("hll_est").alias("est_b")
    )
    return (
        union_est.join(F.broadcast(ea), "type_a")
        .join(F.broadcast(eb), "type_b")
        .select(
            "type_a",
            "type_b",
            "est_a",
            "est_b",
            "est_union",
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
                "overlap_est"
            ),
        )
    )


def grouped_logbin_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    probes: Sequence[tuple[int, int]] = ((1, 2), (9, 10), (99, 100)),
) -> DataFrame:
    """Per-group quantile estimates from the log-binned histogram.

    The grouped form of :func:`logbin_quantiles` — per-tenant /
    per-type latency and size percentiles. Because the cumsum here is
    PER GROUP, it needs no two-level trick: a window partitioned by the
    group over ≤1k bins per group is already distributed (one Exchange
    on the group key, bounded per-group sort).

    Output: (group..., p_num, p_den, target_rank, bin_lo, bin_hi,
    cum_count).
    """
    from pyspark.sql import Window

    group_cols = list(group_cols)
    counts = (
        with_quantile_bins(df.select(*group_cols, value_col), value_col)
        .groupBy(*group_cols, "bin_id", "bin_lo", "bin_hi")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy(*group_cols).orderBy(F.col("bin_id").asc())
    wall = Window.partitionBy(*group_cols)
    cum = counts.select(
        *group_cols,
        "bin_id",
        "bin_lo",
        "bin_hi",
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("cnt").over(wall).alias("tot"),
    )
    probe_df = df.sparkSession.createDataFrame(
        [(int(n), int(d)) for n, d in probes], "p_num long, p_den long"
    )
    hit = (
        cum.crossJoin(F.broadcast(probe_df))
        .withColumn("target", F.expr("(p_num * tot + p_den - 1) DIV p_den"))
        .filter(F.col("cum") >= F.col("target"))
    )
    return (
        hit.groupBy(*group_cols, "p_num", "p_den", "target")
        .agg(F.min(F.struct("bin_id", "bin_lo", "bin_hi", "cum")).alias("s"))
        .select(
            *group_cols,
            "p_num",
            "p_den",
            F.col("target").alias("target_rank"),
            F.col("s.bin_lo").alias("bin_lo"),
            F.col("s.bin_hi").alias("bin_hi"),
            F.col("s.cum").alias("cum_count"),
        )
    )
