"""Market-basket analysis — co-occurrence graph, association rules,
triangle counting.

North-star extensions (no reference counterpart): the co-occurrence /
association family every analytics engine ships (frequent pairs,
confidence/lift rules) plus the canonical graph kernel built on the
same edge list (triangle counting). On a training corpus the identical
shapes power token/domain co-occurrence stats and near-dup cluster
topology.

Scale design:

- **Pairs materialize in-basket, never via self-join.** Baskets
  (items per transaction) are collected with one groupBy, then pairs
  explode inside each basket — the same in-bucket expansion discipline
  as LSH banding. A basket of b items yields C(b,2) pairs; the
  ``max_basket`` cap bounds the quadratic blow-up for pathological
  transactions (the dedup ``max_bucket`` analogue).
- **Rules are integer algebra.** Counts (pair, item, total) are exact
  BIGINTs; confidence and lift are emitted as *micro-unit integers*
  via floor division ((10⁶·c_ab) div c_a), so every row is
  bit-identical across engines and partitionings — no float division
  drift in the oracle hash.
- **Triangle counting uses the degree-ordering trick**: orient each
  undirected edge from the lower-(degree, node) endpoint to the
  higher; every triangle is counted exactly once as a directed wedge
  a→b→c closed by a→c, and the wedge join fans out from each node's
  *out*-degree, which the orientation bounds by O(√|E|) — the standard
  MapReduce triangle bound (Suri & Vassilvitskii 2011), expressed as
  two equi-joins Catalyst can shuffle-plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from diagnosisextraction_ml_spark.operators.dedup import array_pairs


def basket_pairs(
    tx: DataFrame,
    tx_col: str,
    item_col: str,
    max_basket: int = 64,
) -> DataFrame:
    """Distinct co-occurring item pairs per transaction (item_a < item_b).

    One groupBy(tx) collects each basket (deduplicated, sorted), pairs
    expand in-basket; baskets larger than ``max_basket`` are dropped
    (observable: count them upstream with a groupBy if needed).
    Output: (tx, item_a, item_b), one row per pair occurrence.
    """
    baskets = tx.groupBy(F.col(tx_col).alias("tx")).agg(
        F.array_sort(F.collect_set(F.col(item_col))).alias("items")
    )
    capped = baskets.filter(F.size("items").between(2, max_basket))
    pair_structs = array_pairs(F.col("items"), "item_a", "item_b")
    return capped.select("tx", F.explode(pair_structs).alias("p")).select(
        "tx", F.col("p.item_a").alias("item_a"), F.col("p.item_b").alias("item_b")
    )


def association_rules(
    tx: DataFrame,
    tx_col: str,
    item_col: str,
    min_pair_support: int = 2,
    max_basket: int = 64,
) -> DataFrame:
    """Pairwise association rules with integer micro-unit confidence/lift.

    For each unordered frequent pair {a, b} emits BOTH directed rules
    a→b and b→a: (antecedent, consequent, pair_count, ante_count,
    cons_count, n_tx, conf_micro, lift_micro) where

        conf_micro = (10⁶ · pair_count) div ante_count
        lift_micro = (10⁶ · pair_count · n_tx) div (ante_count · cons_count)

    — all exact BIGINT arithmetic.
    """
    baskets = tx.groupBy(F.col(tx_col).alias("tx")).agg(
        F.array_sort(F.collect_set(F.col(item_col))).alias("items")
    )
    capped = baskets.filter(F.size("items").between(2, max_basket)).localCheckpoint()

    # n_tx folded to a literal off the already-materialized `capped`
    # (the pagerank |V|-probe discipline): as a crossJoin-broadcast it
    # was a third independent job whose 1-row count lazily re-counted
    # the basket relation per run.
    n_tx = capped.count()
    # localCheckpoint: `item_counts` is broadcast TWICE (antecedent +
    # consequent sides) and left lazy each broadcast re-ran the full
    # basket explode+count; the materialized relation is the item
    # vocabulary — bounded, and already required to be broadcastable.
    item_counts = (
        capped.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("item_count"))
    ).localCheckpoint()
    # In-basket pair expansion as ONE Generate (items is sorted, so
    # every pair has item_a < item_b).
    pair_structs = array_pairs(F.col("items"), "item_a", "item_b")
    # localCheckpoint: `pairs` feeds BOTH sides of the directed-rules
    # union — left lazy, the C(b,2) pair Generate + two-level
    # aggregation executed twice (r15/r16 plan audit: the subtree
    # appears under each union side, zero ReusedExchange). The
    # materialized relation is the post-min-support frequent-pair
    # table — the survivor set, small by construction.
    pairs = (
        capped.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.item_a").alias("item_a"), F.col("p.item_b").alias("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= min_pair_support)
    ).localCheckpoint()
    directed = pairs.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        "pair_count",
    ).unionByName(
        pairs.select(
            F.col("item_b").alias("antecedent"),
            F.col("item_a").alias("consequent"),
            "pair_count",
        )
    )
    ante = item_counts.select(
        F.col("item").alias("antecedent"), F.col("item_count").alias("ante_count")
    )
    cons = item_counts.select(
        F.col("item").alias("consequent"), F.col("item_count").alias("cons_count")
    )
    out = (
        directed.join(F.broadcast(ante), "antecedent")
        .join(F.broadcast(cons), "consequent")
        .withColumn("n_tx", F.lit(n_tx).cast("long"))
    )
    return out.select(
        "antecedent",
        "consequent",
        "pair_count",
        "ante_count",
        "cons_count",
        "n_tx",
        F.expr("1000000 * pair_count div ante_count").alias("conf_micro"),
        # Lift numerator in DECIMAL(38,0): 10⁶·pair_count·n_tx exceeds
        # 2^63 once n_tx ≳ 1.5M with popular pairs — BIGINT would wrap
        # silently in Spark while DuckDB (HUGEINT promotion) stays
        # exact. `div` on decimals still yields BIGINT.
        F.expr(
            "CAST(1000000 AS DECIMAL(38,0)) * pair_count * n_tx"
            " div (ante_count * cons_count)"
        ).cast("long").alias("lift_micro"),
    )


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(u, v) with u < v — self-loops dropped, orientation normalized
    (dedup via ``.distinct()`` is left to the caller so a sampling
    filter can run first and shrink the distinct's shuffle)."""
    return (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
    )


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact triangle count of an undirected simple graph (one row).

    ``edges`` is an undirected edge list (either or both directions;
    self-loops and duplicates are removed). Orientation by
    (degree, node) makes every triangle a single directed wedge; the
    count is two shuffle equi-joins — no cartesian.

    Cost is inherently Σ outdeg² over the oriented graph — optimal for
    exact counting (Suri & Vassilvitskii 2011) but superlinear on
    DENSE graphs (the sf1 co-occurrence graph's decade ratio is ~7×).
    When the count feeds a health metric rather than an exact answer,
    use :func:`triangle_count_sampled` — the DOULION estimator whose
    wedge cost falls by p² at edge-keep rate p.
    """
    und = (
        _canonical_edges(edges, src, dst).distinct()
    ).localCheckpoint()  # consumed twice (degrees + orientation join)
    return _triangles_in(und)


def _triangles_in(und: DataFrame) -> DataFrame:
    """One-row exact triangle count of a materialized (u, v) u<v
    distinct edge relation (degree-oriented wedge join)."""
    deg = (
        und.select(F.col("u").alias("n"))
        .unionByName(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    # orient low (degree, node) -> high
    dag = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select("e.s", "e.t")
    ).localCheckpoint()
    e1 = dag.select(F.col("s").alias("a"), F.col("t").alias("b"))
    e2 = dag.select(F.col("s").alias("b"), F.col("t").alias("c"))
    wedges = e1.join(e2, "b").select("a", "b", "c")
    e3 = dag.select(F.col("s").alias("a"), F.col("t").alias("c"))
    tris = wedges.join(e3, ["a", "c"])
    return tris.agg(F.count(F.lit(1)).alias("n_triangles"))


def triangle_count_sampled(
    edges: DataFrame,
    keep_num: int = 1,
    keep_den: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """DOULION triangle estimate (Tsourakakis et al., KDD 2009) — the
    scale path for DENSE graphs where :func:`triangle_count`'s exact
    Σ outdeg² wedge join goes superlinear.

    Each canonical edge is kept iff ``md5(u:v) % keep_den < keep_num``
    (p = keep_num/keep_den) and triangles are counted exactly on the
    sparsified graph; every surviving triangle was kept with
    probability p³, so ``T̂ = T_sparse · keep_den³ div keep_num³`` is
    the (unbiased, integer-exact) estimate. Wedge-join cost falls by
    ~p², the dominant term on dense inputs; relative error shrinks as
    1/√T, so corpus-scale graphs (huge T) are exactly where the
    estimator is tightest — the paper's observation.

    Determinism discipline: the keep decision is the repo's standard
    md5-of-key coin (functions/hashing.py), NOT rand() — identical on
    any partitioning, cluster size, and in the DuckDB oracle replay,
    so even this *sampled* operator is cross-engine hash-exact.

    Output (one row): n_sampled_edges, n_triangles_sampled,
    n_triangles_est.
    """
    if not (0 < keep_num <= keep_den):
        raise ValueError(f"need 0 < keep_num <= keep_den, got {keep_num}/{keep_den}")
    from diagnosisextraction_ml_spark.functions.hashing import md5_hash64

    coin = md5_hash64(F.concat_ws(":", F.col("u"), F.col("v"))) % keep_den
    # the keep-filter runs BEFORE the dedup, so the distinct's shuffle
    # already carries only ~p of the edge volume
    kept = (
        _canonical_edges(edges, src, dst)
        .filter(coin < keep_num)
        .distinct()
    ).localCheckpoint()
    scale_num, scale_den = keep_den**3, keep_num**3
    return (
        _triangles_in(kept)
        .crossJoin(F.broadcast(kept.agg(F.count(F.lit(1)).alias("n_sampled_edges"))))
        .select(
            "n_sampled_edges",
            F.col("n_triangles").alias("n_triangles_sampled"),
            F.expr(
                f"CAST(n_triangles * {scale_num} div {scale_den} AS BIGINT)"
            ).alias("n_triangles_est"),
        )
    )
