"""Similarity search over embedding columns (north-star extension).

Two paths over an ``embeddings``-shaped table (vec_id, embedding:
array<float>, ...):

- :func:`brute_force_topk` — exact cosine top-k. The dot product is an
  index-ordered ``zip_with`` + ``aggregate`` expression — JVM-side,
  deterministic summation order (so the DuckDB oracle can reproduce it
  bit-for-bit), no UDF, no Python. The query vector rides along as a
  literal array → broadcast to every task for free.
- :func:`lsh_bucketed_topk` — the scale path: random-hyperplane LSH
  buckets (deterministic hyperplanes derived from md5 arithmetic, no
  RNG state) prune the candidate set before the exact cosine rerank.
  At 1B vectors the bucket join touches ~n/2^bits of the data per
  probe instead of all of it.

MLlib's ``BucketedRandomProjectionLSH``/``Normalizer`` cover the same
ground as fitted models; these operator forms keep the computation a
pure, explainable DataFrame plan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from diagnosisextraction_ml_spark.functions.hashing import KNUTH, M31, md5_hash64
from diagnosisextraction_ml_spark.functions.text import tokenize_expr


def dot_expr(a: Column, b: Column) -> Column:
    """Index-ordered dot product of two array<float/double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def query_vector_lit(vec: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def brute_force_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k for one query vector.

    Scan + projection + TakeOrdered: Spark's ``orderBy().limit(k)``
    physical plan keeps a k-sized heap per partition and merges on the
    driver — no global sort, no shuffle of the corpus. Deterministic
    tie-break on the id.
    """
    q = query_vector_lit(query)
    return (
        df.select(
            F.col(id_col),
            F.round(cosine_expr(F.col(vec_col), q), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _hyperplane_sign(vec_col: Column, plane_id: int) -> Column:
    """Sign of <v, h_p> for a deterministic pseudo-random hyperplane.

    Hyperplane component j of plane p = centered Knuth hash of (p, j):
    ((p·KNUTH + j·40503 + 12345) mod M31) - M31/2 — fixed by (p, j), so
    every executor (and the SQL oracle) derives the identical plane
    without shipping any state.
    """
    signed = F.zip_with(
        vec_col,
        F.sequence(F.lit(0), F.size(vec_col) - 1),
        lambda x, j: x.cast("double")
        * (((F.lit(plane_id) * KNUTH + j * 40503 + 12345) % M31) - M31 / 2.0),
    )
    dot = F.aggregate(signed, F.lit(0.0), lambda acc, v: acc + v)
    return (dot > 0).cast("int")


def lsh_bucket_expr(vec_col: Column, n_planes: int = 8) -> Column:
    """Random-hyperplane LSH bucket id in [0, 2^n_planes)."""
    bucket = None
    for p in range(n_planes):
        bit = _hyperplane_sign(vec_col, p) * F.lit(2**p)
        bucket = bit if bucket is None else bucket + bit
    return bucket


def lsh_bucketed_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Approximate cosine top-k: probe the query's LSH bucket (and its
    hamming-≤1 neighbors), exact-rerank inside the probed buckets.

    The bucket column is a pure expression of the vector, so a
    persisted corpus can *pre-partition by bucket* and the probe
    becomes a partition-pruned scan — the IVF pattern without an index
    structure.
    """
    q = query_vector_lit(query)
    bucketed = df.withColumn("__bucket", lsh_bucket_expr(F.col(vec_col), n_planes))
    qbucket = _bucket_of(query, n_planes)
    probes = {qbucket}
    if multiprobe_hamming >= 1:
        probes |= {qbucket ^ (1 << b) for b in range(n_planes)}
    return (
        bucketed.filter(F.col("__bucket").isin(sorted(probes)))
        .select(F.col(id_col), F.round(cosine_expr(F.col(vec_col), q), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def kmeans_centroids(
    df: DataFrame,
    k: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assign: str = "numpy",
    probe: int | None = None,
) -> list[list[float]]:
    """Deterministic Lloyd iterations → k centroids (IVF training).

    MLlib's KMeans carries RNG/model state; this variant follows the
    repo's hashing doctrine so the same corpus always yields the same
    centroids on any cluster:

    - init: the k rows with the smallest md5(id) (hash-random, stable);
    - assign: argmin cosine distance over broadcast centroid literals
      (pure expressions — see :func:`nearest_centroid_expr`);
    - update: per-(cluster, dim) mean via posexplode + DECIMAL-exact
      sums (float summation order would otherwise make centroids
      partition-dependent).

    Driver holds only k·dim floats. Each iteration is one shuffle
    (the groupBy(cluster, dim)).

    The (id, vec) frontier is persisted once up front: without it, a
    lazy ``df`` over a source would re-run its full upstream plan for
    the init scan *and every iteration* — ``iters + 1`` source scans
    instead of one materialization (the difference between one pass
    and four over 100 TB).

    ``assign``: "numpy" (default) computes each iteration's argmin via
    :func:`assign_nearest_centroid_numpy` (one BLAS matmul per Arrow
    batch); "expr" keeps the pure-expression argmin — the cross-engine
    parity witness the SQL oracles replay. Equality of the two is
    hash-pinned on the real testdata (tests/test_similarity.py).
    ``probe`` (numpy path only): route iteration assignments through
    :func:`assign_nearest_centroid_pruned` — the IVF-pruned
    approximate argmin for the k ∝ n regime where the full n·k matrix
    is the wall (PERF.md round 14); None keeps the exact path.
    """
    frontier = df.select(id_col, vec_col).persist()
    try:
        init = (
            frontier.orderBy(md5_hash64(F.col(id_col).cast("string")), F.col(id_col))
            .limit(k)
            .collect()
        )
        centroids = [[float(v) for v in r[vec_col]] for r in init]
        for _ in range(iters):
            # Two stages with a localCheckpoint barrier between them:
            # in a single select, the k-cosine argmin lands in a
            # Project ABOVE the Generate (and CollapseProject undoes
            # any manual split), so the expensive expression would be
            # re-evaluated once per EXPLODED row — a dim× blowup
            # (measured 17× at k=80/dim=64). The checkpoint pins the
            # assignment to one evaluation per input row.
            if assign == "numpy":
                # No checkpoint needed: the Python stage evaluates the
                # argmin once per row BELOW the Generate, so the
                # explode fan-out can't re-run it (unlike the
                # expression form, where CollapseProject would hoist
                # it above the Generate).
                if probe is not None:
                    labeled = assign_nearest_centroid_pruned(
                        frontier.select(vec_col), centroids,
                        probe=probe, vec_col=vec_col,
                    )
                else:
                    labeled = assign_nearest_centroid_numpy(
                        frontier.select(vec_col), centroids, vec_col=vec_col
                    )
            else:
                labeled = frontier.select(
                    nearest_centroid_expr(F.col(vec_col), centroids).alias("cluster"),
                    F.col(vec_col),
                ).localCheckpoint()
            assigned = labeled.select(
                "cluster",
                F.posexplode(F.col(vec_col)).alias("dim", "x"),
            )
            # decimal-exact SUM (order-independent), then one double
            # division — the decimal/decimal division path has
            # engine-specific scale rules, this form is reproducible
            # bit-for-bit in the SQL twin (sim_ivf_assign oracle)
            means = (
                assigned.groupBy("cluster", "dim")
                .agg(
                    (
                        F.sum(F.col("x").cast("decimal(27,12)")).cast("double")
                        / F.count("*")
                    ).alias("m")
                )
                .collect()
            )
            new = [list(c) for c in centroids]  # empty clusters keep position
            by_cluster: dict[int, dict[int, float]] = {}
            for r in means:
                by_cluster.setdefault(r["cluster"], {})[r["dim"]] = r["m"]
            for c_idx, dims in by_cluster.items():
                for d_idx, m in dims.items():
                    new[c_idx][d_idx] = m
            centroids = new
        return centroids
    finally:
        frontier.unpersist()


def assign_nearest_centroid_numpy(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale-path twin of :func:`nearest_centroid_expr`: BLAS argmin.

    ``mapInPandas`` over Arrow batches — one X@Cᵀ matmul per batch
    against the broadcast k×dim centroid matrix instead of k
    interpreted cosine aggregates per row (the dominant cost of
    SemDeDup's assignment passes once the pair scan is BLAS too;
    measured ~10× on the sf1 text corpus, PERF.md § Round 10).

    Semantics mirror the expression path exactly: cosine DISTANCE
    1 − dot/(‖x‖·‖c‖), argmin with first-match (lowest centroid
    index) tie resolution — ``np.argmin`` returns the first minimum,
    matching ``array_position(dists, array_min(dists))``. A zero-norm
    vector or centroid raises ArithmeticError, matching the expression
    path's ANSI DIVIDE_BY_ZERO (Spark 4 sessions run ANSI; silently
    assigning such rows would diverge from the oracle replay).

    Float caveat (same class as :func:`~.dedup._semantic_dedup_pairs_numpy`):
    BLAS block summation vs the sequential aggregate expression can
    differ in ULPs, so an exact-tie argmin could in principle flip;
    equality with the expression path is hash-pinned on the real
    testdata embeddings AND on the SRP-projected documents corpus at
    the registered params (tests/test_similarity.py), which is what
    licenses serving this path against the expression-replay oracle.

    Appends an int ``cluster`` column; all input columns pass through.
    """
    import numpy as np

    from pyspark.sql.types import IntegerType, StructField, StructType

    C = np.asarray(centroids, dtype=np.float64)
    cn = np.sqrt((C * C).sum(axis=1))
    if (cn == 0.0).any():
        raise ArithmeticError(
            "assign_nearest_centroid_numpy: zero-norm centroid "
            "(the expression path raises ANSI DIVIDE_BY_ZERO here)"
        )
    # Fresh StructType: StructType.add MUTATES the receiver, and
    # df.schema hands back the DataFrame's cached schema object —
    # adding to it in place makes the df claim a column its plan
    # doesn't produce.
    schema = StructType(
        list(df.schema.fields) + [StructField("cluster", IntegerType(), False)]
    )

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                pdf = pdf.copy()
                pdf["cluster"] = pd.Series([], dtype="int32")
                yield pdf
                continue
            X = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            xn = np.sqrt((X * X).sum(axis=1))
            if (xn == 0.0).any():
                raise ArithmeticError(
                    "assign_nearest_centroid_numpy: zero-norm vector "
                    "(the expression path raises ANSI DIVIDE_BY_ZERO here)"
                )
            dist = 1.0 - (X @ C.T) / np.outer(xn, cn)
            pdf = pdf.copy()
            pdf["cluster"] = dist.argmin(axis=1).astype("int32")
            yield pdf

    return df.mapInPandas(scan, schema)


def _meta_cluster_centroids(C_hat, m: int, iters: int = 10):
    """Driver-side deterministic Lloyd over the (already normalized)
    k×d centroid matrix → (m×d normalized meta-centroids, per-centroid
    meta-cell labels). Init = evenly strided centroid indices (stable:
    no RNG, same input → same cells). Pure numpy on a k-row matrix —
    microseconds next to one Arrow batch."""
    import numpy as np

    k = C_hat.shape[0]
    M = C_hat[(np.arange(m) * (k // m)) % k].copy()
    for _ in range(iters):
        labels = (C_hat @ M.T).argmax(axis=1)
        for g in range(m):
            members = C_hat[labels == g]
            if len(members):
                v = members.mean(axis=0)
                nv = np.sqrt((v * v).sum())
                if nv > 0:
                    M[g] = v / nv
    labels = (C_hat @ M.T).argmax(axis=1)
    return M, labels


def assign_nearest_centroid_pruned(
    df: DataFrame,
    centroids: list[list[float]],
    probe: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-pruned assignment — the measured fix for the n·k wall.

    :func:`assign_nearest_centroid_numpy` materializes the full n×k
    cosine matrix; at the third decade that matrix IS the cost of
    SemDeDup under the k ∝ n rule (sf100 breakdown, PERF.md round 14:
    three 5M×2500 assignment passes ≈ 85% of the cluster+dedup wall —
    the n·k = O(n²/c) term). The classic IVF move applied to the
    CENTROID set deletes it: pre-cluster the k centroids into
    m = ⌈√k⌉ meta-cells (driver-side numpy, deterministic); per Arrow
    batch, rows first pick their best meta-cell (n·m matmul), then
    compare exactly against only the centroids living in the
    ``probe`` meta-cells nearest their own (n·probe·k/m) — per-pass
    work drops from n·k to ~n·(√k + probe·√k), a measured win at
    sf100 with agreement pinned by tests.

    APPROXIMATE by construction: a row whose true nearest centroid
    lives outside its probed meta-cells gets its best probed candidate
    instead (tests pin probe=m ⇒ identical to the exact path on
    tie-free data, and high agreement + bounded cosine regret at small
    probe on the SRP document corpus — the actual SemDeDup input; note
    structureless uniform-random vectors defeat ANY inverted-file
    pruning, which is a property of the data, not the index). Probing
    is ROW-level (each row ranks all m meta-cells and searches its own
    top ``probe`` cells), the standard IVF nprobe — cell-level
    adjacency was measured noticeably worse on boundary rows. For
    SemDeDup the miss cost is which near-identical cluster a boundary
    row lands in — the paper's own k-means is approximate; the
    REGISTRY entries keep the exact path so oracle replay is
    untouched. Zero-norm vectors/centroids raise, as the exact path
    does.
    """
    import numpy as np

    from pyspark.sql.types import IntegerType, StructField, StructType

    C = np.asarray(centroids, dtype=np.float64)
    cn = np.sqrt((C * C).sum(axis=1))
    if (cn == 0.0).any():
        raise ArithmeticError(
            "assign_nearest_centroid_pruned: zero-norm centroid "
            "(the expression path raises ANSI DIVIDE_BY_ZERO here)"
        )
    C_hat = C / cn[:, None]
    k = C_hat.shape[0]
    m = max(1, int(np.ceil(np.sqrt(k))))
    probe = max(1, min(probe, m))
    M, labels = _meta_cluster_centroids(C_hat, m)
    members = [np.where(labels == g)[0] for g in range(m)]

    schema = StructType(
        list(df.schema.fields) + [StructField("cluster", IntegerType(), False)]
    )

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                pdf = pdf.copy()
                pdf["cluster"] = pd.Series([], dtype="int32")
                yield pdf
                continue
            X = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            xn = np.sqrt((X * X).sum(axis=1))
            if (xn == 0.0).any():
                raise ArithmeticError(
                    "assign_nearest_centroid_pruned: zero-norm vector "
                    "(the expression path raises ANSI DIVIDE_BY_ZERO here)"
                )
            X_hat = X / xn[:, None]
            # row-level nprobe: each row's own top `probe` meta-cells
            cell_sims = X_hat @ M.T
            if probe < m:
                top = np.argpartition(-cell_sims, probe - 1, axis=1)[:, :probe]
            else:
                top = np.broadcast_to(np.arange(m), (len(X), m))
            best_sim = np.full(len(X), -np.inf)
            best_idx = np.zeros(len(X), dtype="int32")
            for g in range(m):
                cand = members[g]
                if not len(cand):
                    continue
                rows = np.where((top == g).any(axis=1))[0]
                if not len(rows):
                    continue
                sims = X_hat[rows] @ C_hat[cand].T
                loc = sims.argmax(axis=1)
                val = sims[np.arange(len(rows)), loc]
                upd = val > best_sim[rows]
                ridx = rows[upd]
                best_sim[ridx] = val[upd]
                best_idx[ridx] = cand[loc[upd]]
            # A row whose probed meta-cells are ALL empty (Lloyd can
            # leave cells memberless) would otherwise silently land on
            # centroid 0 — fall back to the exact argmin for exactly
            # those rows (rare by construction, never wrong).
            miss = np.where(np.isinf(best_sim))[0]
            if len(miss):
                sims = X_hat[miss] @ C_hat.T
                best_idx[miss] = sims.argmax(axis=1).astype("int32")
            pdf = pdf.copy()
            pdf["cluster"] = best_idx
            yield pdf

    return df.mapInPandas(scan, schema)


def nearest_centroid_expr(vec_col: Column, centroids: list[list[float]]) -> Column:
    """0-based index of the nearest centroid by cosine distance.

    One distance expression per centroid (literal arrays broadcast in
    the plan), argmin via array_position of the array minimum —
    deterministic first-match on exact ties.
    """
    dists = F.array(
        *[
            (F.lit(1.0) - cosine_expr(vec_col, query_vector_lit(c)))
            for c in centroids
        ]
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def write_ivf_corpus(
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Persist the corpus partitioned by its nearest-centroid cluster.

    The learned-partition sibling of :func:`write_bucketed_corpus`: a
    probe computes its query's nearest clusters driver-side and reads
    only those partitions (see :func:`ivf_topk_pruned`).
    """
    (
        df.withColumn("cluster", nearest_centroid_expr(F.col(vec_col), centroids))
        .write.mode(mode)
        .partitionBy("cluster")
        .parquet(path)
    )


def ivf_topk_pruned(
    spark,
    path: str,
    query: Sequence[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF probe: rank clusters by query-centroid cosine driver-side,
    scan only the ``n_probe`` nearest partitions, exact-rerank."""
    import math

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na and nb else 0.0

    order = sorted(range(len(centroids)), key=lambda i: (-cos(query, centroids[i]), i))
    probes = order[:n_probe]
    q = query_vector_lit(query)
    corpus = spark.read.parquet(path)
    return (
        corpus.filter(F.col("cluster").isin(probes))
        .select(F.col(id_col), F.round(cosine_expr(F.col(vec_col), q), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def write_bucketed_corpus(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    n_planes: int = 8,
    mode: str = "overwrite",
) -> None:
    """Persist an embedding corpus partitioned by its LSH bucket.

    The IVF pattern as pure Spark storage layout: the bucket is a
    deterministic expression of the vector, written as a parquet
    *partition column* — a later probe filters on ``bucket`` and the
    scan physically prunes to the probed directories (see
    :func:`bucketed_topk_pruned`). At 1B vectors a hamming-1 multiprobe
    touches (1+n_planes)/2^n_planes of the files instead of all of
    them, with zero index structures to maintain.
    """
    (
        df.withColumn("bucket", lsh_bucket_expr(F.col(vec_col), n_planes))
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(path)
    )


def bucketed_topk_pruned(
    spark,
    path: str,
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k over a :func:`write_bucketed_corpus` layout.

    The ``bucket IN (probes)`` filter is a partition-pruning predicate:
    only the probed bucket directories are read (verify with
    ``.explain`` — the scan shows the pruned partition count).
    """
    qbucket = _bucket_of(query, n_planes)
    probes = {qbucket}
    if multiprobe_hamming >= 1:
        probes |= {qbucket ^ (1 << b) for b in range(n_planes)}
    q = query_vector_lit(query)
    corpus = spark.read.parquet(path)
    return (
        corpus.filter(F.col("bucket").isin(sorted(probes)))
        .select(F.col(id_col), F.round(cosine_expr(F.col(vec_col), q), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _bucket_of(query: Sequence[float], n_planes: int) -> int:
    """Driver-side twin of :func:`lsh_bucket_expr` for a literal vector.

    Same Knuth-hash hyperplanes, plain Python arithmetic — no Spark job
    needed to find the probe buckets.
    """
    bucket = 0
    for p in range(n_planes):
        dot = 0.0
        for j, x in enumerate(query):
            w = ((p * KNUTH + j * 40503 + 12345) % M31) - M31 / 2.0
            dot += float(x) * w
        if dot > 0:
            bucket |= 1 << p
    return bucket


def _bucketed_candidate_rerank(
    q: DataFrame,
    c: DataFrame,
    k: int,
    n_planes: int,
    multiprobe_hamming: int,
    pre_rank_filter: Column,
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Shared LSH-probe core of :func:`pairwise_topk_join` and
    :func:`hard_negative_topk` — one place for the bucket/multiprobe/
    cosine-rerank logic so probe fixes apply to both.

    ``q`` carries (query_id, qv, …), ``c`` carries (neighbor_id, cv,
    …extra_cols). Both sides get a deterministic random-hyperplane
    bucket; the query side expands to its hamming-≤1 neighborhood
    (``multiprobe_hamming`` ≥ 1); candidates materialize only through
    the bucket equi-join (never a cartesian); ``pre_rank_filter``
    prunes BEFORE ranking so rank counts only eligible candidates; the
    exact cosine reranks with a deterministic (cosine DESC,
    neighbor_id) tie-break. Output: (query_id, neighbor_id,
    *extra_cols, cosine, rank ≤ k)."""
    from pyspark.sql import Window

    probes = [F.lit(0)]
    if multiprobe_hamming >= 1:
        probes += [F.lit(2**b) for b in range(n_planes)]
    qb = q.withColumn("__qb", lsh_bucket_expr(F.col("qv"), n_planes)).withColumn(
        "__bucket",
        F.explode(F.array(*[F.col("__qb").bitwiseXOR(p) for p in probes])),
    )
    cb = c.withColumn("__bucket", lsh_bucket_expr(F.col("cv"), n_planes))
    scored = (
        qb.join(cb, "__bucket")
        .filter(pre_rank_filter)
        .select(
            "query_id",
            "neighbor_id",
            *extra_cols,
            F.round(cosine_expr(F.col("qv"), F.col("cv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def pairwise_topk_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_vec: str = "embedding",
    q_id: str = "vec_id",
    c_vec: str = "embedding",
    c_id: str = "vec_id",
    n_planes: int = 8,
    multiprobe_hamming: int = 1,
    exact: bool = False,
) -> DataFrame:
    """k nearest corpus rows for *every* query row (batch ANN).

    Default (bucketed) path: both sides get a deterministic
    random-hyperplane LSH bucket; the query side is *expanded* to its
    bucket plus all hamming-≤1 neighbor buckets (multiprobe, recall
    knob), then an equi-join on the bucket prunes the candidate set to
    ~ (1+n_planes)/2^n_planes of the corpus per query before the exact
    cosine rerank. No crossJoin anywhere in the plan: the join is a
    plain shuffle (or broadcast, AQE's choice) hash join, so a 10^6 ×
    10^9 batch-ANN stays a bounded-fan-out equi-join instead of a
    cartesian scale-killer. Each corpus row owns exactly one bucket, so
    multiprobe never duplicates a (query, neighbor) pair.

    ``exact=True`` keeps the old broadcast-cartesian exact rerank for
    tiny query sets (≤10³) where full recall matters more than cost.
    NOTE: the default changed to the bucketed path in round 2 — callers
    needing full recall must opt in with ``exact=True``. The bucketed
    default's neighbor set (hamming-≤1 candidate recall) is pinned
    exactly by the ``sim_pairwise_topk`` driver oracle, so recall drift
    in the approximate path is hash-detected, not trust-me.

    Output: (query_id, neighbor_id, cosine, rank ≤ k).
    """
    from pyspark.sql import Window

    q = queries.select(F.col(q_id).alias("query_id"), F.col(q_vec).alias("qv"))
    c = corpus.select(F.col(c_id).alias("neighbor_id"), F.col(c_vec).alias("cv"))
    if exact:
        scored = (
            F.broadcast(q)
            .crossJoin(c)
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                F.round(cosine_expr(F.col("qv"), F.col("cv")), 6).alias("cosine"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
        return scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )
    return _bucketed_candidate_rerank(
        q,
        c,
        k,
        n_planes,
        multiprobe_hamming,
        pre_rank_filter=F.col("query_id") != F.col("neighbor_id"),
    )


def hard_negative_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    n_planes: int = 8,
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every query
    row, the k most-similar corpus rows with a DIFFERENT label — the
    standard batch-construction step for embedding-model fine-tuning
    (high-cosine wrong-label neighbors are the informative negatives).

    Same no-cartesian shape as :func:`pairwise_topk_join` — both ride
    :func:`_bucketed_candidate_rerank` (ONE copy of the bucket/
    multiprobe/rerank logic). The label-mismatch filter runs BEFORE
    ranking, so rank is the position among *negatives* (a same-label
    near-dup never displaces a negative). Ranking ties break on
    neighbor id — deterministic, hash-pinnable.

    Output: (query_id, neighbor_id, neighbor_label, cosine, rank ≤ k).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col(label_col).alias("__ql"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col(label_col).alias("neighbor_label"),
    )
    return _bucketed_candidate_rerank(
        q,
        c,
        k,
        n_planes,
        multiprobe_hamming,
        pre_rank_filter=F.col("__ql") != F.col("neighbor_label"),
        extra_cols=("neighbor_label",),
    )


def quantize_embeddings_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard 4× storage
    reduction for embedding corpora before ANN indexing.

    ``scale = max|x| / 127``; ``q_i = round(x_i / scale)`` ∈ [-127, 127]
    (zero vectors quantize to zeros with scale 0). Elements are widened
    float→double *first* so every subsequent op is IEEE-double in both
    engines — the whole projection is shuffle-free and hash-matches its
    SQL twin exactly. Dequantize with :func:`dequantize_embeddings`.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.when(
        max_abs == 0, F.transform(v, lambda x: F.lit(0))
    ).otherwise(
        F.transform(v, lambda x: F.round(x / (max_abs / F.lit(127)), 0).cast("int"))
    )
    return df.select(
        F.col(id_col),
        (max_abs / F.lit(127)).alias("scale"),
        q.alias("q"),
    )


def dequantize_embeddings(
    df: DataFrame, q_col: str = "q", scale_col: str = "scale"
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings_int8`: x̂_i = q_i · scale.
    Max reconstruction error is scale/2 per element by construction."""
    return df.withColumn(
        "embedding_deq",
        F.transform(F.col(q_col), lambda x: x.cast("double") * F.col(scale_col)),
    )


def gram_matrix_quantized(
    df: DataFrame,
    vec_col: str = "embedding",
    quant: int = 1_000_000,
) -> DataFrame:
    """Upper-triangle Gram matrix Σ_r x_i·x_j over an embedding corpus,
    in exact integers — the one-pass sufficient statistic for PCA /
    whitening of an embedding table before SemDeDup or ANN indexing.

    Elements are quantized ``q = round(double(x)·quant)`` first (the
    proven cross-engine rounding class from
    :func:`quantize_embeddings_int8`), so every partial sum is a BIGINT
    and the result is independent of partitioning and accumulation
    order. Recover the float Gram as ``sum_prod / quant²``.

    Plan shape (the 100 TB story): two chained ``posexplode`` Generates
    fan each row into its dim·(dim+1)/2 upper-triangle products —
    all map-side, codegen'd, NO self-join — then one hash aggregation
    whose keyspace is dim² (≤ a few thousand keys), with map-side
    partials doing virtually all the reduction. Shuffle volume is
    O(partitions · dim²) regardless of corpus size.

    Overflow bound: |q| ≤ quant·max|x|, so Σ products needs
    n·(quant·max|x|)² < 2^63 — at quant=1e6 and unit-scale embeddings
    that is ~9e6 rows per *global* sum; lower ``quant`` (e.g. 1e4 →
    ~9e10 rows) for corpus-scale runs.

    Output: (i, j, sum_prod) with 0-based i ≤ j, one row per pair.
    """
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * F.lit(float(quant)), 0).cast("long"),
    )
    # The dim·(dim+1)/2 fan-out runs at the input's parallelism — fan a
    # narrow (single-file) scan out to the session default first (same
    # guard as langid's fan_out; no-op for wide scans).
    from diagnosisextraction_ml_spark.functions.partitioning import fan_out

    df = fan_out(df)
    ei = df.select(q.alias("q")).select(
        "q", F.posexplode("q").alias("i", "qi")
    )
    # Elements with 0-based index j >= i live at 1-based positions
    # i+1 .. size, so slice(q, i+1, size-i); the second posexplode's
    # offset jo gives j = i + jo.
    eij = ei.select(
        F.col("i"),
        F.col("qi"),
        F.posexplode(F.expr("slice(q, i + 1, size(q) - i)")).alias("jo", "qj"),
    )
    return (
        eij.select(
            F.col("i").cast("long").alias("i"),
            (F.col("i") + F.col("jo")).cast("long").alias("j"),
            (F.col("qi") * F.col("qj")).alias("p"),
        )
        .groupBy("i", "j")
        .agg(F.sum("p").alias("sum_prod"))
    )


def pca_project(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: int = 1_000_000,
) -> tuple[DataFrame, list[float]]:
    """Project embeddings onto their top-k principal directions
    (uncentered PCA, i.e. truncated SVD of the raw vectors — the usual
    convention for unit-norm-ish embedding tables).

    Distributed part: ONE :func:`gram_matrix_quantized` pass (exact
    integers, dim²-key shuffle). Driver part: a numpy ``eigh`` on the
    dim×dim Gram — O(dim³) on ≤ dim·(dim+1)/2 collected values, never
    corpus-sized. Eigenvector sign is canonicalized (largest-|coord|
    positive) so the output is deterministic across LAPACK builds up to
    float noise; projections are rounded to 6 dp.

    The projection itself is k codegen'd ``zip_with``+``aggregate``
    dot products against literal component arrays — broadcast for
    free, no UDF, no second shuffle.

    Returns ``(projected, eigenvalues)`` where projected has columns
    (id_col, pc0..pc{k-1}) and eigenvalues are the top-k eigenvalues of
    the Gram scaled back to float units (divide by n for variance).
    """
    import numpy as np

    first = df.select(vec_col).first()
    if first is None:
        raise ValueError("pca_project: empty input")
    dim = len(first[0])
    if not 1 <= k <= dim:
        raise ValueError(f"pca_project: k={k} outside [1, dim={dim}]")
    gram = np.zeros((dim, dim))
    for row in gram_matrix_quantized(df, vec_col=vec_col, quant=quant).collect():
        v = row["sum_prod"] / (float(quant) * float(quant))
        gram[row["i"], row["j"]] = v
        gram[row["j"], row["i"]] = v
    eigvals, eigvecs = np.linalg.eigh(gram)
    order = np.argsort(eigvals)[::-1][:k]
    comps: list[list[float]] = []
    top_vals: list[float] = []
    for idx in order:
        vec = eigvecs[:, idx]
        anchor = int(np.argmax(np.abs(vec)))
        if vec[anchor] < 0:
            vec = -vec
        comps.append([float(x) for x in vec])
        top_vals.append(float(eigvals[idx]))
    proj_cols = [
        F.round(
            dot_expr(F.col(vec_col), query_vector_lit(comp)), 6
        ).alias(f"pc{i}")
        for i, comp in enumerate(comps)
    ]
    return df.select(F.col(id_col), *proj_cols), top_vals


def pca_project_frozen(
    df: DataFrame,
    components_q: Sequence[Sequence[int]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: int = 1_000_000,
) -> DataFrame:
    """Project embeddings onto FROZEN quantized principal components —
    the serve-side half of the train-once/apply-everywhere PCA doctrine
    (the :func:`pca_project` eigh is the offline trainer; its
    canonicalized eigenvectors, quantized to ``round(c·quant)`` ints,
    are the artifact this replays — same shape as the frozen BPE merge
    table in plans/queries_ext.py).

    Exactness: both the embedding and the component are integers
    (``q = round(double(x)·quant)``), so each projection is the exact
    INTEGER Σ q_e·q_c scaled by quant² — order-independent,
    partition-independent, bit-identical cross-engine, then rounded to
    6 dp. Overflow bound: dim·(quant·max|x|)·(quant·max|c|) < 2^63 —
    at quant=1e6, unit-scale values, dim=64 that is ~6.4e13 ≪ 2^63.

    Plan: a pure map — k codegen'd ``zip_with``+``aggregate`` integer
    dots against literal arrays. No shuffle, no UDF, no collect;
    trivially scales to any corpus size.

    Output: (id_col, pc0..pc{k-1} DOUBLE).
    """
    qe = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * F.lit(float(quant)), 0).cast("long"),
    )
    scale = float(quant) * float(quant)
    proj_cols = []
    for i, comp in enumerate(components_q):
        lit = F.array(*[F.lit(int(c)).cast("long") for c in comp])
        dot_int = F.aggregate(
            F.zip_with(qe, lit, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        proj_cols.append(
            F.round(dot_int.cast("double") / F.lit(scale), 6).alias(f"pc{i}")
        )
    return df.select(F.col(id_col), *proj_cols)


def srp_embed_text(
    docs: DataFrame,
    dim: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Text → dense vector: hashed TF-IDF under a signed random projection.

    A from-scratch featurizer that turns raw documents into the
    ``(id, embedding)`` shape the ANN / SemDeDup stack consumes —
    no external model needed. Each dimension k is the ±1-signed sum of
    the document's TF-IDF weights (``sign(token, k)`` from md5 — the
    SimHash construction, kept real-valued instead of thresholded), a
    Johnson-Lindenstrauss-style projection whose cosines approximate
    TF-IDF cosines at dim ≫ ln(n).

    Exactness doctrine: idf is micro-nat-quantized the moment it
    leaves ``ln``; every component is then the INTEGER
    Σ tf·idf_micro·(±1) — order-independent, overflow-safe
    (≤ ~1e11 ≪ 2^63), bit-identical cross-engine. The vector is cast
    to double only at the boundary so downstream cosine code sees the
    usual array<double>.

    Plan: token counts groupBy + vocabulary-sized dfreq groupBy +
    dim-way explode → groupBy(id, k) partial-first sum → one
    array_sort(collect_list) assembly per doc. N rides along as the
    single-row scalar broadcast.

    Output: (id, embedding array<double>) — docs with no tokens drop.
    """
    toks = tokenize_expr(F.lower(F.col(text_col)))
    tc = (
        docs.select(F.col(id_col), F.explode(toks).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dfreq = tc.groupBy("w").agg(F.count(F.lit(1)).alias("dfr"))
    ndocs = docs.agg(F.count(F.lit(1)).alias("n_docs")).select(
        F.lit(1).alias("j"), "n_docs"
    )
    idf_micro = F.round(
        F.lit(1_000_000.0)
        * (
            F.log(
                (F.lit(1.0) + F.col("n_docs").cast("double"))
                / (F.lit(1.0) + F.col("dfr").cast("double"))
            )
            + F.lit(1.0)
        ),
        0,
    ).cast("long")
    # Signs depend only on (k, token): compute all dim sign bits ONCE
    # per DISTINCT token on the vocabulary-sized dfreq relation instead
    # of dim md5s per (doc, token) row — ~|corpus tokens|/|vocab| fewer
    # hash evaluations (two orders of magnitude on real corpora),
    # bit-identical output. The (doc, token) rows then just posexplode
    # the precomputed sign array.
    signs = F.array(
        *[
            (
                F.lit(1)
                - F.lit(2)
                * (md5_hash64(F.concat(F.lit(f"{k}:"), F.col("w"))) % F.lit(2))
            )
            for k in range(dim)
        ]
    )
    weighted = (
        tc.join(dfreq.withColumn("__signs", signs), ["w"])
        .withColumn("j", F.lit(1))
        .join(F.broadcast(ndocs), ["j"])
        .select(id_col, (F.col("c") * idf_micro).alias("wt"), "__signs")
    )
    # All dim components in ONE groupBy(id): component k is the exact
    # integer Σ wt·signs[k], so dim parallel sum() aggregates replace
    # the former posexplode→groupBy(id, k)→groupBy(id) collect_list
    # chain — no dim× row fan-out and one shuffle instead of two
    # (sf1: 26s → 11s for the text-SemDeDup featurization). Integer
    # sums are order-independent, so the output is bit-identical.
    comps = [
        F.sum(F.col("wt") * F.col("__signs")[k]).alias(f"__v{k}")
        for k in range(dim)
    ]
    return (
        weighted.groupBy(id_col)
        .agg(*comps)
        .select(
            id_col,
            F.array(
                *[F.col(f"__v{k}").cast("double") for k in range(dim)]
            ).alias("embedding"),
        )
    )
