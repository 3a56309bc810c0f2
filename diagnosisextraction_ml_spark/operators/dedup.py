"""Deduplication operators (north-star extensions) — exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale design notes (the whole point of these):

- Exact dedup is a hash aggregation on a 60-bit fingerprint of the
  normalized text — one shuffle keyed by the fingerprint, no text
  comparison ever crosses the wire (only the 8-byte hash + doc id).
- MinHash signatures are computed with *deterministic arithmetic*
  hashes over md5 token hashes (h_i(x) = (a_i·x + b_i) mod p). No
  library RNG state: the same document gives the same signature on any
  cluster, any partitioning, and in the DuckDB oracle — which makes
  the whole near-dup pipeline hash-checkable, unlike MLlib's
  ``MinHashLSH`` whose seeds are model state.
- LSH banding turns the O(n²) pair search into groupBy(band_hash):
  candidate pairs only materialize within a bucket. Buckets are
  Zipf-ish; a pathological bucket (boilerplate docs) is capped by
  ``max_bucket`` to bound the join blow-up — the standard guard in
  web-scale dedup (dropped buckets are near-100%-dup cliques anyway;
  cap counts are observable in the output).
- SimHash is one explode + 64 conditional sums — a single aggregation,
  no pair join at all; near-dups are then hamming-distance lookups.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from diagnosisextraction_ml_spark.functions.hashing import KNUTH, M31, md5_hash64
from diagnosisextraction_ml_spark.functions.text import normalize_ws, tokenize_expr

# Shingling runs at the input's parallelism: fan_out spreads a narrow
# (1-2 partition) scan so tokenize+zip+concat is not pinned to 1-2 cores.
from diagnosisextraction_ml_spark.functions.partitioning import fan_out


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (whitespace-normalized) documents.

    Output: (fingerprint, n_dups, keep_id) for groups with n > 1;
    ``keep_id`` is the min doc id (the canonical survivor).

    The fingerprint is the full 128-bit md5 hex: at billions of docs a
    60-bit hash hits birthday collisions (~2^30), which for *exact*
    dedup would silently merge distinct documents. The 60-bit integer
    form stays in the sketching paths where collisions only cost
    recall/precision, not correctness.
    """
    return (
        df.select(F.md5(normalize_ws(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row (min id) per distinct normalized text (128-bit fp).

    Kept as a ranked window, NOT the r15 struct-min argmin: the op is
    generic over the input schema and a min(struct(id, rest...)) would
    require every carried column to be orderable (a map column would
    break), where the window orders by id alone.
    """
    fp = F.md5(normalize_ws(text_col)).alias("__fp")
    from pyspark.sql import Window

    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__fp", fp)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def dedup_first_seen_within_horizon(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    horizon: str = "1 hour",
) -> DataFrame:
    """Batch twin of ``streaming_dedup_exact``'s watermark mode.

    Keeps the earliest row (ts asc, id asc) per (normalized-text
    fingerprint, tumbling ``horizon`` window of ``ts``). This is the
    oracle-adjacent batch statement of
    ``dropDuplicatesWithinWatermark`` (streaming/events.py): both
    guarantee duplicates closer than the horizon collapse to one
    survivor while occurrences far enough apart each survive. Exact
    boundary behavior differs — streaming expires state at
    first-seen + delay as the watermark advances, the batch twin cuts
    at fixed epoch-aligned window edges — the documented
    approximation, hash-checked where it *can* be (this query), with
    the true streaming semantics pinned by
    tests/test_streaming.py::test_streaming_dedup_watermark_straddle.

    Output: (id, fingerprint, window_start).
    """
    win = F.window(F.col(ts_col), horizon)
    base = df.select(
        F.col(id_col),
        F.md5(normalize_ws(text_col)).alias("fingerprint"),
        F.col(ts_col).alias("__ts"),
        win["start"].alias("window_start"),
    )
    # earliest (ts, id) per (fingerprint, window) as a struct-min
    # aggregation (r15 argmin sweep): identical head row to the former
    # ranked window, map-side combined instead of sorting every
    # duplicate occurrence inside the shuffle.
    return (
        base.groupBy("fingerprint", "window_start")
        .agg(F.min(F.struct("__ts", id_col)).alias("__m"))
        .select(
            F.col(f"__m.{id_col}").alias(id_col), "fingerprint", "window_start"
        )
    )


# --------------------------------------------------------------------------
# shingling + MinHash
# --------------------------------------------------------------------------

def _word_ngrams(toks: Column, n: int, short: Column) -> Column:
    """Word n-grams of a token array, in start-position order; ``short``
    stands in for arrays of fewer than n tokens.

    Built as ``arrays_zip`` of n shifted slices + one concat per
    position — 2 array copies total instead of one ``slice`` copy per
    position (the per-position form measured ~2× slower on the
    documents table).
    """
    sz = F.size(toks)
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, sz) for i in range(n)])
    full = F.transform(
        F.slice(zipped, 1, sz - n + 1),
        lambda s: F.concat_ws(" ", *[s.getField(str(i)) for i in range(n)]),
    )
    return F.when(sz >= n, full).otherwise(short)


def _gram_col(text_col: str, n: int):
    """Column of all word n-gram shingles of ``text_col`` (with dupes,
    possibly containing "" for empty docs — callers dedup/drop).

    Docs shorter than n tokens contribute their whole text as the
    single shingle (same as the clamped-slice semantics the DuckDB
    oracle twin reproduces).
    """
    toks = tokenize_expr(F.lower(F.col(text_col)))
    if n == 1:
        return toks
    return _word_ngrams(toks, n, F.array(F.array_join(toks, " ")))


def shingle_arrays(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """One row per document: (id, __grams array<string>) — the DISTINCT
    word n-gram shingles, kept in array form (no explode, no shuffle).
    ``array_remove`` (a codegen builtin, not a higher-order lambda)
    drops the empty-doc "" shingle."""
    return fan_out(df).select(
        F.col(id_col),
        F.array_remove(F.array_distinct(_gram_col(text_col, n)), "").alias("__grams"),
    )


def shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document → (id, shingle) rows.

    Kept as explode-then-row-filter (NOT the exploded view of
    :func:`shingle_arrays`): the row filter stays inside whole-stage
    codegen, measured faster than an extra array pass for the
    many consumers that want rows anyway."""
    return (
        fan_out(df)
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(_gram_col(text_col, n))).alias("shingle"),
        )
        .filter(F.col("shingle") != "")
    )


# Crossover between the two _minhash_wide formulations, measured at
# sf0.1 (r15, alternating paired runs, min-of-2 per side). Array wins
# on UNIGRAM shingles: n=1 k=8 0.73→0.45 s, n=1 k=16 full corpus
# 0.73→0.49 s (the token array already exists; each h_i is pure
# arithmetic over it). Rows wins on word n-grams at pipeline scale:
# n=3 k=16 full corpus 0.79 vs 1.04 s, and inside minhash_lsh_pairs
# (registry k=16 n=3) rows beat array by +0.46/+0.62/+0.72 s across
# 3 alternating pairs (k=64: rows 2.9-3.7 s vs array 3.3-5.2 s) —
# k array passes over the zip/concat-built gram arrays cost more CPU
# than the one shuffle they remove. Both formulations bit-identical
# (tests/test_dedup.py::test_minhash_array_native_matches_row_reference
# + exceptAll A/B at sf0.001/sf0.01).
_ARRAY_NATIVE_MAX_K = 16


def _minhash_wide(
    df: DataFrame, text_col: str, id_col: str, n: int, k: int
) -> DataFrame:
    """One row per doc with columns h0..h{k-1} — the wide signature.

    h_i(x) = ((a_i · (x mod p) + b_i) mod p) over md5 shingle hashes,
    p = 2^31-1; a_i/b_i derived from i by Knuth multiplicative mixing.
    All intermediates < 2^63 (see functions/hashing.py overflow note).
    Dispatches on (n, k) per the measured crossover above: narrow
    unigram signatures are computed row-locally with zero exchanges,
    everything else through the single-shuffle k-min aggregation.
    """
    if n == 1 and k <= _ARRAY_NATIVE_MAX_K:
        return _minhash_wide_arrays(df, text_col, id_col, n, k)
    return _minhash_wide_rows(df, text_col, id_col, n, k)


def _minhash_wide_arrays(
    df: DataFrame, text_col: str, id_col: str, n: int, k: int
) -> DataFrame:
    """Array-native wide signature: no (id, shingle) row ever exists.

    The md5 hashes are one ``transform`` over the gram array and each
    h_i is an ``array_min`` over it — zero exchanges and no explode.
    Docs whose gram set is empty (empty/whitespace/null text) produce
    no group in the row-based shape and are filtered here — same
    semantics.
    """
    grams = F.filter(
        F.array_distinct(_gram_col(text_col, n)),
        lambda g: g.isNotNull() & (g != ""),
    )
    base = (
        fan_out(df)
        .select(F.col(id_col), grams.alias("__g"))
        .filter(F.size("__g") > 0)
    )
    xs = F.transform(F.col("__g"), lambda g: md5_hash64(g) % F.lit(M31))
    base = base.select(F.col(id_col), xs.alias("__x"))
    mins = []
    for i in range(k):
        a = (i * KNUTH + 1) % M31
        b = (i * 40503 + 7) % M31
        mins.append(
            F.array_min(
                F.transform(
                    F.col("__x"), lambda x: (F.lit(a) * x % M31 + F.lit(b)) % M31
                )
            ).alias(f"h{i}")
        )
    return base.select(id_col, *mins)


def _minhash_wide_rows(
    df: DataFrame, text_col: str, id_col: str, n: int, k: int
) -> DataFrame:
    """Row-based wide signature: explode shingles, shuffle once into a
    k-``min`` groupBy. All k minima are computed in ONE aggregation
    over the (id, shingle-hash) rows — k ``min`` expressions per
    group, map-side combined, so the shingle rows shuffle once (never
    k times). The winning shape for wide signatures (k > 16), where
    k array passes per row cost more than the single shuffle.
    """
    x = md5_hash64("shingle") % F.lit(M31)
    hashed = shingles(df, text_col, id_col, n).select(
        F.col(id_col), x.alias("x")
    )
    aggs = []
    for i in range(k):
        a = (i * KNUTH + 1) % M31
        b = (i * 40503 + 7) % M31
        h = (F.lit(a) * F.col("x") % M31 + F.lit(b)) % M31
        aggs.append(F.min(h).alias(f"h{i}"))
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 64,
) -> DataFrame:
    """MinHash signature per document → (id, i, minhash), i in [0, k).

    Takes the raw documents (the wide build shingles row-locally —
    see :func:`_minhash_wide`); the long (id, i, minhash) unpivot is
    one k-struct explode of the wide row.
    """
    wide = _minhash_wide(df, text_col, id_col, n, k)
    stacked = F.explode(
        F.array(
            *[
                F.struct(F.lit(i).alias("i"), F.col(f"h{i}").alias("minhash"))
                for i in range(k)
            ]
        )
    ).alias("s")
    return wide.select(F.col(id_col), stacked).select(
        id_col, F.col("s.i").alias("i"), F.col("s.minhash").alias("minhash")
    )


def array_pairs(arr: Column, a: str, b: str) -> Column:
    """Every (arr[i], arr[j]) with i < j as ``array<struct<a, b>>`` —
    on a sorted array, all pairs with a < b.

    A flatten of per-index suffix slices inside one expression, so a
    single explode emits the C(n,2) pair rows; the two-explode form
    first materialized one row per element carrying the FULL array
    (O(n²) array copies as Generate input).
    """
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)),
                lambda y: F.struct(x.alias(a), y.alias(b)),
            ),
        )
    )


def _collapse_exact_texts(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One representative per byte-identical text: (id, text,
    ``__members``), where ``__members`` is the group's sorted id list
    and id its min. The pair operators' ``collapse_exact`` mode runs
    on these rows and expands ``__members`` back at the pair stage,
    so sketch/index cost is O(distinct texts) and an m-copy duplicate
    group no longer costs C(m,2) join rows.

    The key is the raw text (null counts as ""), NOT the whitespace-
    normalized fingerprint: ``_gram_col`` shingles a short document
    as its whole text, so ``"a  b"`` and ``"a b"`` must stay apart.

    localCheckpoint: the representatives feed BOTH the shingle
    pipeline and the member-list joins. Left lazy, each consumer
    re-executes the full corpus scan + md5 collapse shuffle (r15 plan
    audit: the collapse subtree appeared twice, zero ReusedExchange).
    The materialized relation is one row per DISTINCT text, the
    relation every consumer needs anyway.
    """
    groups = df.groupBy(
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("__fp")
    ).agg(
        F.array_sort(F.collect_list(id_col)).alias("__members"),
        F.min(text_col).alias(text_col),
    )
    return groups.select(
        F.col("__members")[0].alias(id_col), F.col(text_col), F.col("__members")
    ).localCheckpoint()


def _expand_members(
    rep_pairs: DataFrame, reps: DataFrame, id_col: str, *cols
) -> DataFrame:
    """Representative pairs (id_a, id_b, ...) → member pairs: every
    member of id_a's group pairs with every member of id_b's, the
    other ``rep_pairs`` columns riding along. Member ids may invert
    the representative order, so the ids re-normalize with
    least/greatest. ``cols`` (default: the carried columns) are the
    output columns after id_a/id_b; they may read ``u`` (the id_a-side
    member) and ``v`` for values that are not symmetric.
    """
    carried = [c for c in rep_pairs.columns if c not in ("id_a", "id_b")]
    ma = reps.select(F.col(id_col).alias("id_a"), F.col("__members").alias("__ma"))
    mb = reps.select(F.col(id_col).alias("id_b"), F.col("__members").alias("__mb"))
    return (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(F.explode("__ma").alias("u"), "__mb", *carried)
        .select("u", F.explode("__mb").alias("v"), *carried)
        .select(
            F.least("u", "v").alias("id_a"),
            F.greatest("u", "v").alias("id_b"),
            *(cols or carried),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    k: int = 64,
    bands: int = 16,
    max_bucket: int = 1000,
    collapse_exact: bool = True,
    star_over: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash + LSH banding.

    Output: (id_a, id_b, n_bands_shared) with id_a < id_b. With k=64,
    bands=16 (rows r=4 per band) the S-curve threshold is ≈ 0.55
    Jaccard. Verify candidates with :func:`ngram_jaccard_pairs` when
    exact similarity is needed.

    Pair generation is a groupBy(bucket) + in-bucket pair expansion —
    NOT a self-join: a self-join would recompute the whole
    shingle→minhash pipeline once per side, and its capping needed an
    extra window. Here each bucket's sorted id list expands to its
    C(n,2) pairs with one array transform; ``max_bucket`` is a plain
    size filter on the same aggregation (dropped buckets are
    near-100%-dup cliques of boilerplate — the standard web-dedup
    guard, observable as missing huge buckets).

    ``collapse_exact`` (default on) first groups byte-identical texts
    (:func:`_collapse_exact_texts`) and runs the
    shingle→minhash→banding pipeline on ONE representative
    per distinct text, expanding the member id lists back at the bucket
    stage. Exact duplicates have identical signatures and land in
    identical buckets, so the output — including within-duplicate-group
    pairs, ``n_bands_shared`` counts, and the ``max_bucket`` cap, which
    still applies to *expanded* id counts — is identical row-for-row;
    only the sketching cost drops from O(all docs) to O(distinct
    texts). Duplicate-heavy corpora (the common case at 100 TB crawl
    scale) are exactly where LSH cost would otherwise grow
    superlinearly.

    ``star_over``: when set, a bucket LARGER than this emits a star
    (min-id → each other id, g−1 edges) instead of all C(g,2) pairs.
    A star keeps every in-bucket id CONNECTED, so downstream
    :func:`connected_components` / :func:`keep_canonical` results are
    identical by construction (tests/test_dedup.py equality test),
    while pair volume on near-clique buckets — boilerplate, 100×-dup
    crawls — drops g²→g (the sf10 decade-map driver for
    dedup_components). Leave ``None`` (default) when the PAIRS
    themselves are the product (per-pair verification, band-overlap
    counts): a star suppresses non-min pairs, so with ``star_over``
    set the output's ``n_bands_shared`` is NULL — a partial band count
    (exact in small buckets, min-id edges only in starred ones) would
    be two semantics in one column, and NULL makes the column
    impossible to misread as a similarity signal.
    """
    if collapse_exact:
        reps = _collapse_exact_texts(df, text_col, id_col)
    else:
        reps = df.select(F.col(id_col), F.col(text_col))
    buckets = band_buckets(reps, text_col, id_col, shingle_n, k, bands)
    if collapse_exact:
        member_lists = reps.select(F.col(id_col), F.col("__members"))
        ids = (
            buckets.join(member_lists, id_col)
            .groupBy("bucket")
            .agg(F.array_sort(F.flatten(F.collect_list("__members"))).alias("ids"))
        )
    else:
        ids = buckets.groupBy("bucket").agg(
            F.array_sort(F.collect_list(id_col)).alias("ids")
        )
    ids = ids.filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    all_pairs = array_pairs(F.col("ids"), "id_a", "id_b")
    if star_over is not None:
        # ids is sorted, so ids[0] is the bucket min — the star center
        star = F.transform(
            F.slice(F.col("ids"), 2, F.size(F.col("ids"))),
            lambda y: F.struct(F.col("ids")[0].alias("id_a"), y.alias("id_b")),
        )
        expansion = F.when(F.size("ids") > star_over, star).otherwise(all_pairs)
    else:
        expansion = all_pairs
    pair = F.explode(expansion).alias("p")
    pairs = ids.select(pair).select(F.col("p.id_a"), F.col("p.id_b"))
    if star_over is not None:
        # Under star expansion the per-pair band count would mix two
        # semantics (exact for small buckets, min-id-edges-only for
        # starred ones) — emit NULL instead of a number downstream code
        # could misread as a similarity signal. Connectivity consumers
        # (connected_components / keep_canonical) never look at it.
        return pairs.distinct().withColumn(
            "n_bands_shared", F.lit(None).cast("long")
        )
    return pairs.groupBy("id_a", "id_b").agg(
        F.count("*").alias("n_bands_shared")
    )


# --------------------------------------------------------------------------
# n-gram Jaccard (exact pairwise, join-shaped)
# --------------------------------------------------------------------------

def _shingle_index_pairs(
    df: DataFrame,
    reps: DataFrame | None,
    text_col: str,
    id_col: str,
    n: int,
    max_doc_freq: int | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The inverted-index join behind :func:`ngram_jaccard_pairs` and
    :func:`ngram_containment_pairs`: distinct shingles of ``df`` — or
    of ``reps``, its :func:`_collapse_exact_texts` representatives,
    when given — self-joined on the shingle so only documents that
    share one ever meet.

    Shingles held by more than ``max_doc_freq`` raw documents leave
    the join (not the per-doc sizes). The doc-freq counts come from a
    groupBy — map-side partial aggregation, so a hot shingle never
    funnels its raw rows through one task, unlike a per-shingle window
    — joined back as a semi-filter. With ``reps`` each representative's
    shingle counts for its whole duplicate group (Σ group sizes = raw
    doc count per shingle), so the cap stays exact under the collapse.

    Returns (pairs, sizes, asz): pairs = (id_a, id_b, n_common, sz_a,
    sz_b) with id_a < id_b, n_common the allowed-shingle intersection;
    sizes = (id, sz) distinct shingles per doc; asz = (id, asz) allowed
    shingles per doc.
    """
    src = df if reps is None else reps
    sh = shingles(src.select(F.col(id_col), F.col(text_col)), text_col, id_col, n)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    if max_doc_freq is not None:
        if reps is not None:
            gsz = reps.select(
                F.col(id_col), F.size("__members").cast("long").alias("__gsz")
            )
            wsh = sh.join(gsz, id_col)
            dfreq = wsh.groupBy("shingle").agg(F.sum("__gsz").alias("__df"))
        else:
            dfreq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
        allowed = dfreq.filter(F.col("__df") <= max_doc_freq).select("shingle")
        shf = sh.join(allowed, "shingle", "left_semi")
    else:
        shf = sh
    asz = shf.groupBy(id_col).agg(F.count("*").alias("asz"))
    a = shf.select(F.col(id_col).alias("id_a"), "shingle")
    b = shf.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return inter.join(sa, "id_a").join(sb, "id_b"), sizes, asz


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 1000,
    collapse_exact: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle.

    Inverted-index join (:func:`_shingle_index_pairs`): explode
    distinct shingles, self-join on the shingle (so only docs that
    share something ever meet), count the intersection, derive the
    union from per-doc sizes. At scale this is
    the verify stage after :func:`minhash_lsh_pairs` prunes candidates;
    on its own it is quadratic only within shingle-share groups —
    ``max_doc_freq`` prunes shingles shared by more than that many
    docs from the *join*. It is ON BY DEFAULT (1000): one boilerplate
    shingle shared by 10⁶ docs would otherwise expand to ~5·10¹¹ join
    pairs — the defining scale-killer of inverted-index similarity.
    Affected pairs' Jaccard becomes a slight *underestimate* (the
    pruned shingles still count toward the per-doc sizes in the union,
    but not toward the intersection — boilerplate n-grams carry no
    discriminative signal anyway; the standard inverted-index guard).
    Pass ``max_doc_freq=None`` for the exact all-shingles computation
    on bounded corpora.

    ``collapse_exact`` (default on): byte-identical texts collapse to
    one representative before the index (:func:`_collapse_exact_texts`)
    — the same quadratic-in-
    multiplicity defense as :func:`ngram_containment_pairs` (an m-copy
    duplicate group inside the doc-freq cap costs C(m,2) join pairs;
    measured 58s → ~4s at sf1 under 10× multiplicity). The doc-freq
    cap stays exact by weighting representative shingles with group
    size; within-group pairs are emitted closed-form with
    n_common = |allowed shingles| and J = asz/(2·sz − asz). Output
    row-identical to the uncollapsed run (equivalence test-pinned).
    """
    reps = _collapse_exact_texts(df, text_col, id_col) if collapse_exact else None
    pairs, sizes, asz = _shingle_index_pairs(
        df, reps, text_col, id_col, n, max_doc_freq
    )
    rep_pairs = (
        pairs.withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )
    if reps is None:
        return rep_pairs

    cross = _expand_members(rep_pairs, reps, id_col)
    intra = (
        reps.filter(F.size("__members") >= 2)
        .join(sizes, id_col)
        .join(asz, id_col)
        .withColumn(
            "jaccard",
            F.round(
                F.col("asz") / (F.lit(2) * F.col("sz") - F.col("asz")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.explode(array_pairs(F.col("__members"), "id_a", "id_b")).alias("p"),
            F.col("asz").alias("n_common"),
            F.col("jaccard"),
        )
        .select(F.col("p.id_a"), F.col("p.id_b"), "n_common", "jaccard")
    )
    return cross.unionByName(intra)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 48
) -> DataFrame:
    """Per-document SimHash over whitespace tokens → (id, simhash).

    bit b of the signature = majority vote of bit b across the md5
    hashes of the document's tokens. One explode + ``bits`` conditional
    sums in a single aggregation — no joins, no windows; the canonical
    shuffle-light near-dup sketch.
    """
    toks = tokenize_expr(F.lower(F.col(text_col)))
    tok = df.select(F.col(id_col), F.explode(toks).alias("tok"))
    h = md5_hash64("tok")
    votes = [
        F.sum(F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    sig = None
    for b in range(bits):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig + bit
    return agg.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 48,
    max_hamming: int = 3,
    max_block: int = 10000,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance.

    Blocks on the high half of the signature (near-dups almost always
    agree there) to avoid the full cross join, then verifies with
    bit_count(xor). For guaranteed recall use multi-probe blocking on
    rotated signatures; this single-block variant is the cheap pass.
    ``max_block`` caps a pathological block (e.g. the all-zero
    signature of empty/boilerplate docs) before the self-join, the
    same guard as ``minhash_lsh_pairs``'s ``max_bucket``.
    """
    from pyspark.sql import Window

    sigs = simhash_signatures(df, text_col, id_col, bits)
    block = F.shiftright(F.col("simhash"), bits // 2)
    blocked = sigs.withColumn("block", block)
    blocked = blocked.withColumn(
        "__bn", F.count("*").over(Window.partitionBy("block"))
    ).filter(F.col("__bn") <= max_block).drop("__bn")
    a = blocked.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"), "block")
    b = blocked.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"), "block")
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --------------------------------------------------------------------------
# embedding-cosine near-dup
# --------------------------------------------------------------------------

def _make_pair_dot_batch():
    """Arrow-batched float64 dot product of two array<float/double>
    columns — the BLAS verify engine for embedding_near_dup_pairs.
    Elements are cast to float64 FIRST, matching the expression path's
    per-element x.cast(double)*y.cast(double)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    def _dot(va, vb):
        av = np.stack([np.asarray(x, dtype=np.float64) for x in va])
        bv = np.stack([np.asarray(x, dtype=np.float64) for x in vb])
        return pd.Series(np.einsum("ij,ij->i", av, bv))

    # explicit annotations (real objects, not from-__future__ strings)
    # so pandas_udf's type-hint inference works from any import context
    _dot.__annotations__ = {"va": pd.Series, "vb": pd.Series, "return": pd.Series}
    return pandas_udf(_dot, DoubleType())


_pair_dot_batch = _make_pair_dot_batch()


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    candidates: DataFrame | None = None,
    n_planes: int = 8,
    multiprobe_hamming: int = 1,
    method: str = "numpy",
) -> DataFrame:
    """Pairs of rows whose embeddings have cosine similarity ≥ threshold.

    (Measured dead end, recorded so it isn't retried: statically
    unrolling the per-pair dot into dim explicit GetArrayItem terms is
    ~2× SLOWER than the interpreted higher-order aggregate — 64
    separate bounds/null-checked accessors lose to the aggregate's
    tight loop over the array buffer.)

    Candidate generation is LSH-blocked by default: each vector gets a
    deterministic random-hyperplane bucket; side A is additionally
    *expanded* to its bucket's hamming-≤1 neighbors (multiprobe), so a
    pair is a candidate whenever its two buckets differ in at most one
    hyperplane sign. Pairs still only materialize through a bucket
    equi-join (the MinHash-banding shape — never a crossJoin), and the
    exact index-ordered cosine (``zip_with`` + ``aggregate``, JVM-side,
    no UDF) is the verify stage.

    Recall, honestly: with per-plane sign-agreement probability
    q = 1 - θ/π (θ the pair's angle), a pair survives with
    P = q^n + n·q^(n-1)(1-q). At the 0.95-cosine threshold (θ ≈ 18°,
    q ≈ 0.9, n = 8) that is ≈ 0.81 — vs ≈ 0.43 for exact bucket
    equality (single-probe). Identical vectors are always found.
    Raise ``multiprobe_hamming`` to 0 for the cheap low-recall pass,
    or pass explicit ``candidates`` for guaranteed-recall pair lists.

    Pass ``candidates`` (id_a, id_b) — e.g. from a multiprobe
    :func:`~.similarity.pairwise_topk_join` run — to verify an
    externally-generated pair list instead.

    Verify engines (the semdedup parity-path/scale-path pattern):
    ``method="numpy"`` (default) computes the per-pair dot as an
    Arrow-batched vectorized ``pandas_udf`` (one einsum per batch —
    the |pairs|·dim multiply-adds run in BLAS-grade loops instead of
    interpreted expression nodes); ``method="expr"`` keeps the pure
    ``zip_with``+``aggregate`` expression, bit-identical to the DuckDB
    twin's list_dot_product. Both divide by the same hoisted norms and
    round to 6 dp before the threshold compare; float64 summation
    order (pairwise vs sequential) is the only difference, and
    numpy==expr equality is hash-pinned on the real testdata
    embeddings at the registered parameters (tests/test_dedup.py),
    which licenses serving numpy against the expression-replay oracle.
    """
    from diagnosisextraction_ml_spark.operators.similarity import (
        dot_expr,
        lsh_bucket_expr,
        norm_expr,
    )

    # The bucket join + per-pair cosine verify run at the INPUT's
    # parallelism, and a small single-file embedding scan arrives in
    # 1-2 partitions — pinning the CPU-dominant verify to 1-2 cores
    # (the same narrow-scan disease as dedup.shingles; measured 193s at
    # sf1 on ~2 cores). Fan out once; no-op for wide scans.
    df = fan_out(df)

    # Norms are per-VECTOR facts: computing them in the side projections
    # (once per row) instead of inside the per-pair cosine cuts the
    # verify stage from three array aggregates per pair to one, with
    # bit-identical results — same fold, same values, just not repeated
    # per pair (the verify is the dominant cost: |candidate pairs| ×
    # dim interpreted ops).
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        norm_expr(F.col(vec_col)).alias("__na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        norm_expr(F.col(vec_col)).alias("__nb"),
    )
    if candidates is None:
        probes = [F.lit(0)]
        if multiprobe_hamming >= 1:
            probes += [F.lit(1 << p) for p in range(n_planes)]
        ab = (
            a.withColumn("__ba", lsh_bucket_expr(F.col("va"), n_planes))
            .withColumn(
                "__bucket",
                F.explode(F.array(*[F.col("__ba").bitwiseXOR(p) for p in probes])),
            )
            .drop("__ba")
        )
        bb = b.withColumn("__bucket", lsh_bucket_expr(F.col("vb"), n_planes))
        if method == "numpy" and not _is_integral_id(df, id_col):
            # _cogrouped_bucket_pairs stacks ids as int64 and orders
            # pairs numerically; string/decimal ids would crash or
            # mis-order there, so those callers get the expression
            # path (same results, test-pinned numpy==expr parity).
            method = "expr"
        if method == "numpy":
            # Cogrouped per-bucket BLAS verify: each vector ships to
            # Python ONCE per probe bucket (O(n·probes) rows) instead
            # of once per candidate PAIR (O(Σ n_a·n_b) rows — two 64-
            # float arrays per pair; on a tightly clustered corpus the
            # buckets barely prune and that is ~|n²/2| pairs of Arrow
            # traffic). Inside each bucket the pair dots are one
            # blocked A@Bᵀ matmul. Python applies an INCLUSIVE
            # prefilter only (raw ≥ threshold − 5e-7 − 1e-12, provably
            # a superset of round-6dp ≥ threshold under HALF_UP); the
            # authoritative F.round + threshold compare stay JVM-side,
            # identical to the expression path.
            candidates_df = _cogrouped_bucket_pairs(ab, bb, threshold)
            return (
                candidates_df.withColumn("cosine", F.round(F.col("cosine"), 6))
                .filter(F.col("cosine") >= threshold)
                .select("id_a", "id_b", "cosine")
            )
        # each B row owns exactly one bucket and A's probe buckets are
        # distinct, so no (id_a, id_b) pair is produced twice
        pairs = ab.join(bb, "__bucket").filter(F.col("id_a") < F.col("id_b"))
    else:
        pairs = candidates.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
        if method == "numpy":
            cosine = _pair_dot_batch(F.col("va"), F.col("vb")) / (
                F.col("__na") * F.col("__nb")
            )
            return (
                pairs.withColumn("cosine", F.round(cosine, 6))
                .filter(F.col("cosine") >= threshold)
                .select("id_a", "id_b", "cosine")
            )
    cosine = dot_expr(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb"))
    return (
        pairs.withColumn("cosine", F.round(cosine, 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _is_integral_id(df: DataFrame, id_col: str) -> bool:
    """True iff ``id_col`` is an integral type the cogrouped BLAS scan
    can stack as int64 and order numerically (its hard contract)."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    return isinstance(
        df.schema[id_col].dataType, (ByteType, ShortType, IntegerType, LongType)
    )


def _cogrouped_bucket_pairs(
    ab: DataFrame, bb: DataFrame, threshold: float
) -> DataFrame:
    """Per-bucket cogrouped pair scan for embedding_near_dup_pairs.

    For each probe bucket: stack the A side (id_a, va, __na) and B side
    (id_b, vb, __nb) into float64 matrices, compute cosines as blocked
    A@Bᵀ over the JVM-computed norms, and emit (id_a, id_b, raw cosine)
    for id_a < id_b passing the inclusive prefilter. Block size bounds
    the scratch cosine matrix to ~16 MB regardless of bucket skew.
    """
    import numpy as np
    import pandas as pd

    # inclusive bound: round(c, 6) >= t (HALF_UP) implies c >= t - 5e-7
    lo = threshold - 5e-7 - 1e-12

    def _scan(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        ida = left["id_a"].to_numpy(dtype=np.int64)
        idb = right["id_b"].to_numpy(dtype=np.int64)
        av = np.stack([np.asarray(x, dtype=np.float64) for x in left["va"]])
        bv = np.stack([np.asarray(x, dtype=np.float64) for x in right["vb"]])
        na = left["__na"].to_numpy(dtype=np.float64)
        nb = right["__nb"].to_numpy(dtype=np.float64)
        out_a, out_b, out_c = [], [], []
        block = max(1, 2_000_000 // max(len(idb), 1))
        for s in range(0, len(ida), block):
            e = s + block
            c = (av[s:e] @ bv.T) / np.outer(na[s:e], nb)
            mask = (c >= lo) & (ida[s:e, None] < idb[None, :])
            ii, jj = np.nonzero(mask)
            if len(ii):
                out_a.append(ida[s:e][ii])
                out_b.append(idb[jj])
                out_c.append(c[ii, jj])
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    return (
        ab.select("__bucket", "id_a", "va", "__na")
        .groupBy("__bucket")
        .cogroup(bb.select("__bucket", "id_b", "vb", "__nb").groupBy("__bucket"))
        .applyInPandas(_scan, schema="id_a long, id_b long, cosine double")
    )


# --------------------------------------------------------------------------
# duplicate clusters — connected components over candidate pairs
# --------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    method: str = "star",
) -> DataFrame:
    """Duplicate clusters from a near-dup pair list → (doc_id,
    component_id), component_id = min doc id in the component.

    The missing last step of every dedup pipeline: pair lists
    (:func:`minhash_lsh_pairs`, :func:`simhash_near_pairs`,
    :func:`ngram_jaccard_pairs`, :func:`embedding_near_dup_pairs`)
    relate documents two at a time; keep-one-per-cluster needs the
    transitive closure. Implemented as distributed min-label
    propagation: every node starts labeled with itself; each round
    every node takes the min of its own and its neighbors' labels (one
    shuffle join + one aggregation per round); converged when no label
    changes (counted with the same aggregation — no extra action).

    Determinism: min() is order-free, so the result is exact and
    partition-independent — hash-pinnable against a recursive-CTE
    oracle. Rounds needed = the max component *diameter*. Dedup graphs
    are near-cliques (LSH buckets emit all pairs), so 2-3 rounds is
    typical; ``max_iter`` bounds pathological chains, and the loop
    raises if it hits the bound without converging rather than return
    a half-merged clustering. Each round's frontier is
    ``localCheckpoint``-ed (eager): lineage stays one checkpoint deep
    instead of accreting a join per round, and the convergence count
    scans the just-materialized blocks. (localCheckpoint trades
    executor-loss fault tolerance for speed — the standard choice for
    iterative frontiers; use a checkpoint dir for long-lived jobs.)
    At 1000-executor scale every round is a self-equi-join on node
    id — AQE-skew-safe, no cartesian, no driver materialization.

    Only nodes that appear in ``pairs`` get a row (singletons need no
    cluster assignment — left-anti join survivors against this).

    Engines (identical output, test-pinned equal):

    - ``method="star"`` (default, the 100 TB path): alternating
      large-star/small-star contraction (Kiveris et al., "Connected
      Components in MapReduce and Beyond", SoCC'14). Each round is two
      groupBy-min + join passes over the *shrinking* edge set, and the
      round count is O(log d) in the component diameter d — a
      1M-node chain converges in ~20 rounds instead of 1M. The edge
      set contracts toward the star (node → component-min) fixed
      point, so late rounds shuffle far less than the input.
    - ``method="propagate"``: the original min-label propagation —
      rounds = diameter, each shuffling the FULL pair list. Fine for
      near-clique dedup graphs (2-3 rounds); kept as the
      cross-validation twin and for graphs known to be shallow.
    """
    if method == "star":
        labels, _ = _star_components(pairs, id_a, id_b, max_iter)
        return labels
    if method != "propagate":
        raise ValueError(f"connected_components: method={method!r}")
    sym = pairs.select(
        F.col(id_a).alias("u"), F.col(id_b).alias("v")
    ).unionByName(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
    labels = (
        sym.select("u").distinct().withColumn("label", F.col("u")).localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels.select(F.col("u").alias("v"), "label"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, "u", "left")
            .select(
                "u",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                F.coalesce(F.col("nbr_label") < F.col("label"), F.lit(False)).alias(
                    "__changed"
                ),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("__changed")).count()
        labels = new_labels.select("u", "label")
        if changed == 0:
            return labels.select(
                F.col("u").alias("doc_id"), F.col("label").alias("component_id")
            )
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "component diameter exceeds max_iter; raise max_iter"
    )


def _star_components(
    pairs: DataFrame,
    id_a: str,
    id_b: str,
    max_iter: int,
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star contraction → ((doc_id,
    component_id), rounds). Internal engine for
    :func:`connected_components`; returns the round count so tests can
    pin the O(log diameter) bound.

    Edge representation: distinct canonical pairs (hi, lo) with
    hi > lo (self-loops dropped, both orientations collapsed). Per
    round:

    - LARGE-STAR — over the symmetric view, every node u links each
      strictly-greater neighbor v to m = min(N(u) ∪ {u}): one
      groupBy(u).min + one join, emitted as (v, m) (v > u ≥ m keeps
      the hi > lo invariant).
    - SMALL-STAR — over the directed (hi, lo) view, every hi links
      itself and each of its smaller neighbors to m = min(lo): one
      groupBy(hi).min + one join.

    Both are monotone (labels only decrease toward the component min)
    and the fixed point is exactly the star set {(node, component
    min)}. Convergence check: the small-star output equals the
    previous round's edge set (two counts + one exceptAll on the
    contracted set — cheap once stars form). Result is deterministic
    and partition-independent (min is order-free), so the output is
    hash-identical to the propagate engine and the recursive-CTE
    oracle.

    At 100 TB: no round materializes anything driver-side, every pass
    is a key-partitioned groupBy/join on node ids (AQE-skew-safe), and
    — unlike label propagation, whose every round re-shuffles the full
    pair list for diameter rounds — the edge set here contracts
    geometrically, so total shuffle volume is O(|E| log d).
    """
    edges = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("hi"),
            F.least(F.col(id_a), F.col(id_b)).alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        edges.select(F.col("hi").alias("u"))
        .unionByName(edges.select(F.col("lo").alias("u")))
        .distinct()
        .localCheckpoint()
    )
    n_edges = edges.count()
    for rounds in range(1, max_iter + 1):
        sym = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
            edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mn_l = (
            sym.groupBy("u")
            .agg(F.min("v").alias("__mv"))
            .select("u", F.least("__mv", "u").alias("m"))
        )
        large = (
            sym.join(mn_l, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .distinct()
            .localCheckpoint()
        )
        mn_s = large.groupBy("hi").agg(F.min("lo").alias("m"))
        small = (
            large.join(mn_s, "hi")
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .unionByName(mn_s.select("hi", F.col("m").alias("lo")))
            .distinct()
            .localCheckpoint()
        )
        n_small = small.count()
        if n_small == n_edges and small.exceptAll(edges).count() == 0:
            star = small
            break
        edges, n_edges = small, n_small
    else:
        raise RuntimeError(
            f"connected_components(star) did not converge in {max_iter} "
            "rounds; raise max_iter"
        )
    labels = nodes.join(
        star.select(F.col("hi").alias("u"), F.col("lo").alias("label")), "u", "left"
    ).select(
        F.col("u").alias("doc_id"),
        F.coalesce(F.col("label"), F.col("u")).alias("component_id"),
    )
    return labels, rounds


def keep_canonical(
    df: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop every clustered document except its component's canonical
    (min-id) representative; singletons (no component row) survive.

    ``components`` is :func:`connected_components` output. One
    broadcast-or-shuffle left join + filter — no window.
    """
    non_canonical = components.filter(F.col("doc_id") != F.col("component_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(non_canonical, id_col, "left_anti")


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination — flag corpus documents that share any
    word ``n``-gram with an eval/benchmark set.

    The standard pre-training hygiene pass (n=13 follows the GPT-3
    appendix-C convention): a training document containing a verbatim
    benchmark n-gram would let the model memorize test items, so it is
    flagged (and typically dropped) before training.

    Scale design: both sides reduce to DISTINCT 60-bit md5 n-gram
    hashes (:func:`shingles` + ``md5_hash64``) before any join. The
    benchmark side — eval suites are 10^3-10^5 docs — is broadcast, so
    the overlap check is a map-side hash-join probe of 8-byte keys over
    the corpus grams: the 100 TB side is never shuffled on text and no
    document content crosses the wire. The only wide op is the per-doc
    hit count, a groupBy on the (already heavily filtered) hit rows.

    Output: (id, n_hit_ngrams, contaminated) for EVERY corpus doc
    (zero hits included) so it composes directly as a filter gate.
    """
    doc_grams = shingles(df, text_col, id_col, n=n).select(
        F.col(id_col), md5_hash64(F.col("shingle")).alias("gram_hash")
    )
    bench_grams = (
        shingles(benchmark, text_col, id_col, n=n)
        .select(md5_hash64(F.col("shingle")).alias("gram_hash"))
        .distinct()
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "gram_hash")
        .groupBy(id_col)
        .agg(F.count_distinct("gram_hash").alias("n_hit_ngrams"))
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_hit_ngrams"), F.lit(0)).cast("long").alias("n_hit_ngrams"),
            (F.coalesce(F.col("n_hit_ngrams"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def band_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    k: int = 64,
    bands: int = 16,
) -> DataFrame:
    """(id, bucket) — one md5 LSH band bucket per (doc, band), the same
    construction :func:`minhash_lsh_pairs` buckets on (distinct
    n-gram shingles → md5-arithmetic minhash → band keys in i-order →
    md5(band|key)). Factored out so the *incremental* near-dup path
    can persist and probe the identical bucket space.
    """
    if k % bands != 0:
        # The band construction enumerates exactly `bands` bands of
        # k//bands rows; a non-divisible (k, bands) would silently drop
        # the trailing hash rows and change the S-curve.
        raise ValueError(
            f"LSH banding needs k divisible by bands, got k={k}, "
            f"bands={bands} (k % bands = {k % bands})"
        )
    wide = _minhash_wide(df, text_col, id_col, shingle_n, k)
    rows_per_band = k // bands
    # Band keys straight off the wide signature row: each band's key is
    # concat of its rows' minhash columns (i-order), built as ONE
    # Generate of `bands` (band, key) structs per doc. The earlier long
    # form exploded k rows per doc and re-grouped on (id, band) — a
    # second k·|docs|-row shuffle that this fusion removes entirely.
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                ",",
                *[
                    F.col(f"h{i}").cast("string")
                    for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                ],
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    return wide.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("b")
    ).select(
        F.col(id_col),
        F.md5(
            F.concat_ws("|", F.col("b.band").cast("string"), F.col("b.band_key"))
        ).alias("bucket"),
    )


def index_band_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    k: int = 64,
    bands: int = 16,
) -> DataFrame:
    """DISTINCT LSH band buckets of a corpus — the persistable index
    :func:`dedup_incremental_near` probes on day 2. Size is ≤
    bands·|distinct texts| 128-bit keys; text never enters the index."""
    return band_buckets(df, text_col, id_col, shingle_n, k, bands).select(
        "bucket"
    ).distinct()


def dedup_incremental_near(
    new_df: DataFrame,
    seen_buckets: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    k: int = 64,
    bands: int = 16,
    min_bands: int = 1,
) -> DataFrame:
    """Incremental (day-2) NEAR-dup screening: flag new documents
    whose MinHash signature collides with a persisted historical band
    index — the LSH analogue of :func:`dedup_incremental`'s exact
    path, for the production pattern where yesterday's 100 TB corpus
    must not be rescanned per batch.

    A new document sharing ≥ ``min_bands`` band buckets with history
    is a near-dup *suspect* at the banding's S-curve threshold (k=64,
    bands=16 → ~0.55 Jaccard); raise ``min_bands`` to trade recall for
    precision, or verify survivors' candidate pairs exactly when ids
    matter. Scale shape: today's batch computes bands·|batch| buckets;
    the probe is one join against the DISTINCT historical bucket set —
    only 128-bit hashes shuffle (or broadcast, when the index side is
    the smaller), never text, and history is touched only through the
    index. Append :func:`index_band_buckets` of the accepted batch to
    roll the index forward.

    Output: (id, n_bands_hit, is_near_dup) for EVERY new document —
    deterministic, partition-independent (the probe is a set lookup).
    """
    probes = band_buckets(new_df, text_col, id_col, shingle_n, k, bands)
    hits = (
        probes.join(seen_buckets.select("bucket").distinct(), "bucket", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bands_hit"))
    )
    return (
        new_df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bands_hit"), F.lit(0)).alias("n_bands_hit"),
            (F.coalesce(F.col("n_bands_hit"), F.lit(0)) >= min_bands).alias(
                "is_near_dup"
            ),
        )
    )


def dedup_incremental(
    new_df: DataFrame,
    seen_fingerprints: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental (day-2) dedup: drop new documents whose normalized
    text already exists in a historical fingerprint index.

    The production shape of exact dedup — yesterday's corpus is a
    persisted (fingerprint) table, today's batch is checked against it
    without rescanning history: one LEFT ANTI hash join on the 128-bit
    md5 (birthday-safe at corpus scale, same rationale as
    :func:`exact_duplicates`). Also dedups *within* the batch
    (min-id survivor per fingerprint, one groupBy) so the output can
    be appended to both the corpus and the index.

    ``seen_fingerprints`` needs a ``fingerprint`` column — e.g. the
    output of :func:`exact_duplicates`, or ``index_fingerprints`` of a
    prior batch.

    Plan shape (r16): the batch row rides THROUGH the anti-join and
    the min-id survivor aggregation as a struct (id first, so
    struct-min = min-id), instead of re-joining survivors back to
    ``new_df`` by id. The former join-back consumed the batch TWICE
    (r16 plan audit: 10 parquet scans / 6 exchanges for the registry
    query — the semi join's survivor side re-derived the whole
    fingerprint pass) and shuffled the batch by id anyway whenever
    survivors outgrew the broadcast threshold — the 100 TB case. Now
    the batch is scanned once and exchanged once (the anti join and
    the groupBy share the fingerprint partitioning). Row-identical
    output for unique ``id_col`` (the operator's contract — survivors
    are min-id representatives appendable to corpus + index).

    Rows with a null ``id_col`` are dropped before the fingerprint
    pass: they cannot be appended as min-id representatives, and
    struct-min sorts null first, so one would otherwise shadow a
    real-id duplicate of the same text. Rows with a null text share
    one group, as in :func:`dedup_exact` (min id survives), and never
    match history: ``md5(null)`` is null, which no join key equals.

    Struct-min orders every column, so a map-typed column (at any
    nesting depth) is rejected with ``ValueError``. Column names may
    contain dots.
    """
    from diagnosisextraction_ml_spark.sources.writers import orderable

    for f in new_df.schema.fields:
        if not orderable(f.dataType):
            raise ValueError(
                f"dedup_incremental: column {f.name!r} holds a map "
                f"({f.dataType.simpleString()}); the min-id survivor "
                f"aggregation cannot order maps — drop or convert it first"
            )

    def col(c: str) -> Column:
        return F.col("`" + c.replace("`", "``") + "`")

    other_cols = [c for c in new_df.columns if c != id_col]
    fp = new_df.filter(col(id_col).isNotNull()).select(
        F.md5(normalize_ws(col(text_col))).alias("fingerprint"),
        F.struct(col(id_col), *[col(c) for c in other_cols]).alias("__row"),
    )
    survivors = (
        fp.join(seen_fingerprints.select("fingerprint"), "fingerprint", "left_anti")
        .groupBy("fingerprint")
        .agg(F.min("__row").alias("__row"))
    )
    # __row holds id first; restore the input's column order
    return survivors.select("__row.*").select(*[col(c) for c in new_df.columns])


def index_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct normalized-text fingerprints of a batch — the rows to
    append to the historical index after :func:`dedup_incremental`."""
    return df.select(F.md5(normalize_ws(text_col)).alias("fingerprint")).distinct()


def duplicated_gram_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """Per-document duplicated-n-gram fraction — the exact-substring
    dedup signal at gram granularity (Lee et al., "Deduplicating
    Training Data Makes Language Models Better": text repeated
    verbatim elsewhere in the corpus hurts training; this scores how
    much of each document is such text, so a gate can drop or trim).

    For every document: the number of its distinct word ``n``-grams,
    how many of those occur in at least one OTHER document, and the
    fraction. Unlike pairwise dedup there is no pair join anywhere —
    gram document-frequency is one groupBy over 60-bit gram hashes
    (map-side combined, Zipf-small output), joined back to the per-doc
    gram rows on the hash. At 100 TB only 8-byte hashes shuffle, never
    text.

    Output: (id, n_grams, n_dup_grams, dup_fraction) for every doc
    with at least one gram.
    """
    grams = shingles(df, text_col, id_col, n=n).select(
        F.col(id_col), md5_hash64(F.col("shingle")).alias("gram_hash")
    )
    freq = grams.groupBy("gram_hash").agg(F.count("*").alias("gram_df"))
    joined = grams.join(freq, "gram_hash")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("gram_df") > 1).cast("long")).alias("n_dup_grams"),
        )
        .select(
            F.col(id_col),
            "n_grams",
            "n_dup_grams",
            (F.col("n_dup_grams") / F.col("n_grams")).alias("dup_fraction"),
        )
    )


def _dup_gram_positions(
    df: DataFrame, text_col: str, id_col: str, n: int, min_count: int
) -> tuple[DataFrame, DataFrame]:
    """Shared front of the exact-substring dedup family.

    Returns ``(base, dup_pos)``: ``base`` = (id, __toks) with the
    lowercased whitespace token array, ``dup_pos`` = (id, pos) — the
    START position of every word ``n``-gram whose corpus-wide count is
    ≥ ``min_count``. Gram hashing is a per-partition projection
    (arrays_zip of shifted slices, one 60-bit md5 per position); the
    only exchanges carry gram_hash (frequency count, map-side combined)
    and (id, pos int) rows — text never shuffles.
    """
    # The tokenize→arrays_zip→md5 projection is the CPU-heavy part of
    # this family, and it runs at the INPUT's parallelism: a small
    # single-file parquet scan (1-2 partitions) would pin the whole
    # corpus's gram hashing to 1-2 cores while 30 idle. Fan out once,
    # round-robin, when the scan is narrower than the session's
    # parallelism — a no-op at scale, where a 100 TB scan already has
    # thousands of splits (this is the one place the family shuffles
    # text, and only in the small-input regime).
    df = fan_out(df)
    toks = tokenize_expr(F.lower(F.col(text_col)))
    base = df.select(F.col(id_col), toks.alias("__toks"))

    # documents shorter than n tokens yield no grams
    grams = _word_ngrams(F.col("__toks"), n, F.array().cast("array<string>"))
    pos_grams = base.select(
        F.col(id_col), F.posexplode(grams).alias("pos", "gram")
    ).select(F.col(id_col), "pos", md5_hash64(F.col("gram")).alias("gram_hash"))

    # Corpus frequency via a count window over the gram_hash
    # partitioning (r15; same one-exchange trick as
    # prefix_filter_jaccard_pairs' document-frequency): the former
    # groupBy→filter→join-back planned the tokenize→arrays_zip→md5
    # projection TWICE — once under the frequency aggregate and once
    # as the join's probe side (r15 plan audit; the projection is the
    # CPU-dominant term of this family). The window form runs the
    # projection once and shuffles the same (id, pos, gram_hash) rows
    # the join's probe side already shuffled. Skew profile unchanged:
    # a corpus-hot gram concentrated one partition in BOTH shapes.
    # Measured sf0.1 (idle, min-of-2 noop): dedup_span_intervals
    # 1.81s → 1.27s.
    wfreq = Window.partitionBy("gram_hash")
    dup_pos = (
        pos_grams.withColumn("c", F.count(F.lit(1)).over(wfreq))
        .filter(F.col("c") >= min_count)
        .select(F.col(id_col), "pos")
    )
    return base, dup_pos


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring span REMOVAL — cut every word ``n``-gram span
    that occurs ``min_count``+ times in the corpus out of the text
    (the surgical variant of Lee et al.'s dedup: instead of dropping a
    document for containing duplicated text, drop just the duplicated
    spans; :func:`duplicated_gram_stats` measures, this removes).

    Semantics: positional (not distinct) lowercased whitespace
    ``n``-grams; a gram occurring ``min_count`` or more times in the
    whole corpus (across documents or repeated within one) marks its
    ``n`` token positions covered; covered tokens are deleted and the
    survivors re-joined with single spaces. Overlapping duplicated
    grams merge naturally (position-set union). Documents shorter
    than ``n`` tokens are never cut.

    Scale design — text never shuffles:
    - gram hashing is per-partition projection (arrays_zip of shifted
      slices, one 60-bit md5 per position);
    - the only corpus-wide exchanges carry (gram_hash) for the
      frequency count and (id, position int) pairs for the covered
      sets — 8-16 bytes/row, map-side combined;
    - the covered-position array joins back to the ORIGINAL doc row
      (hash join on the id; only docs that actually contain duplicated
      spans have a right side), and the cut itself is a native
      two-arg ``filter`` lambda over the token array — no pandas UDF,
      no token-level shuffle, whole-stage codegen end to end.

    Output: (id, n_tokens int, n_removed int, cleaned_text) for every
    input document.
    """
    base, dup_pos = _dup_gram_positions(df, text_col, id_col, n, min_count)

    covered = (
        dup_pos.select(
            F.col(id_col),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).alias("p"),
        )
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("p")).alias("__cov"))
    )

    joined = base.join(covered, id_col, "left")
    kept = F.filter(
        F.col("__toks"),
        lambda t, i: F.col("__cov").isNull() | ~F.array_contains(F.col("__cov"), i),
    )
    return joined.select(
        F.col(id_col),
        F.size("__toks").alias("n_tokens"),
        F.coalesce(F.size("__cov"), F.lit(0)).alias("n_removed"),
        F.array_join(kept, " ").alias("cleaned_text"),
    )


def duplicated_span_intervals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    min_count: int = 2,
) -> DataFrame:
    """Maximal duplicated-substring intervals — the MULTI-LENGTH view of
    exact-substring dedup (Lee et al. 2022's suffix-array pass,
    re-expressed as sorted fixed-``n`` grams + island merge).

    :func:`remove_duplicated_spans` cuts covered tokens; this
    ENUMERATES each maximal duplicated span with its actual token
    length. The identity that makes fixed-n grams sufficient: a
    duplicated substring of L ≥ n tokens appears as exactly L−n+1
    consecutive duplicated ``n``-grams, so the union of their covered
    token positions is one contiguous island of length L — recovering
    every duplicate span length down to ``n``-token resolution without
    a suffix automaton (which doesn't distribute; a corpus-wide suffix
    array needs a global sort of every suffix, where this needs one
    gram-hash frequency agg and a PER-DOCUMENT window).

    Islands are found AGGREGATE-FIRST (round 15; the earlier plan
    exploded each gram into its ``n`` covered positions, ran a
    corpus-wide ``distinct`` over the 13×-inflated (id, position)
    rows, then a per-document window — three wide stages): each
    duplicated gram start is an interval [pos, pos+n−1]; one
    ``groupBy(id).collect_list(pos)`` shuffles exactly the |dup_pos|
    rows ONCE, and the interval merge runs as a pure array fold inside
    the doc row (sorted starts; a new start merges into the running
    island when it begins at or before island_end + 1 — exactly the
    gaps-and-islands union of covered positions, at 1/13th the shuffle
    volume and minus the window sort). Per-doc arrays are bounded by
    document length, never corpus size.

    Output: (id, span_start, span_len) — one row per maximal duplicated
    span, token offsets, ``span_len`` ≥ ``n``. Ref: Lee et al. 2022
    §4.1 (ExactSubstr); same gram/hash/coverage semantics as
    remove_duplicated_spans, so ``Σ span_len`` per doc equals its
    ``n_removed``.
    """
    _, dup_pos = _dup_gram_positions(df, text_col, id_col, n, min_count)
    # one row per doc: sorted duplicated-gram start positions
    # ((id, pos) is unique by construction: one pos_grams row per
    # position, freq is unique per gram_hash)
    starts = dup_pos.groupBy(id_col).agg(
        F.array_sort(F.collect_list("pos")).alias("__ps")
    )
    span = n - 1  # each start p covers [p, p + span]

    def _iv(s, e):
        return F.struct(s.cast("long").alias("s"), e.cast("long").alias("e"))

    head = F.col("__ps")[0]
    merged = F.aggregate(
        F.slice(F.col("__ps"), 2, F.size("__ps") - 1),
        F.array(_iv(head, head + span)),
        lambda acc, p: F.when(
            p <= F.element_at(acc, -1).getField("e") + 1,
            # extend the running island (starts ascend, so the new end
            # p+span can only grow it)
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(_iv(F.element_at(acc, -1).getField("s"), p + span)),
            ),
        ).otherwise(F.concat(acc, F.array(_iv(p, p + span)))),
    )
    return (
        starts.select(F.col(id_col), F.explode(merged).alias("__iv"))
        .select(
            F.col(id_col),
            F.col("__iv.s").alias("span_start"),
            (F.col("__iv.e") - F.col("__iv.s") + 1).alias("span_len"),
        )
    )


def semantic_dedup(
    emb: DataFrame,
    k: int | str = 8,
    iters: int = 2,
    tau: float = 0.4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    method: str = "numpy",
    assign_probe: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding-cluster semantic dedup.

    Exact near-duplicate removal compares *surface* fingerprints; this
    removes *semantic* duplicates — documents whose embeddings are
    nearly parallel even when their text differs. The SemDeDup recipe:
    k-means-cluster the embeddings, then inside each cluster mark every
    item whose cosine to some LOWER-id cluster-mate reaches ``tau``
    (the lowest id of each semantic group survives — same canonical-
    keep rule as the exact-dedup path).

    Plan shape: clustering is the deterministic
    :func:`~.similarity.kmeans_centroids` (broadcast centroid
    literals, one shuffle per Lloyd iteration); the final assignment is
    computed ONCE and persisted (the k cosine argmin is the expensive
    expression — without the persist both sides of the pair join would
    recompute it). At 100 TB, ``k`` scales with the corpus (n/1000-ish)
    to keep clusters bounded, exactly as the paper prescribes; the
    id-ordered predicate halves the pair fan-out, and only (id, vec,
    cluster) triples ever shuffle. Under that k ∝ n rule the n·k
    assignment matrix becomes the dominant cost (measured at sf100,
    PERF.md round 14); ``k="auto"`` applies the measured rule directly
    (``sources.advisor.advise_semdedup``: k = max(32, n/2000), pruned
    assignment above the 1M-row wall — one count() job up front);
    ``assign_probe`` routes every assignment pass
    (training iterations AND the final assign) through the IVF-pruned
    approximate argmin
    (:func:`~.similarity.assign_nearest_centroid_pruned`) — the
    production setting at the third decade; None (default, and all
    registry/oracle paths) keeps assignment exact.

    Two pair-scan engines (the repo's parity-path/scale-path pattern,
    cf. operators/evaluate.py):

    - ``method="numpy"`` (default, production + registry path since
      round 10): applyInPandas per cluster, the pair scan as blocked
      BLAS matmuls (measured ~40× at sf1 k=80 — PERF.md). Same tau on
      the same 1e-6-rounded cosines.
    - ``method="expr"`` (oracle-twin replay): equi-join on the cluster
      id + per-pair cosine expression, rounded to 1e-6 before the
      threshold compare — bit-identical to the DuckDB replay
      (dedup_semantic / pipeline_text_semdedup oracles). Higher-order
      array lambdas are interpreted, so per-pair cost is real: kept
      only as the cross-engine parity witness.

    Float summation order differs between the two (BLAS blocks vs the
    sequential aggregate expression), so exact-tie boundary cases
    could in principle diverge; equality of the two engines is pinned
    on planted fixtures AND hash-pinned on the real testdata
    embeddings (tests/test_dedup.py), which is what licenses serving
    the numpy path against the expression-replay DuckDB oracle.

    Output: (id, cluster, is_dup) — one row per input embedding.
    """
    from diagnosisextraction_ml_spark.operators.similarity import (
        cosine_expr,
        kmeans_centroids,
        nearest_centroid_expr,
    )

    if assign_probe is not None and method != "numpy":
        # The expr path has no pruned branch — silently falling back to
        # exact assignment would hand a caller tuning for the third
        # decade an unexpected n·k matrix.
        raise ValueError(
            "assign_probe requires method='numpy' (the expr parity path "
            "has no IVF-pruned assignment); got "
            f"method={method!r}, assign_probe={assign_probe}"
        )

    if k == "auto":
        # The advisor's measured sizing (sources/advisor.py): k ∝ n and
        # the IVF-pruned assignment above the measured n·k wall. Costs
        # one count() job up front — trivial next to the clusterings it
        # sizes, and the reason the fixed-k registry default can't be
        # the production default (k=32 measured dead at sf100,
        # PERF.md round 14). An explicit assign_probe still wins.
        from diagnosisextraction_ml_spark.sources.advisor import (
            advise_semdedup,
        )

        advice = advise_semdedup(emb.count(), exact_replay=(method != "numpy"))
        k = advice.k
        if assign_probe is None and method == "numpy":
            assign_probe = advice.assign_probe
    elif not isinstance(k, int):
        raise ValueError(f"k must be an int or 'auto', got {k!r}")

    cents = kmeans_centroids(
        emb,
        k=k,
        iters=iters,
        vec_col=vec_col,
        id_col=id_col,
        # The parity-witness path stays expression-based end-to-end;
        # the production path trains with the BLAS argmin too.
        assign=method if method in ("numpy", "expr") else "expr",
        probe=assign_probe if method == "numpy" else None,
    )
    # Narrow-scan fan-out (same guard as embedding_near_dup_pairs): the
    # k-cosine argmin and the in-cluster pair scan both run at the
    # input's parallelism, and a small single-file scan pins them to
    # 1-2 cores. The checkpointed assignment inherits the fanned-out
    # partitioning, so the pair join parallelizes too.
    emb = fan_out(emb)
    if method == "numpy":
        from diagnosisextraction_ml_spark.operators.similarity import (
            assign_nearest_centroid_numpy,
            assign_nearest_centroid_pruned,
        )

        # No checkpoint: the per-cluster pair scan is the assignment's
        # only consumer (it emits every row, dup or not), and the BLAS
        # argmin is cheap to evaluate inline.
        if assign_probe is not None:
            assigned = assign_nearest_centroid_pruned(
                emb.select(id_col, vec_col), cents,
                probe=assign_probe, vec_col=vec_col,
            )
        else:
            assigned = assign_nearest_centroid_numpy(
                emb.select(id_col, vec_col), cents, vec_col=vec_col
            )
        return _semantic_dedup_pairs_numpy(assigned, tau, vec_col, id_col)
    # localCheckpoint (eager): the k-cosine argmin is the expensive
    # expression — materialize it exactly once and cut the lineage, so
    # neither pair-join side recomputes it and no persisted entry is
    # left behind for the caller to clean up.
    assigned = emb.select(
        F.col(id_col),
        F.col(vec_col),
        nearest_centroid_expr(F.col(vec_col), cents).alias("cluster"),
    ).localCheckpoint()
    a = assigned.select(
        F.col(id_col).alias("__a_id"), F.col(vec_col).alias("__a_v"), "cluster"
    )
    b = assigned.select(
        F.col(id_col).alias("__b_id"), F.col(vec_col).alias("__b_v"), "cluster"
    )
    dup = (
        a.join(b, ["cluster"])
        .filter(F.col("__a_id") > F.col("__b_id"))
        .filter(
            F.round(cosine_expr(F.col("__a_v"), F.col("__b_v")), 6)
            >= F.lit(tau)
        )
        .select(F.col("__a_id").alias(id_col))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return assigned.join(dup, [id_col], "left").select(
        F.col(id_col),
        "cluster",
        F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    collapse_exact: bool = True,
) -> DataFrame:
    """Exact Jaccard-join via prefix filtering (Chaudhuri/Xiao et al.).

    The third candidate-generation strategy beside the probabilistic
    LSH bands and the doc-freq-capped inverted index — and the only
    one that is *exact-complete*: every pair with ``J ≥ t`` is
    guaranteed found, with no tuning knob that trades recall.

    Principle: order each document's shingles by a global rarity order
    (document frequency asc, shingle asc); if ``J(x,y) ≥ t`` then
    ``|x∩y| ≥ ceil(t·|x|)``, so x cannot avoid exposing a shared
    shingle within its first ``|x| − ceil(t·|x|) + 1`` rarest shingles
    — candidates need only join on PREFIX postings. Rare-first
    ordering makes those postings short by construction (a shingle
    shared by half the corpus lands at the back of every prefix and
    almost never *in* one), which is exactly the hot-key defense the
    capped index buys with approximation — here it falls out of the
    math with zero loss.

    Plan shape (hash-level prefix build, round 10): the candidate
    phase runs entirely on the 60-bit gram-HASH quotient of each
    document's shingle set — (id, hash) pairs are all that ever
    shuffle. Document frequency attaches via a count window over the
    hash partitioning (ONE exchange — replacing the former dfreq
    groupBy + shuffle join pair), the rarity rank is a per-DOC window
    ordered by (df, hash) (never a global rank), the per-doc set size
    rides along as ``size()`` of the pre-computed distinct-hash array
    (no size aggregation), then prefix self-equi-join with the
    size-ratio prune ``num·max(|x|,|y|) ≤ den·min(|x|,|y|)`` + verify
    join computing the true string-level intersection only for
    surviving candidates. Exactness on the quotient: hashing is a set
    quotient map, and Jaccard never decreases under a quotient
    (intersections can only merge together, the union only shrinks),
    so J_string ≥ t ⇒ J_hash ≥ t and hash-level prefix filtering with
    hash-level sizes finds every true pair; collisions only ADD
    candidates, which the exact string verify removes. Measured
    sf0.1 (warm): full query ~3.9s → ~2.6s once strings stopped
    riding the exchanges (prefix build alone ~5.2s → ~1.8s; one fewer
    shuffle, and what remains carries 24-byte rows).

    The threshold is the exact rational ``num/den`` and the accept
    test is integer cross-multiplication — no float compare anywhere;
    the reported jaccard is one exactly-rounded division.

    ``collapse_exact`` (default on) is the same duplicate-multiplicity
    defense as in :func:`minhash_lsh_pairs`: byte-identical texts
    collapse to one representative before the prefix join
    (:func:`_collapse_exact_texts`) — which matters MORE
    here than for LSH, because exact duplicates all satisfy J=1 ≥ t, so
    the verify join's output alone grows quadratically in group size
    (measured: 10× duplicate multiplicity → 14× wall before the
    collapse, 10× data → ~2× after). Cross-group pairs expand from the
    representative pairs (identical shingle sets ⇒ identical jaccard);
    within-group pairs are emitted closed-form (n_common = |shingles|,
    jaccard = 1.0). Output row-identical to the uncollapsed run
    (equivalence test-pinned).

    Output: (id_a, id_b, n_common, jaccard) with id_a < id_b.
    """
    num, den = threshold_num, threshold_den
    if collapse_exact:
        reps = _collapse_exact_texts(df, text_col, id_col)
        base = reps.select(F.col(id_col), F.col(text_col))
    else:
        base = df.select(F.col(id_col), F.col(text_col))
    # One array-native pass computes BOTH candidate inputs: the
    # distinct string shingles (verify side — consumed as arrays, so
    # the old collect_list re-shuffle of every shingle string is gone)
    # and their distinct 60-bit hash set + its size (candidate side).
    # localCheckpoint: consumed by the hash explode AND the two verify
    # joins; without it the tokenize+zip CPU reruns per consumer.
    sharr = (
        shingle_arrays(base, text_col, id_col, n)
        .withColumn(
            "__harr",
            # xxhash64, not md5: this hash never leaves the Spark plan
            # (the oracle twin is string-level), so the cheap
            # non-cryptographic JVM hash wins — md5 per gram was
            # measurable CPU at sf0.1
            F.array_distinct(F.transform("__grams", lambda g: F.xxhash64(g))),
        )
        .localCheckpoint()
    )
    hs = sharr.select(
        F.col(id_col),
        F.size("__harr").cast("long").alias("sz"),
        F.explode("__harr").alias("__h"),
    )

    from pyspark.sql import Window

    # df via a count window over the hash partitioning — one exchange
    # where groupBy-then-join paid an aggregation shuffle plus a join
    # shuffle; only (id, sz, hash) ever crosses the wire.
    wdf = Window.partitionBy("__h")
    wdoc = Window.partitionBy(id_col).orderBy(F.asc("__df"), F.asc("__h"))
    # localCheckpoint: `prefix` is BOTH sides of the candidate
    # self-join — left lazy, the two window passes (df count over the
    # hash partitioning + per-doc rarity rank, each an exchange + sort)
    # execute once per side (r15 plan audit: zero ReusedExchange). The
    # materialized relation is the prefix postings — the (1−t)-fraction
    # working set the join shuffles anyway. At-scale tradeoff (noted
    # r16): localCheckpoint on a corpus-proportional relation trades
    # lineage for plan reuse — executor loss makes downstream stages
    # unrecoverable, and plan construction launches the job eagerly.
    # On a cluster run that cares about fault tolerance, swap for
    # persist()+unpersist or a reliable checkpoint directory.
    prefix = (
        hs.withColumn("__df", F.count(F.lit(1)).over(wdf))
        .withColumn("__rn", F.row_number().over(wdoc))
        .filter(
            F.col("__rn")
            <= F.col("sz") - F.expr(f"({num} * sz + {den - 1}) DIV {den}") + F.lit(1)
        )
        .select(F.col(id_col), "__h", "sz", "__rn")
    ).localCheckpoint()

    # Candidate equi-join on the hash (8-byte shuffle keys); a collision
    # can only ADD a candidate pair, which the exact verify join removes.
    a = prefix.select(
        F.col(id_col).alias("id_a"), "__h",
        F.col("sz").alias("sz_a"), F.col("__rn").alias("rn_a"),
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), "__h",
        F.col("sz").alias("sz_b"), F.col("__rn").alias("rn_b"),
    )
    # PPJoin positional filter (Xiao et al.): for the FIRST shared
    # prefix token of a pair — at 1-based rarity ranks (i, j) — every
    # other shared token sorts strictly after it in BOTH documents
    # (were one earlier in the global order it would itself be a shared
    # prefix token, contradicting firstness), so the true overlap is at
    # most 1 + min(sz_a − i, sz_b − j). J ≥ num/den needs overlap
    # ≥ num·(sz_a+sz_b)/(num+den); pairs whose bound cannot reach it
    # never enter the verify join. Taking per-column MIN ranks over all
    # shared prefix tokens only loosens the bound (sound), and the
    # groupBy replaces the .distinct() the plan already paid — the
    # filter is free shuffle-wise and collapses the verify input
    # (measured sf0.1: 309k candidates → a few hundred).
    cands = (
        a.join(b, "__h")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.lit(num) * F.greatest("sz_a", "sz_b")
            <= F.lit(den) * F.least("sz_a", "sz_b")
        )
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.min("rn_a").alias("__ra"), F.min("rn_b").alias("__rb"))
        .filter(
            F.lit(num + den)
            * (
                F.lit(1)
                + F.least(
                    F.col("sz_a") - F.col("__ra"), F.col("sz_b") - F.col("__rb")
                )
            )
            >= F.lit(num) * (F.col("sz_a") + F.col("sz_b"))
        )
        .select("id_a", "id_b", "sz_a", "sz_b")
    )
    # Verify via per-doc shingle ARRAYS + array_intersect, not a
    # per-candidate posting explosion: the previous verify joined each
    # candidate to id_a's ENTIRE shingle list (|cands|·|shingles/doc|
    # intermediate rows — ~16M at sf0.1) and then re-joined on
    # (id_b, shingle), with hot docs straggling one task. One row per
    # doc (the checkpointed distinct-shingle array — no re-shuffle)
    # keeps the join payload |docs| rows — AQE broadcasts it — and the
    # exact string intersection runs as constant codegen work per
    # candidate. The accept test and the reported jaccard use exact
    # STRING-level sizes (size of the distinct arrays), independent of
    # the hash-level sz the candidate phase pruned with.
    arrs = sharr.select(F.col(id_col), "__grams")
    inter = (
        cands.select("id_a", "id_b")
        .join(
            arrs.select(F.col(id_col).alias("id_a"), F.col("__grams").alias("__arr_a")),
            "id_a",
        )
        .join(
            arrs.select(F.col(id_col).alias("id_b"), F.col("__grams").alias("__arr_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size("__arr_a").alias("__sa"),
            F.size("__arr_b").alias("__sb"),
            F.size(F.array_intersect("__arr_a", "__arr_b")).alias("n_common"),
        )
    )
    union_sz = F.col("__sa") + F.col("__sb") - F.col("n_common")
    rep_pairs = (
        inter.filter(F.lit(den) * F.col("n_common") >= F.lit(num) * union_sz)
        .select(
            "id_a",
            "id_b",
            "n_common",
            F.round(F.col("n_common") / union_sz, 6).alias("jaccard"),
        )
    )
    if not collapse_exact:
        return rep_pairs

    out = _expand_members(rep_pairs, reps, id_col)
    if num <= den:  # J = 1 passes the threshold: within-group pairs
        str_sizes = sharr.select(
            F.col(id_col), F.size("__grams").cast("long").alias("sz")
        )
        intra = (
            reps.join(str_sizes, id_col)
            .filter(F.size("__members") >= 2)
            .select(
                F.explode(array_pairs(F.col("__members"), "id_a", "id_b")).alias("p"),
                F.col("sz"),
            )
            .select(
                F.col("p.id_a"),
                F.col("p.id_b"),
                F.col("sz").alias("n_common"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        out = out.unionByName(intra)
    return out


def _semantic_dedup_pairs_numpy(
    assigned: DataFrame, tau: float, vec_col: str, id_col: str
) -> DataFrame:
    """Scale-path pair scan: per-cluster blocked BLAS cosine matrix.

    Arrow-batched applyInPandas; each cluster group normalizes its
    vectors once and walks the pair matrix in 2048-row blocks, so peak
    memory is O(block · cluster) not O(cluster²). Cosines are rounded
    to 1e-6 before the tau compare — the same quantization as the
    expression path.
    """
    import pandas as pd

    out_schema = f"{id_col} long, cluster int, is_dup boolean"

    def scan(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        v = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
        n = len(pdf)
        dup = np.zeros(n, dtype=bool)
        if n > 1:
            norms = np.sqrt((v * v).sum(axis=1))
            norms[norms == 0.0] = 1.0
            nv = v / norms[:, None]
            block = 2048
            for s in range(0, n, block):
                e = min(s + block, n)
                sims = np.round(nv[s:e] @ nv.T, 6)
                for r in range(s, e):
                    if r > 0 and (sims[r - s, :r] >= tau).any():
                        dup[r] = True
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cluster": pdf["cluster"],
                "is_dup": dup,
            }
        )

    return assigned.groupBy("cluster").applyInPandas(scan, out_schema)


def remove_boilerplate_sentences(
    docs: DataFrame,
    min_doc_freq: int = 3,
    min_chars: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop sentences that recur across ≥ ``min_doc_freq`` distinct docs.

    The sentence-granular complement to :func:`remove_duplicated_spans`
    (C4 keeps a line-level variant, RefinedWeb a paragraph one):
    navigation chrome, cookie banners, and license footers repeat
    verbatim across unrelated pages, and removing them beats dropping
    whole documents. Sentences are maximal ``[^.!?]+[.!?]`` runs (the
    text gets a terminal '.' so an unterminated tail still forms a
    sentence); only trimmed sentences of ≥ ``min_chars`` chars are
    removal candidates — short interjections are too common to be
    evidence of boilerplate.

    Scale design: the corpus-frequency pass shuffles ONLY 8-byte md5
    sentence hashes + doc ids (never sentence text), aggregated
    distinct-per-doc first (map-side) then by hash; the removal pass is
    one equi-join of the exploded sentences against the (tiny, capped
    by the threshold) boilerplate hash set, then one groupBy(doc) that
    reassembles kept sentences in original order via sorted structs —
    the same deterministic reassembly as ``merge_on_column``.

    Output: (id, kept_text, n_sentences, n_removed).
    """
    from diagnosisextraction_ml_spark.functions.hashing import md5_hash64

    sent = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.expr(
                f"regexp_extract_all(concat({text_col}, '.'), '[^.!?]+[.!?]', 0)"
            )
        ).alias("pos", "raw"),
    ).select("id", "pos", F.trim(F.col("raw")).alias("sent"))
    hashed = sent.withColumn("h", md5_hash64(F.col("sent")))

    boiler = (
        hashed.filter(F.length("sent") >= min_chars)
        .select("h", "id")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") >= min_doc_freq)
        .select("h", F.lit(True).alias("is_bp"))
    )
    marked = hashed.join(boiler, "h", "left").select(
        "id",
        "pos",
        "sent",
        (F.col("is_bp").isNotNull() & (F.length("sent") >= min_chars)).alias(
            "drop"
        ),
    )
    return (
        marked.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.sum(F.col("drop").cast("long")).alias("n_removed"),
            F.array_sort(
                F.collect_list(
                    F.when(~F.col("drop"), F.struct("pos", "sent")).otherwise(
                        F.lit(None)
                    )
                )
            ).alias("kept"),
        )
        .select(
            "id",
            F.concat_ws(" ", F.expr("transform(kept, x -> x.sent)")).alias(
                "kept_text"
            ),
            "n_sentences",
            "n_removed",
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 4,
    threshold_den: int = 5,
    max_doc_freq: int | None = 1000,
    collapse_exact: bool = True,
) -> DataFrame:
    """Asymmetric n-gram containment — quote/subset detection.

    Jaccard misses the case dedup cares about most at crawl scale: a
    short document wholly CONTAINED in a long one (a quoted article,
    a template wrapping real content) has low Jaccard but containment
    C(A,B) = |A∩B| / |A| ≈ 1. This is the overlap side of Lee et al.'s
    dedup taxonomy, off the same inverted-index join as
    :func:`ngram_jaccard_pairs` (same doc-freq semi-filter, same
    map-side-combined intersection counts — only the accept test
    changes; :func:`_shingle_index_pairs`). A pair is emitted when
    EITHER direction's containment
    reaches the exact rational threshold, tested by integer
    cross-multiplication; the reported values are exactly-rounded
    divisions.

    Output: (id_a, id_b, n_common, containment_a, containment_b) with
    id_a < id_b; containment_x = n_common / |shingles(x)|.

    ``collapse_exact`` (default on) is the duplicate-multiplicity
    defense the LSH/prefix operators already carry, and it matters MOST
    here: the inverted-index join pays C(m,2) pair rows for every
    m-copy duplicate group INSIDE the doc-freq cap, so a crawl-scale
    corpus of verbatim clones blows the join quadratically (measured
    34s at sf1 under gen_sf's 10× multiplicity). Byte-identical texts
    collapse to one representative BEFORE the index
    (:func:`_collapse_exact_texts`); the doc-freq cap
    stays exact by weighting each representative's shingles with its
    group size (Σ sizes = raw doc count per shingle); cross-group pairs
    expand from representative pairs with the containment values
    swapped when member order inverts (identical shingle sets ⇒
    identical values, but the a/b roles follow the id order); and
    within-group pairs are emitted closed-form with
    n_common = |allowed shingles| (capped shingles drop out of the
    intersection exactly as they do uncollapsed). Output row-identical
    to the uncollapsed run.
    """
    num, den = threshold_num, threshold_den
    reps = _collapse_exact_texts(df, text_col, id_col) if collapse_exact else None
    pairs, sizes, asz = _shingle_index_pairs(
        df, reps, text_col, id_col, n, max_doc_freq
    )
    rep_pairs = (
        pairs.filter(
            (F.lit(den) * F.col("n_common") >= F.lit(num) * F.col("sz_a"))
            | (F.lit(den) * F.col("n_common") >= F.lit(num) * F.col("sz_b"))
        )
        .select(
            "id_a",
            "id_b",
            "n_common",
            F.round(F.col("n_common") / F.col("sz_a"), 6).alias("containment_a"),
            F.round(F.col("n_common") / F.col("sz_b"), 6).alias("containment_b"),
        )
    )
    if reps is None:
        return rep_pairs

    # containment is ASYMMETRIC: when the member order inverts the
    # representative order, the a/b values swap roles
    swap = F.col("u") > F.col("v")
    cross = _expand_members(
        rep_pairs,
        reps,
        id_col,
        "n_common",
        F.when(swap, F.col("containment_b"))
        .otherwise(F.col("containment_a"))
        .alias("containment_a"),
        F.when(swap, F.col("containment_a"))
        .otherwise(F.col("containment_b"))
        .alias("containment_b"),
    )
    intra = (
        reps.filter(F.size("__members") >= 2)
        .join(sizes, id_col)
        .join(asz, id_col)
        .filter(F.lit(den) * F.col("asz") >= F.lit(num) * F.col("sz"))
        .select(
            F.explode(array_pairs(F.col("__members"), "id_a", "id_b")).alias("p"),
            F.col("asz"),
            F.round(F.col("asz") / F.col("sz"), 6).alias("__c"),
        )
        .select(
            F.col("p.id_a"),
            F.col("p.id_b"),
            F.col("asz").alias("n_common"),
            F.col("__c").alias("containment_a"),
            F.col("__c").alias("containment_b"),
        )
    )
    return cross.unionByName(intra)


def cross_source_dup_matrix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Duplicate-leakage matrix: how much exact-duplicate mass crosses
    source boundaries (the corpus-forensics view behind "which crawls
    re-scraped which" and "is our held-out source contaminated by the
    training sources").

    For every unordered source pair (a ≤ b): the number of duplicate
    PAIRS (same normalized text, one doc from a, one from b) and the
    number of distinct duplicated texts contributing. Within-source
    cells (a == b) count C(n,2) pairs inside that source.

    Pure counting algebra — no pair join over documents: one groupBy
    to (fingerprint, source, n), then each fingerprint's per-source
    count list (Zipf-small: ≤ |sources| rows each) expands to its
    source-pair cross terms nₐ·n_b (a < b) and C(nₐ,2) (a = a) inside
    a native array transform, and one final groupBy sums the matrix —
    only (fp, source, count) triples ever shuffle, never text.

    Output: (source_a, source_b, n_dup_pairs, n_groups), source_a ≤
    source_b lexicographically.
    """
    per = (
        df.select(
            F.md5(normalize_ws(text_col)).alias("fp"),
            F.col(source_col).alias("src"),
        )
        .groupBy("fp", "src")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    lists = per.groupBy("fp").agg(
        F.array_sort(F.collect_list(F.struct("src", "n"))).alias("sn")
    )
    # cross terms for a < b plus the within-source diagonal
    pairs = F.flatten(
        F.transform(
            F.col("sn"),
            lambda x, i: F.concat(
                F.array(
                    F.struct(
                        x.getField("src").alias("source_a"),
                        x.getField("src").alias("source_b"),
                        # n·(n−1)/2 in pure integer arithmetic: halve the
                        # even factor FIRST so the product never exceeds
                        # the final count (Spark's `/` is double division,
                        # which silently loses precision past 2^53 —
                        # ~9.4e7-member groups — while the DuckDB twin's
                        # `//` stays exact). Exact for every n whose pair
                        # count fits the int64 output column.
                        F.when(
                            x.getField("n") % 2 == 0,
                            F.shiftright(x.getField("n"), 1)
                            * (x.getField("n") - 1),
                        )
                        .otherwise(
                            x.getField("n")
                            * F.shiftright(x.getField("n") - 1, 1)
                        )
                        .cast("long")
                        .alias("np"),
                    )
                ),
                F.transform(
                    F.slice(F.col("sn"), i + 2, F.size(F.col("sn"))),
                    lambda y: F.struct(
                        x.getField("src").alias("source_a"),
                        y.getField("src").alias("source_b"),
                        (x.getField("n") * y.getField("n")).cast("long").alias("np"),
                    ),
                ),
            ),
        )
    )
    return (
        lists.select(F.explode(pairs).alias("p"))
        .select("p.source_a", "p.source_b", "p.np")
        .filter(F.col("np") > 0)
        .groupBy("source_a", "source_b")
        .agg(
            F.sum("np").alias("n_dup_pairs"),
            F.count(F.lit(1)).alias("n_groups"),
        )
    )
