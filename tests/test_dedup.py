"""Dedup operator tests — exact, MinHash/LSH, SimHash, Jaccard,
embedding near-dup."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from diagnosisextraction_ml_spark.operators import dedup
from diagnosisextraction_ml_spark.operators.dedup import (
    dedup_exact,
    embedding_near_dup_pairs,
    exact_duplicates,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles,
    simhash_near_pairs,
    simhash_signatures,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (3, "the  quick brown fox jumps  over the lazy dog "),  # ws-normalized dup
            (4, "the quick brown fox leaps over the lazy dog"),  # near dup (1 word)
            (5, "completely different content about spark engines"),
            (6, "yet another unrelated document entirely here now"),
        ],
        "doc_id long, text string",
    )


def test_exact_duplicates(docs):
    groups = exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_dups"] == 3
    assert groups[0]["keep_id"] == 1
    assert len(groups[0]["fingerprint"]) == 32  # full 128-bit md5 hex

    kept = sorted(r["doc_id"] for r in dedup_exact(docs).collect())
    assert kept == [1, 4, 5, 6]


def test_minhash_identical_docs_share_signature(docs):
    sigs = minhash_signatures(docs, "text", "doc_id", n=3, k=16)
    by_doc = {}
    for r in sigs.collect():
        by_doc.setdefault(r["doc_id"], {})[r["i"]] = r["minhash"]
    assert by_doc[1] == by_doc[2] == by_doc[3]
    assert by_doc[1] != by_doc[5]
    assert all(len(v) == 16 for v in by_doc.values())


def test_minhash_array_native_matches_row_reference(spark):
    """The array-native wide build (r15: array_min over a transform,
    zero exchanges) must be bit-identical to the original row-based
    formulation — explode shingles, md5 per row, k-min groupBy —
    including the edge docs the filter semantics cover: empty text,
    whitespace-only text, and null text all produce NO signature."""
    from diagnosisextraction_ml_spark.functions.hashing import (
        KNUTH,
        M31,
        md5_hash64,
    )

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),
        (3, "one two three four five six"),
        (4, ""),
        (5, "   "),
        (6, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    k = 16
    # n=1, k=16 dispatches to the array-native build (the regime it
    # wins in); the reference below is the row-based formulation, so
    # this pins the two formulations against each other.
    got = {
        (r["doc_id"], r["i"]): r["minhash"]
        for r in minhash_signatures(docs, "text", "doc_id", n=1, k=k).collect()
    }
    # row-based reference, built inline exactly as the pre-r15 shape
    hashed = shingles(docs, "text", "doc_id", n=1).select(
        F.col("doc_id"), (md5_hash64("shingle") % F.lit(M31)).alias("x")
    )
    aggs = []
    for i in range(k):
        a = (i * KNUTH + 1) % M31
        b = (i * 40503 + 7) % M31
        aggs.append(F.min((F.lit(a) * F.col("x") % M31 + F.lit(b)) % M31).alias(f"h{i}"))
    ref = {}
    for r in hashed.groupBy("doc_id").agg(*aggs).collect():
        for i in range(k):
            ref[(r["doc_id"], i)] = r[f"h{i}"]
    assert got == ref
    assert not any(d in (4, 5, 6) for d, _ in got)


def test_minhash_lsh_pairs_finds_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs, k=16, bands=4).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert (5, 6) not in pairs


def test_ngram_jaccard(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.2).collect()
    }
    assert pairs[(1, 2)] == 1.0
    # near dup shares most trigrams but not all
    assert 0.2 <= pairs[(1, 4)] < 1.0
    assert (1, 5) not in pairs


def test_simhash(docs):
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
    assert sigs[1] == sigs[2] == sigs[3]
    # near dup differs in fewer bits than an unrelated doc
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sigs[1], sigs[4]) < ham(sigs[1], sigs[5])
    near = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_near_pairs(docs, max_hamming=10).collect()}
    assert near[(1, 2)] == 0 and near[(1, 3)] == 0


def test_embedding_near_dup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),  # near dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r["id_a"], r["id_b"]) for r in embedding_near_dup_pairs(df, threshold=0.95).collect()}
    assert (1, 2) in got
    assert (1, 3) not in got and (1, 4) not in got
    # no cartesian product in the default plan
    plan = embedding_near_dup_pairs(df)._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    # explicit candidates path verifies only the provided pairs
    cands = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    got2 = {(r["id_a"], r["id_b"]) for r in embedding_near_dup_pairs(df, candidates=cands, threshold=0.95).collect()}
    assert got2 == {(1, 2)}


@pytest.mark.slow
def test_lsh_collapse_exact_is_output_identical(spark):
    """The exact-duplicate pre-collapse (collapse_exact=True, the
    default) must be row-for-row identical to the direct pipeline —
    including within-duplicate-group pairs, n_bands_shared counts, the
    max_bucket cap applied to *expanded* id counts, and empty/NULL
    texts (which produce no signatures, hence no pairs, either way)."""
    import random

    random.seed(3)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    rows, i = [], 0
    for _ in range(25):
        t = " ".join(random.choices(words, k=10))
        for _ in range(6):  # 6x duplicate multiplicity
            rows.append((i, t))
            i += 1
    rows += [(i, ""), (i + 1, ""), (i + 2, None), (i + 3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for cap in (50, 9):  # 9 < group size 6*2: cap drops multi-group buckets
        on = sorted(map(tuple, minhash_lsh_pairs(df, max_bucket=cap).collect()))
        off = sorted(
            map(tuple, minhash_lsh_pairs(df, max_bucket=cap, collapse_exact=False).collect())
        )
        assert on == off and len(on) > 0


def test_lsh_max_bucket_drops_hot_bucket_keeps_rest(spark):
    """Adversarial hot bucket: near-identical docs (distinct trailing
    token, so collapse_exact cannot collapse them) all land in the same
    LSH bucket. max_bucket must drop exactly that clique's pairs while
    unrelated small-bucket pairs survive — the documented web-dedup
    guard that keeps the pair expansion bounded at 100 TB."""
    body = " ".join(f"common{j}" for j in range(30))
    hot = [(i, f"{body} uniq{i}") for i in range(8)]
    other = [
        (100, "zeb yak xis wov vun um tol sog rif qep"),
        (101, "zeb yak xis wov vun um tol sog rif qex"),  # near-dup of 100
    ]
    df = spark.createDataFrame(hot + other, "doc_id long, text string")

    uncapped = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(df, k=16, bands=4, max_bucket=10_000).collect()
    }
    hot_pairs = {(a, b) for a in range(8) for b in range(8) if a < b}
    assert hot_pairs <= uncapped and (100, 101) in uncapped

    capped = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(df, k=16, bands=4, max_bucket=4).collect()
    }
    assert capped & hot_pairs == set()  # hot clique dropped entirely
    assert (100, 101) in capped  # small buckets unaffected


@pytest.mark.slow
def test_connected_components_chain_clique_and_convergence(spark):
    """Chain + clique resolve to min-id components; singletons absent;
    keep_canonical keeps one survivor per cluster plus singletons; a
    max_iter below the component diameter raises instead of returning
    a half-merged clustering."""
    from diagnosisextraction_ml_spark.operators.dedup import (
        connected_components,
        keep_canonical,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12)],
        "id_a long, id_b long",
    )
    cc = connected_components(pairs)
    got = sorted(map(tuple, cc.collect()))
    assert got == [(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (12, 10)]

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in [1, 2, 3, 4, 10, 11, 12, 99]], "doc_id long, text string"
    )
    kept = sorted(r["doc_id"] for r in keep_canonical(docs, cc).collect())
    assert kept == [1, 10, 99]

    chain = spark.createDataFrame([(i, i + 1) for i in range(12)], "id_a long, id_b long")
    assert {r["component_id"] for r in connected_components(chain, max_iter=15).collect()} == {0}
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(chain, max_iter=2)

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).count() == 0


def test_decontaminate_flags_ngram_overlap(spark):
    """A corpus doc sharing a 13-gram with a benchmark doc flags; clean
    docs come back with n_hit_ngrams = 0 (output covers every doc)."""
    from diagnosisextraction_ml_spark.operators.dedup import decontaminate

    bench_text = " ".join(f"b{i}" for i in range(20))
    corpus = spark.createDataFrame(
        [
            (1, bench_text),                                   # verbatim benchmark doc
            (2, "prefix " + " ".join(f"b{i}" for i in range(13)) + " suffix"),
            (3, " ".join(f"c{i}" for i in range(30))),         # clean
            (4, " ".join(f"b{i}" for i in range(12))),         # short: whole-text gram, no 13-gram match
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    got = {r["doc_id"]: (r["n_hit_ngrams"], r["contaminated"])
           for r in decontaminate(corpus, bench, n=13).collect()}
    assert got[1][1] and got[1][0] == 8      # 20-13+1 grams, all hit
    assert got[2] == (1, True)               # exactly the one embedded 13-gram
    assert got[3] == (0, False)
    assert got[4] == (0, False)
    assert len(got) == 4


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark gram set must reach the corpus as a broadcast
    probe — no shuffle of the corpus grams."""
    from diagnosisextraction_ml_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    bench = spark.createDataFrame([(9, "a b c")], "doc_id long, text string")
    plan = decontaminate(corpus, bench, n=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_dedup_incremental_batch(spark):
    """New docs drop against the historical index AND collapse within
    the batch; whitespace-normalized equality, min-id survivor."""
    from diagnosisextraction_ml_spark.operators.dedup import (
        dedup_incremental,
        index_fingerprints,
    )

    history_docs = spark.createDataFrame(
        [(1, "old doc one"), (2, "old  doc\ttwo")], "doc_id long, text string"
    )
    history = index_fingerprints(history_docs)
    batch = spark.createDataFrame(
        [
            (10, "old doc one"),        # seen (exact)
            (11, "old doc two"),        # seen (whitespace-normalized)
            (12, "brand new"),
            (13, "brand  new"),         # in-batch dup of 12 (normalized)
            (14, "also new"),
        ],
        "doc_id long, text string",
    )
    got = sorted(r["doc_id"] for r in dedup_incremental(batch, history).collect())
    assert got == [12, 14]


def test_dedup_incremental_dotted_column_names(spark):
    """Column names containing dots (and an id column that is not
    first) survive the struct round trip, in the input's order."""
    from diagnosisextraction_ml_spark.operators.dedup import (
        dedup_incremental,
        index_fingerprints,
    )

    history = index_fingerprints(
        spark.createDataFrame([(1, "seen")], "doc_id long, text string")
    )
    batch = spark.createDataFrame(
        [("seen", "x", 10), ("fresh", "y", 12), ("fresh", "z", 11)],
        "`t.x` string, `meta.src` string, `d.id` long",
    )
    out = dedup_incremental(batch, history, text_col="t.x", id_col="d.id")
    assert out.columns == ["t.x", "meta.src", "d.id"]
    assert [tuple(r) for r in out.collect()] == [("fresh", "z", 11)]


def test_dedup_incremental_rejects_map_columns(spark):
    from diagnosisextraction_ml_spark.operators.dedup import dedup_incremental

    history = spark.createDataFrame([("0" * 32,)], "fingerprint string")
    batch = spark.createDataFrame(
        [(1, "a", {"k": 1})], "doc_id long, text string, attrs map<string,int>"
    )
    with pytest.raises(ValueError, match="'attrs' holds a map"):
        dedup_incremental(batch, history)


def test_dedup_incremental_drops_null_ids(spark):
    """A null-id row is never a survivor and does not shadow a real-id
    duplicate of its text — the SQL twin's min(doc_id) + IN semantics."""
    from diagnosisextraction_ml_spark.operators.dedup import dedup_incremental

    history = spark.createDataFrame([("0" * 32,)], "fingerprint string")
    batch = spark.createDataFrame(
        [(None, "hello world"), (5, "hello world"), (None, "only null"), (7, "fresh")],
        "doc_id long, text string",
    )
    got = {tuple(r) for r in dedup_incremental(batch, history).collect()}
    assert got == {(5, "hello world"), (7, "fresh")}


def test_dedup_incremental_null_text_twins_agree(spark, tmp_path):
    """Null texts form one group (min id survives) and never match
    history, on both engines — a null history fingerprint must not
    empty the batch in the DuckDB twin."""
    import duckdb

    from diagnosisextraction_ml_spark.operators.dedup import dedup_incremental, index_fingerprints
    from diagnosisextraction_ml_spark.plans.queries import oracle_sql, queries

    history = index_fingerprints(
        spark.createDataFrame([(10, None), (12, "y")], "doc_id long, text string")
    )
    batch = spark.createDataFrame(
        [(3, None), (4, "y"), (5, "z")], "doc_id long, text string"
    )
    got = sorted(tuple(r) for r in dedup_incremental(batch, history).collect())
    assert got == [(3, None), (5, "z")]

    # The registry pair: history = even docs, batch = odd docs + every
    # doc shifted by 1,000,000 — here the copy of 12 is the "y" repeat.
    path = str(tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        "COPY (SELECT * FROM (VALUES (10::BIGINT, NULL::VARCHAR), (12, 'y'), "
        f"(3, NULL), (5, 'z')) t(doc_id, text)) TO '{path}' (FORMAT PARQUET)"
    )
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    duck = sorted(con.execute(oracle_sql()["dedup_incremental_batch"]).fetchall())
    spark_rows = sorted(
        tuple(r) for r in queries()["dedup_incremental_batch"](spark, str(tmp_path)).collect()
    )
    assert spark_rows == [(3, None), (5, "z")]
    assert duck == spark_rows


def test_duplicated_gram_stats_hand_case(spark):
    from diagnosisextraction_ml_spark.operators.dedup import duplicated_gram_stats

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),     # shares the 3-gram window with doc 2
            (2, "a b c d e f"),     # exact copy → all grams duplicated
            (3, "q r s t u v"),     # unique → zero duplicated grams
            (4, "a b c x y z"),     # shares exactly the "a b c" gram
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in duplicated_gram_stats(docs, n=3).collect()}
    # docs 1/2: 4 distinct 3-grams each, all shared with the copy
    assert out[1]["n_grams"] == 4 and out[1]["dup_fraction"] == 1.0
    assert out[2]["dup_fraction"] == 1.0
    assert out[3]["n_dup_grams"] == 0 and out[3]["dup_fraction"] == 0.0
    # doc 4: only "a b c" (1 of 4 grams) occurs elsewhere
    assert out[4]["n_grams"] == 4 and out[4]["n_dup_grams"] == 1
    assert out[4]["dup_fraction"] == 0.25


def test_duplicated_gram_stats_flags_injected_copies(spark, sf_dir):
    import pyspark.sql.functions as F

    from diagnosisextraction_ml_spark.operators.dedup import duplicated_gram_stats
    from diagnosisextraction_ml_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(200)
    copies = docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    out = duplicated_gram_stats(docs.unionByName(copies), n=5)
    # every injected copy (and its source) is fully duplicated
    full = out.filter(F.col("dup_fraction") == 1.0).count()
    n_copies = copies.count()
    assert full >= 2 * n_copies


# ---------------------------------------------------------------------------
# SemDeDup (semantic_dedup)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def planted_embeddings(spark):
    import math

    rows = []
    # 3 well-separated directions; per direction 4 members: one anchor,
    # two near-parallel copies (tiny angular jitter), one far outlier
    # rotated toward the next axis (cosine ~0.7 < tau=0.95).
    for d in range(3):
        base = [0.0] * 6
        base[2 * d] = 1.0
        for m, eps in enumerate([0.0, 0.01, 0.02]):
            v = list(base)
            v[2 * d + 1] = eps
            rows.append((d * 10 + m, [float(x) for x in v]))
        far = list(base)
        far[(2 * d + 2) % 6] = 1.0  # 45° away
        rows.append((d * 10 + 5, [float(x) / math.sqrt(2.0) for x in far]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_semantic_dedup_keeps_lowest_id_per_group(spark, planted_embeddings):
    out = dedup.semantic_dedup(
        planted_embeddings, k=3, iters=2, tau=0.95
    ).collect()
    flags = {r.vec_id: r.is_dup for r in out}
    assert len(flags) == 12
    for d in range(3):
        assert flags[d * 10 + 0] is False  # anchor (lowest id) survives
        assert flags[d * 10 + 1] is True  # near-parallel copies marked
        assert flags[d * 10 + 2] is True
        assert flags[d * 10 + 5] is False  # 45°-away outlier kept


def test_semantic_dedup_groups_share_cluster(spark, planted_embeddings):
    out = dedup.semantic_dedup(
        planted_embeddings, k=3, iters=2, tau=0.95
    ).collect()
    cl = {r.vec_id: r.cluster for r in out}
    for d in range(3):
        assert cl[d * 10] == cl[d * 10 + 1] == cl[d * 10 + 2]


def test_semantic_dedup_partitioning_invariant(spark, planted_embeddings):
    a = sorted(
        map(
            tuple,
            dedup.semantic_dedup(
                planted_embeddings.repartition(5), k=3, iters=2, tau=0.95
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            dedup.semantic_dedup(
                planted_embeddings.coalesce(1), k=3, iters=2, tau=0.95
            ).collect(),
        )
    )
    assert a == b


# ---------------------------------------------------------------------------
# Prefix-filter exact Jaccard join
# ---------------------------------------------------------------------------


def test_prefix_jaccard_hand_case(spark):
    rows = [
        (1, "a b c d e f"),     # shingles: abc bcd cde def (4)
        (2, "a b c d e zz"),    # abc bcd cde "d e zz" → overlap 3, union 5
        (3, "x y z w v u"),     # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): (r.n_common, r.jaccard)
        for r in dedup.prefix_filter_jaccard_pairs(
            df, threshold_num=1, threshold_den=2
        ).collect()
    }
    assert got == {(1, 2): (3, 0.6)}


def test_prefix_jaccard_complete_vs_uncapped_index(spark):
    """Exact-completeness: identical result set to the uncapped
    inverted-index join at the same threshold."""
    from diagnosisextraction_ml_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    pf = sorted(
        map(
            tuple,
            dedup.prefix_filter_jaccard_pairs(
                docs, threshold_num=1, threshold_den=2
            ).collect(),
        )
    )
    ex = sorted(
        map(
            tuple,
            dedup.ngram_jaccard_pairs(
                docs, threshold=0.5, max_doc_freq=None
            )
            .select("id_a", "id_b", "n_common", "jaccard")
            .collect(),
        )
    )
    assert pf == ex


def test_prefix_jaccard_collapse_equivalence_under_duplicates(spark):
    """collapse_exact=True must be row-identical to the uncollapsed run
    on a duplicate-heavy corpus (incl. within-group J=1 pairs)."""
    texts = [
        "a b c d e f g",
        "a b c d e zz q",
        "x y z w v u t",
        "a b c d e f g h",
    ]
    # each text appears 3x under distinct ids → 10x-multiplicity shape
    rows = [(ti * 10 + c, t) for ti, t in enumerate(texts) for c in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fast = sorted(
        map(tuple, dedup.prefix_filter_jaccard_pairs(
            df, threshold_num=1, threshold_den=2, collapse_exact=True
        ).collect())
    )
    slow = sorted(
        map(tuple, dedup.prefix_filter_jaccard_pairs(
            df, threshold_num=1, threshold_den=2, collapse_exact=False
        ).collect())
    )
    assert fast == slow
    # within-group pairs present with jaccard exactly 1.0
    intra = [r for r in fast if r[0] // 10 == r[1] // 10]
    assert len(intra) == len(texts) * 3  # C(3,2) per group
    assert all(r[3] == 1.0 for r in intra)


def test_prefix_jaccard_threshold_is_exact_rational(spark):
    # J exactly at the threshold boundary must be INCLUDED (>=),
    # decided by integer cross-multiplication, not float rounding.
    rows = [
        (1, "a b c d e"),       # 3 shingles: abc bcd cde
        (2, "a b c d zz"),      # abc bcd + "c d zz" → overlap 2, union 4 → J=0.5
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = dedup.prefix_filter_jaccard_pairs(
        df, threshold_num=1, threshold_den=2
    ).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in got] == [(1, 2, 0.5)]


def test_semantic_dedup_numpy_path_matches_expr(spark, planted_embeddings):
    a = sorted(
        map(
            tuple,
            dedup.semantic_dedup(
                planted_embeddings, k=3, iters=2, tau=0.95, method="expr"
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            dedup.semantic_dedup(
                planted_embeddings, k=3, iters=2, tau=0.95, method="numpy"
            ).collect(),
        )
    )
    assert a == b


def test_semantic_dedup_numpy_matches_expr_on_testdata(spark, sf_dir):
    # The registry serves the numpy scan while the DuckDB oracle
    # replays the expression path — pin their row-level equality on
    # the REAL embeddings table (the registered dedup_semantic args),
    # not just planted fixtures, so the swap can't drift silently.
    from diagnosisextraction_ml_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = sorted(
        map(tuple, dedup.semantic_dedup(emb, k=8, iters=2, tau=0.4,
                                        method="expr").collect())
    )
    b = sorted(
        map(tuple, dedup.semantic_dedup(emb, k=8, iters=2, tau=0.4,
                                        method="numpy").collect())
    )
    assert a == b


def test_containment_detects_subset_that_jaccard_misses(spark):
    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"filler{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, "totally different content here")],
        "doc_id long, text string",
    )
    cont = {
        (r.id_a, r.id_b): r
        for r in dedup.ngram_containment_pairs(
            df, threshold_num=4, threshold_den=5
        ).collect()
    }
    assert (1, 2) in cont
    r = cont[(1, 2)]
    assert r.containment_a == 1.0  # every shingle of the short doc is in the long
    assert r.containment_b < 0.5
    # the same pair fails a 0.5 Jaccard test
    jac = dedup.ngram_jaccard_pairs(df, threshold=0.5, max_doc_freq=None).collect()
    assert not any(x.id_a == 1 and x.id_b == 2 for x in jac)
    assert (1, 3) not in cont and (2, 3) not in cont


def test_containment_threshold_exact_rational(spark):
    # overlap 4 of short's 5 shingles: containment exactly 4/5 -> included at 4/5
    a = "w1 w2 w3 w4 w5 w6 w7"        # 5 shingles
    b = "w1 w2 w3 w4 w5 w6 x" + " " + " ".join(f"y{i}" for i in range(20))
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    got = dedup.ngram_containment_pairs(df, threshold_num=4, threshold_den=5).collect()
    assert len(got) == 1 and got[0].containment_a == 0.8
    none = dedup.ngram_containment_pairs(df, threshold_num=9, threshold_den=10).collect()
    assert none == []


def test_cross_source_dup_matrix(spark):
    from diagnosisextraction_ml_spark.operators.dedup import cross_source_dup_matrix

    rows = [
        # text X: 2 copies in a, 1 in b -> diag (a,a)=1, cross (a,b)=2
        (1, "x x", "a"), (2, "x x", "a"), (3, "x x", "b"),
        # text Y: 1 in b, 1 in c -> cross (b,c)=1
        (4, "y y", "b"), (5, "y y", "c"),
        # unique text: contributes nothing
        (6, "z unique", "a"),
        # whitespace-normalized match counts as a dup
        (7, "  x   x ", "c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (r["source_a"], r["source_b"]): (r["n_dup_pairs"], r["n_groups"])
        for r in cross_source_dup_matrix(df).collect()
    }
    assert got[("a", "a")] == (1, 1)      # C(2,2)=1 within a
    assert got[("a", "b")] == (2, 1)      # 2 copies in a x 1 in b
    assert got[("a", "c")] == (2, 1)      # normalized doc 7 joins group X
    assert got[("b", "c")] == (1 + 1, 2)  # X:(1x1) + Y:(1x1), two groups
    assert ("b", "b") not in got          # no within-b dups
    # deterministic under repartitioning
    again = {
        (r["source_a"], r["source_b"]): (r["n_dup_pairs"], r["n_groups"])
        for r in cross_source_dup_matrix(df.repartition(5)).collect()
    }
    assert got == again


def test_prefix_jaccard_matches_bruteforce_on_random_corpora(spark):
    """Exact-complete contract under the PPJoin positional filter and
    hash-keyed rarity order: on random corpora with heavy vocabulary
    overlap, the operator must return EXACTLY the brute-force all-pairs
    Jaccard answer — no pair lost to the prefix/positional pruning, no
    extra pair admitted."""
    import itertools
    import random

    from diagnosisextraction_ml_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    def py_shingles(text, n):
        toks = [t for t in text.lower().strip().split() if t]
        if not toks:
            return set()
        if len(toks) >= n:
            grams = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
        else:
            grams = {" ".join(toks)}
        grams.discard("")
        return grams

    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    for seed, (num, den) in [(0, (1, 2)), (1, (1, 2)), (2, (1, 3))]:
        rng = random.Random(seed)
        rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 9))))
            for i in range(40)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        want = {}
        sh = {i: py_shingles(t, 2) for i, t in rows}
        for a, b in itertools.combinations(range(40), 2):
            sa, sb = sh[a], sh[b]
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            union = len(sa | sb)
            if den * inter >= num * union:
                want[(a, b)] = inter
        for collapse in (True, False):
            out = prefix_filter_jaccard_pairs(
                df, "text", "doc_id", n=2,
                threshold_num=num, threshold_den=den, collapse_exact=collapse,
            ).collect()
            got = {(r["id_a"], r["id_b"]): r["n_common"] for r in out}
            assert got == want, (seed, num, den, collapse)
            for r in out:
                inter = want[(r["id_a"], r["id_b"])]
                union = len(sh[r["id_a"]] | sh[r["id_b"]])
                assert abs(r["jaccard"] - inter / union) <= 1e-6


def test_containment_collapse_equivalence(spark):
    """collapse_exact must be row-identical to the uncollapsed run —
    including the weighted doc-freq cap (duplicate copies count toward
    a shingle's raw document frequency) and the swapped asymmetric
    containment values when member order inverts the rep order."""
    import random

    for seed, max_df in [(0, None), (1, 3), (2, 2)]:
        rng = random.Random(seed)
        vocab = ["aa", "bb", "cc", "dd", "ee"]
        texts = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 8)))
            for _ in range(12)
        ]
        rows = []
        i = 0
        for t in texts:
            for _ in range(rng.randint(1, 3)):  # planted exact dups
                rows.append((i, t))
                i += 1
        rng.shuffle(rows)
        df = spark.createDataFrame(rows, "doc_id long, text string")
        kw = dict(n=2, threshold_num=1, threshold_den=2, max_doc_freq=max_df)
        plain = sorted(
            map(tuple, dedup.ngram_containment_pairs(
                df, collapse_exact=False, **kw).collect())
        )
        collapsed = sorted(
            map(tuple, dedup.ngram_containment_pairs(
                df, collapse_exact=True, **kw).collect())
        )
        assert plain == collapsed, (seed, max_df)


def test_jaccard_collapse_equivalence(spark):
    """ngram_jaccard_pairs collapse_exact is row-identical to the
    uncollapsed run, with and without the weighted doc-freq cap."""
    import random

    for seed, max_df in [(0, None), (1, 3), (2, 2)]:
        rng = random.Random(seed)
        vocab = ["aa", "bb", "cc", "dd", "ee"]
        texts = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 8)))
            for _ in range(12)
        ]
        rows = []
        i = 0
        for t in texts:
            for _ in range(rng.randint(1, 3)):
                rows.append((i, t))
                i += 1
        rng.shuffle(rows)
        df = spark.createDataFrame(rows, "doc_id long, text string")
        kw = dict(n=2, threshold=0.4, max_doc_freq=max_df)
        plain = sorted(
            map(tuple, dedup.ngram_jaccard_pairs(
                df, collapse_exact=False, **kw).collect())
        )
        collapsed = sorted(
            map(tuple, dedup.ngram_jaccard_pairs(
                df, collapse_exact=True, **kw).collect())
        )
        assert plain == collapsed, (seed, max_df)


def test_embedding_near_numpy_matches_expr_on_testdata(spark, sf_dir):
    # Licenses serving the Arrow-batched einsum verify against the
    # expression-replay DuckDB oracle: identical pairs AND identical
    # 6dp cosines on the real corpus at the registered parameters.
    from diagnosisextraction_ml_spark.plans.queries_ext import _emb_with_dups

    df = _emb_with_dups(spark, sf_dir)
    a = sorted(map(tuple, embedding_near_dup_pairs(
        df, threshold=0.98, n_planes=12, method="numpy").collect()))
    b = sorted(map(tuple, embedding_near_dup_pairs(
        df, threshold=0.98, n_planes=12, method="expr").collect()))
    assert a == b and len(a) > 0


def test_embedding_near_dup_string_ids_fall_back_to_expr(spark):
    """The cogrouped BLAS verify hard-requires integral ids; string-id
    callers must transparently get the expression path with the same
    pairs (string '<' ordering) instead of crashing."""
    rows = [
        ("docA", [1.0, 0.0, 0.0, 0.0]),
        ("docB", [0.999, 0.01, 0.0, 0.0]),  # near dup of docA
        ("docC", [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(df, threshold=0.95).collect()
    }
    assert got == {("docA", "docB")}


@pytest.mark.slow
def test_star_components_equal_propagate_on_random_graphs(spark):
    """Seeded random pair lists: the star-contraction engine must be
    row-for-row identical to min-label propagation."""
    import random

    from diagnosisextraction_ml_spark.operators.dedup import connected_components

    rng = random.Random(7)
    for trial in range(3):
        n = 60
        pairs = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.choice([20, 40, 80]))
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        star = sorted(map(tuple, connected_components(df, method="star").collect()))
        prop = sorted(
            map(tuple, connected_components(df, method="propagate", max_iter=60).collect())
        )
        assert star == prop, trial


def test_star_components_chain_rounds_logarithmic(spark):
    """A 64-node chain (diameter 63) must converge in O(log d) star
    rounds — the scale property propagate lacks (it needs 63)."""
    from diagnosisextraction_ml_spark.operators.dedup import _star_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    labels, rounds = _star_components(chain, "id_a", "id_b", max_iter=12)
    assert {r["component_id"] for r in labels.collect()} == {0}
    assert labels.count() == 64
    assert rounds <= 8, rounds


def test_dedup_incremental_near_band_index(spark):
    """Day-2 LSH screening: an exact copy of a history doc hits ALL its
    bands; a disjoint-vocabulary doc hits none; min_bands gates the
    flag; every batch doc gets exactly one output row."""
    from diagnosisextraction_ml_spark.operators.dedup import (
        dedup_incremental_near,
        index_band_buckets,
    )

    hist_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    history = spark.createDataFrame(
        [(1, hist_text), (2, "one two three four five six seven eight")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, hist_text),                                   # exact copy
            (11, "red green blue cyan magenta yellow black"),  # disjoint
        ],
        "doc_id long, text string",
    )
    idx = index_band_buckets(history, k=16, bands=4)
    out = {
        r["doc_id"]: (r["n_bands_hit"], r["is_near_dup"])
        for r in dedup_incremental_near(batch, idx, k=16, bands=4).collect()
    }
    assert out[10] == (4, True)
    assert out[11] == (0, False)
    # min_bands above the copy's hit count suppresses the flag
    strict = {
        r["doc_id"]: r["is_near_dup"]
        for r in dedup_incremental_near(
            batch, idx, k=16, bands=4, min_bands=5
        ).collect()
    }
    assert strict == {10: False, 11: False}


def test_star_expansion_same_components_fewer_pairs(spark):
    """star_over: buckets above the threshold emit min-id stars. The
    candidate pair set shrinks quadratic→linear on a near-clique
    (100-dup boilerplate), but connected_components / keep_canonical
    over it must be IDENTICAL to the all-pairs graph — a star keeps
    every in-bucket id connected by construction."""
    from diagnosisextraction_ml_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    clique = [(i, "the same boilerplate sentence repeated everywhere") for i in range(100)]
    near = [
        (200, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (201, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    ]
    solo = [(300, "completely unrelated content about rivers and mountains")]
    docs = spark.createDataFrame(clique + near + solo, "doc_id long, text string")

    full = minhash_lsh_pairs(docs, k=16, bands=4)
    star = minhash_lsh_pairs(docs, k=16, bands=4, star_over=8)
    n_full = full.count()
    n_star = star.count()
    assert n_full >= 100 * 99 // 2  # the clique alone is C(100,2)
    assert n_star < 3 * 100 + 20    # stars: ≤ (g−1) per band-bucket group

    a = sorted(map(tuple, connected_components(full).collect()))
    b = sorted(map(tuple, connected_components(star).collect()))
    assert a == b
    # the clique must actually be one component in both
    comp_of = dict(b)
    assert len({comp_of[i] for i in range(100)}) == 1


@pytest.mark.slow
def test_star_expansion_equality_mixed_group_sizes(spark):
    """Randomized (seeded) corpus with duplicate groups of every size
    1..14 — some under, some at, some over star_over=8 — must yield
    byte-identical components and canonical keeps vs all-pairs, and
    sub-threshold buckets must still expand all-pairs (pair sets over
    small groups unchanged)."""
    import random

    from diagnosisextraction_ml_spark.operators.dedup import (
        connected_components,
        keep_canonical,
        minhash_lsh_pairs,
    )

    rng = random.Random(1234)
    vocab = [f"w{i}" for i in range(200)]
    rows, doc_id = [], 0
    for size in range(1, 15):
        base = " ".join(rng.choice(vocab) for _ in range(12))
        for _ in range(size):
            rows.append((doc_id, base))
            doc_id += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    full = minhash_lsh_pairs(docs, k=16, bands=4)
    star = minhash_lsh_pairs(docs, k=16, bands=4, star_over=8)
    comp_full = sorted(map(tuple, connected_components(full).collect()))
    comp_star = sorted(map(tuple, connected_components(star).collect()))
    assert comp_full == comp_star
    keep_full = sorted(
        r["doc_id"] for r in keep_canonical(docs, connected_components(full)).collect()
    )
    keep_star = sorted(
        r["doc_id"] for r in keep_canonical(docs, connected_components(star)).collect()
    )
    assert keep_full == keep_star
    # groups of size ≤ 8 keep their exact all-pairs (star only kicks in
    # ABOVE the threshold): pair sets restricted to small groups match
    small_ids = set(range(sum(range(1, 9))))  # doc ids of groups 1..8
    fp = {(r["id_a"], r["id_b"]) for r in full.collect()
          if r["id_a"] in small_ids and r["id_b"] in small_ids}
    sp = {(r["id_a"], r["id_b"]) for r in star.collect()
          if r["id_a"] in small_ids and r["id_b"] in small_ids}
    assert fp == sp
