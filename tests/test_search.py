"""BM25 retrieval — parity with a pure-Python model, ranking sanity."""

from __future__ import annotations

import math

import pytest

from diagnosisextraction_ml_spark.operators import search


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "spark join hash join"),
        (2, "join"),
        (3, "hash table scan hash hash"),
        (4, "window stream window"),
        (5, "the the the the the the the the join"),
        (6, ""),
        (7, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _py_bm25(rows, queries, k1=search.BM25_K1, b=search.BM25_B):
    """Independent implementation (dict-based, not a restatement)."""
    docs = {i: (t or "").split() for i, t in rows}
    docs = {i: t for i, t in docs.items() if t}
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    df = {}
    for toks in docs.values():
        for term in set(toks):
            df[term] = df.get(term, 0) + 1
    out = {}
    for qid, term in queries:
        if term not in df:
            continue
        idf = round(1e6 * math.log((n - df[term] + 0.5) / (df[term] + 0.5) + 1.0))
        for i, toks in docs.items():
            tf = toks.count(term)
            if not tf:
                continue
            s = round(
                idf * (tf * (1.0 + k1))
                / (tf + k1 * (1.0 - b + b * (len(toks) / avgdl)))
            )
            out[(qid, i)] = out.get((qid, i), 0) + int(s)
    return out


def _py_qld(rows, queries, mu=search.QLD_MU):
    """Independent Dirichlet query-likelihood model: matched-term sum
    plus |q| times the per-doc length term."""
    docs = {i: (t or "").split() for i, t in rows}
    docs = {i: t for i, t in docs.items() if t}
    total_dl = sum(len(t) for t in docs.values())
    cf = {}
    for toks in docs.values():
        for term in toks:
            cf[term] = cf.get(term, 0) + 1
    n_q = {}
    for qid, _ in queries:
        n_q[qid] = n_q.get(qid, 0) + 1
    matched = {}
    for qid, term in queries:
        if term not in cf:
            continue
        for i, toks in docs.items():
            tf = toks.count(term)
            if not tf:
                continue
            s = round(1e6 * math.log(1.0 + (tf * total_dl) / (mu * cf[term])))
            key = (qid, i)
            matched[key] = matched.get(key, 0) + int(s)
    return {
        (qid, i): sm
        + n_q[qid] * int(round(1e6 * math.log(mu / (len(docs[i]) + mu))))
        for (qid, i), sm in matched.items()
    }


def test_bm25_matches_python_model(spark, corpus):
    queries = [("qa", "join"), ("qa", "hash"), ("qb", "window")]
    got = {
        (r.query_id, r.doc_id): r.score_micro
        for r in search.bm25_topk(corpus, queries, k=10).collect()
    }
    assert got == _py_bm25([(r.doc_id, r.text) for r in corpus.collect()], queries)


def test_bm25_rank_order_and_length_norm(spark, corpus):
    res = search.bm25_topk(corpus, [("q", "join")], k=10).collect()
    ranked = [r.doc_id for r in sorted(res, key=lambda r: r.rank)]
    # doc 2: tf=1 but dl=1 ≪ avgdl (short-doc boost edges out doc 1's
    # tf=2 at dl=4); doc 5: tf=1 buried in 9 tokens → last.
    assert ranked == [2, 1, 5]
    scores = {r.doc_id: r.score_micro for r in res}
    assert scores[2] > scores[1] > scores[5] > 0


def test_bm25_rare_term_outranks_common(spark):
    rows = [(i, "common filler") for i in range(20)] + [
        (100, "common rare"),
        (101, "common словно"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = search.bm25_topk(df, [("q", "rare"), ("q", "common")], k=3).collect()
    top = min(res, key=lambda r: r.rank)
    assert top.doc_id == 100  # idf of 'rare' dominates


def test_bm25_topk_caps_results(spark, corpus):
    res = search.bm25_topk(corpus, [("q", "join")], k=2).collect()
    assert len(res) == 2 and {r.rank for r in res} == {1, 2}


def test_qld_topk_ranks_relevant_docs(spark):
    from diagnosisextraction_ml_spark.operators.search import qld_topk

    rows = [
        (1, "spark shuffle join shuffle spark"),
        (2, "spark"),
        (3, "window sort merge"),
        (4, "cat dog bird"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = qld_topk(df, [("q", "spark"), ("q", "shuffle")], k=4)
    ranked = [r["doc_id"] for r in out.orderBy("rank").collect()]
    # doc 1 has both terms with high tf -> first; doc 2 matches one
    assert ranked[0] == 1
    assert ranked[1] == 2
    assert 3 not in ranked and 4 not in ranked  # no matched term, no row
    # deterministic under repartitioning
    again = [r["doc_id"] for r in
             qld_topk(df.repartition(5), [("q", "spark"), ("q", "shuffle")], k=4)
             .orderBy("rank").collect()]
    assert ranked == again


def test_qld_dirichlet_length_normalization(spark):
    """Same tf, longer doc => lower score (the mu/(dl+mu) term)."""
    from diagnosisextraction_ml_spark.operators.search import qld_topk

    rows = [
        (1, "apple " + "x " * 5),
        (2, "apple " + "y " * 50),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["score_micro"] for r in
           qld_topk(df, [("q", "apple")], k=2).collect()}
    assert out[1] > out[2]


def test_rrf_fuse_combines_rankers(spark):
    from diagnosisextraction_ml_spark.operators.search import rrf_fuse

    import pytest

    r1 = spark.createDataFrame(
        [("q", 1, 10), ("q", 2, 20), ("q", 3, 30)],
        "query_id string, rank int, doc_id long",
    )
    r2 = spark.createDataFrame(
        [("q", 1, 20), ("q", 2, 40)],
        "query_id string, rank int, doc_id long",
    )
    out = rrf_fuse([r1, r2], k=10).orderBy("rank").collect()
    # doc 20: 1/(60+2) + 1/(60+1) — two lists beat any single first place
    assert out[0]["doc_id"] == 20
    assert out[0]["rrf_micro"] == round(1e6 / 62) + round(1e6 / 61)
    assert [r["doc_id"] for r in out] == [20, 10, 40, 30]
    with pytest.raises(ValueError):
        rrf_fuse([])


def test_bm25_and_qld_match_python_on_random_corpora(spark):
    """Randomized pin of the one-scan scoring path: full output rows
    (ranking included) must match an independent Python model."""
    import random

    vocab = ["aa", "bb", "cc", "dd", "ee", "ff", "gg"]
    for seed in (0, 1, 2):
        rng = random.Random(seed)
        rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12))))
            for i in range(30)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        queries = [("q1", "aa"), ("q1", "bb"), ("q2", "cc"),
                   ("q2", "zz"), ("q3", "dd"), ("q3", "dd")]
        got_b = {
            (r.query_id, r.doc_id): r.score_micro
            for r in search.bm25_topk(df, queries, k=100).collect()
        }
        assert got_b == _py_bm25(rows, queries), ("bm25", seed)
        got_q = {
            (r.query_id, r.doc_id): r.score_micro
            for r in search.qld_topk(df, queries, k=100).collect()
        }
        assert got_q == _py_qld(rows, queries), ("qld", seed)


def test_empty_query_batch_returns_empty_frame(spark, corpus):
    # An empty batch used to blow up building F.array() of zero query
    # structs (AnalysisException); it must return a zero-row frame with
    # the standard top-k shape instead.
    for fn in (search.bm25_topk, search.qld_topk):
        out = fn(corpus, [], k=5)
        assert out.columns == ["query_id", "rank", "doc_id", "score_micro"]
        assert out.count() == 0
        assert dict(out.dtypes)["doc_id"] == "bigint"


def test_wide_term_batch_rejected(spark, corpus):
    # The one-scan scorer costs O(corpus_tokens x distinct_terms): the
    # metadata-sized contract is enforced, pointing at the index path.
    wide = [("q", f"term{i}") for i in range(search.MAX_SCAN_TERMS + 1)]
    with pytest.raises(ValueError, match="build_bm25_index"):
        search.bm25_topk(corpus, wide)
    with pytest.raises(ValueError, match="build_bm25_index"):
        search.qld_topk(corpus, wide)


def _scores(out):
    return {(r.query_id, r.doc_id): r.score_micro for r in out.collect()}


def test_many_and_wide_query_batches_match_python(spark):
    """Batches with many queries (40 x 2 terms) and with wide queries
    (32 x 8 terms) must match the Python models exactly. Per-term
    scores are integer-quantized before summation, so the join form's
    summation order cannot diverge; the wide batch is the shape whose
    generated code once grew with every (query, term) pair."""
    import random

    vocab = ["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]
    rng = random.Random(7)
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # 40 queries of 2 terms each, including a duplicated term in one
    # query and a no-match term in another
    queries = []
    for qi in range(40):
        queries.append((f"q{qi:02d}", vocab[qi % len(vocab)]))
        queries.append((f"q{qi:02d}", vocab[(qi + 3) % len(vocab)]))
    queries.append(("q00", vocab[0]))      # duplicate term in q00
    queries.append(("q01", "zz"))          # term absent from corpus
    assert _scores(search.bm25_topk(df, queries, k=100)) == _py_bm25(rows, queries)
    assert _scores(search.qld_topk(df, queries, k=100)) == _py_qld(rows, queries)

    # 32 queries of 8 distinct terms each over a 24-term vocabulary
    wide_vocab = [f"w{j:02d}" for j in range(24)]
    wide_rows = [
        (i, " ".join(rng.choice(wide_vocab) for _ in range(rng.randint(0, 20))))
        for i in range(40)
    ]
    wide_df = spark.createDataFrame(wide_rows, "doc_id long, text string")
    wide = [
        (f"w{qi:02d}", t)
        for qi in range(32)
        for t in rng.sample(wide_vocab + ["zz"], 8)
    ]
    assert _scores(search.bm25_topk(wide_df, wide, k=100)) == _py_bm25(
        wide_rows, wide
    )
    assert _scores(search.qld_topk(wide_df, wide, k=100)) == _py_qld(
        wide_rows, wide
    )
