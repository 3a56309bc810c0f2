"""Text-analysis operator tests (token counts, quality, lang-id,
fingerprints, top-k words, dispersion)."""

from __future__ import annotations

import pyspark.sql.functions as F

from diagnosisextraction_ml_spark.operators.textstats import (
    document_stats,
    lexical_dispersion,
    top_k_words,
)


def test_document_stats(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox and the lazy dog"),
            (2, "de kat en de hond zijn in het huis"),
            (3, ""),
            (4, "!!! ??? ###"),
        ],
        "doc_id long, text string",
    )
    stats = {r["doc_id"]: r for r in document_stats(df).collect()}
    assert stats[1]["n_tokens_ws"] == 8
    assert stats[1]["lang_pred"] == "en"
    assert stats[2]["lang_pred"] == "nl"
    assert stats[3]["n_tokens_ws"] == 0
    assert stats[3]["quality"] == 0.0
    assert stats[4]["punct_ratio"] == 1.0
    assert stats[1]["stopword_ratio_en"] == 0.375  # the, and, the
    assert 0.0 <= stats[1]["quality"] <= 1.0
    # fingerprint is whitespace-insensitive
    df2 = spark.createDataFrame(
        [(1, "a  b"), (2, " a b ")], "doc_id long, text string"
    )
    fps = [r["fingerprint"] for r in document_stats(df2).collect()]
    assert fps[0] == fps[1]


def test_top_k_words(spark):
    df = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana apple the the")],
        "doc_id long, text string",
    )
    rows = top_k_words(df, k=2, stopwords=("the",)).collect()
    assert [(r["word"], r["n"]) for r in rows] == [("apple", 3), ("banana", 2)]


def test_lexical_dispersion(spark):
    df = spark.createDataFrame([(1, "a b a c")], "doc_id long, text string")
    rows = lexical_dispersion(df, ["a"], "text", "doc_id").collect()
    assert sorted(r["position"] for r in rows) == [0, 2]


def test_chunk_documents(spark):
    from diagnosisextraction_ml_spark.operators.textstats import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, text), (2, "one two"), (3, "")], "doc_id long, text string")
    rows = chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: ceil((10-1)/3) = 3 chunks at starts 0,3,6 — every token
    # covered, adjacent chunks share 1 token
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["chunk"] for r in c1] == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9",
    ]
    assert [r["n_tokens"] for r in c1] == [4, 4, 4]
    # short doc: one chunk, whole text
    assert [r["chunk"] for r in by_doc[2]] == ["one two"]
    # empty doc: no chunks
    assert 3 not in by_doc


def test_pipeline_llm_prep_composition(spark, sf_dir):
    """The composed prep pipeline: dedup removes the injected copies,
    chunk token counts are self-consistent."""
    from diagnosisextraction_ml_spark.plans.queries import queries

    out = queries()["pipeline_llm_prep"](spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    # chunk_documents' n_tokens equals an independent recount
    assert all(r["n_tokens"] == r["n_tokens_check"] for r in rows)
    # the injected duplicate ids (doc_id >= 1000000) never survive
    # dedup_exact (originals have smaller ids)
    assert all(r["doc_id"] < 1000000 for r in rows)


def test_repetition_stats_hand_cases(spark):
    from diagnosisextraction_ml_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a b a b a"),        # bigrams: ab ba ab ba -> tie, lex min "a b"
            (2, "x x x x"),          # bigrams: xx xx xx -> frac 1.0
            (3, "one"),              # no bigrams
            (4, ""),                 # no tokens
            (5, "p q r s"),          # all distinct
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}
    assert got[1]["top_bigram"] == "a b" and got[1]["top_bigram_frac"] == 0.5
    assert got[1]["distinct_token_ratio"] == 0.4  # {a, b} / 5
    assert got[2]["top_bigram"] == "x x" and got[2]["top_bigram_frac"] == 1.0
    assert got[3]["top_bigram"] == "" and got[3]["top_bigram_frac"] == 0.0
    assert got[4]["n_tokens_capped"] == 0 and got[4]["distinct_token_ratio"] == 0.0
    # 4 distinct tokens -> 3 distinct bigrams, each 1/3 of the total
    assert got[5]["distinct_token_ratio"] == 1.0 and got[5]["top_bigram_frac"] == 0.333333


def test_repetition_stats_zero_exchange(spark, sf_dir):
    from diagnosisextraction_ml_spark.operators.textstats import repetition_stats
    from diagnosisextraction_ml_spark.sources.readers import load_table

    plan = repetition_stats(load_table(spark, sf_dir, "documents"))._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan


def test_redact_pii_rules_and_order(spark):
    """URLs (which may contain '@' and digit runs) redact before
    emails/numbers; each rule emits its typed placeholder; clean text
    passes through unchanged."""
    from diagnosisextraction_ml_spark.operators.textstats import redact_pii

    rows = [
        (1, "visit https://u:p@x.org/a/1234567890?q=1 today"),
        (2, "mail me at First.Last+tag@sub.example.org please"),
        (3, "call +31 (0)6-12 34 56 78 now"),
        (4, "account 12345678901 overdrawn"),
        (5, "plain text stays put"),
        (6, "short 123 and 12-34 survive"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["redacted"] for r in redact_pii(df).collect()}
    assert got[1] == "visit <url> today"
    assert got[2] == "mail me at <email> please"
    assert got[3] == "call +<phone> now"
    assert got[4] == "account <number> overdrawn"
    assert got[5] == "plain text stays put"
    assert got[6] == "short 123 and 12-34 survive"


def test_pack_sequences_greedy_invariants(spark):
    """Bins fill greedily in id order per shard: every bin holds <=
    budget tokens unless it is a single oversized doc, bins are
    contiguous, and a doc never splits."""
    from diagnosisextraction_ml_spark.operators.textstats import pack_sequences

    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(
        [30, 30, 30, 30, 150, 20, 300, 10, 90, 90, 5, 5, 5])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(df, budget=100, n_shards=2).collect()
    assert len(out) == len(rows)
    fills = {}
    for r in out:
        fills.setdefault((r["shard"], r["bin_id"]), []).append(r["n_tokens"])
    for (shard, bin_id), toks in fills.items():
        assert sum(toks) <= 100 or len(toks) == 1  # oversized doc rides alone
    for shard in {r["shard"] for r in out}:
        bins = sorted({r["bin_id"] for r in out if r["shard"] == shard})
        assert bins == list(range(len(bins)))  # contiguous bin ids

    # deterministic under repartition
    again = sorted(map(tuple, pack_sequences(df.repartition(5), 100, n_shards=2).collect()))
    assert again == sorted(map(tuple, out))


def test_nfc_normalization_composes(spark):
    from diagnosisextraction_ml_spark.functions.text import nfc_normalize_udf
    from pyspark.sql import functions as F

    decomposed = "café Åberg ﬁt"
    df = spark.createDataFrame([(1, decomposed)], "doc_id long, text string")
    got = df.select(nfc_normalize_udf()(F.col("text")).alias("t")).head()["t"]
    assert got == "café Åberg ﬁt"  # composed; ligature NFC-invariant


def test_doc_commonness_hand_case(spark):
    """df('a')=3, df('b')=2, df('c')=1 over three docs; means follow."""
    from diagnosisextraction_ml_spark.operators.textstats import doc_commonness

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b a"), (3, "a c")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in doc_commonness(df).collect()}
    assert got[1]["sum_docfreq"] == 5 and got[1]["n_distinct_tokens"] == 2
    assert got[2]["sum_docfreq"] == 5 and got[2]["n_distinct_tokens"] == 2
    assert got[3]["sum_docfreq"] == 4 and got[3]["n_distinct_tokens"] == 2
    assert got[3]["mean_token_docfreq"] == 2.0


def test_value_histogram_counts_and_edges(spark):
    import pyspark.sql.functions as F

    from diagnosisextraction_ml_spark.operators.textstats import value_histogram

    vals = [-0.5, 0.05, 0.15, 0.15, 0.5, 0.95, 1.5]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    rows = {r["bin"]: r for r in value_histogram(df, "x", 0.0, 1.0, n_bins=10).collect()}
    assert rows[0]["n"] == 1            # underflow (-0.5)
    assert rows[11]["n"] == 1           # overflow (1.5)
    assert rows[1]["n"] == 1            # [0.0, 0.1)
    assert rows[2]["n"] == 2            # [0.1, 0.2)
    assert rows[6]["n"] == 1            # [0.5, 0.6)
    assert rows[10]["n"] == 1           # [0.9, 1.0)
    assert sum(r["n"] for r in rows.values()) == len(vals)  # total
    assert rows[1]["lo_edge"] == 0.0 and abs(rows[1]["hi_edge"] - 0.1) < 1e-12
    # plot round-trips through the rasterizer
    from diagnosisextraction_ml_spark.functions.figures import plot_histogram
    from diagnosisextraction_ml_spark.functions.png import decode_png

    png = plot_histogram(sorted(rows.values(), key=lambda r: r["bin"]))
    assert decode_png(png).shape == (480, 640, 3)


def test_value_histogram_is_total_on_scores(spark, sf_dir):
    """Histogram of the quality-classifier scores: bin counts sum to
    the corpus size (nothing silently dropped)."""
    import pyspark.sql.functions as F

    from diagnosisextraction_ml_spark.operators.quality_model import (
        fit_token_logodds,
        score_token_logodds,
    )
    from diagnosisextraction_ml_spark.operators.textstats import value_histogram
    from diagnosisextraction_ml_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.withColumn("is_pos", (F.col("lang") == "en").cast("long"))
    scored = score_token_logodds(docs, fit_token_logodds(labeled, "is_pos"))
    hist = value_histogram(scored, "score", -2.0, 2.0, n_bins=16).collect()
    assert sum(r["n"] for r in hist) == docs.count()
    # doc lengths spread over many bins
    lhist = value_histogram(scored, "n_tok", 0.0, 400.0, n_bins=20).collect()
    assert sum(r["n"] for r in lhist) == docs.count()
    assert len(lhist) >= 3


def test_vocab_coverage_hand_case(spark):
    from diagnosisextraction_ml_spark.operators.textstats import vocab_coverage

    # counts: the=4, a=2, b=2, x=1  → per-count: {4:(1 word, 4 occ),
    # 2:(2 words, 4 occ), 1:(1 word, 1 occ)}, total 9 occurrences
    docs = spark.createDataFrame(
        [(1, "the a the b"), (2, "the a the b x")], "doc_id long, text string"
    )
    rows = {r["min_count"]: r for r in vocab_coverage(docs).collect()}
    assert set(rows) == {4, 2, 1}
    assert rows[4]["n_words"] == 1 and rows[4]["cum_vocab"] == 1
    assert rows[4]["cum_occurrences"] == 4 and rows[4]["coverage"] == 4 / 9
    assert rows[2]["cum_vocab"] == 3 and rows[2]["coverage"] == 8 / 9
    assert rows[1]["cum_vocab"] == 4 and rows[1]["coverage"] == 1.0


def test_vocab_coverage_partitioning_invariant(spark, sf_dir):
    from diagnosisextraction_ml_spark.operators.textstats import vocab_coverage
    from diagnosisextraction_ml_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = sorted(map(tuple, vocab_coverage(docs).collect()))
    b = sorted(map(tuple, vocab_coverage(docs.repartition(11)).collect()))
    assert a == b


def test_zipf_slope_on_synthetic_zipf_corpus(spark):
    from diagnosisextraction_ml_spark.operators.textstats import zipf_slope

    # build a corpus whose word frequencies follow freq(r) = 2000 // r:
    # slope of log-freq vs log-rank should be close to -1
    words = []
    for r in range(1, 201):
        words.extend([f"w{r:04d}"] * (2000 // r))
    text = " ".join(words)
    df = spark.createDataFrame([(text,)], "text string")
    out = zipf_slope(df, "text", k=200).collect()[0]
    assert out["n_words"] == 200
    assert -1_100_000 < out["slope_micro"] < -900_000


def test_zipf_slope_flat_corpus_near_zero(spark):
    from diagnosisextraction_ml_spark.operators.textstats import zipf_slope

    # uniform frequencies -> slope ~ 0
    text = " ".join(f"w{r}" for r in range(300)) * 5
    df = spark.createDataFrame([(text,)], "text string")
    out = zipf_slope(df, "text", k=100).collect()[0]
    assert abs(out["slope_micro"]) < 50_000


def test_kl_divergence_identical_corpora_zero(spark):
    from diagnosisextraction_ml_spark.operators.textstats import corpus_kl_divergence

    text = "alpha beta gamma delta epsilon " * 20
    df = spark.createDataFrame([("A", text), ("B", text)], "source string, text string")
    out = corpus_kl_divergence(df).collect()[0]
    assert out["kl_ab_micro"] == 0 and out["kl_ba_micro"] == 0


def test_kl_divergence_matches_python_model(spark):
    import math
    from collections import Counter

    from diagnosisextraction_ml_spark.operators.textstats import corpus_kl_divergence

    ta = "a a a b b c d d d d e"
    tb = "a b b b b c c f f"
    df = spark.createDataFrame([("A", ta), ("B", tb)], "source string, text string")
    out = corpus_kl_divergence(df).collect()[0]

    ca, cb = Counter(ta.split()), Counter(tb.split())
    vocab = sorted(set(ca) | set(cb))
    A = sum(ca.values()) + len(vocab)
    B = sum(cb.values()) + len(vocab)
    sab = sum(
        (ca[w] + 1)
        * round(1e6 * math.log((ca[w] + 1) * B / ((cb[w] + 1) * A)))
        for w in vocab
    )
    want = (1 if sab >= 0 else -1) * (abs(sab) // A)
    assert out["vocab_size"] == len(vocab)
    assert out["kl_ab_micro"] == want
    # divergence is asymmetric and positive for genuinely different corpora
    assert out["kl_ab_micro"] > 0 and out["kl_ba_micro"] > 0
    assert out["kl_ab_micro"] != out["kl_ba_micro"]


def test_pmi_pairs_collocation_beats_independent(spark):
    import math

    from diagnosisextraction_ml_spark.operators.textstats import pmi_token_pairs

    # "peanut butter" always co-occur; "the" co-occurs with everything
    docs = []
    for i in range(20):
        docs.append((i, "peanut butter jar"))
    for i in range(20, 60):
        docs.append((i, f"the filler{i % 7} words"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = pmi_token_pairs(df, k_vocab=50, min_pair_docs=3, top_k=50).collect()
    got = {(r.token_a, r.token_b): r for r in out}
    pb = got[("butter", "peanut")]
    # exact PMI: ln(20*60/(20*20))
    assert pb.pmi_micro == round(1e6 * math.log(20 * 60 / (20 * 20)))
    assert pb.n_ab == 20 and pb.n_docs == 60
    # perfectly-correlated pair ranks above the promiscuous "the" pairs
    the_pairs = [r.pmi_micro for (a, b), r in got.items() if "the" in (a, b)]
    assert all(pb.pmi_micro > p for p in the_pairs)


def test_token_entropy_hand_cases(spark):
    import math

    from diagnosisextraction_ml_spark.operators.textstats import token_entropy

    rows = [
        (1, "a a a a"),                # zero entropy
        (2, "a b c d"),               # ln(4), maximal for 4 tokens
        (3, "a a b b"),               # ln(2)
        (4, ""),                      # no tokens -> no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in token_entropy(df).collect()}
    assert out[1]["entropy_micro"] == round(1e6 * math.log(4)) - round(1e6 * 4 * math.log(4)) // 4
    assert out[1]["entropy_micro"] <= 1  # == 0 up to rounding split
    assert out[2]["entropy_micro"] == round(1e6 * math.log(4))
    assert out[2]["n_distinct"] == 4
    # ln(4) - (2·(2ln2))/4 = ln4 - ln2 = ln2
    assert abs(out[3]["entropy_micro"] - round(1e6 * math.log(2))) <= 1
    assert 4 not in out
    # repartition invariance (per-term rounding before the sum)
    a = sorted(map(tuple, token_entropy(df.coalesce(1)).collect()))
    b = sorted(map(tuple, token_entropy(df.repartition(5)).collect()))
    assert a == b


def test_script_census_classes_agree_with_duckdb(spark):
    """The registry's script census relies on Java \\p{IsX} and RE2
    \\p{X} counting identically; the driver testdata is ASCII-only, so
    pin the agreement on genuinely mixed-script strings here."""
    import duckdb
    from pyspark.sql import functions as F

    texts = [
        "abc 中文 123 xyz!",
        "Ĳæß Łódź 漢字かな 456",   # Latin-extended + Han + Hiragana
        "призёр 789 test",          # Cyrillic (counts as neither class)
        "",
    ]
    classes = [r"\p{IsLatin}", r"\p{IsHan}", "0-9", " "]
    duck_classes = [r"\p{Latin}", r"\p{Han}", "0-9", " "]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = df.select(
        *[
            F.length(F.regexp_replace("text", f"[^{c}]", "")).alias(f"c{i}")
            for i, c in enumerate(classes)
        ]
    ).collect()
    con = duckdb.connect()
    for row, t in zip(got, texts):
        want = con.execute(
            "SELECT "
            + ", ".join(
                f"length(regexp_replace(?, '[^{c}]', '', 'g'))"
                for c in duck_classes
            ),
            [t] * len(duck_classes),
        ).fetchone()
        assert tuple(row) == tuple(want), (t, tuple(row), want)


def test_tokenizer_twins_agree_with_python_split(spark):
    """tokenize_expr (Java \\s), its DuckDB twin tokenize_sql (RE2) and
    Python's argument-less str.split agree, vertical tab included — a
    character the registry testdata never contains."""
    import duckdb

    from diagnosisextraction_ml_spark.functions.text import tokenize_expr, tokenize_sql

    texts = [None, "", "   ", " A  b ", "A\tB\nc\r\nd", "a\x0bb"]
    want = [None if t is None else t.lower().split() for t in texts]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    got_spark = [
        r["toks"]
        for r in df.select("i", tokenize_expr(F.lower("text")).alias("toks"))
        .orderBy("i")
        .collect()
    ]
    con = duckdb.connect()
    got_duck = [
        con.execute(f"SELECT {tokenize_sql('lower(text)')} FROM (SELECT ? AS text)", [t]).fetchone()[0]
        for t in texts
    ]
    assert got_spark == want
    assert got_duck == want


def test_ws_normaliser_twins_agree(spark):
    """normalize_ws (Java \\s), its DuckDB twin normalize_ws_sql (RE2)
    and a Python model of Spark's trim + \\s+ collapse agree, vertical
    tab included — a character the registry testdata never contains."""
    import re

    import duckdb

    from diagnosisextraction_ml_spark.functions.text import normalize_ws, normalize_ws_sql

    texts = [None, "", "  a  b ", "a\tb\nc", "a\x0bb", "x\x0cy"]
    want = [
        None if t is None else re.sub(r"[ \t\n\x0b\f\r]+", " ", t.strip(" "))
        for t in texts
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    got_spark = [
        r["n"] for r in df.select("i", normalize_ws("text").alias("n")).orderBy("i").collect()
    ]
    con = duckdb.connect()
    got_duck = [
        con.execute(f"SELECT {normalize_ws_sql('text')} FROM (SELECT ? AS text)", [t]).fetchone()[0]
        for t in texts
    ]
    assert got_spark == want
    assert got_duck == want


def test_pack_token_stream_tiles_exactly(spark):
    """Concat-and-split invariants: every doc's segments cover exactly
    its tokens; every pack except each shard's last is exactly full;
    segments tile each pack contiguously; partitioning-independent."""
    from collections import defaultdict

    from diagnosisextraction_ml_spark.operators.textstats import (
        pack_token_stream,
        token_count_ws,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    L = 64
    out = pack_token_stream(docs, seq_len=L, shard_docs=128).collect()

    # 1. per-document coverage
    want = {
        r["doc_id"]: r["t"]
        for r in docs.select(
            "doc_id", token_count_ws("text").cast("long").alias("t")
        ).collect()
        if r["t"] > 0
    }
    got = defaultdict(int)
    for r in out:
        got[r["doc_id"]] += r["n_toks"]
        assert 0 < r["n_toks"] <= L
        assert 0 <= r["pack_tok_start"] < L
    assert dict(got) == want

    # 2. packs tile: per (shard, pack) the segments are contiguous from 0
    packs = defaultdict(list)
    for r in out:
        packs[(r["shard"], r["pack_id"])].append(
            (r["pack_tok_start"], r["n_toks"])
        )
    fill = {}
    for key, segs in packs.items():
        segs.sort()
        pos = 0
        for s, n in segs:
            assert s == pos, (key, segs)
            pos += n
        fill[key] = pos
    # 3. every pack but each shard's last is exactly full
    last = {}
    for sh, pk in packs:
        last[sh] = max(last.get(sh, -1), pk)
    for (sh, pk), f in fill.items():
        if pk != last[sh]:
            assert f == L, (sh, pk, f)

    # 4. deterministic under repartitioning
    again = sorted(
        map(tuple, pack_token_stream(
            docs.repartition(7), seq_len=L, shard_docs=128
        ).collect())
    )
    assert again == sorted(map(tuple, out))


def test_pack_token_stream_rejects_bad_params(spark):
    import pytest as _pytest

    from diagnosisextraction_ml_spark.operators.textstats import pack_token_stream

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="positive"):
        pack_token_stream(docs, seq_len=0)
