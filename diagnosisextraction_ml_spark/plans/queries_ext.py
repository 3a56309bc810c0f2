"""Extended query registry — text/NLP, dedup, similarity, eval, prep.

Registered into the same registry as plans.queries (imported from its
module bottom). Every oracle SQL string here is *generated from the
same Python constants the Spark expressions use* (ARTEFACT_MAP,
STICKY_CHARS_RE, stopword lists, KNUTH/M31), so the two sides cannot
drift.

Cross-engine determinism notes (same doctrine as plans.queries):
- all "random" values are md5/Knuth hashes of keys;
- ratio columns are divisions of exact integer counts (IEEE division
  is exactly rounded → identical bits in both engines);
- rank-sum AUC terms are multiples of 0.5 below 2^52 → exact
  addition in any order;
- every top-k carries a total tie-break order.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from diagnosisextraction_ml_spark.functions.hashing import (
    KNUTH,
    M31,
    knuth_bucket_sql,
    md5_hash64,
    md5_hash64_sql,
)
from diagnosisextraction_ml_spark.functions.stopwords import (
    DUTCH_STOPWORDS,
    ENGLISH_STOPWORDS,
)
from diagnosisextraction_ml_spark.functions.text import (
    _ACCENT_DST,
    _ACCENT_SRC,
    ARTEFACT_MAP,
    STICKY_CHARS_RE,
    fix_xml_artefacts,
    fold_accents,
    normalize_ws,
    normalize_ws_sql,
    remove_stopwords_expr,
    simple_cleaning,
    tokenize_expr,
    tokenize_sql,
    word_match_expr,
)
from diagnosisextraction_ml_spark.operators import dedup, evaluate, joins, prep, profile, similarity, textstats
from diagnosisextraction_ml_spark.operators import funnel as funnel_ops
from diagnosisextraction_ml_spark.operators import rollup as rollup_ops
from diagnosisextraction_ml_spark.plans.queries import _t, register


# A fixed suffix containing artefacts/accents/digits/punctuation so the
# cleaning queries actually exercise every replacement rule even though
# the synthetic documents are plain lowercase text.
_DIRTY_SUFFIX = " ã«ã¶\tCafé-1.2(x)·ãºok"


def _sq(s: str) -> str:
    """SQL single-quoted literal (quote-doubled)."""
    return "'" + s.replace("'", "''") + "'"


def _sql_char(s: str) -> str:
    """SQL literal for a (possibly control/nbsp) string."""
    if len(s) == 1 and (ord(s) < 32 or ord(s) == 0xA0):
        return f"chr({ord(s)})"
    return _sq(s)


def _clean_sql(expr: str) -> str:
    """DuckDB twin of fix_xml → fold_accents → simple_cleaning."""
    for src, dst in ARTEFACT_MAP.items():
        expr = f"replace({expr}, {_sql_char(src)}, {_sql_char(dst)})"
    expr = f"translate({expr}, {_sq(_ACCENT_SRC)}, {_sq(_ACCENT_DST)})"
    sticky = STICKY_CHARS_RE.replace("'", "''")
    return f"lower(regexp_replace({expr}, '{sticky}', ' ', 'g'))"


def _sql_list(words) -> str:
    return "[" + ", ".join(_sq(w) for w in words) + "]"


# ===========================================================================
# Text / NLP (T1-T3, T6-T8, A3, M14)
# ===========================================================================

register(
    "text_clean_pipeline",
    f"""
    SELECT doc_id, {_clean_sql(f"concat(text, {_sq(_DIRTY_SUFFIX)})")} AS cleaned
    FROM documents
    """,
)(
    lambda spark, sf_dir: _t(spark, sf_dir, "documents").select(
        "doc_id",
        simple_cleaning(
            fold_accents(fix_xml_artefacts(F.concat(F.col("text"), F.lit(_DIRTY_SUFFIX))))
        ).alias("cleaned"),
    )
)


# Suffix with every PII shape so the redaction rules all fire even
# though the synthetic documents are plain lowercase words.
_PII_SUFFIX = (
    " see https://example.com/a?b=1 or mail First.Last+tag@sub.example.org"
    " call +31 (0)6-12 34 56 78 id 12345678901 done"
)

register(
    "text_redacted",
    f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             concat(text, {_sq(_PII_SUFFIX)}),
             {_sq(textstats.REDACT_RULES[0][0])}, {_sq(textstats.REDACT_RULES[0][1])}, 'g'),
             {_sq(textstats.REDACT_RULES[1][0])}, {_sq(textstats.REDACT_RULES[1][1])}, 'g'),
             {_sq(textstats.REDACT_RULES[2][0])}, {_sq(textstats.REDACT_RULES[2][1])}, 'g'),
             {_sq(textstats.REDACT_RULES[3][0])}, {_sq(textstats.REDACT_RULES[3][1])}, 'g')
           AS redacted
    FROM documents
    """,
)(
    lambda spark, sf_dir: textstats.redact_pii(
        _t(spark, sf_dir, "documents").select(
            "doc_id", F.concat(F.col("text"), F.lit(_PII_SUFFIX)).alias("text")
        )
    )
)


def _text_token_stats(spark, sf_dir):
    """T6/T7 — token counts before/after stopword removal."""
    docs = _t(spark, sf_dir, "documents")
    toks = tokenize_expr(F.lower(F.col("text")))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(remove_stopwords_expr(toks, ENGLISH_STOPWORDS)).alias("n_content_tokens"),
    )


register(
    "text_token_stats",
    f"""
    SELECT doc_id,
           CAST(len({tokenize_sql('lower(text)')}) AS INT) AS n_tokens,
           CAST(len(list_filter({tokenize_sql('lower(text)')},
               t -> NOT list_contains({_sql_list(ENGLISH_STOPWORDS)}, t))) AS INT) AS n_content_tokens
    FROM documents
    """,
)(_text_token_stats)


_MATCH_TARGETS = ("spark", "query", "join")

register(
    "text_word_match",
    f"""
    SELECT doc_id,
           CAST(regexp_matches(text, '\\b({"|".join(_MATCH_TARGETS)})\\b') AS INT) AS match
    FROM documents
    """,
)(
    lambda spark, sf_dir: _t(spark, sf_dir, "documents").select(
        "doc_id", word_match_expr("text", _MATCH_TARGETS).alias("match")
    )
)


register(
    "text_top_words",
    f"""
    WITH toks AS (
      SELECT unnest({tokenize_sql('lower(text)')}) AS word FROM documents)
    SELECT word, count(*) AS n FROM toks
    WHERE NOT list_contains({_sql_list(ENGLISH_STOPWORDS)}, word)
    GROUP BY word ORDER BY n DESC, word ASC LIMIT 50
    """,
)(
    lambda spark, sf_dir: textstats.top_k_words(
        _t(spark, sf_dir, "documents"), "text", k=50, stopwords=ENGLISH_STOPWORDS
    )
)


_DISPERSION_TERMS = ("table", "row", "query")

register(
    "text_lexical_dispersion",
    f"""
    WITH t AS (SELECT doc_id, {tokenize_sql('lower(text)')} AS toks FROM documents),
    pos AS (SELECT doc_id, unnest(range(0, len(toks))) AS position, unnest(toks) AS term FROM t)
    SELECT doc_id, CAST(position AS INT) AS position, term FROM pos
    WHERE list_contains({_sql_list(_DISPERSION_TERMS)}, term)
    """,
)(
    lambda spark, sf_dir: textstats.lexical_dispersion(
        _t(spark, sf_dir, "documents"), _DISPERSION_TERMS, "text", "doc_id"
    ).select("doc_id", "position", "term")
)


_CHUNK, _OVERLAP = 32, 8
_STEP = _CHUNK - _OVERLAP

register(
    "text_chunk_documents",
    f"""
    WITH t AS (SELECT doc_id, {tokenize_sql('text')} AS toks FROM documents),
    p AS (SELECT doc_id, toks, len(toks) AS sz,
                 CAST(greatest(ceil((len(toks) - {_OVERLAP}) / {_STEP}.0), 1) AS INT) AS n_chunks
          FROM t),
    c AS (SELECT doc_id,
                 unnest([{{'chunk_idx': i,
                           'chunk': array_to_string(toks[i*{_STEP}+1 : i*{_STEP}+{_CHUNK}], ' '),
                           'n_tokens': least(sz - i*{_STEP}, {_CHUNK})}}
                         for i in range(0, n_chunks)]) AS ch
          FROM p)
    SELECT doc_id, CAST(ch.chunk_idx AS INT) AS chunk_idx, ch.chunk AS chunk,
           CAST(ch.n_tokens AS INT) AS n_tokens
    FROM c WHERE ch.chunk != ''
    """,
)(
    lambda spark, sf_dir: textstats.chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=_CHUNK, overlap=_OVERLAP
    )
)


# ---------------------------------------------------------------------------
# doc_stats — the full textstats projection (validates md5_hash64_sql)
# ---------------------------------------------------------------------------

def _sw_ratio_sql(c: str) -> str:
    toks = tokenize_sql(f"lower({c})")
    sw = _sql_list(ENGLISH_STOPWORDS)
    n_sw = f"len(list_filter({toks}, t -> list_contains({sw}, t)))"
    n_toks = f"len({toks})"
    return f"(CASE WHEN {n_toks} > 0 THEN {n_sw} / {n_toks} ELSE 0.0 END)"


def _punct_ratio_sql(c: str) -> str:
    nonspace = f"length(regexp_replace({c}, '\\s', '', 'g'))"
    punct = f"length(regexp_replace({c}, '[a-zA-Z0-9\\s]', '', 'g'))"
    return f"(CASE WHEN {nonspace} > 0 THEN {punct} / {nonspace} ELSE 0.0 END)"


def _quality_sql(c: str) -> str:
    """DuckDB twin of textstats.quality_score (shared by doc_stats and
    pipeline_llm_prep so the two oracles cannot drift)."""
    len_score = f"least(length({c}) / 500.0, 1.0)"
    punct_pen = f"(1.0 - least({_punct_ratio_sql(c)} * 2.0, 1.0))"
    sw_score = f"least({_sw_ratio_sql(c)} * 4.0, 1.0)"
    return (
        f"(CASE WHEN length({c}) = 0 THEN 0.0 "
        f"ELSE round(({len_score} + {punct_pen} + {sw_score}) / 3.0, 6) END)"
    )


def _doc_stats_sql() -> str:
    c = "text"
    toks = tokenize_sql(f"lower({c})")
    n_toks = f"len({toks})"
    sw_ratio = _sw_ratio_sql(c)
    punct_ratio = _punct_ratio_sql(c)
    quality = _quality_sql(c)
    en40 = _sql_list(ENGLISH_STOPWORDS[:40])
    nl40 = _sql_list(DUTCH_STOPWORDS[:40])
    n_en = f"len(list_filter({toks}, t -> list_contains({en40}, t)))"
    n_nl = f"len(list_filter({toks}, t -> list_contains({nl40}, t)))"
    lang = (
        f"(CASE WHEN {n_en} > {n_nl} AND {n_en} > 0 THEN 'en' "
        f"WHEN {n_nl} > {n_en} AND {n_nl} > 0 THEN 'nl' ELSE 'other' END)"
    )
    normalized = normalize_ws_sql(c)
    bpe = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
    return f"""
    SELECT doc_id,
           CAST(length({c}) AS INT) AS n_chars_computed,
           CAST({n_toks} AS INT) AS n_tokens_ws,
           CAST(len(regexp_extract_all({c}, '{bpe}')) AS INT) AS n_tokens_bpe,
           round({sw_ratio}, 6) AS stopword_ratio_en,
           round({punct_ratio}, 6) AS punct_ratio,
           {quality} AS quality,
           {lang} AS lang_pred,
           {md5_hash64_sql(normalized)} AS fingerprint
    FROM documents
    """


register("doc_stats", _doc_stats_sql())(
    lambda spark, sf_dir: textstats.document_stats(_t(spark, sf_dir, "documents"))
)


# ===========================================================================
# Dedup (exact / MinHash / SimHash / Jaccard)
# ===========================================================================

# A deterministic dup-injected corpus: every 10th doc appears twice
# (copy gets doc_id + 1,000,000) so dedup queries have non-empty output.
_DUP_UNION_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
"""


def _dup_union(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return docs.unionByName(dups)


register(
    "dedup_exact_groups",
    f"""
    WITH corpus AS ({_DUP_UNION_SQL})
    SELECT md5({normalize_ws_sql('text')}) AS fingerprint,
           count(*) AS n_dups, min(doc_id) AS keep_id
    FROM corpus GROUP BY 1 HAVING count(*) > 1
    """,
)(lambda spark, sf_dir: dedup.exact_duplicates(_dup_union(spark, sf_dir)))


def _repetition_sql(max_tokens: int = 200) -> str:
    """DuckDB twin of textstats.repetition_stats — same capped tokens,
    same O(g·d) count arithmetic, same order-free tie-break
    (lexicographic min among maximal-count bigrams)."""
    toks = f"({tokenize_sql('text')})[1:{max_tokens}]"
    return f"""
    WITH base AS (SELECT doc_id, {toks} AS t FROM documents),
    g AS (SELECT doc_id, t,
                 [t[i] || ' ' || t[i+1] for i in range(1, greatest(len(t), 1))] AS grams
          FROM base),
    c AS (SELECT doc_id, t, grams, list_distinct(grams) AS dg,
                 list_transform(list_distinct(grams),
                                x -> len(list_filter(grams, y -> y = x))) AS cnts
          FROM g)
    SELECT doc_id,
           CAST(len(t) AS INT) AS n_tokens_capped,
           round(CASE WHEN len(t) > 0
                      THEN len(list_distinct(t)) * 1.0 / len(t) ELSE 0.0 END, 6)
             AS distinct_token_ratio,
           CASE WHEN len(grams) > 0
                THEN list_min([dg[i] for i in range(1, len(dg) + 1)
                               if cnts[i] = list_max(cnts)])
                ELSE '' END AS top_bigram,
           round(CASE WHEN len(grams) > 0
                      THEN list_max(cnts) * 1.0 / len(grams) ELSE 0.0 END, 6)
             AS top_bigram_frac
    FROM c
    """


register("doc_repetition_stats", _repetition_sql())(
    lambda spark, sf_dir: textstats.repetition_stats(
        _t(spark, sf_dir, "documents")
    )
)


def _sessionized_counts(spark, sf_dir):
    """Batch twin of streaming.sessionized_event_counts (session_window)."""
    from diagnosisextraction_ml_spark.streaming.events import sessionized_event_counts

    return sessionized_event_counts(_t(spark, sf_dir, "events"), gap="30 minutes")


register(
    "stream_sessionized_counts",
    """
    WITH base AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsu FROM events
    ), flagged AS (
      SELECT user_id, tsu,
             CASE WHEN lag(tsu) OVER w IS NULL THEN 0
                  WHEN epoch_us(tsu) - epoch_us(lag(tsu) OVER w) >= 1800000000 THEN 1
                  ELSE 0 END AS new_session
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
    ), sessions AS (
      SELECT user_id, tsu,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY tsu
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged)
    SELECT user_id, min(tsu) AS session_start,
           max(tsu) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)(_sessionized_counts)


def _asof_events(spark, sf_dir):
    """As-of join: every non-purchase event gets the user's latest
    purchase value as of that event's timestamp (backward inclusive)."""
    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "ts"
    )
    # min-by-event_id per (user, ts) as a lexicographic struct-min
    # aggregation (r15; same argmin treatment as
    # rel_min_cost_supplier): event_id is unique so the struct min is
    # exactly the oracle's row_number()=1 row, and the groupBy
    # map-side combines where the ranked window sorted and shuffled
    # every purchase row.
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.min(F.struct("event_id", "value")).alias("__m"))
        .select("user_id", "ts", F.col("__m.value").alias("value"))
    )
    return joins.asof_join(
        left, right, on=["user_id"], value_cols=["value"]
    ).select("event_id", "user_id", F.col("asof_value"))


register(
    "asof_events_value",
    """
    WITH r AS (SELECT user_id, ts, value FROM events
               WHERE event_type = 'purchase'
               QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                          ORDER BY event_id) = 1),
    l AS (SELECT event_id, user_id, ts FROM events WHERE event_type <> 'purchase')
    SELECT l.event_id, l.user_id, r.value AS asof_value
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)(_asof_events)


def _interval_events(spark, sf_dir):
    """Range join: every event inside a [purchase, purchase+30 min)
    window of the same user, via the bucketized equi-join. Times are
    whole epoch seconds on both sides (``unix_timestamp`` truncates;
    the SQL twin floors ``epoch()`` to match — the events table has
    microsecond timestamps)."""
    ev = _t(spark, sf_dir, "events")
    points = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("es")
    )
    intervals = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("interval_id"),
        "user_id",
        F.unix_timestamp("ts").alias("s"),
        (F.unix_timestamp("ts") + 1800).alias("e"),
    )
    return joins.interval_join(
        points, intervals, on=["user_id"], point_ts="es",
        start_col="s", end_col="e", bucket_width=1800,
    ).select("event_id", "interval_id", "user_id")


register(
    "interval_events_30min",
    """
    WITH p AS (SELECT event_id, user_id,
                      CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es
               FROM events WHERE event_type <> 'purchase'),
    iv AS (SELECT event_id AS interval_id, user_id,
                  CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS s,
                  CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) + 1800 AS e
           FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, iv.interval_id, p.user_id
    FROM p JOIN iv ON p.user_id = iv.user_id AND p.es >= iv.s AND p.es < iv.e
    """,
)(_interval_events)


def _docs_with_ts(spark, sf_dir):
    """Dup-union corpus with a deterministic synthetic event time —
    doc and its +1000000 twin land 6400 s (mod 7200) apart, so dup
    pairs cover both same-window (collapsed) and cross-window
    (both survive) cases of the horizon dedup."""
    return _dup_union(spark, sf_dir).withColumn(
        "ts",
        F.to_timestamp(F.from_unixtime(F.lit(1600000000) + F.col("doc_id") % 7200)),
    )


register(
    "dedup_first_seen_1h",
    f"""
    WITH corpus AS ({_DUP_UNION_SQL}),
    w AS (SELECT doc_id, text,
                 make_timestamp(CAST((1600000000 + doc_id % 7200) AS BIGINT) * 1000000) AS ts
          FROM corpus),
    fp AS (SELECT doc_id,
                  md5({normalize_ws_sql('text')}) AS fingerprint,
                  ts, date_trunc('hour', ts) AS window_start
           FROM w)
    SELECT doc_id, fingerprint, window_start FROM fp
    QUALIFY row_number() OVER (PARTITION BY fingerprint, window_start
                               ORDER BY ts, doc_id) = 1
    """,
)(
    lambda spark, sf_dir: dedup.dedup_first_seen_within_horizon(
        _docs_with_ts(spark, sf_dir)
    )
)


_MH_K = 8

register(
    "dedup_minhash_sigs",
    f"""
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
    sh AS (SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id, unnest({tokenize_sql('lower(text)')}) AS shingle FROM docs)
      WHERE shingle != ''),
    hx AS (SELECT doc_id, {md5_hash64_sql('shingle')} % {M31} AS x FROM sh),
    expanded AS (SELECT doc_id, x, i
                 FROM hx CROSS JOIN (SELECT unnest(range(0, {_MH_K})) AS i) t)
    SELECT doc_id, CAST(i AS INT) AS i,
           min((((i * {KNUTH} + 1) % {M31}) * x % {M31} + (i * 40503 + 7) % {M31}) % {M31}) AS minhash
    FROM expanded GROUP BY doc_id, i
    """,
)(
    lambda spark, sf_dir: dedup.minhash_signatures(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0),
        "text",
        "doc_id",
        n=1,
        k=_MH_K,
    )
)


_SH_BITS = 16


def _simhash_sql() -> str:
    toks = tokenize_sql("lower(text)")
    x = md5_hash64_sql("tok")
    votes = ", ".join(
        f"sum(CASE WHEN (({x}) >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(_SH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END)" for b in range(_SH_BITS)
    )
    return f"""
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
    tok AS (SELECT doc_id, unnest({toks}) AS tok FROM docs),
    votes AS (SELECT doc_id, {votes} FROM tok GROUP BY doc_id)
    SELECT doc_id, {sig} AS simhash FROM votes
    """


register("dedup_simhash_sigs", _simhash_sql())(
    lambda spark, sf_dir: dedup.simhash_signatures(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0),
        "text",
        "doc_id",
        bits=_SH_BITS,
    )
)


def _jaccard_sql() -> str:
    toks = tokenize_sql("lower(text)")
    grams = (
        f"list_distinct([array_to_string(t[i+1:i+3], ' ') "
        f"for i in range(0, greatest(len(t)-3, 0)+1)])"
    )
    return f"""
    WITH corpus AS ({_DUP_UNION_SQL}),
    tt AS (SELECT doc_id, {toks} AS t FROM corpus),
    sh AS (SELECT doc_id, unnest({grams}) AS shingle FROM tt),
    shf AS (SELECT doc_id, shingle FROM sh WHERE shingle != ''),
    sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, n_common,
           round(n_common / (sa.sz + sb.sz - n_common), 6) AS jaccard
    FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(n_common / (sa.sz + sb.sz - n_common), 6) >= 0.5
    """


register("dedup_jaccard_pairs", _jaccard_sql())(
    lambda spark, sf_dir: dedup.ngram_jaccard_pairs(
        _dup_union(spark, sf_dir), "text", "doc_id", n=3, threshold=0.5
    )
)


def _lsh_band_pairs_sql(k: int, bands: int, max_bucket: int = 1000) -> str:
    """DuckDB twin of dedup.minhash_lsh_pairs (3-gram shingles).

    Same pipeline: distinct 3-gram shingles → md5-arithmetic minhash
    (reusing the dedup_minhash_sigs recipe) → band keys (minhash values
    in i-order) → in-bucket C(n,2) pair expansion with the max_bucket
    cap. Grouping by (band, band_key) is the md5 bucket modulo
    collisions.
    """
    toks = tokenize_sql("lower(text)")
    grams = (
        "list_distinct([array_to_string(t[i+1:i+3], ' ') "
        "for i in range(0, greatest(len(t)-3, 0)+1)])"
    )
    rpb = k // bands
    return f"""
    WITH corpus AS ({_DUP_UNION_SQL}),
    tt AS (SELECT doc_id, {toks} AS t FROM corpus),
    sh AS (SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id, unnest({grams}) AS shingle FROM tt) WHERE shingle != ''),
    hx AS (SELECT doc_id, {md5_hash64_sql('shingle')} % {M31} AS x FROM sh),
    expanded AS (SELECT doc_id, x, i
                 FROM hx CROSS JOIN (SELECT unnest(range(0, {k})) AS i) ids),
    sigs AS (SELECT doc_id, i,
                    min((((i * {KNUTH} + 1) % {M31}) * x % {M31} + (i * 40503 + 7) % {M31}) % {M31}) AS minhash
             FROM expanded GROUP BY doc_id, i),
    banded AS (SELECT doc_id, CAST(i // {rpb} AS INT) AS band,
                      string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY i) AS band_key
               FROM sigs GROUP BY doc_id, CAST(i // {rpb} AS INT)),
    bu AS (SELECT band, band_key, list_sort(list(doc_id)) AS ids
           FROM banded GROUP BY band, band_key
           HAVING count(*) >= 2 AND count(*) <= {max_bucket}),
    pa AS (SELECT ids, unnest(ids) AS id_a FROM bu),
    pb AS (SELECT id_a, unnest(ids) AS id_b FROM pa)
    SELECT id_a, id_b, count(*) AS n_bands_shared
    FROM pb WHERE id_a < id_b GROUP BY id_a, id_b
    """


register("dedup_lsh_band_pairs", _lsh_band_pairs_sql(k=16, bands=4))(
    lambda spark, sf_dir: dedup.minhash_lsh_pairs(
        _dup_union(spark, sf_dir), "text", "doc_id", shingle_n=3, k=16, bands=4
    )
)


def _components_sql() -> str:
    """DuckDB twin of dedup.connected_components over the LSH pairs.

    The iterative min-label propagation fixpoint IS the transitive
    closure's per-node min — stated in SQL as a recursive CTE:
    reach = sym ∪ (reach ⋈ sym), component = min over {u} ∪ reach(u).
    Exponential-ish in SQL but exact at oracle scale; the Spark side is
    the O(diameter)-round distributed loop.
    """
    return f"""
    WITH RECURSIVE edges AS ({_lsh_band_pairs_sql(k=16, bands=4)}),
    sym AS (SELECT id_a AS u, id_b AS v FROM edges
            UNION ALL
            SELECT id_b AS u, id_a AS v FROM edges),
    reach(u, v) AS (
      SELECT u, v FROM sym
      UNION
      SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    )
    SELECT u AS doc_id, least(u, min(v)) AS component_id
    FROM reach GROUP BY u
    """


# star_over=16: components only need a CONNECTED candidate graph, so
# big buckets emit g−1 star edges instead of C(g,2) pairs — identical
# components (the oracle's transitive closure of the ALL-pairs graph
# agrees by construction; equality test in tests/test_dedup.py), but
# pair volume on gen_sf's 100×-dup cliques drops quadratic→linear.
register("dedup_components", _components_sql())(
    lambda spark, sf_dir: dedup.connected_components(
        dedup.minhash_lsh_pairs(
            _dup_union(spark, sf_dir), "text", "doc_id", shingle_n=3, k=16,
            bands=4, star_over=16,
        )
    )
)


def _corpus_source_report(spark, sf_dir):
    """Per-(source, lang) corpus health rollup with GROUPING SETS —
    the mixing report a training-data pipeline publishes per ingest:
    volume, exact-dup rate, token mass, and mean length at three
    granularities ((source, lang), per source, corpus total) in ONE
    pass over the text (the Expand operator replicates rows per
    grouping set AFTER the narrow projection, so the corpus is read
    and fingerprinted once, not three times).

    Cross-engine determinism: every metric is exact-integer (counts,
    distinct md5 fingerprints, whitespace token counts, n_chars sums)
    or a single IEEE division of exact integers — no float summation
    order anywhere.
    """
    from diagnosisextraction_ml_spark.operators.textstats import (
        token_count_ws,
    )

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "lang",
        F.md5(normalize_ws("text")).alias("__fp"),
        token_count_ws(F.col("text")).cast("long").alias("__toks"),
        F.col("n_chars"),
    )
    n = F.count(F.lit(1))
    nd = F.countDistinct("__fp")
    return base.groupingSets(
        [["source", "lang"], ["source"], []], "source", "lang"
    ).agg(
        n.alias("n_docs"),
        nd.alias("n_distinct_texts"),
        ((n - nd).cast("double") / n).alias("dup_rate"),
        F.sum("__toks").alias("total_tokens"),
        (F.sum("n_chars").cast("double") / n).alias("mean_chars"),
    )


register(
    "corpus_source_report",
    f"""
    SELECT source, lang, count(*) AS n_docs,
           count(DISTINCT md5({normalize_ws_sql('text')}))
             AS n_distinct_texts,
           CAST(count(*) - count(DISTINCT
                 md5({normalize_ws_sql('text')})) AS DOUBLE)
             / count(*) AS dup_rate,
           CAST(sum(len({tokenize_sql('text')})) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars
    FROM documents
    GROUP BY GROUPING SETS ((source, lang), (source), ())
    """,
)(_corpus_source_report)


def _qc_split_leakage(spark, sf_dir):
    """Train/val split-leakage check — the contamination question a
    training-data pipeline must answer BEFORE a model sees the splits:
    how many near-duplicate pairs straddle a fold boundary? (A doc in
    train with its near-copy in validation silently inflates every
    metric; benchmark decontamination — decontam_* — covers external
    eval sets, this covers the pipeline's OWN splits.)

    Composition of two already-verified primitives, deliberately with
    NO new join: fold membership uses the same md5 convention as
    prep.assign_folds (md5(key‖'§'‖round) % n_folds) applied as a pure
    expression to BOTH endpoint columns of the LSH candidate pairs —
    at 100 TB the fold map never materializes and nothing joins; the
    check rides the dedup pass the pipeline already runs. Output: one
    row per unordered fold pair with its leaky-pair count — the
    train/test contamination matrix.
    """
    pairs = dedup.minhash_lsh_pairs(
        _dup_union(spark, sf_dir), "text", "doc_id", shingle_n=3, k=16, bands=4
    )

    def fold(col):
        return (
            md5_hash64(F.concat(col.cast("string"), F.lit("§"), F.lit("0"))) % 5
        ).cast("int")

    fa, fb = fold(F.col("id_a")), fold(F.col("id_b"))
    return (
        pairs.select(
            F.least(fa, fb).alias("fold_lo"), F.greatest(fa, fb).alias("fold_hi")
        )
        .filter(F.col("fold_lo") != F.col("fold_hi"))
        .groupBy("fold_lo", "fold_hi")
        .agg(F.count(F.lit(1)).alias("n_leaky_pairs"))
    )


register(
    "qc_split_leakage",
    f"""
    WITH edges AS ({_lsh_band_pairs_sql(k=16, bands=4)}),
    f AS (SELECT
            CAST({md5_hash64_sql("concat(CAST(id_a AS VARCHAR), '§', '0')")} % 5 AS INT) AS fold_a,
            CAST({md5_hash64_sql("concat(CAST(id_b AS VARCHAR), '§', '0')")} % 5 AS INT) AS fold_b
          FROM edges)
    SELECT CAST(least(fold_a, fold_b) AS INT) AS fold_lo,
           CAST(greatest(fold_a, fold_b) AS INT) AS fold_hi,
           count(*) AS n_leaky_pairs
    FROM f
    WHERE fold_a <> fold_b
    GROUP BY 1, 2
    """,
)(_qc_split_leakage)


def _pipeline_dedup_canonical(spark, sf_dir):
    """End-to-end near-dup removal: LSH pairs → connected components →
    keep one canonical doc per cluster (singletons survive)."""
    docs = _dup_union(spark, sf_dir)
    # star_over: canonical-keep consumes only component membership, so
    # the connected candidate graph suffices (see dedup_components)
    pairs = dedup.minhash_lsh_pairs(
        docs, "text", "doc_id", shingle_n=3, k=16, bands=4, star_over=16
    )
    comp = dedup.connected_components(pairs)
    return dedup.keep_canonical(docs, comp).select("doc_id")


register(
    "pipeline_dedup_canonical",
    f"""
    WITH RECURSIVE edges AS ({_lsh_band_pairs_sql(k=16, bands=4)}),
    sym AS (SELECT id_a AS u, id_b AS v FROM edges
            UNION ALL
            SELECT id_b AS u, id_a AS v FROM edges),
    reach(u, v) AS (
      SELECT u, v FROM sym
      UNION
      SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    ),
    comp AS (SELECT u AS doc_id, least(u, min(v)) AS component_id
             FROM reach GROUP BY u),
    base AS ({_DUP_UNION_SQL})
    SELECT b.doc_id FROM base b
    WHERE b.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id != component_id)
    """,
)(_pipeline_dedup_canonical)


def _emb_with_dups(spark, sf_dir):
    """Embeddings plus exact copies of every 10th vector (id+100000) so
    the near-dup query has guaranteed pairs."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    return emb.unionByName(dups)


def _lsh_bucket_sql(ev: str, n_planes: int = 8) -> str:
    """DuckDB twin of similarity.lsh_bucket_expr / _bucket_of.

    Same Knuth-hash hyperplanes: component j of plane p is
    ((p·KNUTH + j·40503 + 12345) mod M31) - M31/2, dotted against the
    vector with list_dot_product (sequential summation — matches
    Spark's zip_with+aggregate fold order bit-for-bit, as already
    validated by the green sim_bruteforce_topk oracle).
    """
    terms = []
    for p in range(n_planes):
        w = (
            f"[CAST((({p} * {KNUTH} + j * 40503 + 12345) % {M31}) AS DOUBLE)"
            f" - {M31} / 2.0 for j in range(0, len({ev}))]"
        )
        terms.append(
            f"(CASE WHEN list_dot_product({ev}, {w}) > 0 THEN {2**p} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


_EMB_DUP_UNION_SQL = """
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
"""

# n_planes=12 (not the operator's 8): bucket population must scale
# with the corpus or in-bucket pair counts grow quadratically — at 12
# planes the 0.98-threshold multiprobe recall is essentially unchanged
# (q^12 + 12·q^11·(1−q) ≈ 0.81 at θ ≈ 11°) while candidates shrink an
# order of magnitude. Both engines use the same 12 hyperplanes.
register(
    "dedup_embedding_near",
    f"""
    WITH corpus AS ({_EMB_DUP_UNION_SQL}),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM corpus),
    b AS (SELECT vec_id, ev,
                 CAST({_lsh_bucket_sql('ev', n_planes=12)} AS BIGINT) AS bucket
          FROM e),
    pairs AS (
      SELECT a.vec_id AS id_a, c.vec_id AS id_b,
             round(list_dot_product(a.ev, c.ev)
                   / (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(c.ev, c.ev))),
                   6) AS cosine
      FROM b a JOIN b c
        ON bit_count(xor(a.bucket, c.bucket)) <= 1 AND a.vec_id < c.vec_id)
    SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.98
    """,
)(
    lambda spark, sf_dir: dedup.embedding_near_dup_pairs(
        _emb_with_dups(spark, sf_dir), threshold=0.98, n_planes=12
    )
)


# ===========================================================================
# Similarity search
# ===========================================================================

_QUERY_VEC_CACHE: dict[str, list[float]] = {}


def _query_vec(spark, sf_dir):
    """Fixture lookup: the frozen query vector is row vec_id=0 of the
    embeddings table. Fetch it driver-side with a pyarrow row-group
    filter (one row, one file footer read) instead of a full Spark
    job per sim_* query build, and memoize per sf_dir — repeated bench
    builds share the fetch."""
    if sf_dir not in _QUERY_VEC_CACHE:
        import os

        import pyarrow.dataset as pds

        path = os.path.join(sf_dir, "embeddings.parquet")
        tbl = pds.dataset(path, format="parquet").to_table(
            filter=pds.field("vec_id") == 0, columns=["embedding"]
        )
        _QUERY_VEC_CACHE[sf_dir] = [float(v) for v in tbl.column(0)[0].as_py()]
    return _QUERY_VEC_CACHE[sf_dir]


_COS_E = (
    "list_dot_product(ev, qv)"
    " / (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(qv, qv)))"
)

register(
    "sim_bruteforce_topk",
    f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings)
    SELECT vec_id, round({_COS_E}, 6) AS cosine
    FROM e, q
    ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """,
)(
    lambda spark, sf_dir: similarity.brute_force_topk(
        _t(spark, sf_dir, "embeddings"), _query_vec(spark, sf_dir), k=10
    )
)

# Approximate paths — fully oracle-checked: the Knuth-hyperplane bucket
# arithmetic is deterministic integer/float math both engines reproduce
# bit-for-bit, so even the *approximate* neighbor sets are hash-pinned
# (recall drift in the LSH path would break the oracle, not slip by).

def _probe_list_sql(qb: str, n_planes: int = 8) -> str:
    """[qb] ∪ its hamming-1 neighbors — the multiprobe set."""
    probes = [qb] + [f"xor({qb}, {1 << p})" for p in range(n_planes)]
    return "[" + ", ".join(probes) + "]"


register(
    "sim_lsh_topk",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
    b AS (SELECT vec_id, ev, CAST({_lsh_bucket_sql('ev')} AS BIGINT) AS bucket FROM e),
    q AS (SELECT ev AS qv, bucket AS qb FROM b WHERE vec_id = 0),
    pr AS (SELECT DISTINCT unnest({_probe_list_sql('qb')}) AS pb FROM q)
    SELECT b.vec_id,
           round(list_dot_product(ev, qv)
                 / (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(qv, qv))), 6) AS cosine
    FROM b, q WHERE b.bucket IN (SELECT pb FROM pr)
    ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """,
)(
    lambda spark, sf_dir: similarity.lsh_bucketed_topk(
        _t(spark, sf_dir, "embeddings"), _query_vec(spark, sf_dir), k=10
    )
)

register(
    "sim_pairwise_topk",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
    b AS (SELECT vec_id, ev, CAST({_lsh_bucket_sql('ev')} AS BIGINT) AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, ev AS qv, bucket AS qb FROM b WHERE vec_id < 20),
    pairs AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.qv, c.ev)
                   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.ev, c.ev))),
                   6) AS cosine
      FROM q JOIN b c ON bit_count(xor(q.qb, c.bucket)) <= 1
      WHERE q.query_id != c.vec_id),
    ranked AS (SELECT query_id, neighbor_id, cosine,
                      CAST(row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS "rank"
               FROM pairs)
    SELECT query_id, neighbor_id, cosine, "rank" FROM ranked WHERE "rank" <= 5
    """,
)(
    lambda spark, sf_dir: similarity.pairwise_topk_join(
        _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20),
        _t(spark, sf_dir, "embeddings"),
        k=5,
    )
)


register(
    "sim_hard_negatives",
    f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
    b AS (SELECT vec_id, label, ev, CAST({_lsh_bucket_sql('ev')} AS BIGINT) AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, label AS ql, ev AS qv, bucket AS qb FROM b WHERE vec_id < 20),
    pairs AS (
      SELECT q.query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
             round(list_dot_product(q.qv, c.ev)
                   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.ev, c.ev))),
                   6) AS cosine
      FROM q JOIN b c ON bit_count(xor(q.qb, c.bucket)) <= 1
      WHERE q.ql != c.label),
    ranked AS (SELECT query_id, neighbor_id, neighbor_label, cosine,
                      CAST(row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS "rank"
               FROM pairs)
    SELECT query_id, neighbor_id, neighbor_label, cosine, "rank"
    FROM ranked WHERE "rank" <= 5
    """,
)(
    lambda spark, sf_dir: similarity.hard_negative_topk(
        _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20),
        _t(spark, sf_dir, "embeddings"),
        k=5,
    )
)


def _sim_ivf_assign(spark, sf_dir):
    """Deterministic k-means IVF training + cluster occupancy."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroids(emb, k=8, iters=2)
    return (
        emb.select(
            similarity.nearest_centroid_expr(F.col("embedding"), cents).alias("cluster")
        )
        .groupBy("cluster")
        .agg(F.count("*").alias("n"))
    )


def _kmeans_assign_cte(
    k: int = 8, iters: int = 2, emb_body: str | None = None
) -> str:
    """Shared unrolled-k-means WITH-block: ends at fin(vec_id, ev, cidx).

    ``emb_body``: optional SELECT producing (vec_id, ev DOUBLE[]) —
    defaults to the embeddings table; the text-SemDeDup pipeline passes
    its SRP-projection CTE instead.

    DuckDB twin of the *iterative* kmeans_centroids + final assignment.
    Every step is deterministic arithmetic, so even the iterative
    algorithm oracle-checks: hash-ordered init, per-iteration
    argmin-cosine assignment (ties → lowest centroid index, matching
    array_position-of-array_min), per-(cluster, dim) mean as
    DECIMAL(27,12)-exact sum cast to double over count (the exact
    expression the Spark side computes), empty clusters keeping their
    previous centroid. Reused by sim_ivf_assign and dedup_semantic.
    """
    h = md5_hash64_sql("CAST(vec_id AS VARCHAR)")
    cos = (
        "list_dot_product(e.ev, c.cv)"
        " / (sqrt(list_dot_product(e.ev, e.ev)) * sqrt(list_dot_product(c.cv, c.cv)))"
    )
    if emb_body is None:
        emb_body = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings"
    blocks = [
        f"""
    emb AS ({emb_body}),
    c0 AS (SELECT CAST(row_number() OVER (ORDER BY {h} ASC, vec_id ASC) AS INT) - 1 AS cidx,
                  ev AS cv
           FROM emb
           ORDER BY {h} ASC, vec_id ASC LIMIT {k})"""
    ]
    for i in range(1, iters + 1):
        prev, a, m, mv = f"c{i - 1}", f"a{i}", f"m{i}", f"mv{i}"
        blocks.append(
            f"""
    {a} AS (SELECT vec_id, ev, cidx FROM (
              SELECT e.vec_id, e.ev, c.cidx,
                     row_number() OVER (PARTITION BY e.vec_id
                                        ORDER BY 1.0 - ({cos}) ASC, c.cidx ASC) AS rn
              FROM emb e CROSS JOIN {prev} c) WHERE rn = 1),
    {m} AS (SELECT cidx, dim,
                   CAST(sum(CAST(x AS DECIMAL(27,12))) AS DOUBLE) / count(*) AS mean
            FROM (SELECT cidx, unnest(ev) AS x,
                         unnest(range(0, len(ev))) AS dim FROM {a})
            GROUP BY cidx, dim),
    {mv} AS (SELECT cidx, list(mean ORDER BY dim) AS cv FROM {m} GROUP BY cidx),
    c{i} AS (SELECT p.cidx, coalesce(v.cv, p.cv) AS cv
             FROM {prev} p LEFT JOIN {mv} v ON p.cidx = v.cidx)"""
        )
    final = f"""
    fin AS (SELECT vec_id, ev, cidx FROM (
              SELECT e.vec_id, e.ev, c.cidx,
                     row_number() OVER (PARTITION BY e.vec_id
                                        ORDER BY 1.0 - ({cos}) ASC, c.cidx ASC) AS rn
              FROM emb e CROSS JOIN c{iters} c) WHERE rn = 1)"""
    return "WITH" + ",".join(blocks) + "," + final


def _ivf_sql(k: int = 8, iters: int = 2) -> str:
    return (
        _kmeans_assign_cte(k, iters)
        + "\n    SELECT cidx AS cluster, count(*) AS n FROM fin GROUP BY cidx"
    )


register("sim_ivf_assign", _ivf_sql())(_sim_ivf_assign)


# ===========================================================================
# Evaluation (E2/E3/E8/E10 — the curve engine through the oracle)
# ===========================================================================

# Deterministic scored predictions from the embeddings table: binary
# label = label % 2; score = hash-noise + 0.3·label (AUC ≈ 0.75).
_SCORED_SQL = f"""
      SELECT CAST(({md5_hash64_sql("concat(CAST(vec_id AS VARCHAR), 'curve')")} % 1000) AS DOUBLE) / 1000.0
             + (label % 2) * 0.3 AS score,
             label % 2 AS label
      FROM embeddings
"""


def _scored(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    noise = (
        md5_hash64(F.concat(F.col("vec_id").cast("string"), F.lit("curve"))) % 1000
    ).cast("double") / 1000.0
    return emb.select(
        (noise + (F.col("label") % 2) * 0.3).alias("score"),
        (F.col("label") % 2).alias("label"),
    )


register(
    "eval_curve_by_threshold",
    f"""
    WITH base AS ({_SCORED_SQL}),
    per AS (SELECT score, sum(CAST(label AS DOUBLE)) AS pos,
                   sum(1 - CAST(label AS DOUBLE)) AS neg
            FROM base GROUP BY score),
    cum AS (SELECT score, sum(pos) OVER w AS tp, sum(neg) OVER w AS fp
            FROM per WINDOW w AS (ORDER BY score DESC ROWS UNBOUNDED PRECEDING)),
    tot AS (SELECT sum(pos) AS n_pos, sum(neg) AS n_neg FROM per)
    SELECT score, tp, fp, tp / n_pos AS tpr, fp / n_neg AS fpr,
           tp / (tp + fp) AS precision,
           CASE WHEN (tp / (tp + fp) + tp / n_pos) > 0
                THEN 2 * (tp / (tp + fp)) * (tp / n_pos) / (tp / (tp + fp) + tp / n_pos)
                ELSE 0.0 END AS f1
    FROM cum, tot
    """,
)(lambda spark, sf_dir: evaluate.curve_by_threshold(_scored(spark, sf_dir)))


register(
    "eval_auc_rank",
    f"""
    WITH base AS ({_SCORED_SQL}),
    per AS (SELECT score AS s, sum(CAST(label AS DOUBLE)) AS pos, count(*) AS cnt
            FROM base GROUP BY score),
    ranked AS (SELECT s, pos, cnt,
                      sum(cnt) OVER (ORDER BY s ASC ROWS UNBOUNDED PRECEDING) AS cum
               FROM per),
    r AS (SELECT s, pos, cnt, cum - (cnt - 1) / 2.0 AS avg_rank FROM ranked),
    agg AS (SELECT sum(avg_rank * pos) AS r_pos, sum(pos) AS n_pos,
                   sum(cnt - pos) AS n_neg FROM r)
    SELECT (r_pos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg) AS auc FROM agg
    """,
)(lambda spark, sf_dir: evaluate.auc_rank(_scored(spark, sf_dir)))


# Shared SQL body for the tie-collapsed curve (E2) used by E9 queries.
_CURVE_SQL = f"""
    WITH base AS ({_SCORED_SQL}),
    per AS (SELECT score, sum(CAST(label AS DOUBLE)) AS pos,
                   sum(1 - CAST(label AS DOUBLE)) AS neg
            FROM base GROUP BY score),
    cum AS (SELECT score, sum(pos) OVER w AS tp, sum(neg) OVER w AS fp
            FROM per WINDOW w AS (ORDER BY score DESC ROWS UNBOUNDED PRECEDING)),
    tot AS (SELECT sum(pos) AS n_pos, sum(neg) AS n_neg FROM per),
    curve AS (
      SELECT score, tp, fp, tp / n_pos AS tpr, fp / n_neg AS fpr,
             tp / (tp + fp) AS precision,
             CASE WHEN (tp / (tp + fp) + tp / n_pos) > 0
                  THEN 2 * (tp / (tp + fp)) * (tp / n_pos) / (tp / (tp + fp) + tp / n_pos)
                  ELSE 0.0 END AS f1
      FROM cum, tot)
"""

register(
    "eval_threshold_search",
    _CURVE_SQL
    + """
    SELECT * FROM curve WHERE tpr >= 0.9
    ORDER BY precision DESC, score DESC LIMIT 1
    """,
)(
    lambda spark, sf_dir: evaluate.search_threshold(
        evaluate.curve_by_threshold(_scored(spark, sf_dir)), "tpr", 0.9, maximize="precision"
    )
)

register(
    "eval_youden_cutoff",
    _CURVE_SQL
    + """
    SELECT * FROM curve
    ORDER BY abs(tpr - (1 - fpr)) ASC, score DESC LIMIT 1
    """,
)(
    lambda spark, sf_dir: evaluate.optimal_cutoff_youden(
        evaluate.curve_by_threshold(_scored(spark, sf_dir))
    )
)


# Calibration bins (reliability diagram data) + ECE — exact micro-unit
# bin stats from the same deterministic scored fixture.
_CALIB_PER_SQL = f"""
    WITH base AS ({_SCORED_SQL}),
    b AS (SELECT least(greatest(CAST(floor(score * 10) AS INT), 0), 9) AS bin,
                 CAST(round(score * 1000000) AS BIGINT) AS sm,
                 CAST(label AS BIGINT) AS y
          FROM base),
    per AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS n_pos,
                   CAST(sum(sm) AS BIGINT) AS ssm
            FROM b GROUP BY bin),
    bins AS (SELECT bin, n, n_pos,
                    CAST(ssm // n AS BIGINT) AS mean_score_micro,
                    CAST((1000000 * n_pos) // n AS BIGINT) AS pos_rate_micro
             FROM per)
"""

register(
    "eval_calibration_bins",
    _CALIB_PER_SQL + "\n    SELECT * FROM bins",
)(lambda spark, sf_dir: evaluate.calibration_bins(_scored(spark, sf_dir), n_bins=10))

register(
    "eval_ece",
    _CALIB_PER_SQL
    + """
    SELECT CAST(sum(CAST(n AS HUGEINT) * abs(mean_score_micro - pos_rate_micro))
                // sum(n) AS BIGINT) AS ece_micro
    FROM bins
    """,
)(
    lambda spark, sf_dir: evaluate.expected_calibration_error(
        evaluate.calibration_bins(_scored(spark, sf_dir), n_bins=10)
    )
)


# Cohen's kappa + Matthews correlation at the 0.65 operating point.
register(
    "eval_kappa_mcc",
    f"""
    WITH base AS ({_SCORED_SQL}),
    p AS (SELECT label, CASE WHEN score >= 0.65 THEN 1 ELSE 0 END AS pred FROM base),
    c AS (SELECT
            CAST(sum(CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
            CAST(sum(CASE WHEN label = 0 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
            CAST(sum(CASE WHEN label = 1 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
            CAST(sum(CASE WHEN label = 0 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
          FROM p),
    k AS (SELECT tp, fp, fn, tn,
                 CAST(tp + fp + fn + tn AS HUGEINT) AS n,
                 CAST(tp + fp AS HUGEINT) * (tp + fn)
                   + CAST(fn + tn AS HUGEINT) * (fp + tn) AS e,
                 CAST(tp + fp AS HUGEINT) * (tp + fn) * (tn + fp) * (tn + fn) AS den
          FROM c)
    SELECT tp, fp, fn, tn,
           CAST(CASE WHEN n * n - e <> 0
                THEN (1000000 * (n * (tp + tn) - e)) // (n * n - e)
                ELSE NULL END AS BIGINT) AS kappa_micro,
           CASE WHEN den <> 0
                THEN round(CAST(CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn
                                AS DOUBLE) / sqrt(CAST(den AS DOUBLE)), 6)
                ELSE NULL END AS mcc
    FROM k
    """,
)(
    lambda spark, sf_dir: evaluate.kappa_mcc(
        evaluate.threshold_predictions(_scored(spark, sf_dir), "score", 0.65)
    )
)


# Per-group AUC — the per-source model-QC breakdown (grp = vec_id % 4).
def _scored_grouped(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    noise = (
        md5_hash64(F.concat(F.col("vec_id").cast("string"), F.lit("curve"))) % 1000
    ).cast("double") / 1000.0
    return emb.select(
        (F.col("vec_id") % 4).alias("grp"),
        (noise + (F.col("label") % 2) * 0.3).alias("score"),
        (F.col("label") % 2).alias("label"),
    )


register(
    "eval_auc_by_group",
    f"""
    WITH base AS (
      SELECT vec_id % 4 AS grp,
             CAST(({md5_hash64_sql("concat(CAST(vec_id AS VARCHAR), 'curve')")} % 1000) AS DOUBLE) / 1000.0
               + (label % 2) * 0.3 AS score,
             label % 2 AS label
      FROM embeddings),
    per AS (SELECT grp, score AS s, sum(CAST(label AS DOUBLE)) AS pos,
                   CAST(count(*) AS DOUBLE) AS cnt
            FROM base GROUP BY grp, score),
    ranked AS (SELECT grp, s, pos, cnt,
                      sum(cnt) OVER (PARTITION BY grp ORDER BY s ASC
                                     ROWS UNBOUNDED PRECEDING) AS cum
               FROM per),
    r AS (SELECT grp, pos, cnt, cum - (cnt - 1) / 2.0 AS avg_rank FROM ranked),
    agg AS (SELECT grp, sum(avg_rank * pos) AS r_pos, sum(pos) AS p,
                   sum(cnt - pos) AS q
            FROM r GROUP BY grp)
    SELECT grp, CAST(p AS BIGINT) AS n_pos, CAST(q AS BIGINT) AS n_neg,
           CASE WHEN p > 0 AND q > 0
                THEN (r_pos - p * (p + 1) / 2.0) / (p * q)
                ELSE NULL END AS auc
    FROM agg
    """,
)(
    lambda spark, sf_dir: evaluate.auc_by_group(
        _scored_grouped(spark, sf_dir), "grp"
    )
)


register(
    "eval_confusion_scores",
    f"""
    WITH base AS ({_SCORED_SQL}),
    preds AS (SELECT label, CAST(score >= 0.5 AS INT) AS pred FROM base),
    agg AS (SELECT
      CAST(sum(CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      CAST(sum(CASE WHEN label = 0 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      CAST(sum(CASE WHEN label = 1 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      CAST(sum(CASE WHEN label = 0 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM preds)
    SELECT tp, fp, fn, tn,
           tp / (tp + fn) AS tpr, tn / (tn + fp) AS tnr,
           tp / (tp + fp) AS ppv, tn / (tn + fn) AS npv,
           fp / (fp + tn) AS fpr, fn / (fn + tp) AS fnr,
           fp / (fp + tp) AS fdr,
           (tp + tn) / (tp + tn + fp + fn) AS acc,
           2 * tp / (2 * tp + fp + fn) AS f1
    FROM agg
    """,
)(
    lambda spark, sf_dir: evaluate.confusion_scores(
        evaluate.threshold_predictions(_scored(spark, sf_dir), "score", 0.5)
    )
)


# ===========================================================================
# Prep (V2 hash-balanced sampling, V4 fold assignment)
# ===========================================================================

register(
    "prep_fold_assign",
    f"""
    SELECT c_custkey,
           CAST({md5_hash64_sql("concat(CAST(c_custkey AS VARCHAR), '§', '0')")} % 5 AS INT) AS fold_0,
           CAST({md5_hash64_sql("concat(CAST(c_custkey AS VARCHAR), '§', '1')")} % 5 AS INT) AS fold_1
    FROM customer
    """,
)(
    lambda spark, sf_dir: prep.assign_folds(
        _t(spark, sf_dir, "customer").select("c_custkey"), "c_custkey", n_folds=5, rounds=2
    )
)


register(
    "prep_class_prevalence",
    """
    SELECT label, count(*) AS n,
           count(*) / (SELECT count(*) FROM embeddings) AS fraction
    FROM embeddings GROUP BY label
    """,
)(
    lambda spark, sf_dir: prep.class_prevalence(
        _t(spark, sf_dir, "embeddings"), "label"
    )
)


register(
    "prep_downsample_balance",
    f"""
    WITH c AS (SELECT label, count(*) AS cnt FROM embeddings GROUP BY label),
    m AS (SELECT min(cnt) AS n_min FROM c)
    SELECT e.vec_id, e.label
    FROM embeddings e JOIN c ON c.label = e.label CROSS JOIN m
    WHERE {md5_hash64_sql("concat(CAST(e.vec_id AS VARCHAR), '§', '')")} % 1000000
          < least(1000000, CAST(ceil(CAST(m.n_min AS DOUBLE) / c.cnt * 1000000) AS BIGINT))
    """,
)(
    lambda spark, sf_dir: prep.downsample_to_balance(
        _t(spark, sf_dir, "embeddings").select("vec_id", "label"), "label", "vec_id"
    )
)


# ===========================================================================
# T4 stemming — the Spark side runs the REAL Snowball-Dutch stemmer UDF;
# the DuckDB twin replays FIXED_STEM_MAP, the frozen token→stem table for
# the full corpus vocabulary (tools/freeze_artifacts.py; completeness and
# live-stemmer agreement are test-pinned in tests/test_stemmer.py, and the
# 668/668 reference golden corpus remains the semantic oracle for the
# algorithm itself). Unknown tokens pass through unchanged on the SQL
# side — identical to the stemmer for this generator's vocabulary.
# ===========================================================================

def _text_stemmed(spark, sf_dir):
    from diagnosisextraction_ml_spark.functions.stemmer import stem_text_udf

    return _t(spark, sf_dir, "documents").select(
        "doc_id", stem_text_udf(F.col("text")).alias("stemmed")
    )


def _text_stemmed_sql() -> str:
    from diagnosisextraction_ml_spark.plans.frozen_artifacts import FIXED_STEM_MAP

    whens = " ".join(
        f"WHEN {_sq(w)} THEN {_sq(s)}" for w, s in FIXED_STEM_MAP.items()
    )
    return f"""
    SELECT doc_id,
           array_to_string(
             list_transform(string_split(text, ' '),
               w -> CASE w {whens} ELSE w END),
             ' ') AS stemmed
    FROM documents
    """


register("text_stemmed", _text_stemmed_sql())(_text_stemmed)


register(
    "text_json_roundtrip",
    """
    WITH j AS (SELECT doc_id,
                      to_json(struct_pack(lang := lang, n_chars := n_chars)) AS doc
               FROM documents)
    SELECT doc_id,
           json_extract_string(doc, '$.lang') AS lang_out,
           CAST(json_extract(doc, '$.n_chars') AS BIGINT) AS n_chars_out
    FROM j
    """,
)(
    lambda spark, sf_dir: _t(spark, sf_dir, "documents")
    .select(
        "doc_id",
        F.to_json(F.struct(F.col("lang"), F.col("n_chars"))).alias("doc"),
    )
    .select(
        "doc_id",
        F.get_json_object("doc", "$.lang").alias("lang_out"),
        F.get_json_object("doc", "$.n_chars").cast("bigint").alias("n_chars_out"),
    )
)

register(
    "rel_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)(
    lambda spark, sf_dir: _t(spark, sf_dir, "lineitem")
    .groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    )
    .agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.count("*").alias("n"),
    )
)


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

register(
    "rel_pivot_event_counts",
    f"""
    SELECT user_id % 10 AS user_bucket,
           {", ".join(f"count(*) FILTER (WHERE event_type = '{t}') AS n_{t}" for t in _EVENT_TYPES)}
    FROM events GROUP BY user_id % 10
    """,
)(
    lambda spark, sf_dir: _t(spark, sf_dir, "events")
    .select((F.col("user_id") % 10).alias("user_bucket"), "event_type")
    .groupBy("user_bucket")
    .pivot("event_type", _EVENT_TYPES)
    .agg(F.count(F.lit(1)))
    .select(
        "user_bucket",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _EVENT_TYPES],
    )
)


register(
    "rel_unpivot_part_attrs",
    """
    SELECT p_partkey, attr, val FROM (
      SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
      UNION ALL
      SELECT p_partkey, 'retailprice' AS attr, CAST(p_retailprice AS DOUBLE) AS val FROM part)
    WHERE p_partkey % 100 = 0
    """,
)(
    lambda spark, sf_dir: _t(spark, sf_dir, "part")
    .filter(F.col("p_partkey") % 100 == 0)
    .select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").cast("double").alias("retailprice"),
    )
    .unpivot("p_partkey", ["size", "retailprice"], "attr", "val")
)


register(
    "events_props_json",
    """
    SELECT event_type,
           CAST(avg(CAST(json_extract(props, '$.k') AS BIGINT)) AS DOUBLE) AS avg_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)(
    lambda spark, sf_dir: _t(spark, sf_dir, "events")
    .select(
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )
    .groupBy("event_type")
    .agg(F.avg("k").cast("double").alias("avg_k"), F.count("*").alias("n"))
)


# Multimodal plumbing — oracle-checked: the *deterministic fake
# decoder* is md5 arithmetic (digest byte 0 / 255), so even the
# pandas-UDF mapInPandas path has an exact SQL twin; a real codec
# would be rows-only, but the plumbing (schema, batching, payload
# pruning) is hash-pinned here.
def _mm_features(spark, sf_dir):
    from diagnosisextraction_ml_spark.operators import multimodal as mm

    media = mm.documents_as_media(_t(spark, sf_dir, "documents"))
    feats = mm.extract_features(media, decoder=mm.fake_decoder)
    return feats.select("asset_id", "n_bytes", F.round(F.element_at("feature", 1), 6).alias("f0"))


register(
    "mm_extract_features",
    """
    SELECT doc_id AS asset_id,
           octet_length(encode(text)) AS n_bytes,
           round(CAST(concat('0x', substring(md5(text), 1, 2)) AS INT) / 255.0, 6) AS f0
    FROM documents
    """,
)(_mm_features)


def _mm_fixture_path() -> str:
    """The frozen mixed-corruption media fixture (committed;
    regenerate with tools/gen_mm_fixture.py)."""
    import os

    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data",
        "mm_corrupt_fixture.parquet",
    )


def _mm_decode_health(spark, sf_dir):
    """Decode-health QC over the frozen mixed-corruption corpus: run
    the REAL from-spec codecs (PNG/WAV/BMP via the magic-byte sniffing
    decoder) distributed through mapInPandas, classify each row's
    outcome, and score it against the ground truth recorded at fixture
    generation time. This turns the documented external-library decode
    boundary (JPEG/video → NotImplementedError) into a measured,
    monitorable quantity: per corruption mode, how many rows decoded,
    how many quarantined, and under which fault class — exactly the
    health dashboard a 100 TB multimodal ingest runs on its sink pass.

    The oracle groups the SAME fixture by the recorded
    ``expected_error_class``, so any drift between the distributed
    decode path and the generation-time outcome (codec change, fault
    class reshuffle, a lost row) is a hash mismatch, not a silent
    skew. sf-independent by design (the corpus is the fixture), like
    any frozen-golden check."""
    from diagnosisextraction_ml_spark.operators import multimodal as mm

    fx = spark.read.parquet(_mm_fixture_path())
    feats = mm.extract_features_robust(
        fx.select("asset_id", "payload"), decoder=mm.sniffing_decoder
    )
    classed = feats.select(
        "asset_id",
        F.when(F.col("decode_error").isNull(), F.lit(None).cast("string"))
        .when(F.col("decode_error") == "null payload", F.lit("null payload"))
        .otherwise(F.split(F.col("decode_error"), ": ", 2)[0])
        .alias("err_class"),
        (F.col("feature").isNotNull()).cast("int").alias("decoded"),
    )
    return (
        fx.select("asset_id", "mode")
        .join(classed, "asset_id")
        .groupBy("mode", "err_class")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("decoded").alias("n_decoded"),
        )
    )


register(
    "mm_decode_health",
    f"""
    SELECT mode,
           expected_error_class AS err_class,
           count(*) AS n,
           CAST(sum(CASE WHEN expected_error_class IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_decoded
    FROM read_parquet('{_mm_fixture_path()}')
    GROUP BY 1, 2
    """,
)(_mm_decode_health)


def _mm_video_fixture_path() -> str:
    import os

    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data",
        "mm_video_fixture.parquet",
    )


def _mm_video_probe(spark, sf_dir):
    """Container-probe health over the frozen video fixture: run the
    from-spec ISO-BMFF metadata parse (functions/mp4.py) distributed
    through mapInPandas and score brand / duration / track count /
    codec fourcc / fault class against the ground truth recorded at
    fixture generation time (tools/gen_mm_video_fixture.py). Video
    FRAME decode stays the documented external-library boundary; this
    makes everything up to it — the routing metadata a 100 TB
    pipeline filters on before shipping bytes to GPU decoders — a
    measured, hash-pinned quantity. sf-independent (frozen fixture),
    like mm_decode_health."""
    from diagnosisextraction_ml_spark.operators import multimodal as mm

    fx = spark.read.parquet(_mm_video_fixture_path())
    probed = mm.probe_video_metadata(fx.select("asset_id", "payload"))
    classed = probed.select(
        "asset_id",
        "brand",
        "duration_ms",
        "n_tracks",
        "codec0",
        F.when(F.col("probe_error").isNull(), F.lit(None).cast("string"))
        .otherwise(F.split(F.col("probe_error"), ": ", 2)[0])
        .alias("err_class"),
    )
    return (
        fx.select("asset_id", "mode")
        .join(classed, "asset_id")
        .groupBy("mode", "err_class", "n_tracks", "codec0")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("duration_ms").cast("decimal(18,3)"))
            .cast("double")
            .alias("total_duration_ms"),
        )
    )


register(
    "mm_video_probe",
    f"""
    SELECT mode,
           expected_error_class AS err_class,
           expected_n_tracks AS n_tracks,
           expected_codec0 AS codec0,
           count(*) AS n,
           CAST(sum(CAST(expected_duration_ms AS DECIMAL(18,3))) AS DOUBLE)
             AS total_duration_ms
    FROM read_parquet('{_mm_video_fixture_path()}')
    GROUP BY 1, 2, 3, 4
    """,
)(_mm_video_probe)


def _pipeline_llm_prep(spark, sf_dir):
    """Composed LLM-training-data prep: quality gate → exact dedup →
    chunking → per-chunk stats. One lazy plan end-to-end: the quality
    filter and dedup prune *before* the chunk fan-out multiplies rows,
    so Catalyst sees the row-count shape a 100 TB run needs.

    Oracle-checked end-to-end: the SQL twin chains the (already green)
    quality / exact-dedup / chunking recipes as CTEs."""
    from diagnosisextraction_ml_spark.operators.textstats import (
        chunk_documents,
        quality_score,
        token_count_ws,
    )

    docs = _dup_union(spark, sf_dir)
    gated = docs.filter(quality_score(F.col("text")) >= 0.3)
    deduped = dedup.dedup_exact(gated, "text", "doc_id")
    chunks = chunk_documents(deduped, chunk_tokens=_CHUNK, overlap=_OVERLAP)
    return chunks.select(
        "doc_id",
        "chunk_idx",
        "n_tokens",
        token_count_ws(F.col("chunk")).alias("n_tokens_check"),
    )


def _pipeline_llm_prep_sql() -> str:
    toks = tokenize_sql("text")
    fp = f"md5({normalize_ws_sql('text')})"
    return f"""
    WITH corpus AS ({_DUP_UNION_SQL}),
    gated AS (SELECT doc_id, text FROM corpus WHERE {_quality_sql('text')} >= 0.3),
    sole AS (SELECT doc_id, text FROM gated
             QUALIFY row_number() OVER (PARTITION BY {fp} ORDER BY doc_id) = 1),
    t AS (SELECT doc_id, {toks} AS toks FROM sole),
    p AS (SELECT doc_id, toks, len(toks) AS sz,
                 CAST(greatest(ceil((len(toks) - {_OVERLAP}) / {_STEP}.0), 1) AS INT) AS n_chunks
          FROM t),
    c AS (SELECT doc_id,
                 unnest([{{'chunk_idx': i,
                           'chunk': array_to_string(toks[i*{_STEP}+1 : i*{_STEP}+{_CHUNK}], ' '),
                           'n_tokens': least(sz - i*{_STEP}, {_CHUNK})}}
                         for i in range(0, n_chunks)]) AS ch
          FROM p)
    SELECT doc_id, CAST(ch.chunk_idx AS INT) AS chunk_idx,
           CAST(ch.n_tokens AS INT) AS n_tokens,
           CAST(len({tokenize_sql('ch.chunk')}) AS INT) AS n_tokens_check
    FROM c WHERE ch.chunk != ''
    """


register("pipeline_llm_prep", _pipeline_llm_prep_sql())(_pipeline_llm_prep)


def _pack_token_stream_entry(seq_len: int = 256, shard_docs: int = 4096) -> None:
    """Concat-and-split sample packing as a registry row: the segment
    map (which doc token-span fills which slice of which fixed-length
    training sequence) replayed hash-exact by a window-cumsum twin.
    Packing is SHARDED (id div shard_docs) so nothing orders the
    corpus globally — the operator docstring
    (operators/textstats.py:pack_token_stream) records the at-most-
    one-ragged-pack-per-shard waste this buys scale with. Complements
    the existing whole-doc next-fit row (pipeline_pack_batches-style
    pack_sequences at queries_ext.py's textstats entry)."""
    from diagnosisextraction_ml_spark.operators.textstats import pack_token_stream

    toks = tokenize_sql("text")
    sql = f"""
    WITH t AS (
      SELECT doc_id, CAST(doc_id AS BIGINT) // {shard_docs} AS shard,
             CAST(len({toks}) AS BIGINT) AS tk
      FROM documents
    ), s AS (SELECT * FROM t WHERE tk > 0),
    o AS (SELECT shard, doc_id, tk,
                 CAST(coalesce(sum(tk) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS off
          FROM s),
    seg AS (SELECT shard, doc_id, tk, off,
                   unnest(range(off // {seq_len}, (off + tk - 1) // {seq_len} + 1)) AS k
            FROM o)
    SELECT shard, CAST(k AS BIGINT) AS pack_id, doc_id,
           CAST(greatest(off, k * {seq_len}) - off AS BIGINT) AS doc_tok_start,
           CAST(greatest(off, k * {seq_len}) - k * {seq_len} AS BIGINT) AS pack_tok_start,
           CAST(least(off + tk, (k + 1) * {seq_len})
                - greatest(off, k * {seq_len}) AS BIGINT) AS n_toks
    FROM seg
    """

    def _fn(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        return pack_token_stream(
            docs, seq_len=seq_len, shard_docs=shard_docs
        )

    register("pipeline_pack_token_stream", sql)(_fn)


_pack_token_stream_entry()


_MM_GATE_DUR_CAP_MS = 1500.0  # drop over-long assets (50 of the 80
# decodable fixture videos clear it — the cap must actually bite)


def _pipeline_llm_prep_mm_gated(spark, sf_dir):
    """VERDICT r14 #7: the multimodal probes as a PIPELINE STAGE, not
    just monitoring — a composed multimodal LLM-prep in which the
    decode/probe outcomes FILTER the corpus before the text stages.

    Every document carries two attachments (deterministic fixture
    routing: image = doc_id % 600, video = doc_id % 240 — the frozen
    corpora from mm_decode_health / mm_video_probe). The gate keeps a
    document only if its image DECODES under the real from-spec codecs
    (sniffing_decoder via extract_features_robust) and its video
    PROBES clean (ISO-BMFF parse) with duration ≤ 1.5 s (the over-long
    drop). Survivors then run the standard llm-prep tail: quality gate
    → exact dedup → chunking. Both probe passes are Arrow-batched
    mapInPandas over a broadcast-size fixture; at 100 TB the same plan
    shape holds — the decode gate is a per-row map + a semi-join of
    asset verdicts, pruning BEFORE the chunk fan-out multiplies rows.

    The oracle replays the gates from the fixtures' generation-time
    ground truth (expected_error_class / expected_duration_ms), so any
    drift between the distributed decode path and the recorded
    outcomes breaks the hash — same doctrine as mm_decode_health."""
    from diagnosisextraction_ml_spark.operators import multimodal as mm
    from diagnosisextraction_ml_spark.operators.textstats import (
        chunk_documents,
        quality_score,
        token_count_ws,
    )

    fx = spark.read.parquet(_mm_fixture_path())
    img_ok = (
        mm.extract_features_robust(
            fx.select("asset_id", "payload"), decoder=mm.sniffing_decoder
        )
        .filter(F.col("decode_error").isNull())
        .select(F.col("asset_id").alias("__img_asset"))
    )
    vfx = spark.read.parquet(_mm_video_fixture_path())
    vid_ok = (
        mm.probe_video_metadata(vfx.select("asset_id", "payload"))
        .filter(
            F.col("probe_error").isNull()
            & (F.col("duration_ms") <= F.lit(_MM_GATE_DUR_CAP_MS))
        )
        .select(F.col("asset_id").alias("__vid_asset"))
    )

    docs = _dup_union(spark, sf_dir)
    attached = docs.select(
        "doc_id",
        "text",
        (F.col("doc_id") % 600).alias("__img_asset"),
        (F.col("doc_id") % 240).alias("__vid_asset"),
    )
    # asset verdicts are fixture-bounded (≤600 rows) — broadcast semi
    gated_mm = attached.join(
        F.broadcast(img_ok), "__img_asset", "left_semi"
    ).join(F.broadcast(vid_ok), "__vid_asset", "left_semi")

    gated = gated_mm.filter(quality_score(F.col("text")) >= 0.3)
    deduped = dedup.dedup_exact(
        gated.select("doc_id", "text"), "text", "doc_id"
    )
    chunks = chunk_documents(deduped, chunk_tokens=_CHUNK, overlap=_OVERLAP)
    return chunks.select(
        "doc_id",
        "chunk_idx",
        "n_tokens",
        token_count_ws(F.col("chunk")).alias("n_tokens_check"),
    )


def _pipeline_llm_prep_mm_gated_sql() -> str:
    toks = tokenize_sql("text")
    fp = f"md5({normalize_ws_sql('text')})"
    return f"""
    WITH img_ok AS (
      SELECT asset_id FROM read_parquet('{_mm_fixture_path()}')
      WHERE expected_error_class IS NULL
    ), vid_ok AS (
      SELECT asset_id FROM read_parquet('{_mm_video_fixture_path()}')
      WHERE expected_error_class IS NULL
        AND expected_duration_ms <= {_MM_GATE_DUR_CAP_MS!r}
    ),
    corpus AS ({_DUP_UNION_SQL}),
    mm_gated AS (
      SELECT doc_id, text FROM corpus
      WHERE (doc_id % 600) IN (SELECT asset_id FROM img_ok)
        AND (doc_id % 240) IN (SELECT asset_id FROM vid_ok)
    ),
    gated AS (SELECT doc_id, text FROM mm_gated WHERE {_quality_sql('text')} >= 0.3),
    sole AS (SELECT doc_id, text FROM gated
             QUALIFY row_number() OVER (PARTITION BY {fp} ORDER BY doc_id) = 1),
    t AS (SELECT doc_id, {toks} AS toks FROM sole),
    p AS (SELECT doc_id, toks, len(toks) AS sz,
                 CAST(greatest(ceil((len(toks) - {_OVERLAP}) / {_STEP}.0), 1) AS INT) AS n_chunks
          FROM t),
    c AS (SELECT doc_id,
                 unnest([{{'chunk_idx': i,
                           'chunk': array_to_string(toks[i*{_STEP}+1 : i*{_STEP}+{_CHUNK}], ' '),
                           'n_tokens': least(sz - i*{_STEP}, {_CHUNK})}}
                         for i in range(0, n_chunks)]) AS ch
          FROM p)
    SELECT doc_id, CAST(ch.chunk_idx AS INT) AS chunk_idx,
           CAST(ch.n_tokens AS INT) AS n_tokens,
           CAST(len({tokenize_sql('ch.chunk')}) AS INT) AS n_tokens_check
    FROM c WHERE ch.chunk != ''
    """


register("pipeline_llm_prep_mm_gated", _pipeline_llm_prep_mm_gated_sql())(
    _pipeline_llm_prep_mm_gated
)


_TYPO_VOCAB = [
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "batch", "window", "spark", "order", "data", "column", "join",
    "small", "line", "customer", "query", "filter", "the",
]

def _typo_sql() -> str:
    """DuckDB twin of correct_typos_df: distinct tokens → per-token
    argmin normalized Damerau-Levenshtein vs the vocab (first argmin in
    vocab order wins; substitute iff ≤ 0.20) → rebuild the text.

    Caveat, stated: DuckDB's damerau_levenshtein is the unrestricted
    variant; the engine computes optimal-string-alignment
    (functions/typo.py:30). They differ only when a transposition
    interacts with a later edit between the swapped characters — no
    such token/vocab pair exists in this corpus (the row hash-matches),
    and any engine-side regression would still break the hash.
    """
    toks = tokenize_sql("text")
    vocab = _sql_list(_TYPO_VOCAB)
    idxs = "[" + ", ".join(str(i) for i in range(len(_TYPO_VOCAB))) + "]"
    return f"""
    WITH docs AS (SELECT doc_id, text FROM documents),
    tt AS (SELECT doc_id, {toks} AS toks FROM docs),
    tok AS (SELECT doc_id, unnest(toks) AS tok,
                   unnest(range(1, len(toks) + 1)) AS pos
            FROM tt),
    dt AS (SELECT DISTINCT tok FROM tok),
    vc AS (SELECT unnest({vocab}) AS v, unnest({idxs}) AS vidx),
    cand AS (SELECT dt.tok, vc.v,
                    damerau_levenshtein(dt.tok, vc.v) * 1.0
                      / greatest(length(dt.tok), length(vc.v)) AS d,
                    row_number() OVER (
                      PARTITION BY dt.tok
                      ORDER BY damerau_levenshtein(dt.tok, vc.v) * 1.0
                                 / greatest(length(dt.tok), length(vc.v)) ASC,
                               vc.vidx ASC) AS rn
             FROM dt CROSS JOIN vc
             WHERE dt.tok NOT IN (SELECT v FROM vc)),
    best AS (SELECT tok, v, d FROM cand WHERE rn = 1),
    fixes AS (SELECT dt.tok,
                     CASE WHEN dt.tok IN (SELECT v FROM vc) THEN dt.tok
                          WHEN b.d <= 0.20 THEN b.v
                          ELSE dt.tok END AS fix
              FROM dt LEFT JOIN best b ON dt.tok = b.tok),
    rebuilt AS (SELECT t.doc_id, string_agg(f.fix, ' ' ORDER BY t.pos) AS text
                FROM tok t JOIN fixes f ON t.tok = f.tok
                GROUP BY t.doc_id)
    SELECT d.doc_id, coalesce(r.text, d.text) AS text
    FROM docs d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    """


register("text_typo_corrected", _typo_sql())(
    lambda spark, sf_dir: prep.correct_typos_df(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), "text", _TYPO_VOCAB
    ).select("doc_id", "text")
)


# ===========================================================================
# Round-4 training-pipeline additions: decontamination, exact stratified
# sampling, sequence packing, Unicode NFC normalization
# ===========================================================================

def _ngrams_sql(n: int) -> str:
    """DuckDB list comprehension twin of dedup.shingles for token list
    ``t``: n-grams with the short-doc whole-text clamp."""
    return (
        f"list_distinct([array_to_string(t[i+1:i+{n}], ' ') "
        f"for i in range(0, greatest(len(t)-{n}, 0)+1)])"
    )


def _decontam_sql(n: int = 13) -> str:
    toks = tokenize_sql("lower(text)")
    grams = _ngrams_sql(n)
    return f"""
    WITH corpus AS ({_DUP_UNION_SQL}),
    bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
    ct AS (SELECT doc_id, {toks} AS t FROM corpus),
    cg AS (SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id, unnest({grams}) AS shingle FROM ct) WHERE shingle != ''),
    bt AS (SELECT doc_id, {toks} AS t FROM bench),
    bg AS (SELECT DISTINCT shingle FROM (
      SELECT unnest({grams}) AS shingle FROM bt) WHERE shingle != ''),
    hits AS (SELECT doc_id, count(*) AS nh
             FROM cg JOIN bg USING (shingle) GROUP BY doc_id)
    SELECT c.doc_id,
           CAST(coalesce(nh, 0) AS BIGINT) AS n_hit_ngrams,
           coalesce(nh, 0) > 0 AS contaminated
    FROM corpus c LEFT JOIN hits ON hits.doc_id = c.doc_id
    """


def _decontam(spark, sf_dir):
    """Eval-set decontamination over the dup-injected corpus: benchmark
    = every 97th base doc, so its exact copies (and itself) flag."""
    bench = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 97 == 0)
        .select("doc_id", "text")
    )
    return dedup.decontaminate(_dup_union(spark, sf_dir), bench, n=13)


register("decontam_ngram_overlap", _decontam_sql())(_decontam)


register(
    "prep_stratified_sample",
    f"""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {md5_hash64_sql("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC
             ) AS rn,
             count(*) OVER (PARTITION BY source) AS n
      FROM documents)
    SELECT doc_id, source FROM ranked WHERE rn <= (n * 1 + 3) // 4
    """,
)(
    lambda spark, sf_dir: prep.stratified_sample_exact(
        _t(spark, sf_dir, "documents").select("doc_id", "source"),
        "source",
        "doc_id",
        num=1,
        den=4,
    ).select("doc_id", "source")
)


def _pack_sql(budget: int = 200, n_shards: int = 8) -> str:
    toks = tokenize_sql("text")
    return f"""
    WITH RECURSIVE base AS (
      SELECT doc_id,
             CAST({knuth_bucket_sql("doc_id", n_shards)} AS INT) AS shard,
             CAST(len({toks}) AS BIGINT) AS n_tokens
      FROM documents),
    ordered AS (
      SELECT doc_id, shard, n_tokens,
             row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
      FROM base),
    pack(shard, rn, doc_id, n_tokens, bin_id, fill) AS (
      SELECT shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
             CASE WHEN p.fill + o.n_tokens <= {budget}
                  THEN p.bin_id ELSE p.bin_id + 1 END,
             CASE WHEN p.fill + o.n_tokens <= {budget}
                  THEN p.fill + o.n_tokens ELSE o.n_tokens END
      FROM pack p JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1
    )
    SELECT doc_id, shard, n_tokens, bin_id FROM pack
    """


register("pack_greedy_sequences", _pack_sql())(
    lambda spark, sf_dir: textstats.pack_sequences(
        _t(spark, sf_dir, "documents"), budget=200, n_shards=8
    )
)


# Decomposed/precomposed pairs so NFC composition actually fires on the
# (plain-ASCII) synthetic corpus: e+combining-acute, A+ring, ﬁ ligature
# (NFC-invariant), precomposed é for the identity case.
_NFC_SUFFIX = " café Åberg ﬁt café"


def _nfc_query(spark, sf_dir):
    nfc = __import__(
        "diagnosisextraction_ml_spark.functions.text", fromlist=["nfc_normalize_udf"]
    ).nfc_normalize_udf()
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        nfc(F.concat(F.col("text"), F.lit(_NFC_SUFFIX))).alias("normalized"),
    )


register(
    "text_nfc_normalized",
    f"SELECT doc_id, nfc_normalize(text || {_sq(_NFC_SUFFIX)}) AS normalized FROM documents",
)(_nfc_query)


# Domain-mixture weights for the oracle query: double src0, 2.5x src1
# (hash decides the half copy), halve src2, drop src3, keep the rest.
_MIX_WEIGHTS = {"src0": (2, 1), "src1": (5, 2), "src2": (1, 2), "src3": (0, 1)}


def _mixture_sql() -> str:
    h = md5_hash64_sql("CAST(doc_id AS VARCHAR)")
    num = " ".join(f"WHEN '{g}' THEN {nu}" for g, (nu, _) in sorted(_MIX_WEIGHTS.items()))
    den = " ".join(f"WHEN '{g}' THEN {de}" for g, (_, de) in sorted(_MIX_WEIGHTS.items()))
    return f"""
    WITH w AS (
      SELECT doc_id, source,
             CASE source {num} ELSE 1 END AS num,
             CASE source {den} ELSE 1 END AS den,
             {h} AS h
      FROM documents),
    n AS (SELECT doc_id, source,
                 (num // den) + CASE WHEN (h % den) < (num % den) THEN 1 ELSE 0 END AS n
          FROM w)
    SELECT doc_id, source, CAST(unnest(generate_series(1, n)) AS INT) AS copy_idx
    FROM n WHERE n >= 1
    """


register("prep_mixture_resample", _mixture_sql())(
    lambda spark, sf_dir: prep.mixture_resample(
        _t(spark, sf_dir, "documents").select("doc_id", "source"),
        "source",
        "doc_id",
        _MIX_WEIGHTS,
    )
)


def _commonness_sql() -> str:
    toks = tokenize_sql("lower(text)")
    return f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, token FROM (
        SELECT doc_id, unnest(list_distinct({toks})) AS token FROM documents)),
    tdf AS (SELECT token, count(*) AS token_docfreq FROM dt GROUP BY token)
    SELECT doc_id,
           CAST(sum(token_docfreq) AS BIGINT) AS sum_docfreq,
           count(*) AS n_distinct_tokens,
           sum(token_docfreq) * 1.0 / count(*) AS mean_token_docfreq
    FROM dt JOIN tdf USING (token)
    GROUP BY doc_id
    """


register("doc_token_commonness", _commonness_sql())(
    lambda spark, sf_dir: textstats.doc_commonness(_t(spark, sf_dir, "documents"))
)


def _incremental_sql() -> str:
    """History = even base docs; batch = odd docs + copies of even docs
    (dup-union shifts), so the copies drop against history and the
    batch's internal dups collapse to the min id. NOT EXISTS, not
    NOT IN: a null fingerprint never matches history (a null in
    history would make every NOT IN test NULL and empty the batch)."""
    fp = f"md5({normalize_ws_sql('text')})"
    return f"""
    WITH history AS (
      SELECT DISTINCT {fp} AS fingerprint FROM documents WHERE doc_id % 2 = 0),
    batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents),
    fps AS (SELECT {fp} AS fingerprint, doc_id FROM batch),
    survivors AS (
      SELECT fingerprint, min(doc_id) AS doc_id FROM fps
      WHERE NOT EXISTS (SELECT 1 FROM history h
                        WHERE h.fingerprint = fps.fingerprint)
      GROUP BY fingerprint)
    SELECT b.doc_id, b.text FROM batch b
    WHERE b.doc_id IN (SELECT doc_id FROM survivors)
    """


def _incremental(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    history = dedup.index_fingerprints(docs.filter(F.col("doc_id") % 2 == 0))
    batch = docs.filter(F.col("doc_id") % 2 == 1).unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return dedup.dedup_incremental(batch, history)


register("dedup_incremental_batch", _incremental_sql())(_incremental)


# ===========================================================================
# Incremental NEAR-dup screening — day-2 LSH band-index probe.
# History = doc_id % 5 != 0; batch = doc_id % 5 = 0. Bucket identity in
# the twin is (band, band_key) equality — the md5 bucket modulo
# collisions, same note as the dedup_lsh_band_pairs twin.
# ===========================================================================

def _incremental_near_sql(k: int = 16, bands: int = 4) -> str:
    toks = tokenize_sql("lower(text)")
    grams = (
        "list_distinct([array_to_string(t[i+1:i+3], ' ') "
        "for i in range(0, greatest(len(t)-3, 0)+1)])"
    )
    rpb = k // bands
    banded = f"""
      SELECT doc_id, CAST(i // {rpb} AS INT) AS band,
             string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY i) AS band_key
      FROM (SELECT doc_id, i,
                   min((((i * {KNUTH} + 1) % {M31}) * x % {M31} + (i * 40503 + 7) % {M31}) % {M31}) AS minhash
            FROM (SELECT doc_id, {md5_hash64_sql('shingle')} % {M31} AS x
                  FROM (SELECT DISTINCT doc_id, shingle FROM (
                          SELECT doc_id, unnest({grams}) AS shingle
                          FROM (SELECT doc_id, {toks} AS t FROM SIDE))
                        WHERE shingle != ''))
                 CROSS JOIN (SELECT unnest(range(0, {k})) AS i) ids
            GROUP BY doc_id, i)
      GROUP BY doc_id, CAST(i // {rpb} AS INT)
    """
    hist = banded.replace(
        "FROM SIDE", "FROM documents WHERE doc_id % 5 != 0"
    )
    batch = banded.replace(
        "FROM SIDE", "FROM documents WHERE doc_id % 5 = 0"
    )
    return f"""
    WITH hist AS (SELECT DISTINCT band, band_key FROM ({hist})),
    probe AS ({batch}),
    hits AS (
      SELECT p.doc_id, count(*) AS n_bands_hit
      FROM probe p JOIN hist h ON p.band = h.band AND p.band_key = h.band_key
      GROUP BY p.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(n_bands_hit, 0) AS BIGINT) AS n_bands_hit,
           coalesce(n_bands_hit, 0) >= 1 AS is_near_dup
    FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
    LEFT JOIN hits USING (doc_id)
    """


def _incremental_near(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    index = dedup.index_band_buckets(
        docs.filter(F.col("doc_id") % 5 != 0), k=16, bands=4
    )
    return dedup.dedup_incremental_near(
        docs.filter(F.col("doc_id") % 5 == 0), index, k=16, bands=4
    )


register("dedup_incremental_near", _incremental_near_sql())(_incremental_near)


# ===========================================================================
# Hashed linear quality classifier (train + score, one relational plan)
# ===========================================================================

def _quality_logodds_sql() -> str:
    """DuckDB twin of fit_token_logodds + score_token_logodds with weak
    labels lang='en': same md5 bucketing, same α=1 smoothing, same
    integer micro-nat quantization, same left-join-with-neutral-default
    scoring — every value after the quantization is exact integer /
    IEEE-division arithmetic, so the whole classifier hash-matches."""
    from diagnosisextraction_ml_spark.operators.quality_model import DEFAULT_BUCKETS

    b = DEFAULT_BUCKETS
    toks = tokenize_sql("lower(text)")
    bucket = md5_hash64_sql("token") + f" % {b}"
    return f"""
    WITH tok AS (
      SELECT doc_id, pos, {bucket} AS bucket FROM (
        SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
               unnest({toks}) AS token
        FROM documents)),
    agg AS (SELECT bucket, SUM(pos) AS pos_n, SUM(1 - pos) AS neg_n
            FROM tok GROUP BY bucket),
    tot AS (SELECT SUM(pos) AS pos_tot, SUM(1 - pos) AS neg_tot FROM tok),
    w AS (SELECT bucket,
                 CAST(ROUND(1000000 * (LN(pos_n + 1) - LN(pos_tot + {b})
                                       - LN(neg_n + 1) + LN(neg_tot + {b}))) AS BIGINT)
                 AS weight_micro
          FROM agg, tot),
    s AS (SELECT doc_id, COUNT(*) AS n_tok,
                 CAST(SUM(COALESCE(weight_micro, 0)) AS BIGINT) AS w_sum
          FROM tok LEFT JOIN w USING (bucket) GROUP BY doc_id)
    SELECT doc_id, n_tok, w_sum,
           w_sum / (1000000.0 * n_tok) AS score,
           CAST(CASE WHEN w_sum > 0 THEN 1 ELSE 0 END AS INT) AS pred
    FROM s
    """


def _quality_logodds(spark, sf_dir):
    from diagnosisextraction_ml_spark.operators import quality_model

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.withColumn("is_pos", (F.col("lang") == "en").cast("long"))
    weights = quality_model.fit_token_logodds(labeled, "is_pos")
    return quality_model.score_token_logodds(docs, weights)


register("quality_token_logodds", _quality_logodds_sql())(_quality_logodds)


# ===========================================================================
# Bigram LM log-prob scoring (perplexity-style filter, one relational plan)
# ===========================================================================

def _lm_bigram_sql() -> str:
    """DuckDB twin of fit_bigram_counts(lang='en') + score_bigram_logprob
    over all documents: same md5 bucketing, same add-1 smoothing, same
    per-bigram micro-nat quantization — exact integer sums, IEEE mean."""
    from diagnosisextraction_ml_spark.operators.lm import DEFAULT_BUCKETS

    b = DEFAULT_BUCKETS
    toks = tokenize_sql("lower(text)")
    return f"""
    WITH t AS (SELECT doc_id, lang, {toks} AS toks FROM documents),
    bg_all AS (
      SELECT doc_id, lang,
             {md5_hash64_sql('w1')} % {b} AS b1,
             {md5_hash64_sql('w2')} % {b} AS b2
      FROM (SELECT doc_id, lang,
                   unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
                   unnest(list_slice(toks, 2, len(toks))) AS w2
            FROM t WHERE len(toks) >= 2)),
    big AS (SELECT b1, b2, COUNT(*) AS c_bigram FROM bg_all
            WHERE lang = 'en' GROUP BY b1, b2),
    uni AS (SELECT b1, COUNT(*) AS c_left FROM bg_all
            WHERE lang = 'en' GROUP BY b1),
    s AS (
      SELECT g.doc_id, COUNT(*) AS n_bigrams,
             CAST(SUM(CAST(ROUND(1000000 * (LN(COALESCE(c_bigram, 0) + 1)
                                            - LN(COALESCE(c_left, 0) + {b})))
                           AS BIGINT)) AS BIGINT) AS lp_sum
      FROM bg_all g
      LEFT JOIN big USING (b1, b2)
      LEFT JOIN uni USING (b1)
      GROUP BY g.doc_id)
    SELECT doc_id, n_bigrams, lp_sum,
           lp_sum / (1000000.0 * n_bigrams) AS score
    FROM s
    """


def _lm_bigram(spark, sf_dir):
    from diagnosisextraction_ml_spark.operators import lm

    docs = _t(spark, sf_dir, "documents")
    bigrams, unigrams = lm.fit_bigram_counts(docs.filter(F.col("lang") == "en"))
    return lm.score_bigram_logprob(docs, bigrams, unigrams)


register("lm_bigram_logprob", _lm_bigram_sql())(_lm_bigram)


# ===========================================================================
# Composed corpus gate: classifier + LM + metadata filters in one plan
# ===========================================================================

def _corpus_gate_sql() -> str:
    """Both model gates composed: keep documents the weak-label quality
    classifier scores above the -0.12 mean-log-odds cut, with a length
    floor, carrying both
    model scores. The two full train+score pipelines nest as
    subqueries — every value stays exact, so the composition
    hash-matches end-to-end."""
    q = _quality_logodds_sql()
    l = _lm_bigram_sql()
    return f"""
    SELECT d.doc_id, d.n_chars,
           q.score AS quality_score,
           l.score AS lm_score
    FROM documents d
    JOIN ({q}) q ON q.doc_id = d.doc_id
    JOIN ({l}) l ON l.doc_id = d.doc_id
    WHERE q.score >= -0.12 AND d.n_chars >= 50
    """


def _corpus_gate(spark, sf_dir):
    from diagnosisextraction_ml_spark.operators import lm, quality_model

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.withColumn("is_pos", (F.col("lang") == "en").cast("long"))
    qweights = quality_model.fit_token_logodds(labeled, "is_pos")
    qscores = quality_model.score_token_logodds(docs, qweights)
    bigrams, unigrams = lm.fit_bigram_counts(docs.filter(F.col("lang") == "en"))
    lscores = lm.score_bigram_logprob(docs, bigrams, unigrams)
    return (
        docs.select("doc_id", "n_chars")
        .join(qscores.select("doc_id", F.col("score").alias("quality_score")), "doc_id")
        .join(lscores.select("doc_id", F.col("score").alias("lm_score")), "doc_id")
        .filter((F.col("quality_score") >= -0.12) & (F.col("n_chars") >= 50))
        .select("doc_id", "n_chars", "quality_score", "lm_score")
    )


register("pipeline_corpus_gate", _corpus_gate_sql())(_corpus_gate)


# ===========================================================================
# Embedding int8 quantization (storage path for the ANN stack)
# ===========================================================================

# The registered query flattens the int8 vector to (vec_id, idx, q_val)
# rows: ARRAY finals have no driver-hash-green precedent (each engine's
# pandas round-trip wraps them differently), while bigint/double rows
# are the proven class. The operator itself still returns the array.
register(
    "emb_quantize_int8",
    """
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    m AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS max_abs
          FROM e),
    qv AS (SELECT vec_id,
                  max_abs / 127 AS scale,
                  CASE WHEN max_abs = 0 THEN list_transform(v, x -> 0)
                       ELSE list_transform(v, x -> CAST(ROUND(x / (max_abs / 127)) AS INT))
                  END AS q
           FROM m)
    SELECT vec_id, scale, CAST(u.i - 1 AS BIGINT) AS idx, q[u.i] AS q_val
    FROM qv CROSS JOIN UNNEST(range(1, len(q) + 1)) u(i)
    """,
)(
    lambda spark, sf_dir: similarity.quantize_embeddings_int8(
        _t(spark, sf_dir, "embeddings")
    ).select(
        "vec_id",
        "scale",
        F.posexplode("q").alias("idx", "q_val"),
    ).select("vec_id", "scale", F.col("idx").cast("long").alias("idx"), "q_val")
)


# ===========================================================================
# Duplicated-gram fraction (exact-substring dedup signal per document)
# ===========================================================================

def _dup_gram_sql(n: int = 5) -> str:
    """DuckDB twin of dedup.duplicated_gram_stats over the dup-injected
    corpus: distinct n-grams per doc, gram document-frequency by md5
    hash, per-doc duplicated fraction — exact counts, IEEE division."""
    toks = tokenize_sql("lower(text)")
    grams = _ngrams_sql(n)
    return f"""
    WITH corpus AS ({_DUP_UNION_SQL}),
    ct AS (SELECT doc_id, {toks} AS t FROM corpus),
    cg AS (SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id, unnest({grams}) AS shingle FROM ct) WHERE shingle != ''),
    ch AS (SELECT doc_id, {md5_hash64_sql('shingle')} AS gram_hash FROM cg),
    freq AS (SELECT gram_hash, COUNT(*) AS gram_df FROM ch GROUP BY gram_hash)
    SELECT doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN gram_df > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_grams,
           SUM(CASE WHEN gram_df > 1 THEN 1 ELSE 0 END) / COUNT(*) AS dup_fraction
    FROM ch JOIN freq USING (gram_hash)
    GROUP BY doc_id
    """


register("dedup_dup_gram_stats", _dup_gram_sql())(
    lambda spark, sf_dir: dedup.duplicated_gram_stats(
        _dup_union(spark, sf_dir), "text", "doc_id", n=5
    )
)


# ===========================================================================
# Vocabulary coverage by frequency cutoff (tokenizer-prep curve)
# ===========================================================================

def _vocab_coverage_sql() -> str:
    toks = tokenize_sql("lower(text)")
    return f"""
    WITH tok AS (SELECT unnest({toks}) AS w FROM documents),
    wc AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    per AS (SELECT c AS min_count, COUNT(*) AS n_words,
                   c * COUNT(*) AS occurrences
            FROM wc GROUP BY c)
    SELECT min_count, n_words,
           CAST(SUM(n_words) OVER (ORDER BY min_count DESC) AS BIGINT) AS cum_vocab,
           CAST(SUM(occurrences) OVER (ORDER BY min_count DESC) AS BIGINT) AS cum_occurrences,
           CAST(SUM(occurrences) OVER (ORDER BY min_count DESC) AS BIGINT)
             / CAST(SUM(occurrences) OVER () AS BIGINT) AS coverage
    FROM per
    """


register("vocab_coverage_curve", _vocab_coverage_sql())(
    lambda spark, sf_dir: textstats.vocab_coverage(_t(spark, sf_dir, "documents"))
)


# ===========================================================================
# BPE tokenizer (fertility stats under a frozen merge table) — hash-exact.
#
# Production tokenizers are trained ONCE and then applied everywhere; the
# registry entry mirrors that: a 40-merge table learned offline (from the
# sf0.001 documents corpus, `learn_bpe(n_merges=40)` — byte-deterministic
# by the lexicographic tie-break) is frozen below as a literal, and BOTH
# engines replay the same rank-greedy application. The DuckDB twin drives
# the per-word merge loop with a recursive CTE over symbol arrays: each
# step finds the lowest-rank adjacent pair (leftmost on ties — exactly
# `apply_bpe_word`'s scan) and splices it, until no learnable pair
# remains. Training itself (the sequential driver loop) is pinned by
# tests/test_bpe.py, incl. byte-equivalence to the textbook full-rescan
# algorithm on seeded random vocabularies.
# ===========================================================================

# learn_bpe(sf0.001 documents, n_merges=40) — frozen 2026-08-14.
FIXED_BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r</w>"), ("o", "w</w>"), ("o", "r"), ("l", "u"), ("i", "n"),
    ("a", "r"), ("p", "ar"), ("e", "r"), ("a", "s"), ("t", "o"),
    ("a", "t"), ("a", "n</w>"), ("c", "an</w>"), ("s", "can</w>"),
    ("c", "o"), ("co", "lu"), ("colu", "m"), ("colum", "n</w>"),
    ("d", "ow</w>"), ("in", "dow</w>"), ("w", "indow</w>"),
    ("d", "er</w>"), ("or", "der</w>"), ("or", "t</w>"),
    ("s", "ort</w>"), ("par", "t</w>"), ("u", "p</w>"), ("a", "g"),
    ("ag", "g</w>"), ("a", "lu"), ("alu", "e</w>"), ("v", "alue</w>"),
    ("in", "e</w>"), ("l", "ine</w>"), ("e", "y</w>"), ("k", "ey</w>"),
    ("i", "n</w>"), ("j", "o"), ("jo", "in</w>"), ("er", "g"),
]


def _bpe_stats_sql() -> str:
    toks = tokenize_sql("coalesce(lower(text), '')")
    rank_values = ", ".join(
        f"({_sq(a)}, {_sq(b)}, {i})" for i, (a, b) in enumerate(FIXED_BPE_MERGES)
    )
    return f"""
    WITH RECURSIVE
    ranks(a, b, rnk) AS (VALUES {rank_values}),
    doc_words AS (
      SELECT doc_id, unnest({toks}) AS word FROM documents
    ),
    words AS (SELECT DISTINCT word FROM doc_words),
    init AS (
      SELECT word,
             list_transform(range(1, len(word) + 1),
               i -> CASE WHEN i = len(word) THEN word[i] || '</w>'
                         ELSE word[i] END) AS syms,
             0 AS it
      FROM words WHERE word <> ''
    ),
    bpe AS (
      SELECT word, syms, it FROM init
      UNION ALL
      SELECT word,
             syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:] AS syms,
             it + 1 AS it
      FROM (
        SELECT word, syms, it,
               arg_min(i, br * 1000000 + i) AS bi, min(br) AS bestr
        FROM (
          SELECT p.word, p.syms, p.it, t.i,
                 CAST(coalesce(r.rnk, 1000000) AS BIGINT) AS br
          FROM bpe p
          CROSS JOIN UNNEST(range(1, len(p.syms))) AS t(i)
          LEFT JOIN ranks r ON r.a = p.syms[t.i] AND r.b = p.syms[t.i + 1]
        )
        GROUP BY word, syms, it
      )
      WHERE bestr < 1000000
    ),
    word_tok AS (
      SELECT word, len(arg_max(syms, it)) AS n_tok FROM bpe GROUP BY word
    ),
    per_doc AS (
      SELECT dw.doc_id,
             SUM(wt.n_tok) AS nb, COUNT(*) AS nw
      FROM doc_words dw JOIN word_tok wt USING (word)
      GROUP BY dw.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(p.nb, 0) AS BIGINT) AS n_bpe_tokens,
           CAST(coalesce(p.nw, 0) AS BIGINT) AS n_ws_tokens,
           CAST(coalesce(p.nb, 0) AS BIGINT)
             / CAST(greatest(coalesce(p.nw, 0), 1) AS BIGINT) AS tokens_per_word
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """


def _bpe_stats(spark, sf_dir):
    from diagnosisextraction_ml_spark.functions import bpe

    docs = _t(spark, sf_dir, "documents")
    return bpe.bpe_token_stats(docs, FIXED_BPE_MERGES)


register("bpe_token_stats", _bpe_stats_sql())(_bpe_stats)


# The max_vocab cap on the BPE word-count pass is a *count-threshold*
# cut (rank-K count computed from the Zipf-tiny per-count histogram;
# boundary ties kept) — never a global orderBy().limit(K), whose
# TakeOrderedAndProject ships every partition's top-K to one merge
# point. The SQL twin derives the same cutoff relationally: cutoff =
# max n whose descending-cumulative word count reaches K.
_BPE_VOCAB_K = 20


def _vocab_cut_sql() -> str:
    toks = tokenize_sql("coalesce(lower(text), '')")
    return f"""
    WITH tok AS (SELECT unnest({toks}) AS word FROM documents),
    wc AS (SELECT word, COUNT(*) AS n FROM tok GROUP BY word),
    hist AS (SELECT n, COUNT(*) AS w FROM wc GROUP BY n),
    cum AS (SELECT n, SUM(w) OVER (ORDER BY n DESC) AS cum_words FROM hist),
    cut AS (SELECT max(n) AS c FROM cum WHERE cum_words >= {_BPE_VOCAB_K})
    SELECT word, n FROM wc
    WHERE n >= coalesce((SELECT c FROM cut), 0)
    """


def _vocab_cut(spark, sf_dir):
    from diagnosisextraction_ml_spark.functions import bpe

    docs = _t(spark, sf_dir, "documents")
    return bpe.corpus_word_counts(docs, "text", max_vocab=_BPE_VOCAB_K)


register("bpe_vocab_threshold_cut", _vocab_cut_sql())(_vocab_cut)


# ===========================================================================
# Count-min sketch (mergeable frequency sketch) — heavy-hitter estimates.
#
# The sketch is built with the engine's cross-engine md5 cell hash, so
# the DuckDB twin constructs the bit-identical depth×width grid and the
# min-over-rows estimates are hash-exact (every estimate >= the true
# count by construction — the classic CMS guarantee, here *verified*
# per token by carrying the exact count alongside).
# ===========================================================================

def _cms_sql(depth: int = 4, width: int = 8192, k: int = 50) -> str:
    toks = tokenize_sql("lower(text)")
    cell = md5_hash64_sql("concat(CAST(t.r AS VARCHAR), ':', token)")
    return f"""
    WITH tok AS (SELECT unnest({toks}) AS token FROM documents),
    counts AS (SELECT token, COUNT(*) AS exact_n FROM tok GROUP BY token),
    top AS (SELECT token, exact_n FROM counts
            ORDER BY exact_n DESC, token LIMIT {k}),
    cells AS (
      SELECT t.r AS cms_row, ({cell}) % {width} AS cms_col,
             COUNT(*) AS cnt
      FROM tok CROSS JOIN range({depth}) t(r)
      GROUP BY 1, 2
    )
    SELECT top.token, top.exact_n,
           min(coalesce(c.cnt, 0)) AS cms_est
    FROM top CROSS JOIN range({depth}) t(r)
    LEFT JOIN cells c
      ON c.cms_row = t.r
     AND c.cms_col = ({cell}) % {width}
    GROUP BY top.token, top.exact_n
    """


def _cms_heavy(spark, sf_dir):
    from diagnosisextraction_ml_spark.operators import sketch

    docs = _t(spark, sf_dir, "documents")
    sk = sketch.cms_build(docs)
    exact_top = (
        docs.select(F.explode(tokenize_expr(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("token"))
        .limit(50)
    )
    return sketch.cms_estimate(sk, exact_top).select(
        "token", "exact_n", "cms_est"
    )


register("sketch_cms_heavy_hitters", _cms_sql())(_cms_heavy)


# ===========================================================================
# Keyed-snapshot upsert (MERGE INTO / SCD-1) — incremental latest-state.
#
# The Spark side exercises the *incremental* path: a snapshot is built
# from the historical 80% of events (event_id % 5 != 4), then the
# remaining batch is upserted into it — two groupBy+max(struct) hash
# aggregations, no windows. The composition is associative, so the
# result equals the one-shot arg-max over all events, which is what
# the SQL twin states directly (row_number is fine for the oracle;
# the Spark plan deliberately avoids the per-key sort).
# ===========================================================================

_UPSERT_PAYLOAD = ["event_type", "value"]


def _upsert_sql() -> str:
    return """
    SELECT user_id,
           CAST(ts AS TIMESTAMP) AS last_ts,
           event_id AS last_event_id,
           event_type AS last_event_type,
           value AS last_value
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id
        ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    """


def _upsert_state(spark, sf_dir):
    from diagnosisextraction_ml_spark.operators.upsert import upsert_latest

    ev = _t(spark, sf_dir, "events")
    hist = ev.filter(F.col("event_id") % 5 != 4)
    batch = ev.filter(F.col("event_id") % 5 == 4)
    snapshot = upsert_latest(
        hist.limit(0), hist, ["user_id"], ["ts"], ["event_id"], _UPSERT_PAYLOAD
    )
    merged = upsert_latest(
        snapshot, batch, ["user_id"], ["ts"], ["event_id"], _UPSERT_PAYLOAD
    )
    return merged.select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


register("upsert_latest_state", _upsert_sql())(_upsert_state)


# ===========================================================================
# Data-quality profiling (single-scan column stats + expectation gate).
#
# Long-form output (one row per column / per rule) so the relation is
# stable under schema evolution. Columns profiled here are ints and
# strings only — min/max stringification of floats/timestamps differs
# between engines and stays out of the oracle surface.
# ===========================================================================

_PROFILE_COLS = ["doc_id", "lang", "source", "n_chars"]


def _profile_sql() -> str:
    parts = []
    for c in _PROFILE_COLS:
        parts.append(f"""
    SELECT '{c}' AS "column", COUNT(*) AS n_rows, COUNT({c}) AS n_nonnull,
           COUNT(*) - COUNT({c}) AS n_null,
           COUNT(DISTINCT {c}) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_val,
           CAST(MAX({c}) AS VARCHAR) AS max_val
    FROM documents""")
    return " UNION ALL ".join(parts)


def _profile(spark, sf_dir):
    from diagnosisextraction_ml_spark.operators.profile import profile_columns

    return profile_columns(_t(spark, sf_dir, "documents"), _PROFILE_COLS)


register("qc_profile_documents", _profile_sql())(_profile)


_QC_RULES_SQL = {
    "orderkey_not_null": "o_orderkey IS NOT NULL",
    "totalprice_positive": "o_totalprice > 0",
    "status_in_domain": "o_orderstatus IN ('O', 'F', 'P')",
}


def _expectations_sql() -> str:
    parts = []
    for name, pred in _QC_RULES_SQL.items():
        parts.append(f"""
    SELECT '{name}' AS rule, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN NOT coalesce({pred}, FALSE) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations,
           SUM(CASE WHEN NOT coalesce({pred}, FALSE) THEN 1 ELSE 0 END) = 0 AS pass
    FROM orders""")
    return " UNION ALL ".join(parts)


def _expectations(spark, sf_dir):
    from diagnosisextraction_ml_spark.operators.profile import check_expectations

    orders = _t(spark, sf_dir, "orders")
    rules = {
        "orderkey_not_null": F.col("o_orderkey").isNotNull(),
        "totalprice_positive": F.col("o_totalprice") > 0,
        "status_in_domain": F.col("o_orderstatus").isin("O", "F", "P"),
    }
    return check_expectations(orders, rules)


register("qc_expectations_orders", _expectations_sql())(_expectations)


# ===========================================================================
# Continuous aggregate — incremental hourly rollup maintenance.
#
# Spark side exercises the INCREMENTAL path: the historical 80% of
# events is rolled up into a state table, the remaining batch is
# rolled up alone and monoid-merged in — history never rescanned at
# event grain. Because every measure is a commutative monoid (count +
# DECIMAL-exact sum/min/max), the merged state equals the one-shot
# recompute the SQL twin states directly.
# ===========================================================================

def _rollup_sql() -> str:
    v = "CAST(value AS DECIMAL(18,6))"
    return f"""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM({v}) AS DOUBLE) AS sum_value,
           CAST(MIN({v}) AS DOUBLE) AS min_value,
           CAST(MAX({v}) AS DOUBLE) AS max_value
    FROM events
    GROUP BY 1, 2
    """


def _rollup_incremental(spark, sf_dir):
    from diagnosisextraction_ml_spark.operators.rollup import (
        hourly_rollup,
        merge_rollup,
    )

    ev = _t(spark, sf_dir, "events")
    hist = ev.filter(F.col("event_id") % 5 != 4)
    batch = ev.filter(F.col("event_id") % 5 == 4)
    state = hourly_rollup(hist)
    merged = merge_rollup(state, hourly_rollup(batch))
    return merged.select(
        "window_start",
        "event_type",
        "n",
        F.col("sum_value").cast("double").alias("sum_value"),
        F.col("min_value").cast("double").alias("min_value"),
        F.col("max_value").cast("double").alias("max_value"),
    )


register("rollup_incremental_hourly", _rollup_sql())(_rollup_incremental)


# ===========================================================================
# Exact duplicated-span removal (surgical Lee-et-al dedup) — cut every
# corpus-duplicated word n-gram span out of the text instead of
# dropping whole documents. Runs on the dup-injected corpus so spans
# actually exist at sf0.01; hash-exact end to end (positions are ints,
# gram identity is the cross-engine md5, and the final cut is the same
# position-set filter in both engines — note DuckDB's two-arg lambda
# index is 1-based where Spark's is 0-based, hence the i - 1).
# ===========================================================================

def _span_removal_sql(n: int = 13, min_count: int = 2) -> str:
    toks = tokenize_sql("lower(text)")
    gram_hash = md5_hash64_sql(f"array_to_string(t[u.i+1:u.i+{n}], ' ')")
    return f"""
    WITH corpus AS ({_DUP_UNION_SQL}),
    ct AS (SELECT doc_id, {toks} AS t FROM corpus),
    gr AS (
      SELECT ct.doc_id, CAST(u.i AS BIGINT) AS pos, {gram_hash} AS gram_hash
      FROM ct CROSS JOIN UNNEST(range(0, greatest(len(t) - {n - 1}, 0))) u(i)
    ),
    freq AS (SELECT gram_hash, COUNT(*) AS c FROM gr GROUP BY 1),
    dup AS (SELECT doc_id, pos FROM gr JOIN freq USING (gram_hash)
            WHERE c >= {min_count}),
    cov AS (SELECT DISTINCT doc_id, pos + v.o AS p
            FROM dup CROSS JOIN UNNEST(range({n})) v(o)),
    covs AS (SELECT doc_id, list_sort(list(p)) AS ps FROM cov GROUP BY doc_id)
    SELECT ct.doc_id,
           CAST(len(t) AS INT) AS n_tokens,
           CAST(coalesce(len(ps), 0) AS INT) AS n_removed,
           coalesce(array_to_string(
             list_filter(t, (x, i) -> ps IS NULL OR NOT list_contains(ps, i - 1)),
             ' '), '') AS cleaned_text
    FROM ct LEFT JOIN covs USING (doc_id)
    """


register("dedup_span_removal", _span_removal_sql())(
    lambda spark, sf_dir: dedup.remove_duplicated_spans(
        _dup_union(spark, sf_dir), "text", "doc_id", n=13
    )
)


def _span_intervals_sql(n: int = 13, min_count: int = 2) -> str:
    """DuckDB twin of dedup.duplicated_span_intervals — the same gram/
    coverage CTEs as _span_removal_sql, then gaps-and-islands (p −
    row_number per doc) to one row per maximal duplicated span."""
    toks = tokenize_sql("lower(text)")
    gram_hash = md5_hash64_sql(f"array_to_string(t[u.i+1:u.i+{n}], ' ')")
    return f"""
    WITH corpus AS ({_DUP_UNION_SQL}),
    ct AS (SELECT doc_id, {toks} AS t FROM corpus),
    gr AS (
      SELECT ct.doc_id, CAST(u.i AS BIGINT) AS pos, {gram_hash} AS gram_hash
      FROM ct CROSS JOIN UNNEST(range(0, greatest(len(t) - {n - 1}, 0))) u(i)
    ),
    freq AS (SELECT gram_hash, COUNT(*) AS c FROM gr GROUP BY 1),
    dup AS (SELECT doc_id, pos FROM gr JOIN freq USING (gram_hash)
            WHERE c >= {min_count}),
    cov AS (SELECT DISTINCT doc_id, pos + v.o AS p
            FROM dup CROSS JOIN UNNEST(range({n})) v(o)),
    isl AS (SELECT doc_id, p,
                   p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS g
            FROM cov)
    SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
           CAST(count(*) AS BIGINT) AS span_len
    FROM isl GROUP BY doc_id, g
    """


register("dedup_span_intervals", _span_intervals_sql())(
    lambda spark, sf_dir: dedup.duplicated_span_intervals(
        _dup_union(spark, sf_dir), "text", "doc_id", n=13
    )
)


# ===========================================================================
# Named corpus filters — Gopher quality rules & C4 line cleaning.
# Pure single-projection operators; twins are the same closed-form
# arithmetic (exact int counts, IEEE ratios) in DuckDB.
# ===========================================================================

def _gopher_sql() -> str:
    toks = tokenize_sql("lower(text)")
    t = "coalesce(text, '')"
    sw = "['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']"
    return f"""
    WITH base AS (
      SELECT doc_id, {t} AS t, {tokenize_sql(f"lower({t})")} AS toks,
             list_filter(string_split_regex({t}, '\\n'), l -> trim(l) != '') AS lines
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(toks) AS n_words,
             greatest(len(lines), 1) AS n_lines,
             list_sum(list_transform(toks, w -> len(w))) AS word_chars,
             len(t) - len(replace(t, '#', '')) AS n_hash,
             (len(t) - len(replace(t, '...', ''))) / 3 AS n_ellipsis,
             len(list_filter(lines, l -> regexp_matches(trim(l), '^[-\\*•]'))) AS bullet_lines,
             len(list_filter(lines, l -> regexp_matches(trim(l), '\\.\\.\\.$'))) AS ellipsis_lines,
             len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS alpha_words,
             len(list_filter(toks, w -> list_contains({sw}, w))) AS stop_hits
      FROM base
    ),
    r AS (
      SELECT doc_id,
             CAST(n_words AS INT) AS n_words,
             n_words >= 50 AS ok_min_words,
             n_words <= 100000 AS ok_max_words,
             coalesce(word_chars, 0) / greatest(n_words, 1) >= 3.0
               AND coalesce(word_chars, 0) / greatest(n_words, 1) <= 10.0
               AS ok_mean_word_len,
             (n_hash + n_ellipsis) / greatest(n_words, 1) <= 0.1 AS ok_symbol_ratio,
             bullet_lines / n_lines <= 0.9 AS ok_bullet_lines,
             ellipsis_lines / n_lines <= 0.3 AS ok_ellipsis_lines,
             alpha_words / greatest(n_words, 1) >= 0.8 AS ok_alpha_words,
             stop_hits >= 2 AS ok_stopwords
      FROM m
    )
    SELECT *,
           ok_min_words AND ok_max_words AND ok_mean_word_len
             AND ok_symbol_ratio AND ok_bullet_lines AND ok_ellipsis_lines
             AND ok_alpha_words AND ok_stopwords AS gopher_pass
    FROM r
    """


def _gopher(spark, sf_dir):
    from diagnosisextraction_ml_spark.operators.corpus_filters import (
        gopher_quality_flags,
    )

    out = gopher_quality_flags(_t(spark, sf_dir, "documents"))
    return out.withColumn("n_words", F.col("n_words").cast("int"))


register("filter_gopher_rules", _gopher_sql())(_gopher)


def _c4_sql() -> str:
    t = "coalesce(text, '')"
    keep = (
        "(ends_with(trim(l), '.') OR ends_with(trim(l), '!') "
        "OR ends_with(trim(l), '?') OR ends_with(trim(l), '\"') "
        "OR ends_with(trim(l), chr(39))) "
        "AND NOT contains(lower(trim(l)), 'lorem ipsum') "
        "AND NOT contains(lower(trim(l)), '{') "
        f"AND len({tokenize_sql('l')}) >= 3"
    )
    return f"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex({t}, '\\n'), l -> trim(l) != '') AS lines
      FROM documents
    )
    SELECT doc_id,
           CAST(len(lines) AS INT) AS n_lines,
           CAST(len(list_filter(lines, l -> {keep})) AS INT) AS n_kept_lines,
           coalesce(array_to_string(
             list_transform(list_filter(lines, l -> {keep}), l -> trim(l)),
             chr(10)), '') AS cleaned_text
    FROM base
    """


def _c4(spark, sf_dir):
    from diagnosisextraction_ml_spark.operators.corpus_filters import c4_clean_lines

    return c4_clean_lines(_t(spark, sf_dir, "documents"))


register("filter_c4_lines", _c4_sql())(_c4)


# ===========================================================================
# Mojibake repair (UTF-8 mis-decoded as windows-1252) — the web-corpus
# analog of the reference's XML-artefact fix. The corpus is clean, so
# the entry injects a deterministically garbled sample (derived by the
# same first-principles encode/decode the repair map comes from) into
# every document, repairs it, and both engines must land on the same
# fixed text — hash-exact.
# ===========================================================================

def _mojibake_entry():
    from diagnosisextraction_ml_spark.functions.mojibake import (
        fix_mojibake,
        fix_mojibake_sql,
        make_mojibake,
    )

    clean_sample = "Café naïve “smart quotes” – dash … ‘single’ ß §2 ±3° €5"
    garbled = make_mojibake(clean_sample)
    gq = garbled.replace("'", "''")
    sql = f"""
    SELECT doc_id,
           {fix_mojibake_sql(f"concat(coalesce(text, ''), ' ', '{gq}')")}
             AS fixed_text
    FROM documents
    """

    def _fn(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        injected = F.concat(
            F.coalesce(F.col("text"), F.lit("")), F.lit(" "), F.lit(garbled)
        )
        return docs.select("doc_id", fix_mojibake(injected).alias("fixed_text"))

    register("text_mojibake_fixed", sql)(_fn)


_mojibake_entry()


# ===========================================================================
# HyperLogLog distinct sketch — approximate COUNT(DISTINCT) per group.
#
# The oracle rebuilds the bit-identical register table from the same
# md5 hash and replays the exact-integer harmonic sum, so the estimate
# (an approximation of the TRUE distinct count) is itself hash-exact
# across engines. The exact count rides along to make the accuracy
# visible in the result.
# ===========================================================================

def _hll_sql(group_exprs: list[tuple[str, str]]) -> str:
    """Full HLL-estimate-vs-exact SQL for arbitrary group keys.

    ``group_exprs``: [(alias, SQL expr over events), ...]. Generated
    from the same constants as operators/sketch.py so the two sides
    cannot drift; used by sketch_hll_distinct and the streaming twin's
    batch oracle.
    """
    from diagnosisextraction_ml_spark.operators import sketch

    m = sketch.HLL_M
    rho_max = sketch._HLL_RHO_MAX
    pow52 = sketch._POW2_52
    alpha = 0.7213 / (1.0 + 1.079 / float(m))
    a_m2 = repr(alpha * m * m)
    hv = md5_hash64_sql("CAST(user_id AS VARCHAR)")
    b0 = "CAST(floor(log2(CAST(greatest(w, 1) AS DOUBLE))) AS BIGINT)"
    # CAST ... AS DOUBLE: DuckDB parses decimal-point literals as
    # DECIMAL, whose multiplication overflows; the cast recovers the
    # exact double the Spark side uses via F.lit(float).
    e_raw = (
        f"(CAST({a_m2} AS DOUBLE) * CAST({float(pow52)!r} AS DOUBLE) / "
        f"CAST(s2_present + ({m} - n_regs) * CAST({pow52} AS BIGINT) AS DOUBLE))"
    )
    e_lc = (
        f"round({float(m)!r} * ln({float(m)!r} / "
        f"CAST(greatest({m} - n_regs, 1) AS DOUBLE)), 0)"
    )
    sel = ", ".join(f"{expr} AS {a}" for a, expr in group_exprs)
    keys = ", ".join(a for a, _ in group_exprs)
    on = " AND ".join(f"x.{a} = est.{a}" for a, _ in group_exprs)
    xkeys = ", ".join(f"x.{a}" for a, _ in group_exprs)
    cte = _hll_est_cte_body(sel, keys, hv, m, rho_max, e_raw, e_lc)
    return f"""
    WITH {cte}
    SELECT {xkeys}, x.exact_distinct, est.hll_est
    FROM (SELECT {sel}, COUNT(DISTINCT user_id) AS exact_distinct
          FROM events GROUP BY ALL) x
    JOIN est ON {on}
    """


def _hll_parts():
    """(m, rho_max, pow52, e_raw, e_lc, b0) — shared literal pieces."""
    from diagnosisextraction_ml_spark.operators import sketch

    m = sketch.HLL_M
    rho_max = sketch._HLL_RHO_MAX
    pow52 = sketch._POW2_52
    alpha = 0.7213 / (1.0 + 1.079 / float(m))
    a_m2 = repr(alpha * m * m)
    b0 = "CAST(floor(log2(CAST(greatest(w, 1) AS DOUBLE))) AS BIGINT)"
    e_raw = (
        f"(CAST({a_m2} AS DOUBLE) * CAST({float(pow52)!r} AS DOUBLE) / "
        f"CAST(s2_present + ({m} - n_regs) * CAST({pow52} AS BIGINT) AS DOUBLE))"
    )
    e_lc = (
        f"round({float(m)!r} * ln({float(m)!r} / "
        f"CAST(greatest({m} - n_regs, 1) AS DOUBLE)), 0)"
    )
    return m, rho_max, pow52, e_raw, e_lc, b0


def _hll_est_cte_body(
    sel: str, keys: str, hv: str, m: int, rho_max: int, e_raw: str, e_lc: str
) -> str:
    """CTE chain h→r→rk→regs→agg→est(keys, hll_est) over events."""
    _, _, _, _, _, b0 = _hll_parts()
    return f"""h AS (
      SELECT {sel}, {hv} AS hv FROM events
    ), r AS (
      SELECT {keys}, hv % {m} AS reg, hv // {m} AS w FROM h
    ), rk AS (
      SELECT {keys}, reg,
        CASE WHEN w = 0 THEN {rho_max}
             ELSE {rho_max} - ({b0}
               - CASE WHEN pow(2.0, CAST({b0} AS DOUBLE)) > w THEN 1 ELSE 0 END
               + CASE WHEN pow(2.0, CAST({b0} + 1 AS DOUBLE)) <= w THEN 1 ELSE 0 END
               + 1)
        END AS rho
      FROM r
    ), regs AS (
      SELECT {keys}, reg, MAX(rho) AS rho_max FROM rk GROUP BY ALL
    ), agg AS (
      SELECT {keys},
             SUM(CAST(pow(2.0, 52 - rho_max) AS BIGINT)) AS s2_present,
             COUNT(*) AS n_regs
      FROM regs GROUP BY ALL
    ), est AS (
      SELECT {keys},
        CAST(CASE WHEN {e_raw} <= {2.5 * m!r} AND ({m} - n_regs) > 0
                  THEN {e_lc} ELSE round({e_raw}, 0) END AS BIGINT) AS hll_est
      FROM agg
    )"""


def _hll_entry() -> None:
    from diagnosisextraction_ml_spark.operators import sketch

    def _fn(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        est = sketch.hll_distinct(
            ev, F.col("user_id").cast("string"), ["event_type"]
        )
        exact = ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("exact_distinct")
        )
        return exact.join(est, "event_type").select(
            "event_type", "exact_distinct", "hll_est"
        )

    register("sketch_hll_distinct", _hll_sql([("event_type", "event_type")]))(_fn)

    def _hourly(spark, sf_dir):
        """Batch twin of streaming.windowed_distinct_registers: the same
        register expressions run under readStream with a watermark (the
        register table is a max-monoid, so streaming state is ≤
        groups×512 rows and the stream≡batch law holds exactly)."""
        ev = _t(spark, sf_dir, "events").withColumn(
            "window_start", F.date_trunc("hour", F.col("ts"))
        )
        keys = ["window_start", "event_type"]
        est = sketch.hll_distinct(ev, F.col("user_id").cast("string"), keys)
        exact = ev.groupBy(*keys).agg(
            F.countDistinct("user_id").alias("exact_distinct")
        )
        return exact.join(est, keys).select(
            *keys, "exact_distinct", "hll_est"
        )

    register(
        "stream_hourly_distinct",
        _hll_sql(
            [
                ("window_start", "date_trunc('hour', CAST(ts AS TIMESTAMP))"),
                ("event_type", "event_type"),
            ]
        ),
    )(_hourly)


_hll_entry()


# ===========================================================================
# Bloom-filter membership probe — day-2 dedup prefilter.
#
# Build the filter over every document fingerprint, then probe a
# synthetic day-2 batch containing each fifth document twice: once
# verbatim (a re-crawl — MUST come back maybe=true, blooms have no
# false negatives) and once with a novel suffix (fresh content —
# comes back false unless it false-positives, ~1e-8 at n=500/m=65536/
# k=7). The oracle rebuilds the bit-identical filter with the same md5
# positions, so even a false positive would match cross-engine.
# ===========================================================================

def _bloom_entry() -> None:
    from diagnosisextraction_ml_spark.operators import sketch

    m_bits = sketch.BLOOM_BITS
    k = sketch.BLOOM_K
    word = sketch._BLOOM_WORD
    pos = md5_hash64_sql("concat(CAST(i AS VARCHAR), ':', fp)")
    sql = f"""
    WITH corpus AS (
      SELECT md5(coalesce(text, '')) AS fp FROM documents
    ), build_pos AS (
      SELECT ({pos}) % {m_bits} AS p
      FROM corpus CROSS JOIN range({k}) t(i)
    ), words AS (
      SELECT p // {word} AS bloom_word,
             bit_or(CAST(pow(2.0, p % {word}) AS BIGINT)) AS bloom_bits
      FROM build_pos GROUP BY 1
    ), batch AS (
      SELECT doc_id, 'recrawl' AS kind, md5(coalesce(text, '')) AS fp
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id, 'novel' AS kind,
             md5(concat(coalesce(text, ''), ' v2-', CAST(doc_id AS VARCHAR)))
      FROM documents WHERE doc_id % 5 = 0
    ), probe_pos AS (
      SELECT doc_id, kind, fp, ({pos}) % {m_bits} AS p
      FROM batch CROSS JOIN range({k}) t(i)
    ), checks AS (
      SELECT doc_id, kind,
             (coalesce(w.bloom_bits, 0) & CAST(pow(2.0, p % {word}) AS BIGINT))
               = CAST(pow(2.0, p % {word}) AS BIGINT) AS hit
      FROM probe_pos LEFT JOIN words w ON w.bloom_word = p // {word}
    )
    SELECT doc_id, kind, bool_and(hit) AS bloom_maybe
    FROM checks GROUP BY doc_id, kind
    """

    def _fn(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        fp = F.md5(F.coalesce(F.col("text"), F.lit("")))
        bloom = sketch.bloom_build(docs, fp)
        fifth = docs.filter(F.col("doc_id") % 5 == 0)
        batch = fifth.select(
            "doc_id", F.lit("recrawl").alias("kind"), fp.alias("fp")
        ).unionByName(
            fifth.select(
                "doc_id",
                F.lit("novel").alias("kind"),
                F.md5(
                    F.concat(
                        F.coalesce(F.col("text"), F.lit("")),
                        F.lit(" v2-"),
                        F.col("doc_id").cast("string"),
                    )
                ).alias("fp"),
            )
        )
        return sketch.bloom_probe(batch, bloom, F.col("fp")).select(
            "doc_id", "kind", "bloom_maybe"
        )

    register("sketch_bloom_probe", sql)(_fn)


_bloom_entry()


# ===========================================================================
# BM25 retrieval — top-k documents per query over the inverted index.
#
# idf goes to integer micro-nats straight out of ln; each term's score
# is a single exactly-rounded double chain (same association order in
# both engines) rounded to integer micro-units; per-doc sums are then
# integer-exact. Ties carry (score desc, doc_id asc).
# ===========================================================================

_BM25_QUERIES = [
    ("q1", "join"),
    ("q1", "hash"),
    ("q1", "agg"),
    ("q2", "stream"),
    ("q2", "window"),
    ("q2", "slow"),
    ("q3", "customer"),
    ("q3", "order"),
    ("q3", "value"),
]


def _bm25_entry() -> None:
    from diagnosisextraction_ml_spark.operators import search

    k1, b = search.BM25_K1, search.BM25_B

    def dbl(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    toks = tokenize_sql("coalesce(lower(text), '')")
    qvals = ", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)
    sql = f"""
    WITH tok AS (SELECT doc_id, unnest({toks}) AS term FROM documents),
    postings AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM postings GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl),
    dfreq AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY 1),
    qt(query_id, term) AS (VALUES {qvals}),
    idf AS (
      SELECT query_id, qt.term,
        CAST(round(CAST(1000000.0 AS DOUBLE) * ln(
          (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + {dbl(0.5)})
          / (CAST(df AS DOUBLE) + {dbl(0.5)}) + {dbl(1.0)}), 0) AS BIGINT)
          AS idf_micro
      FROM qt JOIN dfreq ON dfreq.term = qt.term CROSS JOIN stats
    ),
    scored AS (
      SELECT query_id, p.doc_id,
        CAST(round(
          (CAST(idf_micro AS DOUBLE)
             * (CAST(tf AS DOUBLE) * {dbl(1.0 + k1)}))
          / (CAST(tf AS DOUBLE) + {dbl(k1)} * ({dbl(1.0 - b)}
               + {dbl(b)} * (CAST(d.dl AS DOUBLE)
                   / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
        , 0) AS BIGINT) AS s
      FROM postings p
      JOIN idf ON idf.term = p.term
      JOIN dl d ON d.doc_id = p.doc_id
      CROSS JOIN stats
    ),
    agg AS (SELECT query_id, doc_id, CAST(SUM(s) AS BIGINT) AS score_micro
            FROM scored GROUP BY 1, 2)
    SELECT query_id, CAST(rnk AS INTEGER) AS rank, doc_id, score_micro
    FROM (SELECT query_id, doc_id, score_micro,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY score_micro DESC, doc_id) AS rnk
          FROM agg) r
    WHERE rnk <= 10
    """

    def _fn(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        return search.bm25_topk(docs, _BM25_QUERIES, k=10)

    register("search_bm25_topk", sql)(_fn)


_bm25_entry()


# ===========================================================================
# Language-ID: char-trigram Naive Bayes, trained AND scored in-query.
#
# Train on the 4/5 of documents with doc_id % 5 != 0 (labels from the
# lang column), predict the held-out fifth. The oracle replays both
# phases — counts, micro-nat weights, sparse-delta scoring, argmax —
# so the prediction table is hash-exact. (The synthetic corpus's text
# does not actually vary by lang, so accuracy here is chance; the unit
# tests prove discrimination on a fixture with real per-language
# character distributions. This entry pins the cross-engine algebra.)
# ===========================================================================

def _langid_entry() -> None:
    from diagnosisextraction_ml_spark.operators import langid

    nb = langid.LANGID_BUCKETS
    n = langid.LANGID_N
    grams = (
        f"CASE WHEN length(t) >= {n} THEN "
        f"list_transform(range(1, length(t) - {n - 2}), i -> substr(t, i, {n})) "
        f"ELSE [] END"
    )
    bkt = md5_hash64_sql("g") + f" % {nb}"
    lp0 = (
        f"CAST(round(CAST(1000000.0 AS DOUBLE) * "
        f"ln(CAST(1.0 AS DOUBLE) / (CAST(t AS DOUBLE) + CAST({float(nb)!r} AS DOUBLE))), 0) AS BIGINT)"
    )
    lpc = (
        f"CAST(round(CAST(1000000.0 AS DOUBLE) * "
        f"ln((CAST(c AS DOUBLE) + CAST(1.0 AS DOUBLE)) / (CAST(t AS DOUBLE) + CAST({float(nb)!r} AS DOUBLE))), 0) AS BIGINT)"
    )
    sql = f"""
    WITH train AS (
      SELECT lang, lower(coalesce(text, '')) AS t FROM documents
      WHERE doc_id % 5 <> 0
    ), tg AS (
      SELECT lang, unnest({grams}) AS g FROM train
    ), cb AS (
      SELECT lang, {bkt} AS b, COUNT(*) AS c FROM tg GROUP BY 1, 2
    ), tot AS (
      SELECT lang, SUM(c) AS t FROM cb GROUP BY 1
    ), base AS (
      SELECT lang, {lp0} AS lp0_micro FROM tot
    ), model AS (
      SELECT cb.lang, b, ({lpc}) - ({lp0}) AS adj_micro
      FROM cb JOIN tot ON tot.lang = cb.lang
    ), test AS (
      SELECT doc_id, lang AS true_lang, lower(coalesce(text, '')) AS t
      FROM documents WHERE doc_id % 5 = 0
    ), dgrams AS (
      SELECT doc_id, unnest({grams}) AS g FROM test
    ), dg AS (
      SELECT doc_id, {bkt} AS b, COUNT(*) AS nb FROM dgrams GROUP BY 1, 2
    ), ntri AS (
      SELECT doc_id, CAST(SUM(nb) AS BIGINT) AS n_tri FROM dg GROUP BY 1
    ), adj AS (
      SELECT doc_id, model.lang,
             CAST(SUM(nb * adj_micro) AS BIGINT) AS adj_sum
      FROM dg JOIN model ON model.b = dg.b GROUP BY 1, 2
    ), scores AS (
      SELECT ntri.doc_id, base.lang,
             ntri.n_tri * base.lp0_micro + coalesce(adj.adj_sum, 0) AS score_micro
      FROM ntri CROSS JOIN base
      LEFT JOIN adj ON adj.doc_id = ntri.doc_id AND adj.lang = base.lang
    ), pred AS (
      SELECT doc_id, lang, score_micro,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score_micro DESC, lang) AS rn
      FROM scores
    )
    SELECT test.doc_id, test.true_lang, pred.lang AS pred_lang,
           pred.score_micro
    FROM test JOIN pred ON pred.doc_id = test.doc_id AND rn = 1
    """

    def _fn(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        train = docs.filter(F.col("doc_id") % 5 != 0)
        test = docs.filter(F.col("doc_id") % 5 == 0)
        model, base = langid.fit_langid(train)
        preds = langid.score_langid(test, model, base)
        return test.select(
            "doc_id", F.col("lang").alias("true_lang")
        ).join(preds, ["doc_id"]).select(
            "doc_id", "true_lang", "pred_lang", "score_micro"
        )

    register("langid_char_ngram", sql)(_fn)


_langid_entry()


# ===========================================================================
# SemDeDup — semantic dedup inside k-means clusters (Abbas et al. 2023).
#
# Reuses the unrolled-k-means CTE (same k/iters as sim_ivf_assign) and
# replays the within-cluster pair scan with the same 1e-6-rounded
# cosine, so clustering AND the kept-set are hash-exact cross-engine.
# ===========================================================================

def _semdedup_entry(tau: float = 0.4) -> None:
    from diagnosisextraction_ml_spark.operators import dedup as _dd

    cos_ab = (
        "list_dot_product(a.ev, b.ev)"
        " / (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev)))"
    )
    sql = (
        _kmeans_assign_cte(k=8, iters=2)
        + f""",
    dup AS (
      SELECT DISTINCT a.vec_id
      FROM fin a JOIN fin b
        ON a.cidx = b.cidx AND a.vec_id > b.vec_id
      WHERE round({cos_ab}, 6) >= CAST({tau!r} AS DOUBLE)
    )
    SELECT f.vec_id, f.cidx AS cluster,
           (d.vec_id IS NOT NULL) AS is_dup
    FROM fin f LEFT JOIN dup d ON d.vec_id = f.vec_id
    """
    )

    def _fn(spark, sf_dir):
        emb = _t(spark, sf_dir, "embeddings")
        return _dd.semantic_dedup(emb, k=8, iters=2, tau=tau)

    register("dedup_semantic", sql)(_fn)


_semdedup_entry()


def _semdedup_pruned_entry(k: int = 32, tau: float = 0.4) -> None:
    """THE SCALE-SAFE SEMDEDUP CONFIGURATION, driver-hash-verified
    (VERDICT r14 #3: the only previously driver-verified semdedup path
    was the fixed-k exact-assignment one that was measured DEAD at
    sf100 — killed at 1500 s — while the configuration that survives
    lived only in tools/semdedup_scale.py).

    This entry runs the production path end to end: k ∝ n (the
    advisor's ``k = max(32, n // 2000)`` rule evaluates to 32 at the
    oracle corpus, and to 2500 on the 5M-doc sf100 corpus where the
    SAME code path — k ∝ n + ``assign_probe`` — measured **175.6 s**
    vs 320.9 s exact and vs the killed fixed-k run; PERF.md round 14)
    with every assignment pass routed through the IVF-pruned argmin
    (``assign_probe = m = ⌈√k⌉ = 6``: probing ALL meta-cells replays
    the exact assignment bit-for-bit — test-pinned,
    tests/test_similarity.py — which is what licenses the exact-replay
    DuckDB twin below while the driver hash still exercises
    similarity.py's pruned kernel: meta-cell build, row-level nprobe
    ranking, per-cell candidate matmuls, empty-cell fallback).
    """
    from diagnosisextraction_ml_spark.operators import dedup as _dd

    cos_ab = (
        "list_dot_product(a.ev, b.ev)"
        " / (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev)))"
    )
    sql = (
        _kmeans_assign_cte(k=k, iters=2)
        + f""",
    dup AS (
      SELECT DISTINCT a.vec_id
      FROM fin a JOIN fin b
        ON a.cidx = b.cidx AND a.vec_id > b.vec_id
      WHERE round({cos_ab}, 6) >= CAST({tau!r} AS DOUBLE)
    )
    SELECT f.vec_id, f.cidx AS cluster,
           (d.vec_id IS NOT NULL) AS is_dup
    FROM fin f LEFT JOIN dup d ON d.vec_id = f.vec_id
    """
    )

    import math

    probe = max(1, math.ceil(math.sqrt(k)))  # = m: bit-exact pruning

    def _fn(spark, sf_dir):
        emb = _t(spark, sf_dir, "embeddings")
        return _dd.semantic_dedup(
            emb, k=k, iters=2, tau=tau, assign_probe=probe
        )

    register("dedup_semantic_pruned", sql)(_fn)


_semdedup_pruned_entry()


# ===========================================================================
# Prefix-filter exact Jaccard join — the exact-complete candidate path
# (vs the probabilistic LSH bands and the doc-freq-capped index).
# Threshold is the rational 1/2; accept test is integer cross-multiply.
# ===========================================================================

def _prefix_jaccard_sql(num: int = 1, den: int = 2) -> str:
    toks = tokenize_sql("lower(text)")
    grams = (
        "list_distinct([array_to_string(t[i+1:i+3], ' ') "
        "for i in range(0, greatest(len(t)-3, 0)+1)])"
    )
    return f"""
    WITH corpus AS ({_DUP_UNION_SQL}),
    tt AS (SELECT doc_id, {toks} AS t FROM corpus),
    sh AS (SELECT doc_id, unnest({grams}) AS shingle FROM tt),
    shf AS (SELECT doc_id, shingle FROM sh WHERE shingle != ''),
    sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY doc_id),
    dfreq AS (SELECT shingle, count(*) AS fdf FROM shf GROUP BY 1),
    ranked AS (
      SELECT shf.doc_id, shf.shingle, sz,
             row_number() OVER (PARTITION BY shf.doc_id
                                ORDER BY fdf ASC, shf.shingle ASC) AS rn
      FROM shf JOIN dfreq USING (shingle) JOIN sizes USING (doc_id)),
    prefix AS (
      SELECT doc_id, shingle, sz FROM ranked
      WHERE rn <= sz - (({num} * sz + {den - 1}) // {den}) + 1),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.sz AS sz_a, b.sz AS sz_b
      FROM prefix a JOIN prefix b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      WHERE {num} * greatest(a.sz, b.sz) <= {den} * least(a.sz, b.sz)),
    inter AS (
      SELECT c.id_a, c.id_b, c.sz_a, c.sz_b, count(*) AS n_common
      FROM cands c
      JOIN shf a ON a.doc_id = c.id_a
      JOIN shf b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY 1, 2, 3, 4)
    SELECT id_a, id_b, n_common,
           round(n_common / (sz_a + sz_b - n_common), 6) AS jaccard
    FROM inter
    WHERE {den} * n_common >= {num} * (sz_a + sz_b - n_common)
    """


# Registered at t = 4/5: prefix filtering is the high-threshold tool
# (prefix length ≈ (1-t)·|x| — at t=0.5 on a homogeneous corpus the
# prefix is half the document and candidates explode quadratically; at
# 0.8 it is the rarest fifth and the join stays sparse). The t=0.5
# equivalence-to-uncapped-index law is still test-pinned at sf0.001.
register("dedup_prefix_jaccard_pairs", _prefix_jaccard_sql(4, 5))(
    lambda spark, sf_dir: dedup.prefix_filter_jaccard_pairs(
        _dup_union(spark, sf_dir), "text", "doc_id", n=3,
        threshold_num=4, threshold_den=5,
    )
)


# ===========================================================================
# Interpolated trigram LM (Jelinek-Mercer) — train on lang='en', score all.
# Same doctrine as lm_bigram_logprob: md5 buckets, per-position micro-nat
# quantization, integer sums; the three-way interpolation is a fixed-order
# double chain, identical in both engines.
# ===========================================================================

def _lm_trigram_sql() -> str:
    from diagnosisextraction_ml_spark.operators.lm import (
        DEFAULT_BUCKETS,
        JM_L1,
        JM_L2,
        JM_L3,
    )

    b = DEFAULT_BUCKETS
    toks = tokenize_sql("lower(text)")

    def dbl(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    return f"""
    WITH t AS (SELECT doc_id, lang, {toks} AS toks FROM documents),
    uni AS (
      SELECT {md5_hash64_sql('w')} % {b} AS b1, COUNT(*) AS c_uni
      FROM (SELECT unnest(toks) AS w FROM t WHERE lang = 'en')
      GROUP BY 1),
    tot AS (SELECT SUM(c_uni) AS n_total FROM uni),
    bg_all AS (
      SELECT lang, {md5_hash64_sql('w1')} % {b} AS b1,
             {md5_hash64_sql('w2')} % {b} AS b2
      FROM (SELECT lang,
                   unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
                   unnest(list_slice(toks, 2, len(toks))) AS w2
            FROM t WHERE len(toks) >= 2)),
    big AS (SELECT b1, b2, COUNT(*) AS c_big FROM bg_all
            WHERE lang = 'en' GROUP BY 1, 2),
    tg_all AS (
      SELECT doc_id, lang,
             {md5_hash64_sql('w1')} % {b} AS b1,
             {md5_hash64_sql('w2')} % {b} AS b2,
             {md5_hash64_sql('w3')} % {b} AS b3
      FROM (SELECT doc_id, lang,
                   unnest(list_slice(toks, 1, len(toks) - 2)) AS w1,
                   unnest(list_slice(toks, 2, len(toks) - 1)) AS w2,
                   unnest(list_slice(toks, 3, len(toks))) AS w3
            FROM t WHERE len(toks) >= 3)),
    tri AS (SELECT b1, b2, b3, COUNT(*) AS c_tri FROM tg_all
            WHERE lang = 'en' GROUP BY 1, 2, 3),
    s AS (
      SELECT g.doc_id, COUNT(*) AS n_trigrams,
             CAST(SUM(CAST(round({dbl(1_000_000.0)} * ln(
               {dbl(JM_L3)} * (CASE WHEN coalesce(ctx.c_big, 0) > 0
                 THEN CAST(coalesce(tri.c_tri, 0) AS DOUBLE)
                      / CAST(coalesce(ctx.c_big, 0) AS DOUBLE)
                 ELSE {dbl(0.0)} END)
             + {dbl(JM_L2)} * (CASE WHEN coalesce(um.c_uni, 0) > 0
                 THEN CAST(coalesce(cont.c_big, 0) AS DOUBLE)
                      / CAST(coalesce(um.c_uni, 0) AS DOUBLE)
                 ELSE {dbl(0.0)} END)
             + {dbl(JM_L1)} * ((CAST(coalesce(ul.c_uni, 0) AS DOUBLE)
                                + {dbl(1.0)})
                 / (CAST(n_total AS DOUBLE) + {dbl(float(b))}))
             ), 0) AS BIGINT)) AS BIGINT) AS lp_sum
      FROM tg_all g
      LEFT JOIN tri ON tri.b1 = g.b1 AND tri.b2 = g.b2 AND tri.b3 = g.b3
      LEFT JOIN big ctx ON ctx.b1 = g.b1 AND ctx.b2 = g.b2
      LEFT JOIN big cont ON cont.b1 = g.b2 AND cont.b2 = g.b3
      LEFT JOIN uni um ON um.b1 = g.b2
      LEFT JOIN uni ul ON ul.b1 = g.b3
      CROSS JOIN tot
      GROUP BY 1)
    SELECT doc_id, n_trigrams, lp_sum,
           lp_sum / (1000000.0 * n_trigrams) AS score
    FROM s
    """


def _lm_trigram(spark, sf_dir):
    from diagnosisextraction_ml_spark.operators import lm

    docs = _t(spark, sf_dir, "documents")
    tri, big, uni = lm.fit_trigram_counts(docs.filter(F.col("lang") == "en"))
    return lm.score_trigram_interp(docs, tri, big, uni)


register("lm_trigram_interp", _lm_trigram_sql())(_lm_trigram)


# ===========================================================================
# CCNet perplexity buckets — the Wenzek et al. head/middle/tail split,
# reusing the trigram-LM scorer with fixed (offline-computed) cutoffs.
# ===========================================================================

def _ccnet_sql() -> str:
    from diagnosisextraction_ml_spark.operators.corpus_filters import (
        CCNET_HEAD_CUT,
        CCNET_MIDDLE_CUT,
    )

    return f"""
    WITH scored AS ({_lm_trigram_sql()})
    SELECT d.lang,
           CASE WHEN s.score >= CAST({CCNET_HEAD_CUT!r} AS DOUBLE) THEN 'head'
                WHEN s.score >= CAST({CCNET_MIDDLE_CUT!r} AS DOUBLE) THEN 'middle'
                ELSE 'tail' END AS bucket,
           count(*) AS n_docs,
           CAST(sum(s.n_trigrams) AS BIGINT) AS sum_trigrams
    FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    GROUP BY 1, 2
    """


def _ccnet_buckets(spark, sf_dir):
    from diagnosisextraction_ml_spark.operators import lm
    from diagnosisextraction_ml_spark.operators.corpus_filters import (
        ccnet_perplexity_buckets,
    )

    docs = _t(spark, sf_dir, "documents")
    tri, big, uni = lm.fit_trigram_counts(docs.filter(F.col("lang") == "en"))
    return ccnet_perplexity_buckets(docs, tri, big, uni)


register("filter_ccnet_buckets", _ccnet_sql())(_ccnet_buckets)


# ===========================================================================
# Tokenizer fertility — chars/bytes per whitespace token by language,
# the first diagnostic when sizing a tokenizer's per-language cost.
# ===========================================================================

def _fertility_sql() -> str:
    toks = tokenize_sql("lower(text)")
    return f"""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(CAST(len({toks}) AS BIGINT)) AS BIGINT) AS sum_tokens,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars,
           CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes,
           CAST(sum(length(text)) AS DOUBLE)
             / sum(CAST(len({toks}) AS BIGINT)) AS chars_per_token,
           CAST(sum(strlen(text)) AS DOUBLE)
             / sum(CAST(len({toks}) AS BIGINT)) AS bytes_per_token
    FROM documents
    GROUP BY lang
    """


def _fertility(spark, sf_dir):
    """Per-language fertility profile — one scan, one tiny exchange.

    Exact integer sums (token counts via the shared whitespace
    tokenizer, characters via length, bytes via octet_length), IEEE
    divisions of exact ints for the ratios — hash-exact in the twin
    (DuckDB: len/length/strlen).
    """
    docs = _t(spark, sf_dir, "documents")
    toks = tokenize_expr(F.lower(F.col("text")))
    return (
        docs.select(
            "lang",
            F.size(toks).cast("long").alias("__t"),
            F.length("text").cast("long").alias("__c"),
            F.octet_length("text").cast("long").alias("__b"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__t").alias("sum_tokens"),
            F.sum("__c").alias("sum_chars"),
            F.sum("__b").alias("sum_bytes"),
            (F.sum("__c").cast("double") / F.sum("__t")).alias("chars_per_token"),
            (F.sum("__b").cast("double") / F.sum("__t")).alias("bytes_per_token"),
        )
    )


register("text_fertility_stats", _fertility_sql())(_fertility)


# ===========================================================================
# DoReMi-style mixture reweighting — one EG step over sources, driven
# by the trigram LM (the proxy-model stand-in).
# ===========================================================================

def _doremi_sql(eta: float = 1.0) -> str:
    return f"""
    WITH scored AS ({_lm_trigram_sql()}),
    per AS (SELECT d.source, count(*) AS n_docs,
                   CAST(sum(s.lp_sum) AS BIGINT) AS lp,
                   CAST(sum(s.n_trigrams) AS BIGINT) AS nt
            FROM scored s JOIN documents d ON d.doc_id = s.doc_id
            GROUP BY 1),
    tot AS (SELECT CAST(sum(lp_sum) AS BIGINT) AS tlp,
                   CAST(sum(n_trigrams) AS BIGINT) AS tnt
            FROM scored),
    b AS (SELECT source, n_docs,
                 CAST(lp AS DOUBLE) / (1000000.0 * CAST(nt AS DOUBLE)) AS src_score,
                 greatest(CAST(0.0 AS DOUBLE),
                          CAST(tlp AS DOUBLE) / (1000000.0 * CAST(tnt AS DOUBLE))
                          - CAST(lp AS DOUBLE) / (1000000.0 * CAST(nt AS DOUBLE))) AS excess
          FROM per CROSS JOIN tot),
    c AS (SELECT source, n_docs, src_score, excess,
                 CAST(round(1000000.0 * exp(CAST({eta!r} AS DOUBLE) * excess), 0) AS BIGINT) AS boost_micro
          FROM b),
    dn AS (SELECT CAST(sum(n_docs * boost_micro) AS BIGINT) AS den FROM c)
    SELECT source, n_docs, src_score, excess, boost_micro,
           CAST(n_docs * boost_micro AS DOUBLE) / CAST(den AS DOUBLE) AS weight
    FROM c CROSS JOIN dn
    """


def _doremi(spark, sf_dir):
    from diagnosisextraction_ml_spark.operators import lm
    from diagnosisextraction_ml_spark.operators.dsir import doremi_mixture_step

    docs = _t(spark, sf_dir, "documents")
    tri, big, uni = lm.fit_trigram_counts(docs.filter(F.col("lang") == "en"))
    return doremi_mixture_step(docs, tri, big, uni, eta=1.0)


register("mix_doremi_weights", _doremi_sql())(_doremi)


# ===========================================================================
# Unicode script profile — per-language character-class mix (the
# routing diagnostic before langid / tokenizer choice).
# ===========================================================================

LATIN = r"\p{Latin}"
HAN = r"\p{Han}"


def _script_profile_sql() -> str:
    def strip(cls: str) -> str:
        return f"CAST(sum(length(regexp_replace(text, '[^{cls}]', '', 'g'))) AS BIGINT)"

    return f"""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS n_chars,
           {strip(LATIN)} AS latin_chars,
           {strip(HAN)} AS han_chars,
           {strip('0-9')} AS digit_chars,
           {strip(' ')} AS space_chars,
           1000000 * {strip(LATIN)} // CAST(sum(length(text)) AS BIGINT) AS latin_micro
    FROM documents
    GROUP BY lang
    """


def _script_profile(spark, sf_dir):
    """Character-class census per language: Latin/Han scripts (Java
    \\p{IsX} == RE2 \\p{X} — cross-engine agreement test-pinned),
    digits, spaces. Pure projections + one lang-keyed aggregate; exact
    integer sums and an integer-div micro ratio.
    """
    docs = _t(spark, sf_dir, "documents")

    def n(cls: str):
        return F.length(F.regexp_replace(F.col("text"), f"[^{cls}]", "")).cast("long")

    return (
        docs.select(
            "lang",
            F.length("text").cast("long").alias("__c"),
            n(r"\p{IsLatin}").alias("__lat"),
            n(r"\p{IsHan}").alias("__han"),
            n("0-9").alias("__dig"),
            n(" ").alias("__sp"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__c").alias("n_chars"),
            F.sum("__lat").alias("latin_chars"),
            F.sum("__han").alias("han_chars"),
            F.sum("__dig").alias("digit_chars"),
            F.sum("__sp").alias("space_chars"),
        )
        .withColumn(
            "latin_micro", F.expr("1000000 * latin_chars div n_chars")
        )
    )


register("text_script_profile", _script_profile_sql())(_script_profile)


# ===========================================================================
# Single-pass exact Pearson correlation matrix over lineitem numerics.
# ===========================================================================

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_matrix_sql() -> str:
    cols = _CORR_COLS
    dec = "DECIMAL(38,12)"
    sums = [f"count(*) AS n"]
    for c in cols:
        sums.append(f"sum(CAST({c} AS {dec})) AS s_{c}")
        sums.append(f"sum(CAST({c} * {c} AS {dec})) AS q_{c}")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    for a, b in pairs:
        sums.append(f"sum(CAST({a} * {b} AS {dec})) AS p_{a}_{b}")
    selects = []
    for a, b in pairs:
        selects.append(f"""
      SELECT '{a}' AS col_a, '{b}' AS col_b, n,
             CASE WHEN (CAST(n AS DOUBLE) * CAST(q_{a} AS DOUBLE)
                        - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE)) > 0
                   AND (CAST(n AS DOUBLE) * CAST(q_{b} AS DOUBLE)
                        - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)) > 0
                  THEN round((CAST(n AS DOUBLE) * CAST(p_{a}_{b} AS DOUBLE)
                              - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))
                             / sqrt((CAST(n AS DOUBLE) * CAST(q_{a} AS DOUBLE)
                                     - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))
                                    * (CAST(n AS DOUBLE) * CAST(q_{b} AS DOUBLE)
                                       - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE))), 6)
             END AS r
      FROM s"""
        )
    return (
        "WITH s AS (SELECT " + ", ".join(sums) + " FROM lineitem)"
        + " UNION ALL ".join(selects)
    )


register("qc_corr_matrix", _corr_matrix_sql())(
    lambda spark, sf_dir: profile.corr_matrix(
        _t(spark, sf_dir, "lineitem"), _CORR_COLS
    )
)


# ===========================================================================
# Leave-one-out target encoding — orders priority vs total price.
# ===========================================================================

register(
    "feat_target_encode_loo",
    """
    WITH per AS (SELECT o_orderpriority,
                        sum(CAST(o_totalprice AS DECIMAL(38,12))) AS s,
                        count(*) AS n
                 FROM orders GROUP BY 1)
    SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice,
           CASE WHEN n > 1
                THEN round(CAST(s - CAST(o.o_totalprice AS DECIMAL(38,12)) AS DOUBLE)
                           / CAST(n - 1 AS DOUBLE), 6)
           END AS loo_enc
    FROM orders o JOIN per USING (o_orderpriority)
    """,
)(
    lambda spark, sf_dir: prep.target_encode_loo(
        _t(spark, sf_dir, "orders"),
        cat_col="o_orderpriority",
        target_col="o_totalprice",
        id_col="o_orderkey",
    )
)


# ===========================================================================
# Per-source quantile normalization of document length — the
# bucketed-cumsum engine instead of a per-group row window.
# ===========================================================================

register(
    "qc_quantile_norm",
    """
    WITH pv AS (SELECT source, n_chars, count(*) AS c
                FROM documents GROUP BY 1, 2),
    cum AS (SELECT source, n_chars,
                   CAST(coalesce(sum(c) OVER (PARTITION BY source ORDER BY n_chars
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below,
                   CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
            FROM pv)
    SELECT d.doc_id, d.source, d.n_chars,
           CASE WHEN n > 1 THEN 1000000 * below // (n - 1) END AS pct_micro
    FROM documents d JOIN cum ON cum.source = d.source AND cum.n_chars = d.n_chars
    """,
)(
    lambda spark, sf_dir: profile.quantile_normalize_by_group(
        _t(spark, sf_dir, "documents"),
        value_col="n_chars",
        group_col="source",
        id_col="doc_id",
    )
)


# ===========================================================================
# Funnel conversion + cohort retention — ordered-event analytics.
# Pure timestamp comparisons and exact-integer count ratios.
# ===========================================================================

_FUNNEL_STEPS = ["view", "click", "purchase"]
_FUNNEL_HORIZON_H = 72


def _funnel_sql() -> str:
    steps, hh = _FUNNEL_STEPS, _FUNNEL_HORIZON_H
    blocks = [
        f"""
    s0 AS (SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_prev,
                  MIN(CAST(ts AS TIMESTAMP)) AS t0
           FROM events WHERE event_type = '{steps[0]}' GROUP BY user_id)"""
    ]
    for i, step in enumerate(steps[1:], start=1):
        blocks.append(
            f"""
    s{i} AS (SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_prev,
                    p.t0
             FROM events e JOIN s{i - 1} p ON p.user_id = e.user_id
             WHERE e.event_type = '{step}'
               AND CAST(e.ts AS TIMESTAMP) >= p.t_prev
               AND CAST(e.ts AS TIMESTAMP) <= p.t0 + INTERVAL '{hh} hours'
             GROUP BY e.user_id, p.t0)"""
        )
    unions = " UNION ALL ".join(
        f"SELECT {i} AS step_idx, '{s}' AS step, "
        f"(SELECT COUNT(*) FROM s{i}) AS users"
        for i, s in enumerate(steps)
    )
    return (
        "WITH" + ",".join(blocks) + f""",
    counts AS ({unions})
    SELECT c.step_idx, c.step, c.users,
           CASE WHEN p.users IS NULL THEN CAST(1.0 AS DOUBLE)
                WHEN p.users = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE c.users / p.users END AS conv_from_prev
    FROM counts c LEFT JOIN counts p ON p.step_idx = c.step_idx - 1
    """
    )


def _funnel_fn(spark, sf_dir):
    from diagnosisextraction_ml_spark.operators import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel.funnel_conversion(
        ev, _FUNNEL_STEPS, horizon_hours=_FUNNEL_HORIZON_H
    )


register("events_funnel_conversion", _funnel_sql())(_funnel_fn)


def _cohort_sql() -> str:
    return """
    WITH first AS (
      SELECT user_id, date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS act_week
      FROM events
    ), grid AS (
      SELECT cohort_week,
             CAST(date_diff('day', CAST(cohort_week AS DATE),
                            CAST(act_week AS DATE)) // 7 AS INTEGER)
               AS week_offset,
             COUNT(*) AS users
      FROM activity JOIN first USING (user_id)
      GROUP BY 1, 2
    ), sz AS (
      SELECT cohort_week, users AS cohort_size FROM grid WHERE week_offset = 0
    )
    SELECT CAST(g.cohort_week AS TIMESTAMP) AS cohort_week,
           g.week_offset, g.users,
           g.users / s.cohort_size AS retention
    FROM grid g JOIN sz s ON s.cohort_week = g.cohort_week
    """


def _cohort_fn(spark, sf_dir):
    from diagnosisextraction_ml_spark.operators import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel.cohort_retention(ev)


register("events_cohort_retention", _cohort_sql())(_cohort_fn)


# ===========================================================================
# Z-order (Morton) codes — the write-time clustering key, oracle-exact.
# The layout effect (files-opened pruning on both dimensions) is pinned
# by tests/test_zorder.py; this entry pins the bit arithmetic itself.
# ===========================================================================

def _zorder_entry() -> None:
    from diagnosisextraction_ml_spark.sources import zorder

    bits = zorder.ZBITS
    a_sql = f"user_id % {1 << bits}"
    b_sql = f"CAST(abs(floor(value)) AS BIGINT) % {1 << bits}"
    sql = f"""
    SELECT event_id,
           ({zorder.morton_code_sql(a_sql, b_sql, bits)}) AS z
    FROM events
    """

    def _fn(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        a = F.col("user_id") % F.lit(1 << bits)
        b = F.abs(F.floor(F.col("value"))).cast("long") % F.lit(1 << bits)
        return ev.select(
            "event_id", zorder.morton_code(a, b, bits).alias("z")
        )

    register("zorder_morton_codes", sql)(_fn)


_zorder_entry()


# ===========================================================================
# Text → SRP embedding → SemDeDup, end-to-end on raw documents.
# The SRP projection is integer-exact (tf·idf_micro·±1 sums), so the
# full chain — featurize, iterative k-means, within-cluster cosine —
# replays hash-exactly in the oracle. Injected exact dups project to
# identical vectors (cosine 1.0) and must come back is_dup=true.
# ===========================================================================

def _text_semdedup_entry(dim: int = 16, tau: float = 0.99) -> None:
    from diagnosisextraction_ml_spark.operators import dedup as _dd
    from diagnosisextraction_ml_spark.operators import similarity as _sim

    toks = tokenize_sql("lower(text)")
    sgn = md5_hash64_sql("concat(CAST(t.k AS VARCHAR), ':', w)")
    idf = (
        "CAST(round(CAST(1000000.0 AS DOUBLE) * "
        "(ln((CAST(1.0 AS DOUBLE) + CAST(n_docs AS DOUBLE)) "
        "/ (CAST(1.0 AS DOUBLE) + CAST(dfr AS DOUBLE))) "
        "+ CAST(1.0 AS DOUBLE)), 0) AS BIGINT)"
    )
    pre = f"""
    corpus2 AS ({_DUP_UNION_SQL}),
    srp_tc AS (SELECT doc_id, w, COUNT(*) AS c
               FROM (SELECT doc_id, unnest({toks}) AS w FROM corpus2)
               GROUP BY 1, 2),
    srp_df AS (SELECT w, COUNT(*) AS dfr FROM srp_tc GROUP BY 1),
    srp_n AS (SELECT COUNT(*) AS n_docs FROM corpus2),
    srp_w AS (SELECT doc_id, srp_tc.w, srp_tc.c * {idf} AS wt
              FROM srp_tc JOIN srp_df ON srp_df.w = srp_tc.w
              CROSS JOIN srp_n),
    srp_proj AS (SELECT doc_id, t.k, SUM(wt * (1 - 2 * ({sgn} % 2))) AS v
                 FROM srp_w CROSS JOIN range({dim}) t(k) GROUP BY 1, 2),"""
    emb_body = (
        "SELECT doc_id AS vec_id, list(CAST(v AS DOUBLE) ORDER BY k) AS ev "
        "FROM srp_proj GROUP BY doc_id"
    )
    # k=32, not 8: SemDeDup's k must scale with the corpus (clusters of
    # n/k vectors each pay C(n/k, 2) pair-scan rows — k=8 over the sf1
    # 55k-doc corpus meant ~190M in-cluster pairs and a 300s wall;
    # k=32 bounds the quadratic term 16× lower). Both engines use the
    # same k, so the oracle stays hash-exact.
    cte = _kmeans_assign_cte(k=32, iters=2, emb_body=emb_body)
    cte = cte.replace("WITH", "WITH" + pre, 1)
    cos_ab = (
        "list_dot_product(a.ev, b.ev)"
        " / (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev)))"
    )
    sql = (
        cte
        + f""",
    dup AS (
      SELECT DISTINCT a.vec_id
      FROM fin a JOIN fin b
        ON a.cidx = b.cidx AND a.vec_id > b.vec_id
      WHERE round({cos_ab}, 6) >= CAST({tau!r} AS DOUBLE)
    )
    SELECT f.vec_id, f.cidx AS cluster,
           (d.vec_id IS NOT NULL) AS is_dup
    FROM fin f LEFT JOIN dup d ON d.vec_id = f.vec_id
    """
    )

    def _fn(spark, sf_dir):
        corpus = _dup_union(spark, sf_dir)
        emb = _sim.srp_embed_text(corpus, dim=dim).withColumnRenamed(
            "doc_id", "vec_id"
        )
        # Materialize the featurization exactly once: k-means init +
        # iterations and the assignment pass would otherwise each
        # re-run the full SRP plan (the dominant cost of this pipeline
        # at sf1 — two evaluations ≈ 2/3 of its wall).
        return _dd.semantic_dedup(
            emb.localCheckpoint(), k=32, iters=2, tau=tau
        )

    register("pipeline_text_semdedup", sql)(_fn)


_text_semdedup_entry()


# ===========================================================================
# Bottom-k distinct sample — HLL-guided survivor filter, then exact
# rank among survivors. The oracle replays BOTH sketches end-to-end.
# ===========================================================================

def _bottomk_entry(k: int = 64, oversample: int = 4) -> None:
    from diagnosisextraction_ml_spark.operators import sketch

    m, rho_max, pow52, e_raw, e_lc, _ = _hll_parts()
    hv = md5_hash64_sql("CAST(user_id AS VARCHAR)")
    hll_cte = _hll_est_cte_body(
        "event_type AS event_type", "event_type", hv, m, rho_max, e_raw, e_lc
    )
    hspace = float(sketch._BK_HASH_SPACE)
    thr = (
        f"CAST(least(round(CAST({float(oversample * k)!r} AS DOUBLE) * "
        f"CAST({hspace!r} AS DOUBLE) / "
        f"CAST(greatest(hll_est, 1) AS DOUBLE), 0), "
        f"CAST({hspace!r} AS DOUBLE)) AS BIGINT)"
    )
    bk_est = (
        f"CAST(round(CASE WHEN n_sample < {k} THEN CAST(n_sample AS DOUBLE) "
        f"ELSE CAST({float(k - 1)!r} AS DOUBLE) * CAST({hspace!r} AS DOUBLE) "
        f"/ CAST(greatest(h_max, 1) AS DOUBLE) END, 0) AS BIGINT)"
    )
    sql = f"""
    WITH {hll_cte},
    thr AS (SELECT event_type, {thr} AS bk_thr FROM est),
    hashed AS (SELECT event_type, {hv} AS bk_hash FROM events),
    surv AS (SELECT DISTINCT hashed.event_type, bk_hash
             FROM hashed JOIN thr ON thr.event_type = hashed.event_type
             WHERE bk_hash <= bk_thr),
    ranked AS (SELECT event_type, bk_hash,
                      row_number() OVER (PARTITION BY event_type
                                         ORDER BY bk_hash) AS rn
               FROM surv),
    agg2 AS (SELECT event_type, COUNT(*) AS n_sample, MAX(bk_hash) AS h_max
             FROM ranked WHERE rn <= {k} GROUP BY 1),
    bk AS (SELECT event_type, {bk_est} AS bk_est FROM agg2)
    SELECT x.event_type, x.exact_distinct, bk.bk_est
    FROM (SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
          FROM events GROUP BY 1) x
    JOIN bk ON bk.event_type = x.event_type
    """

    def _fn(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        samp = sketch.bottomk_sample(
            ev, F.col("user_id").cast("string"), ["event_type"],
            k=k, oversample=oversample,
        )
        est = sketch.bottomk_distinct_estimate(samp, ["event_type"], k=k)
        exact = ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("exact_distinct")
        )
        return exact.join(est, ["event_type"]).select(
            "event_type", "exact_distinct", "bk_est"
        )

    register("sketch_bottomk_distinct", sql)(_fn)


_bottomk_entry()


# ===========================================================================
# Snapshot diff (CDC) — added/removed/changed between two keyed
# snapshots, with the exact changed-column list.
# ===========================================================================

def _snapshot_diff_entry() -> None:
    from diagnosisextraction_ml_spark.operators import upsert

    sql = """
    WITH snap_old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 13 <> 0
    ), snap_new AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 17 <> 0
    ), j AS (
      SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             o.o_orderkey IS NOT NULL AS in_old,
             n.o_orderkey IS NOT NULL AS in_new,
             list_filter([
               CASE WHEN NOT (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus)
                    THEN 'o_orderstatus' ELSE '' END,
               CASE WHEN NOT (o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
                    THEN 'o_totalprice' ELSE '' END
             ], x -> x != '') AS ch
      FROM snap_old o FULL OUTER JOIN snap_new n ON o.o_orderkey = n.o_orderkey
    )
    SELECT o_orderkey,
           CASE WHEN NOT in_old THEN 'added'
                WHEN NOT in_new THEN 'removed'
                ELSE 'changed' END AS change_type,
           CASE WHEN in_old AND in_new THEN array_to_string(ch, ',')
                ELSE '' END AS changed_cols
    FROM j
    WHERE NOT in_old OR NOT in_new OR len(ch) > 0
    """

    def _fn(spark, sf_dir):
        orders = _t(spark, sf_dir, "orders")
        old = orders.filter(F.col("o_orderkey") % 13 != 0).select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        new = orders.filter(F.col("o_orderkey") % 17 != 0).select(
            "o_orderkey",
            "o_orderstatus",
            F.when(
                F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + F.lit(10.0)
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        diff = upsert.snapshot_diff(
            old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
        )
        # ARRAY final flattened to a comma-joined string for the driver
        # hash (no green precedent for array finals; the changed-column
        # list is ordered deterministically by the operator)
        return diff.select(
            "o_orderkey",
            "change_type",
            F.array_join("changed_cols", ",").alias("changed_cols"),
        )

    register("upsert_snapshot_diff", sql)(_fn)


_snapshot_diff_entry()


# ===========================================================================
# Weighted sampling (Efraimidis-Spirakis) — quality-weighted corpus
# subsampling, md5-deterministic, micro-nat rank key.
# ===========================================================================

def _weighted_sample_entry(k: int = 50) -> None:
    from diagnosisextraction_ml_spark.operators import prep

    hv = md5_hash64_sql("CAST(doc_id AS VARCHAR)")
    sql = f"""
    SELECT doc_id, weight, es_score_micro FROM (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
             CAST(round(CAST(1000000.0 AS DOUBLE)
                 * ln(CAST(({hv}) + 1 AS DOUBLE) / CAST({float(1 << 60)!r} AS DOUBLE))
                 / CAST(n_chars AS DOUBLE), 0) AS BIGINT) AS es_score_micro
      FROM documents WHERE CAST(n_chars AS DOUBLE) > 0
    )
    ORDER BY es_score_micro DESC, doc_id ASC LIMIT {k}
    """

    def _fn(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        return prep.weighted_sample_es(docs, "n_chars", k=k)

    register("prep_weighted_sample_es", sql)(_fn)


_weighted_sample_entry()


# ===========================================================================
# PageRank — iterative graph kernel, exact-integer micro-unit ranks,
# unrolled-CTE oracle (same doctrine as the k-means IVF oracle).
# ===========================================================================

def _pagerank_sql(n_iter: int = 5, k: int = 20) -> str:
    parts = [
        """
    WITH arcs0 AS (
      SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM lineitem
    ), arcs AS (
      SELECT src, dst FROM arcs0 UNION SELECT dst, src FROM arcs0
    ), deg AS (
      SELECT src, count(*) AS deg FROM arcs GROUP BY src
    ), nodes AS (
      SELECT DISTINCT src AS node FROM arcs
    ), r0 AS (
      SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes
    )"""
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f""", r{i} AS (
      SELECT n.node,
             CAST(150000 + (85 * coalesce(i.s, 0)) // 100 AS BIGINT) AS rank_micro
      FROM nodes n LEFT JOIN (
        SELECT a.dst AS node, sum(r.rank_micro // d.deg) AS s
        FROM arcs a
        JOIN r{i-1} r ON a.src = r.node
        JOIN deg d ON a.src = d.src
        GROUP BY a.dst
      ) i ON n.node = i.node
    )"""
        )
    parts.append(
        f"""
    SELECT node,
           CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
           rank_micro
    FROM r{n_iter}
    ORDER BY rank_micro DESC, node ASC LIMIT {k}"""
    )
    return "".join(parts)


def _pagerank_entry(n_iter: int = 5, k: int = 20) -> None:
    from diagnosisextraction_ml_spark.operators import graph

    def _fn(spark, sf_dir):
        li = _t(spark, sf_dir, "lineitem")
        edges = li.select(
            (F.col("l_partkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        # symmetric=True: raw undirected edges go straight in — the
        # one-shuffle adjacency build dedups internally and the
        # iterations run exchange-free (bit-identical to the
        # symmetrize()+general-path plan; see _pagerank_symmetric)
        top = graph.pagerank_top(edges, n_iter=n_iter, k=k, symmetric=True)
        return top.select(
            "node",
            F.when(F.col("node") % 2 == 0, F.lit("part"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            "rank_micro",
        )

    register("graph_pagerank_top", _pagerank_sql(n_iter, k))(_fn)


_pagerank_entry()


# ===========================================================================
# Entity resolution — prefix blocking + Levenshtein verify (record
# linkage canopy pattern; in-bucket pair expansion, no self-join).
# ===========================================================================

def _er_entry(prefix_len: int = 16, max_dist: int = 1, max_block: int = 200) -> None:
    from diagnosisextraction_ml_spark.operators import joins

    sql = f"""
    WITH t AS (
      SELECT c_custkey AS id, c_name AS name,
             substring(c_name, 1, {prefix_len}) AS pfx
      FROM customer
    ), b AS (
      SELECT pfx, count(*) AS n FROM t GROUP BY pfx
    )
    SELECT a.id AS id_a, b2.id AS id_b,
           CAST(levenshtein(a.name, b2.name) AS INTEGER) AS dist
    FROM t a
    JOIN t b2 ON a.pfx = b2.pfx AND b2.id > a.id
    JOIN b ON a.pfx = b.pfx
    WHERE b.n BETWEEN 2 AND {max_block}
      AND levenshtein(a.name, b2.name) <= {max_dist}
    """

    def _fn(spark, sf_dir):
        cust = _t(spark, sf_dir, "customer")
        return joins.blocked_fuzzy_pairs(
            cust,
            id_col="c_custkey",
            name_col="c_name",
            block_cols=[],
            prefix_len=prefix_len,
            max_dist=max_dist,
            max_block=max_block,
        )

    register("er_blocked_pairs", sql)(_fn)


_er_entry()


# ===========================================================================
# SCD Type 2 — gaps-and-islands dimension history from a change feed.
# ===========================================================================

def _scd2_entry() -> None:
    from diagnosisextraction_ml_spark.operators import upsert

    sql = """
    WITH ord AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             CASE WHEN lag(o_orderpriority) OVER w IS NOT DISTINCT FROM o_orderpriority
                  THEN 0 ELSE 1 END AS chg
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ), runs0 AS (
      SELECT *,
             CAST(sum(chg) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
      FROM ord
    ), runs AS (
      SELECT o_custkey, run_id,
             min(o_orderpriority) AS o_orderpriority,
             min(o_orderdate) AS valid_from,
             CAST(count(*) AS BIGINT) AS n_obs
      FROM runs0 GROUP BY o_custkey, run_id
    )
    SELECT o_custkey, run_id, o_orderpriority, valid_from,
           lead(valid_from) OVER w2 AS valid_to,
           lead(valid_from) OVER w2 IS NULL AS is_current,
           n_obs
    FROM runs
    WINDOW w2 AS (PARTITION BY o_custkey ORDER BY run_id)
    """

    def _fn(spark, sf_dir):
        orders = _t(spark, sf_dir, "orders")
        return upsert.scd2_history(
            orders.select("o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"),
            key_cols=["o_custkey"],
            state_col="o_orderpriority",
            ts_col="o_orderdate",
            tiebreak_cols=["o_orderkey"],
        )

    register("scd2_order_priority", sql)(_fn)


_scd2_entry()


# ===========================================================================
# Trailing-window anomaly detection — exact-integer z-score test over
# the hourly event rollup ((n·x−S)² > k²·(n·Q−S²); no float variance).
# ===========================================================================

def _anomaly_entry(trailing: int = 24, min_points: int = 12, k: int = 3) -> None:
    from diagnosisextraction_ml_spark.operators import rollup as rollup_ops

    sql = f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), st AS (
      SELECT event_type, hr, cnt,
             sum(cnt) OVER w AS s,
             sum(cnt * cnt) OVER w AS q,
             CAST(count(*) OVER w AS BIGINT) AS n_win
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hr
                   RANGE BETWEEN {trailing - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, hr, cnt, n_win,
           CAST((n_win * cnt - s) * (n_win * cnt - s) AS DOUBLE) AS dev2,
           CAST({k * k} * (n_win * q - s * s) AS DOUBLE) AS bound,
           (n_win >= {min_points}
            AND (n_win * cnt - s) * (n_win * cnt - s)
                > {k * k} * (n_win * q - s * s)) AS is_anomaly
    FROM st
    """

    def _fn(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        hourly = ev.groupBy(
            "event_type",
            F.floor(F.col("ts").cast("long") / 3600).alias("hr"),
        ).agg(F.count(F.lit(1)).alias("cnt"))
        return rollup_ops.trailing_anomaly(
            hourly,
            key_cols=["event_type"],
            bucket_col="hr",
            value_col="cnt",
            trailing=trailing,
            min_points=min_points,
            k=k,
        )

    register("ts_anomaly_hourly", sql)(_fn)


_anomaly_entry()


# ===========================================================================
# Market-basket association rules + triangle counting over the same
# co-purchase graph; order-independent table checksums.
# ===========================================================================

def _assoc_entry(min_pair_support: int = 3, max_basket: int = 64, k: int = 100) -> None:
    from diagnosisextraction_ml_spark.operators import assoc

    sql = f"""
    WITH baskets AS (
      SELECT l_orderkey AS tx, list_sort(list(DISTINCT l_partkey)) AS items
      FROM lineitem GROUP BY l_orderkey
      HAVING len(list(DISTINCT l_partkey)) BETWEEN 2 AND {max_basket}
    ), n AS (
      SELECT CAST(count(*) AS BIGINT) AS n_tx FROM baskets
    ), ic AS (
      SELECT item, CAST(count(*) AS BIGINT) AS item_count
      FROM (SELECT unnest(items) AS item FROM baskets) GROUP BY 1
    ), pairs AS (
      SELECT a.item AS item_a, b.item AS item_b, CAST(count(*) AS BIGINT) AS pair_count
      FROM (SELECT tx, unnest(items) AS item FROM baskets) a
      JOIN (SELECT tx, unnest(items) AS item FROM baskets) b
        ON a.tx = b.tx AND b.item > a.item
      GROUP BY 1, 2
      HAVING count(*) >= {min_pair_support}
    ), directed AS (
      SELECT item_a AS antecedent, item_b AS consequent, pair_count FROM pairs
      UNION ALL
      SELECT item_b, item_a, pair_count FROM pairs
    )
    SELECT d.antecedent, d.consequent, d.pair_count,
           a.item_count AS ante_count, c.item_count AS cons_count, n.n_tx,
           (1000000 * d.pair_count) // a.item_count AS conf_micro,
           (1000000 * d.pair_count * n.n_tx) // (a.item_count * c.item_count)
             AS lift_micro
    FROM directed d
    JOIN ic a ON d.antecedent = a.item
    JOIN ic c ON d.consequent = c.item
    CROSS JOIN n
    ORDER BY d.pair_count DESC, conf_micro DESC, d.antecedent ASC, d.consequent ASC
    LIMIT {k}
    """

    def _fn(spark, sf_dir):
        li = _t(spark, sf_dir, "lineitem")
        rules = assoc.association_rules(
            li,
            tx_col="l_orderkey",
            item_col="l_partkey",
            min_pair_support=min_pair_support,
            max_basket=max_basket,
        )
        return rules.orderBy(
            F.desc("pair_count"),
            F.desc("conf_micro"),
            F.asc("antecedent"),
            F.asc("consequent"),
        ).limit(k)

    register("assoc_rules_pairs", sql)(_fn)


_assoc_entry()


def _triangle_entry(max_basket: int = 64) -> None:
    from diagnosisextraction_ml_spark.operators import assoc

    sql = f"""
    WITH baskets AS (
      SELECT l_orderkey AS tx, list_sort(list(DISTINCT l_partkey)) AS items
      FROM lineitem GROUP BY l_orderkey
      HAVING len(list(DISTINCT l_partkey)) BETWEEN 2 AND {max_basket}
    ), und AS (
      SELECT DISTINCT a.item AS u, b.item AS v
      FROM (SELECT tx, unnest(items) AS item FROM baskets) a
      JOIN (SELECT tx, unnest(items) AS item FROM baskets) b
        ON a.tx = b.tx AND b.item > a.item
    ), deg AS (
      SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT u AS n FROM und UNION ALL SELECT v FROM und
      ) GROUP BY n
    ), dag AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
      FROM und e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM dag e1 JOIN dag e2 ON e1.t = e2.s JOIN dag e3
      ON e3.s = e1.s AND e3.t = e2.t
    """

    def _fn(spark, sf_dir):
        li = _t(spark, sf_dir, "lineitem")
        edges = assoc.basket_pairs(
            li, tx_col="l_orderkey", item_col="l_partkey", max_basket=max_basket
        ).select(F.col("item_a").alias("src"), F.col("item_b").alias("dst"))
        return assoc.triangle_count(edges)

    register("graph_triangle_count", sql)(_fn)


_triangle_entry()


def _triangle_doulion_entry(
    max_basket: int = 64, keep_num: int = 1, keep_den: int = 4
) -> None:
    """DOULION sampled triangle estimate — the dense-graph scale path
    beside the exact graph_triangle_count (which stays the exact
    oracle). The md5-coin edge sampling is deterministic, so even the
    sampled count is replayed hash-exact by DuckDB."""
    from diagnosisextraction_ml_spark.functions.hashing import md5_hash64_sql
    from diagnosisextraction_ml_spark.operators import assoc

    coin = md5_hash64_sql("concat(u, ':', v)")
    scale_num, scale_den = keep_den**3, keep_num**3
    sql = f"""
    WITH baskets AS (
      SELECT l_orderkey AS tx, list_sort(list(DISTINCT l_partkey)) AS items
      FROM lineitem GROUP BY l_orderkey
      HAVING len(list(DISTINCT l_partkey)) BETWEEN 2 AND {max_basket}
    ), und AS (
      SELECT DISTINCT a.item AS u, b.item AS v
      FROM (SELECT tx, unnest(items) AS item FROM baskets) a
      JOIN (SELECT tx, unnest(items) AS item FROM baskets) b
        ON a.tx = b.tx AND b.item > a.item
    ), kept AS (
      SELECT u, v FROM und WHERE ({coin}) % {keep_den} < {keep_num}
    ), deg AS (
      SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT u AS n FROM kept UNION ALL SELECT v FROM kept
      ) GROUP BY n
    ), dag AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
      FROM kept e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n
    ), tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM dag e1 JOIN dag e2 ON e1.t = e2.s JOIN dag e3
        ON e3.s = e1.s AND e3.t = e2.t
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM kept) AS n_sampled_edges,
           n_triangles AS n_triangles_sampled,
           CAST(n_triangles * {scale_num} // {scale_den} AS BIGINT)
             AS n_triangles_est
    FROM tri
    """

    def _fn(spark, sf_dir):
        li = _t(spark, sf_dir, "lineitem")
        edges = assoc.basket_pairs(
            li, tx_col="l_orderkey", item_col="l_partkey", max_basket=max_basket
        ).select(F.col("item_a").alias("src"), F.col("item_b").alias("dst"))
        return assoc.triangle_count_sampled(
            edges, keep_num=keep_num, keep_den=keep_den
        )

    register("graph_triangle_doulion", sql)(_fn)


_triangle_doulion_entry()


def _checksum_entry() -> None:
    from diagnosisextraction_ml_spark.functions.hashing import md5_hash64
    from diagnosisextraction_ml_spark.operators import profile

    # canonical row renderings: ints/strings as-is, price as cents
    # (exact: TPC-H prices are 2-decimal), dates as epoch micros
    orders_expr = (
        "concat_ws('|', CAST(o_orderkey AS STRING), CAST(o_custkey AS STRING), "
        "o_orderstatus, CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS STRING), "
        "CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS STRING), o_orderpriority)"
    )
    orders_sql = (
        "concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR), "
        "o_orderstatus, CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR), "
        "CAST(CAST(epoch_us(o_orderdate) AS BIGINT) AS VARCHAR), o_orderpriority)"
    )
    docs_expr = (
        "concat_ws('|', CAST(doc_id AS STRING), text, lang, source, "
        "CAST(n_chars AS STRING))"
    )
    docs_sql = (
        "concat_ws('|', CAST(doc_id AS VARCHAR), text, lang, source, "
        "CAST(n_chars AS VARCHAR))"
    )
    h_o = md5_hash64_sql(orders_sql)
    h_d = md5_hash64_sql(docs_sql)
    sql = f"""
    SELECT 'orders' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
           coalesce(bit_xor({h_o}), 0) AS xor_checksum
    FROM orders
    UNION ALL
    SELECT 'documents', CAST(count(*) AS BIGINT),
           coalesce(bit_xor({h_d}), 0)
    FROM documents
    """

    def _fn(spark, sf_dir):
        orders = _t(spark, sf_dir, "orders")
        docs = _t(spark, sf_dir, "documents")
        a = profile.table_checksum(orders, "orders", md5_hash64(F.expr(orders_expr)))
        b = profile.table_checksum(docs, "documents", md5_hash64(F.expr(docs_expr)))
        return a.unionByName(b)

    register("qc_table_checksum", sql)(_fn)


_checksum_entry()


# ===========================================================================
# Boilerplate-sentence removal — C4/RefinedWeb-style recurring-sentence
# cut. The synthetic corpus has no punctuation, so the entry first
# sentence-ifies the text deterministically (a period every 5 words) —
# same transformation in both engines.
# ===========================================================================

def _boilerplate_entry(min_doc_freq: int = 3, min_chars: int = 10) -> None:
    from diagnosisextraction_ml_spark.operators import dedup as dedup_ops

    h_sent = md5_hash64_sql("sent")
    sql = f"""
    WITH d AS (
      SELECT doc_id AS id,
             regexp_extract_all(
               concat(regexp_replace(text, '(\\w+ \\w+ \\w+ \\w+ \\w+) ', '\\1. ', 'g'), '.'),
               '[^.!?]+[.!?]', 0) AS arr
      FROM documents
    ), s AS (
      SELECT id, unnest(range(0, len(arr))) AS pos, trim(unnest(arr)) AS sent
      FROM d
    ), hx AS (
      SELECT id, pos, sent, {h_sent} AS h FROM s
    ), bp AS (
      SELECT h FROM (
        SELECT h, count(*) AS doc_freq
        FROM (SELECT DISTINCT h, id FROM hx WHERE length(sent) >= {min_chars})
        GROUP BY h
      ) WHERE doc_freq >= {min_doc_freq}
    ), m AS (
      SELECT x.id, x.pos, x.sent,
             (bp.h IS NOT NULL AND length(x.sent) >= {min_chars}) AS drop_it
      FROM hx x LEFT JOIN bp ON x.h = bp.h
    )
    SELECT id,
           coalesce(
             array_to_string(list(sent ORDER BY pos) FILTER (WHERE NOT drop_it), ' '),
             '') AS kept_text,
           CAST(count(*) AS BIGINT) AS n_sentences,
           CAST(sum(CASE WHEN drop_it THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
    FROM m GROUP BY id
    """

    def _fn(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        sentenced = docs.select(
            "doc_id",
            F.regexp_replace(
                F.col("text"), "(\\w+ \\w+ \\w+ \\w+ \\w+) ", "$1. "
            ).alias("text"),
        )
        return dedup_ops.remove_boilerplate_sentences(
            sentenced, min_doc_freq=min_doc_freq, min_chars=min_chars
        )

    register("dedup_boilerplate_sentences", sql)(_fn)


_boilerplate_entry()


# ===========================================================================
# Per-key OLS trend (exact-integer covariance) + join-key skew profile.
# ===========================================================================

_HOUR_ANCHOR = 473352  # floor(epoch('2024-01-01') / 3600)


def _trend_entry() -> None:
    from diagnosisextraction_ml_spark.operators import rollup as rollup_ops

    sql = f"""
    WITH pts AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS HUGEINT) - {_HOUR_ANCHOR} AS x,
             CAST(round(value * 1000000, 0) AS HUGEINT) AS y
      FROM events
    ), s AS (
      SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM pts GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_points,
           CAST(CASE WHEN (n * sxy - sx * sy) < 0 THEN -1 ELSE 1 END
                * (abs(n * sxy - sx * sy) // (n * sxx - sx * sx))
                AS BIGINT) AS slope_micro
    FROM s WHERE (n * sxx - sx * sx) <> 0
    """

    def _fn(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        pts = ev.select(
            "event_type",
            (F.floor(F.col("ts").cast("long") / 3600) - _HOUR_ANCHOR).alias("x"),
            F.expr("CAST(round(value * 1000000, 0) AS BIGINT)").alias("y_micro"),
        )
        return rollup_ops.grouped_ols_trend(pts, ["event_type"], "x", "y_micro")

    register("ts_trend_ols", sql)(_fn)


_trend_entry()


def _skew_entry(k: int = 10) -> None:
    from diagnosisextraction_ml_spark.operators import profile

    sql = f"""
    WITH c AS (
      SELECT CAST(user_id AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ), s AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST((1000000 * max(cnt) * count(*)) // sum(cnt) AS BIGINT)
               AS skew_micro
      FROM c
    )
    SELECT c.key, c.cnt, s.n_rows, s.n_keys, s.skew_micro
    FROM c CROSS JOIN s
    ORDER BY c.cnt DESC, c.key ASC LIMIT {k}
    """

    def _fn(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        return profile.key_skew_profile(ev, "user_id", k=k)

    register("qc_key_skew_events", sql)(_fn)


_skew_entry()


# ===========================================================================
# HITS hubs/authorities — unrolled max-normalized integer iterations.
# ===========================================================================

def _hits_sql(n_iter: int = 3, k: int = 10) -> str:
    parts = [
        """
    WITH arcs AS (
      SELECT DISTINCT l_partkey AS src, l_suppkey AS dst FROM lineitem
    ), a0 AS (
      SELECT DISTINCT dst AS node, CAST(1000000 AS HUGEINT) AS score FROM arcs
    )"""
    ]
    prev_a = "a0"
    for i in range(1, n_iter + 1):
        parts.append(
            f""", h{i}r AS (
      SELECT a.src, sum(x.score) AS raw
      FROM arcs a JOIN {prev_a} x ON a.dst = x.node GROUP BY a.src
    ), h{i} AS (
      SELECT src AS node, (raw * 1000000) // (SELECT max(raw) FROM h{i}r) AS score
      FROM h{i}r
    ), a{i}r AS (
      SELECT a.dst, sum(h.score) AS raw
      FROM arcs a JOIN h{i} h ON a.src = h.node GROUP BY a.dst
    ), a{i} AS (
      SELECT dst AS node, (raw * 1000000) // (SELECT max(raw) FROM a{i}r) AS score
      FROM a{i}r
    )"""
        )
        prev_a = f"a{i}"
    parts.append(
        f"""
    SELECT role, node, score_micro FROM (
      SELECT 'hub' AS role, node, CAST(score AS BIGINT) AS score_micro
      FROM h{n_iter} ORDER BY score DESC, node ASC LIMIT {k}
    )
    UNION ALL
    SELECT role, node, score_micro FROM (
      SELECT 'authority' AS role, node, CAST(score AS BIGINT) AS score_micro
      FROM a{n_iter} ORDER BY score DESC, node ASC LIMIT {k}
    )"""
    )
    return "".join(parts)


def _hits_entry(n_iter: int = 3, k: int = 10) -> None:
    from diagnosisextraction_ml_spark.operators import graph

    def _fn(spark, sf_dir):
        li = _t(spark, sf_dir, "lineitem")
        edges = li.select(
            F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst")
        )
        return graph.hits_top(edges, n_iter=n_iter, k=k)

    register("graph_hits_top", _hits_sql(n_iter, k))(_fn)


_hits_entry()


# ===========================================================================
# Bloom-pruned semi-join — runtime row-level join filtering.
# ===========================================================================

def _bloom_join_entry() -> None:
    from diagnosisextraction_ml_spark.operators import sketch

    sql = """
    SELECT l_orderkey, l_suppkey, l_quantity
    FROM lineitem
    WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_nationkey < 3)
    """

    def _fn(spark, sf_dir):
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey", "l_quantity"
        )
        sup = _t(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 3)
        return sketch.bloom_semi_join(li, sup, "l_suppkey", "s_suppkey")

    register("join_bloom_semi", sql)(_fn)


_bloom_join_entry()


# ===========================================================================
# Log-binned quantile sketch over order prices (cents).
# ===========================================================================

def _logbin_quantile_entry() -> None:
    from diagnosisextraction_ml_spark.operators import sketch

    sql = """
    WITH vals AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v FROM orders
    ), e0 AS (
      SELECT v, CAST(floor(log2(CAST(greatest(v, 1) AS DOUBLE))) AS BIGINT) AS b
      FROM vals
    ), e1 AS (
      SELECT v,
             b - CASE WHEN pow(2.0, CAST(b AS DOUBLE)) > v THEN 1 ELSE 0 END
               + CASE WHEN pow(2.0, CAST(b + 1 AS DOUBLE)) <= v THEN 1 ELSE 0 END
               AS e
      FROM e0
    ), binned AS (
      SELECT CASE WHEN v >= 16 THEN e * 16 + ((v >> (e - 4)) - 16) ELSE v END AS bin_id,
             CASE WHEN v >= 16 THEN (v >> (e - 4)) << (e - 4) ELSE v END AS bin_lo,
             CASE WHEN v >= 16 THEN ((v >> (e - 4)) << (e - 4))
                  + (CAST(1 AS BIGINT) << (e - 4))
                  ELSE v + 1 END AS bin_hi
      FROM e1
    ), counts AS (
      SELECT bin_id, bin_lo, bin_hi, count(*) AS cnt FROM binned GROUP BY 1, 2, 3
    ), cum AS (
      SELECT *, sum(cnt) OVER (ORDER BY bin_id) AS cum, sum(cnt) OVER () AS tot
      FROM counts
    ), probes(p_num, p_den) AS (VALUES (1, 2), (9, 10), (99, 100))
    SELECT CAST(p_num AS BIGINT) AS p_num, CAST(p_den AS BIGINT) AS p_den,
           CAST((p_num * tot + p_den - 1) // p_den AS BIGINT) AS target_rank,
           bin_lo, bin_hi, CAST(cum AS BIGINT) AS cum_count
    FROM cum c CROSS JOIN probes p
    WHERE c.cum >= (p.p_num * tot + p.p_den - 1) // p.p_den
    QUALIFY row_number() OVER (PARTITION BY p_num, p_den ORDER BY bin_id) = 1
    """

    def _fn(spark, sf_dir):
        orders = _t(spark, sf_dir, "orders")
        vals = orders.select(
            F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").alias("cents")
        )
        return sketch.logbin_quantiles(vals, "cents")

    register("sketch_logbin_quantiles", sql)(_fn)


_logbin_quantile_entry()


# ===========================================================================
# HLL pairwise overlap (inclusion-exclusion over max-merged registers).
# ===========================================================================

def _hll_overlap_entry() -> None:
    from diagnosisextraction_ml_spark.operators import sketch

    m, rho_max, _, e_raw, e_lc, b0 = _hll_parts()
    hv = md5_hash64_sql("CAST(user_id AS VARCHAR)")
    est_case = (
        f"CAST(CASE WHEN {e_raw} <= {2.5 * m!r} AND ({m} - n_regs) > 0 "
        f"THEN {e_lc} ELSE round({e_raw}, 0) END AS BIGINT)"
    )
    sql = f"""
    WITH h AS (
      SELECT event_type, {hv} AS hv FROM events
    ), r AS (
      SELECT event_type, hv % {m} AS reg, hv // {m} AS w FROM h
    ), rk AS (
      SELECT event_type, reg,
        CASE WHEN w = 0 THEN {rho_max}
             ELSE {rho_max} - ({b0}
               - CASE WHEN pow(2.0, CAST({b0} AS DOUBLE)) > w THEN 1 ELSE 0 END
               + CASE WHEN pow(2.0, CAST({b0} + 1 AS DOUBLE)) <= w THEN 1 ELSE 0 END
               + 1)
        END AS rho
      FROM r
    ), regs AS (
      SELECT event_type, reg, MAX(rho) AS rho_max FROM rk GROUP BY ALL
    ), per_type AS (
      SELECT event_type,
             SUM(CAST(pow(2.0, 52 - rho_max) AS BIGINT)) AS s2_present,
             COUNT(*) AS n_regs
      FROM regs GROUP BY ALL
    ), est AS (
      SELECT event_type, {est_case} AS hll_est FROM per_type
    ), types AS (
      SELECT DISTINCT event_type FROM events
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM types a JOIN types b ON a.event_type < b.event_type
    ), members AS (
      SELECT type_a, type_b, type_a AS t FROM pairs
      UNION ALL SELECT type_a, type_b, type_b FROM pairs
    ), uregs AS (
      SELECT m2.type_a, m2.type_b, r2.reg, MAX(r2.rho_max) AS rho_max
      FROM members m2 JOIN regs r2 ON r2.event_type = m2.t
      GROUP BY ALL
    ), uagg AS (
      SELECT type_a, type_b,
             SUM(CAST(pow(2.0, 52 - rho_max) AS BIGINT)) AS s2_present,
             COUNT(*) AS n_regs
      FROM uregs GROUP BY ALL
    ), uest AS (
      SELECT type_a, type_b, {est_case} AS est_union FROM uagg
    )
    SELECT u.type_a, u.type_b, ea.hll_est AS est_a, eb.hll_est AS est_b,
           u.est_union, ea.hll_est + eb.hll_est - u.est_union AS overlap_est
    FROM uest u
    JOIN est ea ON u.type_a = ea.event_type
    JOIN est eb ON u.type_b = eb.event_type
    """

    def _fn(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        return sketch.hll_overlap_pairs(
            ev, F.col("user_id").cast("string"), "event_type"
        )

    register("sketch_hll_overlap", sql)(_fn)


_hll_overlap_entry()


# ===========================================================================
# Zipf-law exponent fit over the corpus vocabulary.
# ===========================================================================

def _zipf_entry(k: int = 500) -> None:
    sql = f"""
    WITH toks AS (
      SELECT unnest({tokenize_sql('lower(text)')}) AS word FROM documents
    ), topw AS (
      SELECT word, count(*) AS n FROM toks
      WHERE NOT list_contains({_sql_list(ENGLISH_STOPWORDS)}, word)
      GROUP BY word ORDER BY n DESC, word ASC LIMIT {k}
    ), ranked AS (
      SELECT row_number() OVER (ORDER BY n DESC, word ASC) AS rank, n FROM topw
    ), pts AS (
      SELECT CAST(round(1000000 * ln(CAST(rank AS DOUBLE)), 0) AS HUGEINT) AS x,
             CAST(round(1000000 * ln(CAST(n AS DOUBLE)), 0) AS HUGEINT) AS y
      FROM ranked
    ), s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_words,
           CAST(CASE WHEN (n * sxy - sx * sy) < 0 THEN -1 ELSE 1 END
                * ((1000000 * abs(n * sxy - sx * sy)) // (n * sxx - sx * sx))
                AS BIGINT) AS slope_micro
    FROM s WHERE (n * sxx - sx * sx) <> 0
    """

    def _fn(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        return textstats.zipf_slope(docs, "text", k=k, stopwords=ENGLISH_STOPWORDS)

    register("text_zipf_slope", sql)(_fn)


_zipf_entry()


# ===========================================================================
# Pairwise corpus KL divergence (add-1 smoothed unigram distributions).
# ===========================================================================

def _kl_entry() -> None:
    srcs = "('src0', 'src1', 'src2', 'src3')"
    sql = f"""
    WITH counts AS (
      SELECT source AS g, word, CAST(count(*) AS BIGINT) AS n
      FROM (
        SELECT source, unnest({tokenize_sql('lower(text)')}) AS word
        FROM documents WHERE source IN {srcs}
      ) GROUP BY 1, 2
    ), groups AS (
      SELECT DISTINCT g FROM counts
    ), pairs AS (
      SELECT a.g AS group_a, b.g AS group_b
      FROM groups a JOIN groups b ON a.g < b.g
    ), members AS (
      SELECT group_a, group_b, group_a AS g FROM pairs
      UNION ALL SELECT group_a, group_b, group_b FROM pairs
    ), vocab AS (
      SELECT m.group_a, m.group_b, c.word,
             sum(CASE WHEN c.g = m.group_a THEN c.n ELSE 0 END) AS a,
             sum(CASE WHEN c.g = m.group_b THEN c.n ELSE 0 END) AS b
      FROM members m JOIN counts c ON c.g = m.g
      GROUP BY 1, 2, 3
    ), totals AS (
      SELECT group_a, group_b,
             sum(a) + count(*) AS ta, sum(b) + count(*) AS tb,
             CAST(count(*) AS BIGINT) AS vocab_size
      FROM vocab GROUP BY 1, 2
    ), terms AS (
      SELECT v.group_a, v.group_b, t.vocab_size, t.ta, t.tb,
             (v.a + 1) * CAST(round(1000000 * ln((CAST(v.a + 1 AS DOUBLE) * CAST(t.tb AS DOUBLE))
               / (CAST(v.b + 1 AS DOUBLE) * CAST(t.ta AS DOUBLE))), 0) AS BIGINT) AS term_ab,
             (v.b + 1) * CAST(round(1000000 * ln((CAST(v.b + 1 AS DOUBLE) * CAST(t.ta AS DOUBLE))
               / (CAST(v.a + 1 AS DOUBLE) * CAST(t.tb AS DOUBLE))), 0) AS BIGINT) AS term_ba
      FROM vocab v JOIN totals t USING (group_a, group_b)
    ), summed AS (
      SELECT group_a, group_b, vocab_size, ta, tb,
             sum(term_ab) AS sab, sum(term_ba) AS sba
      FROM terms GROUP BY 1, 2, 3, 4, 5
    )
    SELECT group_a, group_b, vocab_size,
           CAST(CASE WHEN sab < 0 THEN -1 ELSE 1 END * (abs(sab) // ta) AS BIGINT)
             AS kl_ab_micro,
           CAST(CASE WHEN sba < 0 THEN -1 ELSE 1 END * (abs(sba) // tb) AS BIGINT)
             AS kl_ba_micro
    FROM summed
    """

    def _fn(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents").filter(
            F.col("source").isin("src0", "src1", "src2", "src3")
        )
        return textstats.corpus_kl_divergence(docs, "source", "text")

    register("text_kl_divergence", sql)(_fn)


_kl_entry()


# ===========================================================================
# Composed retrieval pipeline: BM25 candidates re-ranked by a
# distinctiveness blend (the two-stage retrieval shape used to curate
# RAG / training data: cheap recall stage -> re-rank stage).
# ===========================================================================

def _rerank_entry(n_cand: int = 20, k: int = 10) -> None:
    from diagnosisextraction_ml_spark.operators import search, textstats as ts_ops
    from pyspark.sql import Window

    from diagnosisextraction_ml_spark.operators.search import BM25_B as search_b
    from diagnosisextraction_ml_spark.operators.search import BM25_K1 as search_k1

    # candidate stage re-ranks the BM25 top-n_cand; the blend penalizes
    # generic documents (high mean token docfreq):
    # blend = 7·bm25 − 3·commonness, both micro ints.
    sql = f"""
    WITH tok AS (SELECT doc_id, unnest({tokenize_sql("coalesce(lower(text), '')")}) AS term FROM documents),
    postings AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM postings GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl),
    dfreq AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY 1),
    qt(query_id, term) AS (VALUES {", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)}),
    idf AS (
      SELECT query_id, qt.term,
        CAST(round(CAST(1000000.0 AS DOUBLE) * ln(
          (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
          / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)), 0) AS BIGINT)
          AS idf_micro
      FROM qt JOIN dfreq ON dfreq.term = qt.term CROSS JOIN stats
    ),
    scored AS (
      SELECT query_id, p.doc_id,
        CAST(round(
          (CAST(idf_micro AS DOUBLE)
             * (CAST(tf AS DOUBLE) * CAST({float(1.0 + search_k1)!r} AS DOUBLE)))
          / (CAST(tf AS DOUBLE) + CAST({float(search_k1)!r} AS DOUBLE) * (CAST({float(1.0 - search_b)!r} AS DOUBLE)
               + CAST({float(search_b)!r} AS DOUBLE) * (CAST(d.dl AS DOUBLE)
                   / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
        , 0) AS BIGINT) AS s
      FROM postings p
      JOIN idf ON idf.term = p.term
      JOIN dl d ON d.doc_id = p.doc_id
      CROSS JOIN stats
    ),
    agg AS (SELECT query_id, doc_id, CAST(SUM(s) AS BIGINT) AS score_micro
            FROM scored GROUP BY 1, 2),
    cand AS (
      SELECT query_id, doc_id, score_micro
      FROM (SELECT query_id, doc_id, score_micro,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score_micro DESC, doc_id) AS rnk
            FROM agg) r
      WHERE rnk <= {n_cand}
    ),
    dt AS (
      SELECT DISTINCT doc_id, token FROM (
        SELECT doc_id, unnest(list_distinct({tokenize_sql('lower(text)')})) AS token
        FROM documents)),
    tdf AS (SELECT token, count(*) AS token_docfreq FROM dt GROUP BY token),
    common AS (
      SELECT doc_id,
             CAST((1000000 * sum(token_docfreq)) // count(*) AS BIGINT) AS common_micro
      FROM dt JOIN tdf USING (token) GROUP BY doc_id
    ),
    blended AS (
      SELECT c.query_id, c.doc_id,
             7 * c.score_micro - 3 * m.common_micro AS blend_micro
      FROM cand c JOIN common m USING (doc_id)
    )
    SELECT query_id, CAST(rnk AS INTEGER) AS rerank, doc_id, blend_micro
    FROM (SELECT query_id, doc_id, blend_micro,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY blend_micro DESC, doc_id) AS rnk
          FROM blended) r
    WHERE rnk <= {k}
    """

    def _fn(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        cand = search.bm25_topk(docs, _BM25_QUERIES, k=n_cand).select(
            "query_id", "doc_id", "score_micro"
        )
        common = ts_ops.doc_commonness(docs).select(
            "doc_id",
            F.expr(
                "CAST((1000000 * sum_docfreq) DIV n_distinct_tokens AS BIGINT)"
            ).alias("common_micro"),
        )
        blended = cand.join(common, "doc_id").select(
            "query_id",
            "doc_id",
            (7 * F.col("score_micro") - 3 * F.col("common_micro")).alias(
                "blend_micro"
            ),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("blend_micro"), F.asc("doc_id")
        )
        return (
            blended.withColumn("rerank", F.row_number().over(w))
            .filter(F.col("rerank") <= k)
            .select("query_id", "rerank", "doc_id", "blend_micro")
        )

    register("pipeline_search_rerank", sql)(_fn)


_rerank_entry()


# ===========================================================================
# Per-group log-binned quantiles over event values (micro-units).
# ===========================================================================

def _grouped_logbin_entry() -> None:
    from diagnosisextraction_ml_spark.operators import sketch

    sql = """
    WITH vals AS (
      SELECT event_type, CAST(round(value * 1000000, 0) AS BIGINT) AS v FROM events
    ), e0 AS (
      SELECT event_type, v,
             CAST(floor(log2(CAST(greatest(v, 1) AS DOUBLE))) AS BIGINT) AS b
      FROM vals
    ), e1 AS (
      SELECT event_type, v,
             b - CASE WHEN pow(2.0, CAST(b AS DOUBLE)) > v THEN 1 ELSE 0 END
               + CASE WHEN pow(2.0, CAST(b + 1 AS DOUBLE)) <= v THEN 1 ELSE 0 END
               AS e
      FROM e0
    ), binned AS (
      SELECT event_type,
             CASE WHEN v >= 16 THEN e * 16 + ((v >> (e - 4)) - 16) ELSE v END AS bin_id,
             CASE WHEN v >= 16 THEN (v >> (e - 4)) << (e - 4) ELSE v END AS bin_lo,
             CASE WHEN v >= 16 THEN ((v >> (e - 4)) << (e - 4))
                  + (CAST(1 AS BIGINT) << (e - 4))
                  ELSE v + 1 END AS bin_hi
      FROM e1
    ), counts AS (
      SELECT event_type, bin_id, bin_lo, bin_hi, count(*) AS cnt
      FROM binned GROUP BY 1, 2, 3, 4
    ), cum AS (
      SELECT *,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY bin_id) AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS tot
      FROM counts
    ), probes(p_num, p_den) AS (VALUES (1, 2), (9, 10), (99, 100))
    SELECT event_type, CAST(p_num AS BIGINT) AS p_num, CAST(p_den AS BIGINT) AS p_den,
           CAST((p_num * tot + p_den - 1) // p_den AS BIGINT) AS target_rank,
           bin_lo, bin_hi, CAST(cum AS BIGINT) AS cum_count
    FROM cum c CROSS JOIN probes p
    WHERE c.cum >= (p.p_num * tot + p.p_den - 1) // p.p_den
    QUALIFY row_number() OVER (PARTITION BY event_type, p_num, p_den ORDER BY bin_id) = 1
    """

    def _fn(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        vals = ev.select(
            "event_type",
            F.expr("CAST(round(value * 1000000, 0) AS BIGINT)").alias("v_micro"),
        )
        return sketch.grouped_logbin_quantiles(vals, ["event_type"], "v_micro")

    register("sketch_logbin_by_type", sql)(_fn)


_grouped_logbin_entry()


# ===========================================================================
# Funnel conversion-latency percentiles (funnel chain × quantile sketch).
# ===========================================================================

def _funnel_latency_entry() -> None:
    from diagnosisextraction_ml_spark.operators import funnel as funnel_ops

    steps = _FUNNEL_STEPS
    blocks = [
        f"""
    s0 AS (SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_prev
           FROM events WHERE event_type = '{steps[0]}' GROUP BY user_id)"""
    ]
    lat_selects = []
    for i, step in enumerate(steps[1:], start=1):
        blocks.append(
            f"""
    s{i} AS (SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_prev, p.t_prev AS t_before
             FROM events e JOIN s{i - 1} p ON p.user_id = e.user_id
             WHERE e.event_type = '{step}'
               AND CAST(e.ts AS TIMESTAMP) >= p.t_prev
             GROUP BY e.user_id, p.t_prev)"""
        )
        lat_selects.append(
            f"SELECT {i} AS step_idx, '{step}' AS step, "
            f"CAST(floor(epoch(t_prev)) - floor(epoch(t_before)) AS BIGINT) AS v "
            f"FROM s{i}"
        )
    lats = " UNION ALL ".join(lat_selects)
    sql = (
        "WITH" + ",".join(blocks) + f""",
    vals AS ({lats}),
    e0 AS (
      SELECT step_idx, step, v,
             CAST(floor(log2(CAST(greatest(v, 1) AS DOUBLE))) AS BIGINT) AS b
      FROM vals
    ), e1 AS (
      SELECT step_idx, step, v,
             b - CASE WHEN pow(2.0, CAST(b AS DOUBLE)) > v THEN 1 ELSE 0 END
               + CASE WHEN pow(2.0, CAST(b + 1 AS DOUBLE)) <= v THEN 1 ELSE 0 END
               AS e
      FROM e0
    ), binned AS (
      SELECT step_idx, step,
             CASE WHEN v >= 16 THEN e * 16 + ((v >> (e - 4)) - 16) ELSE v END AS bin_id,
             CASE WHEN v >= 16 THEN (v >> (e - 4)) << (e - 4) ELSE v END AS bin_lo,
             CASE WHEN v >= 16 THEN ((v >> (e - 4)) << (e - 4))
                  + (CAST(1 AS BIGINT) << (e - 4))
                  ELSE v + 1 END AS bin_hi
      FROM e1
    ), counts AS (
      SELECT step_idx, step, bin_id, bin_lo, bin_hi, count(*) AS cnt
      FROM binned GROUP BY 1, 2, 3, 4, 5
    ), cum AS (
      SELECT *,
             sum(cnt) OVER (PARTITION BY step_idx, step ORDER BY bin_id) AS cum,
             sum(cnt) OVER (PARTITION BY step_idx, step) AS tot
      FROM counts
    ), probes(p_num, p_den) AS (VALUES (1, 2), (9, 10), (99, 100))
    SELECT step_idx, step,
           CAST(p_num AS BIGINT) AS p_num, CAST(p_den AS BIGINT) AS p_den,
           CAST((p_num * tot + p_den - 1) // p_den AS BIGINT) AS target_rank,
           bin_lo, bin_hi, CAST(cum AS BIGINT) AS cum_count
    FROM cum c CROSS JOIN probes p
    WHERE c.cum >= (p.p_num * tot + p.p_den - 1) // p.p_den
    QUALIFY row_number() OVER (PARTITION BY step_idx, step, p_num, p_den
                               ORDER BY bin_id) = 1
    """
    )

    def _fn(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        return funnel_ops.funnel_latency_quantiles(ev, steps)

    register("events_funnel_latency", sql)(_fn)


_funnel_latency_entry()


# ===========================================================================
# Peak concurrent sessions per day — sweep-line over sessionized events.
# ===========================================================================

_CONC_LO = 1704067200  # 2024-01-01 epoch sec (events window)
_CONC_HI = 1706745600  # 2024-02-01


def _concurrency_entry() -> None:
    from pyspark.sql import Window

    from diagnosisextraction_ml_spark.operators import rollup as rollup_ops

    sql = f"""
    WITH base AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsu FROM events
    ), flagged AS (
      SELECT user_id, event_id, tsu,
             CASE WHEN lag(tsu) OVER w IS NULL THEN 0
                  WHEN epoch_us(tsu) - epoch_us(lag(tsu) OVER w) > 1800000000 THEN 1
                  ELSE 0 END AS new_session
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
    ), sess AS (
      SELECT user_id, tsu,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY tsu, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    ), iv AS (
      SELECT user_id, session_id,
             CAST(floor(epoch(min(tsu))) AS BIGINT) AS s,
             CAST(floor(epoch(max(tsu))) AS BIGINT) AS e
      FROM sess GROUP BY 1, 2
    ), deltas AS (
      SELECT s AS sec, 1 AS d FROM iv
      UNION ALL SELECT e + 1, -1 FROM iv
      UNION ALL SELECT day * 86400, 0
                FROM generate_series({_CONC_LO // 86400}, {_CONC_HI // 86400}) AS t(day)
    ), net AS (
      SELECT sec, sum(d) AS nd FROM deltas GROUP BY 1
    ), cum AS (
      SELECT sec, sum(nd) OVER (ORDER BY sec) AS conc FROM net
    )
    SELECT sec // 86400 AS day_idx, CAST(max(conc) AS BIGINT) AS peak_concurrency
    FROM cum GROUP BY 1
    """

    def _fn(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        wc = w.rowsBetween(Window.unboundedPreceding, 0)
        gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
        flagged = ev.withColumn(
            "new_session",
            F.when(F.lag("ts").over(w).isNull(), F.lit(0))
            .when(gap > 1800 * 1_000_000, F.lit(1))
            .otherwise(F.lit(0)),
        )
        iv = (
            flagged.withColumn("session_id", F.sum("new_session").over(wc))
            .groupBy("user_id", "session_id")
            .agg(
                F.min("ts").cast("long").alias("s"),
                F.max("ts").cast("long").alias("e"),
            )
        )
        return rollup_ops.interval_concurrency_daily(
            iv, "s", "e", _CONC_LO, _CONC_HI
        )

    register("events_peak_concurrency", sql)(_fn)


_concurrency_entry()


# ===========================================================================
# Asymmetric containment pairs (quote / subset detection).
# ===========================================================================

def _containment_entry(
    n: int = 3, num: int = 4, den: int = 5, max_df: int = 1000
) -> None:
    from diagnosisextraction_ml_spark.operators import dedup as dedup_ops

    sql = f"""
    WITH dt AS (
      SELECT doc_id, {tokenize_sql('lower(text)')} AS t FROM documents
    ), sh AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, unnest({_ngrams_sql(n)}) AS shingle FROM dt)
      WHERE shingle != ''
    ), sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY 1
    ), allowed AS (
      SELECT shingle FROM (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
      WHERE df <= {max_df}
    ), shf AS (
      SELECT sh.doc_id, sh.shingle FROM sh JOIN allowed USING (shingle)
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_common
      FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_common,
           round(n_common * 1.0 / sa.sz, 6) AS containment_a,
           round(n_common * 1.0 / sb.sz, 6) AS containment_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE {den} * n_common >= {num} * sa.sz OR {den} * n_common >= {num} * sb.sz
    """

    def _fn(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        return dedup_ops.ngram_containment_pairs(
            docs, n=n, threshold_num=num, threshold_den=den, max_doc_freq=max_df
        )

    register("dedup_containment_pairs", sql)(_fn)


_containment_entry()


# ===========================================================================
# PMI collocations over a capped vocabulary.
# ===========================================================================

def _pmi_entry(k_vocab: int = 200, min_pair: int = 5, top_k: int = 100) -> None:
    sql = f"""
    WITH dt AS (
      SELECT DISTINCT doc_id AS doc, token FROM (
        SELECT doc_id, unnest(list_distinct({tokenize_sql('lower(text)')})) AS token
        FROM documents)
    ), nd AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
    ), vocab AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df_tok
      FROM dt GROUP BY token
      ORDER BY df_tok DESC, token ASC LIMIT {k_vocab}
    ), dtv AS (
      SELECT dt.doc, dt.token FROM dt JOIN vocab USING (token)
    ), pairs AS (
      SELECT a.token AS token_a, b.token AS token_b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM dtv a JOIN dtv b ON a.doc = b.doc AND b.token > a.token
      GROUP BY 1, 2 HAVING count(*) >= {min_pair}
    )
    SELECT token_a, token_b, n_ab,
           va.df_tok AS n_a, vb.df_tok AS n_b, nd.n_docs,
           CAST(round(1000000 * ln((CAST(n_ab AS DOUBLE) * CAST(nd.n_docs AS DOUBLE))
             / (CAST(va.df_tok AS DOUBLE) * CAST(vb.df_tok AS DOUBLE))), 0) AS BIGINT)
             AS pmi_micro
    FROM pairs
    JOIN vocab va ON va.token = token_a
    JOIN vocab vb ON vb.token = token_b
    CROSS JOIN nd
    ORDER BY pmi_micro DESC, token_a ASC, token_b ASC LIMIT {top_k}
    """

    def _fn(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        return textstats.pmi_token_pairs(
            docs, k_vocab=k_vocab, min_pair_docs=min_pair, top_k=top_k
        )

    register("text_pmi_pairs", sql)(_fn)


_pmi_entry()


# ===========================================================================
# Per-source Gopher scorecard (observability composition).
# ===========================================================================

def _scorecard_entry() -> None:
    from diagnosisextraction_ml_spark.operators import corpus_filters

    rules = [
        "ok_min_words", "ok_max_words", "ok_mean_word_len",
        "ok_symbol_ratio", "ok_bullet_lines", "ok_ellipsis_lines",
        "ok_alpha_words", "ok_stopwords",
    ]
    fails = ",\n           ".join(
        f"CAST(sum(CASE WHEN NOT {r} THEN 1 ELSE 0 END) AS BIGINT) AS fail_{r[3:]}"
        for r in rules
    )
    sql = f"""
    WITH g AS ({_gopher_sql()})
    SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN gopher_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST((1000000 * sum(CASE WHEN gopher_pass THEN 1 ELSE 0 END)) // count(*)
                AS BIGINT) AS pass_micro,
           {fails}
    FROM g JOIN documents d USING (doc_id)
    GROUP BY d.source
    """

    def _fn(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        return corpus_filters.gopher_source_scorecard(docs)

    register("qc_source_scorecard", sql)(_fn)


_scorecard_entry()


# ===========================================================================
# A/B two-proportion z-test (exact-rational inequality, z = 1.96).
# ===========================================================================

def _ab_test_entry() -> None:
    from diagnosisextraction_ml_spark.operators import experiment

    sql = experiment.two_proportion_test_sql("""
    u AS (
      SELECT user_id % 2 AS arm,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    )""")

    def _fn(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        units = (
            ev.groupBy("user_id")
            .agg(
                F.max((F.col("event_type") == "purchase").cast("int")).alias(
                    "converted"
                )
            )
            .select((F.col("user_id") % 2).alias("arm"), "converted")
        )
        return experiment.two_proportion_test(units)

    register("ab_proportion_test", sql)(_fn)


_ab_test_entry()


# ===========================================================================
# Sliding-window counts (1 h window, 15 min slide) — batch twin of the
# streaming windowed_event_counts(slide=...) path.
# ===========================================================================

def _sliding_entry() -> None:
    sql = """
    WITH e AS (
      SELECT event_type, value, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
    ), x AS (
      SELECT event_type, value, ((es // 900) - j) * 900 AS ws
      FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS j) t
    )
    SELECT make_timestamp(ws * 1000000) AS window_start,
           make_timestamp((ws + 3600) * 1000000) AS window_end,
           event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM x GROUP BY 1, 2, 3
    """

    def _fn(spark, sf_dir):
        # batch twin of streaming.windowed_event_counts(slide=...):
        # same window assignment, but the value sum is DECIMAL-exact so
        # the result is partitioning/order independent (the streaming
        # op's float sum is fine for monitoring, not for a hash gate —
        # same split as the stream_hourly_counts twin).
        ev = _t(spark, sf_dir, "events")
        win = F.window("ts", "1 hour", "15 minutes")
        return (
            ev.groupBy(win.alias("w"), F.col("event_type"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,6)"))
                .cast("double")
                .alias("total_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type",
                "n",
                "total_value",
            )
        )

    register("stream_sliding_counts", sql)(_fn)


_sliding_entry()


# ===========================================================================
# Per-user event-type transition matrix (first-order Markov counts).
# ===========================================================================

def _markov_entry() -> None:
    from pyspark.sql import Window

    sql = """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY CAST(ts AS TIMESTAMP), event_id)
               AS prev_type
      FROM events
    ), pairs AS (
      SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ), outdeg AS (
      SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_from FROM pairs GROUP BY 1
    )
    SELECT p.prev_type, p.next_type, p.n, o.n_from,
           CAST((1000000 * p.n) // o.n_from AS BIGINT) AS prob_micro
    FROM pairs p JOIN outdeg o USING (prev_type)
    """

    def _fn(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        seq = ev.withColumn("prev_type", F.lag("event_type").over(w))
        # localCheckpoint: the |event_types|²-row transition counts feed
        # BOTH the out-degree broadcast and the final probe — left lazy
        # the lag-window + aggregation (a full events pass + sort) ran
        # once per consumer (r15 plan audit: events scanned 2×).
        pairs = (
            seq.filter(F.col("prev_type").isNotNull())
            .groupBy("prev_type", F.col("event_type").alias("next_type"))
            .agg(F.count(F.lit(1)).alias("n"))
        ).localCheckpoint()
        outdeg = pairs.groupBy("prev_type").agg(F.sum("n").alias("n_from"))
        return pairs.join(F.broadcast(outdeg), "prev_type").select(
            "prev_type",
            "next_type",
            "n",
            "n_from",
            F.expr("1000000 * n div n_from").alias("prob_micro"),
        )

    register("events_markov_transitions", sql)(_fn)


_markov_entry()


# ===========================================================================
# Benford first-digit QC over order prices.
# ===========================================================================

def _benford_entry() -> None:
    import math

    # expected Benford mass per leading digit, micro-units, as exact
    # Python-computed literals shared by both engines (no runtime ln)
    exp_micro = {
        d: round(1_000_000 * math.log10(1 + 1 / d)) for d in range(1, 10)
    }
    cases_sql = " ".join(
        f"WHEN {d} THEN {m}" for d, m in exp_micro.items()
    )
    sql = f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
    ), counts AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM digits GROUP BY 1
    ), total AS (
      SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM counts
    )
    SELECT c.digit, c.n_obs, t.n_total,
           CAST((1000000 * c.n_obs) // t.n_total AS BIGINT) AS obs_micro,
           CAST(CASE c.digit {cases_sql} END AS BIGINT) AS benford_micro
    FROM counts c CROSS JOIN total t
    """

    def _fn(spark, sf_dir):
        orders = _t(spark, sf_dir, "orders")
        digits = orders.filter(F.col("o_totalprice") > 0).select(
            F.expr(
                "CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)"
                " AS STRING), 1, 1) AS BIGINT)"
            ).alias("digit")
        )
        # localCheckpoint: the ≤9-row digit counts feed both the total
        # broadcast and the final probe — left lazy the orders scan +
        # aggregation ran twice (same twice-consumed-aggregate pattern
        # as events_markov_transitions; r15).
        counts = digits.groupBy("digit").agg(
            F.count(F.lit(1)).alias("n_obs")
        ).localCheckpoint()
        total = counts.agg(F.sum("n_obs").alias("n_total"))
        bm = F.when(F.col("digit") == 1, F.lit(exp_micro[1]))
        for d in range(2, 10):
            bm = bm.when(F.col("digit") == d, F.lit(exp_micro[d]))
        return counts.crossJoin(F.broadcast(total)).select(
            "digit",
            "n_obs",
            "n_total",
            F.expr("1000000 * n_obs div n_total").alias("obs_micro"),
            bm.cast("long").alias("benford_micro"),
        )

    register("qc_benford_digits", sql)(_fn)


_benford_entry()


# ===========================================================================
# Robust per-group stats: median, MAD, and a robust outlier count.
# ===========================================================================

def _robust_entry() -> None:
    # 1.4826 (MAD -> sigma for a normal) and the 3-sigma cut enter as
    # the exact rational 3 * 14826/10000 = 44478/10000, applied by
    # integer-style cross-multiplication on exact-interpolated doubles
    # computed identically in both engines.
    sql = """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS median_val
      FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, e.value, m.median_val,
             abs(e.value - m.median_val) AS adev
      FROM events e JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad_val
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n,
           min(d.median_val) AS median_val,
           min(m.mad_val) AS mad_val,
           CAST(sum(CASE WHEN 10000 * d.adev > 44478 * m.mad_val
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """

    def _fn(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        # localCheckpoint the two per-event-type percentile tables
        # (each a handful of rows): med is consumed by BOTH dev passes
        # and mad by the final pass — left lazy, every broadcast
        # materialized its own scan→percentile subtree and the events
        # table was scanned 4× (r15 plan audit). With the tiny tables
        # pinned, the corpus is scanned twice — the MAD data flow's
        # floor (median must exist before deviations can aggregate).
        med = ev.groupBy("event_type").agg(
            F.expr("percentile(value, 0.5)").alias("median_val")
        ).localCheckpoint()
        dev = ev.join(F.broadcast(med), "event_type").select(
            "event_type",
            "value",
            "median_val",
            F.abs(F.col("value") - F.col("median_val")).alias("adev"),
        )
        mad = dev.groupBy("event_type").agg(
            F.expr("percentile(adev, 0.5)").alias("mad_val")
        ).localCheckpoint()
        return (
            dev.join(F.broadcast(mad), "event_type")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("median_val").alias("median_val"),
                F.min("mad_val").alias("mad_val"),
                F.sum(
                    F.when(
                        F.lit(10000) * F.col("adev")
                        > F.lit(44478) * F.col("mad_val"),
                        1,
                    ).otherwise(0)
                ).alias("n_outliers"),
            )
        )

    register("ts_robust_stats", sql)(_fn)


_robust_entry()


# ===========================================================================
# Kaplan-Meier survival over the events stream + top event paths —
# ordered-event analytics widening (round 8).
# ===========================================================================

def _km_entry() -> None:
    from diagnosisextraction_ml_spark.operators import experiment

    sql = """
    WITH subj AS (
      SELECT event_type AS grp,
             CAST(abs(floor(value * 10)) AS BIGINT) % 50 AS t,
             CASE WHEN event_id % 4 = 0 THEN 0 ELSE 1 END AS obs
      FROM events
    ),
    per AS (SELECT grp, t, CAST(sum(obs) AS BIGINT) AS d,
                   CAST(sum(1 - obs) AS BIGINT) AS c
            FROM subj GROUP BY grp, t),
    st AS (SELECT grp, t, d, c,
                  CAST(sum(d + c) OVER (PARTITION BY grp)
                       - coalesce(sum(d + c) OVER (
                           PARTITION BY grp ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS n_at_risk
           FROM per),
    ev AS (SELECT * FROM st WHERE d > 0)
    SELECT grp, t, n_at_risk, d, c AS censored,
           CASE WHEN min(n_at_risk - d) OVER w = 0 THEN 0
                ELSE CAST(round(exp(sum(
                       CASE WHEN n_at_risk > d
                            THEN ln(n_at_risk - d) - ln(n_at_risk) END) OVER w)
                     * 1000000) AS BIGINT) END AS survival_micro
    FROM ev WINDOW w AS (PARTITION BY grp ORDER BY t ROWS UNBOUNDED PRECEDING)
    """

    def _fn(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        subj = ev.select(
            F.col("event_type").alias("grp"),
            (F.abs(F.floor(F.col("value") * 10)).cast("long") % 50).alias("dur"),
            F.when(F.col("event_id") % 4 == 0, 0).otherwise(1).alias("obs"),
        )
        return experiment.kaplan_meier(subj, "dur", "obs", "grp")

    register("events_kaplan_meier", sql)(_fn)


_km_entry()


def _paths_entry(n: int = 3, k: int = 20) -> None:
    from diagnosisextraction_ml_spark.operators import funnel

    sql = f"""
    WITH seq AS (
      SELECT user_id AS u, list(event_type ORDER BY ts, event_id) AS types
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT u, array_to_string(types[t.i+1:t.i+{n}], '>') AS path
      FROM seq CROSS JOIN UNNEST(range(0, greatest(len(types) - {n - 1}, 0))) t(i)
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT u) AS BIGINT) AS n_users
    FROM g GROUP BY path
    ORDER BY n_occurrences DESC, path ASC LIMIT {k}
    """

    def _fn(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        return funnel.top_event_paths(ev, n=n, k=k)

    register("events_top_paths", sql)(_fn)


_paths_entry()


# ===========================================================================
# Temperature-scaled mixture weights (T5 examples-proportional mixing).
# ===========================================================================

def _temperature_entry(alpha: float = 0.7, target: int = 5000) -> None:
    sql = f"""
    WITH c AS (SELECT source AS grp, CAST(count(*) AS BIGINT) AS n
               FROM documents GROUP BY 1),
    w AS (SELECT grp, n, CAST(round(pow(n, {alpha}) * 1000000) AS BIGINT) AS wq
          FROM c),
    t AS (SELECT CAST(sum(wq) AS HUGEINT) AS tot FROM w)
    SELECT grp AS "group", n,
           CAST((1000000 * CAST(wq AS HUGEINT)) // tot AS BIGINT) AS weight_micro,
           CAST(least(CAST(1000000 AS HUGEINT),
                      (CAST({target} AS HUGEINT) * 1000000 * wq) // (tot * n))
                AS BIGINT) AS rate_micro
    FROM w CROSS JOIN t
    """

    def _fn(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        return prep.temperature_mixture_plan(
            docs.select("doc_id", "source"), "source", alpha=alpha, target_rows=target
        )

    register("prep_temperature_mixture", sql)(_fn)


_temperature_entry()


# ===========================================================================
# Distribution drift (PSI) + CUSUM level-shift detection — the two
# standard monitoring gates over a production corpus/stream.
# ===========================================================================

def _psi_entry(lo: float = 0.0, hi: float = 100.0, n_bins: int = 10) -> None:
    from diagnosisextraction_ml_spark.operators import profile as profile_ops

    width = (hi - lo) / n_bins
    bexpr = (
        f"least(greatest(CAST(floor((value - {lo}) / {width}) AS INT), 0), {n_bins - 1})"
    )
    sql = f"""
    WITH bp AS (SELECT {bexpr} AS bin, CAST(count(*) AS BIGINT) AS n_base
                FROM events WHERE event_id % 2 = 0 GROUP BY 1),
    bq AS (SELECT {bexpr} AS bin, CAST(count(*) AS BIGINT) AS n_curr
           FROM events WHERE event_id % 2 = 1 GROUP BY 1),
    grid AS (SELECT CAST(unnest(range({n_bins})) AS INT) AS bin),
    j AS (SELECT g.bin, coalesce(bp.n_base, 0) AS n_base,
                 coalesce(bq.n_curr, 0) AS n_curr
          FROM grid g LEFT JOIN bp USING (bin) LEFT JOIN bq USING (bin)),
    st AS (SELECT bin, n_base, n_curr, n_base + 1 AS a, n_curr + 1 AS b,
                  CAST(sum(n_base + 1) OVER () AS BIGINT) AS ta,
                  CAST(sum(n_curr + 1) OVER () AS BIGINT) AS tb
           FROM j)
    SELECT bin, n_base, n_curr,
           CAST(round((CAST(a AS DOUBLE) / ta - CAST(b AS DOUBLE) / tb)
                      * (ln(CAST(a AS DOUBLE)) - ln(CAST(ta AS DOUBLE))
                         - ln(CAST(b AS DOUBLE)) + ln(CAST(tb AS DOUBLE)))
                      * 1000000) AS BIGINT) AS psi_term_micro
    FROM st
    """

    def _fn(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        return profile_ops.psi_drift(
            ev.filter(F.col("event_id") % 2 == 0),
            ev.filter(F.col("event_id") % 2 == 1),
            "value",
            lo,
            hi,
            n_bins,
        )

    register("qc_psi_drift", sql)(_fn)


_psi_entry()


def _cusum_entry(threshold_micro: int = 20_000_000) -> None:
    from diagnosisextraction_ml_spark.operators import rollup as rollup_ops

    sql = f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type, hr, cnt,
             CAST(sum(cnt) OVER (PARTITION BY event_type) AS HUGEINT) AS tot,
             CAST(count(*) OVER (PARTITION BY event_type) AS HUGEINT) AS n
      FROM hourly
    ),
    dev AS (
      SELECT event_type, hr, cnt,
             1000000 * cnt - (1000000 * tot) // n AS d
      FROM st
    ),
    cum AS (
      SELECT event_type, hr, cnt,
             sum(d) OVER (PARTITION BY event_type ORDER BY hr
                          ROWS UNBOUNDED PRECEDING) AS s
      FROM dev
    ),
    run AS (
      SELECT event_type, hr, cnt, s,
             min(s) OVER w AS smin,
             max(s) OVER w AS smax
      FROM cum
      WINDOW w AS (PARTITION BY event_type ORDER BY hr ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_type, hr, cnt,
           CAST(s AS BIGINT) AS s_micro,
           CAST(s - least(0, smin) AS BIGINT) AS cusum_up_micro,
           CAST(greatest(0, smax) - s AS BIGINT) AS cusum_down_micro,
           s - least(0, smin) >= {threshold_micro} AS drift_up,
           greatest(0, smax) - s >= {threshold_micro} AS drift_down
    FROM run
    """

    def _fn(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        hourly = ev.groupBy(
            "event_type",
            F.floor(F.col("ts").cast("long") / 3600).alias("hr"),
        ).agg(F.count(F.lit(1)).alias("cnt"))
        return rollup_ops.cusum_drift(
            hourly,
            key_cols=["event_type"],
            bucket_col="hr",
            value_col="cnt",
            threshold_micro=threshold_micro,
        )

    register("ts_cusum_drift", sql)(_fn)


_cusum_entry()


# ===========================================================================
# Streaming CUSUM final state, batch replay — the driver-checkable twin
# of streaming/events.streaming_cusum_drift (whose parity otherwise
# rests on the stream-vs-replay pytest alone). Same output schema as
# the stateful op's last micro-batch row per key.
# ===========================================================================

def _stream_cusum_state_entry(
    mu_micro: int = 50_000_000, threshold_micro: int = 1_000_000_000
) -> None:
    from diagnosisextraction_ml_spark.streaming.events import cusum_drift_replay

    sql = f"""
    WITH d AS (
      SELECT CAST(event_type AS VARCHAR) AS key, ts, event_id,
             CAST(round(value * 1000000) AS BIGINT) - {mu_micro} AS dev
      FROM events
    ),
    cs AS (
      SELECT key, dev,
             CAST(sum(dev) OVER (PARTITION BY key ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s
      FROM d
    ),
    agg AS (
      SELECT key, CAST(count(*) AS BIGINT) AS n_seen,
             CAST(sum(dev) AS BIGINT) AS s_micro,
             CAST(min(s) AS BIGINT) AS smin,
             CAST(max(s) AS BIGINT) AS smax
      FROM cs GROUP BY key
    )
    SELECT key, n_seen, s_micro,
           s_micro - least(0, smin) AS cusum_up_micro,
           greatest(0, smax) - s_micro AS cusum_down_micro,
           s_micro - least(0, smin) >= {threshold_micro} AS drift_up,
           greatest(0, smax) - s_micro >= {threshold_micro} AS drift_down
    FROM agg
    """

    def _fn(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        return cusum_drift_replay(ev, mu_micro, threshold_micro)

    register("stream_cusum_state", sql)(_fn)


_stream_cusum_state_entry()


# ===========================================================================
# Cross-source duplicate-leakage matrix — which sources re-scraped
# which (and held-out contamination view). Dup-injected corpus keeps
# its source column, with the injected copies tagged 'recrawl'.
# ===========================================================================

def _dup_matrix_entry() -> None:
    from diagnosisextraction_ml_spark.operators import dedup as dedup_ops

    sql = f"""
    WITH corpus AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text, 'recrawl' AS source
      FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text, source
      FROM documents WHERE doc_id % 10 = 0
    ),
    fp AS (SELECT md5({normalize_ws_sql('text')}) AS fp,
                  source AS src
           FROM corpus),
    per AS (SELECT fp, src, CAST(count(*) AS BIGINT) AS n FROM fp GROUP BY 1, 2),
    pairs AS (
      SELECT a.src AS source_a, b.src AS source_b,
             CASE WHEN a.src = b.src THEN a.n * (a.n - 1) // 2
                  ELSE a.n * b.n END AS np
      FROM per a JOIN per b ON a.fp = b.fp AND a.src <= b.src
    )
    SELECT source_a, source_b, CAST(sum(np) AS BIGINT) AS n_dup_pairs,
           CAST(count(*) AS BIGINT) AS n_groups
    FROM pairs WHERE np > 0 GROUP BY 1, 2
    """

    def _fn(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
        tenth = docs.filter(F.col("doc_id") % 10 == 0)
        recrawl = tenth.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            "text",
            F.lit("recrawl").alias("source"),
        )
        same_src = tenth.select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text", "source"
        )
        return dedup_ops.cross_source_dup_matrix(
            docs.unionByName(recrawl).unionByName(same_src)
        )

    register("dedup_cross_source_matrix", sql)(_fn)


_dup_matrix_entry()


# ===========================================================================
# KS two-sample distance + WOE/IV feature screening — the nonparametric
# and supervised members of the drift/screening trio (with qc_psi_drift).
# ===========================================================================

def _ks_entry() -> None:
    from diagnosisextraction_ml_spark.operators import profile as profile_ops

    sql = """
    WITH t AS (
      SELECT value AS v,
             CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS a,
             CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END AS b
      FROM events
    ),
    per AS (SELECT v, CAST(sum(a) AS BIGINT) AS ca, CAST(sum(b) AS BIGINT) AS cb
            FROM t GROUP BY v),
    cum AS (SELECT v, sum(ca) OVER w AS cum_a, sum(cb) OVER w AS cum_b
            FROM per WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
    tot AS (SELECT CAST(sum(ca) AS HUGEINT) AS na, CAST(sum(cb) AS HUGEINT) AS nb
            FROM per)
    SELECT CAST(na AS BIGINT) AS n_base, CAST(nb AS BIGINT) AS n_curr,
           CAST((1000000 * abs(cum_a * nb - cum_b * na)) // (na * nb) AS BIGINT)
             AS ks_micro,
           v AS at_value
    FROM cum, tot
    ORDER BY ks_micro DESC, at_value ASC LIMIT 1
    """

    def _fn(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        return profile_ops.ks_distance(
            ev.filter(F.col("event_id") % 2 == 0).select("value"),
            ev.filter(F.col("event_id") % 2 == 1).select("value"),
            "value",
            value_range=(0.0, 350.0),
        )

    register("qc_ks_drift", sql)(_fn)


_ks_entry()


def _woe_entry(lo: float = 0.0, hi: float = 600.0, n_bins: int = 10) -> None:
    from diagnosisextraction_ml_spark.operators import profile as profile_ops

    width = (hi - lo) / n_bins
    bexpr = (
        f"least(greatest(CAST(floor((n_chars - {lo}) / {width}) AS INT), 0),"
        f" {n_bins - 1})"
    )
    sql = f"""
    WITH lab AS (SELECT {bexpr} AS bin,
                        CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y
                 FROM documents),
    per AS (SELECT bin, CAST(sum(y) AS BIGINT) AS n_pos,
                   CAST(sum(1 - y) AS BIGINT) AS n_neg
            FROM lab GROUP BY bin),
    grid AS (SELECT CAST(unnest(range({n_bins})) AS INT) AS bin),
    j AS (SELECT g.bin, coalesce(per.n_pos, 0) AS n_pos,
                 coalesce(per.n_neg, 0) AS n_neg
          FROM grid g LEFT JOIN per USING (bin)),
    st AS (SELECT bin, n_pos, n_neg, n_pos + 1 AS a, n_neg + 1 AS c,
                  CAST(sum(n_pos + 1) OVER () AS BIGINT) AS ta,
                  CAST(sum(n_neg + 1) OVER () AS BIGINT) AS tc
           FROM j)
    SELECT bin, n_pos, n_neg,
           CAST(round((ln(CAST(a AS DOUBLE)) - ln(CAST(ta AS DOUBLE))
                       - ln(CAST(c AS DOUBLE)) + ln(CAST(tc AS DOUBLE)))
                      * 1000000) AS BIGINT) AS woe_micro,
           CAST(round((CAST(a AS DOUBLE) / ta - CAST(c AS DOUBLE) / tc)
                      * (ln(CAST(a AS DOUBLE)) - ln(CAST(ta AS DOUBLE))
                         - ln(CAST(c AS DOUBLE)) + ln(CAST(tc AS DOUBLE)))
                      * 1000000) AS BIGINT) AS iv_term_micro
    FROM st
    """

    def _fn(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        lab = docs.select(
            "n_chars",
            F.when(F.col("doc_id") % 3 == 0, 1).otherwise(0).alias("y"),
        )
        return profile_ops.woe_iv(lab, "n_chars", "y", lo, hi, n_bins)

    register("qc_woe_iv", sql)(_fn)


_woe_entry()


# ===========================================================================
# CCNet-style perplexity bucketing (Wenzek et al. 2020): per-language
# head/middle/tail terciles by LM score — the classic quality split
# that decides which third of a crawl becomes training data.
# ===========================================================================

def _ccnet_tercile_sql() -> str:
    """The (already green) bigram-LM scoring CTEs + per-language exact
    tercile cutoffs (order statistics off a per-language window cumsum
    — ties resolve to the lower bucket in both engines) + the final
    per-(lang, bucket) accounting."""
    lm_sql = _lm_bigram_sql().strip().rstrip()
    return f"""
    WITH scored AS ({lm_sql}),
    s AS (
      SELECT d.lang, scored.doc_id,
             CAST(lp_sum // n_bigrams AS BIGINT) AS sm
      FROM scored JOIN documents d ON scored.doc_id = d.doc_id
      WHERE n_bigrams > 0
    ),
    per AS (SELECT lang, sm, CAST(count(*) AS BIGINT) AS n
            FROM s GROUP BY lang, sm),
    cum AS (SELECT lang, sm, n,
                   CAST(sum(n) OVER (PARTITION BY lang ORDER BY sm
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c,
                   CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS tot
            FROM per),
    cuts AS (SELECT lang,
                    min(CASE WHEN c >= (tot + 2) // 3 THEN sm END) AS c1,
                    min(CASE WHEN c >= (2 * tot + 2) // 3 THEN sm END) AS c2
             FROM cum GROUP BY lang),
    lab AS (
      SELECT s.lang,
             CASE WHEN s.sm <= cuts.c1 THEN 'tail'
                  WHEN s.sm <= cuts.c2 THEN 'middle'
                  ELSE 'head' END AS bucket,
             s.sm
      FROM s JOIN cuts ON s.lang = cuts.lang
    )
    SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(sm AS HUGEINT)) // count(*) AS BIGINT)
             AS mean_lp_micro
    FROM lab GROUP BY lang, bucket
    """


def _ccnet_terciles(spark, sf_dir):
    """head/middle/tail per language by bigram-LM score.

    Plan shape: the LM train+score plan (one pass over EN docs for
    counts, one over all docs to score) → per-(lang, score) counts →
    per-language window cumsum (partitioned, bounded by distinct
    scores per language — never corpus-global) → tercile cutoffs as
    exact order statistics (ceil(n/3) ranks; score quantized to
    integral micro-nats per bigram BEFORE ranking, so ties and cuts
    are bit-identical cross-engine) → broadcast cutoffs back onto the
    doc scores. Ref doctrine: Wenzek et al. 2020 §4.3 (CCNet), the
    per-language perplexity terciles.
    """
    from pyspark.sql import Window

    from diagnosisextraction_ml_spark.operators import lm

    docs = _t(spark, sf_dir, "documents")
    bigrams, unigrams = lm.fit_bigram_counts(docs.filter(F.col("lang") == "en"))
    # lang rides the scoring pass (carry_cols — functionally dependent
    # on doc_id, row-identical to the former join-back, one corpus
    # scan fewer); `s` feeds BOTH the tercile-cut aggregation and the
    # labeling pass, so left lazy each consumer re-ran the full
    # scoring pass (r16 plan audit: 4 document scans). localCheckpoint
    # materializes the narrow per-doc (lang, id, sm) rollup — the same
    # dsir/doremi scored-rollup discipline; plan after: 0 re-scans.
    scored = lm.score_bigram_logprob(docs, bigrams, unigrams, carry_cols=("lang",))
    s = (
        scored.filter(F.col("n_bigrams") > 0)
        .select("lang", "doc_id", F.expr("lp_sum div n_bigrams").alias("sm"))
        .localCheckpoint()
    )
    per = s.groupBy("lang", "sm").agg(F.count(F.lit(1)).alias("n"))
    w_run = (
        Window.partitionBy("lang")
        .orderBy(F.col("sm").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("lang").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.withColumn("c", F.sum("n").over(w_run)).withColumn(
        "tot", F.sum("n").over(w_all)
    )
    cuts = cum.groupBy("lang").agg(
        F.min(
            F.when(F.col("c") >= F.expr("(tot + 2) div 3"), F.col("sm"))
        ).alias("c1"),
        F.min(
            F.when(F.col("c") >= F.expr("(2 * tot + 2) div 3"), F.col("sm"))
        ).alias("c2"),
    )
    lab = s.join(F.broadcast(cuts), "lang").select(
        "lang",
        F.when(F.col("sm") <= F.col("c1"), F.lit("tail"))
        .when(F.col("sm") <= F.col("c2"), F.lit("middle"))
        .otherwise(F.lit("head"))
        .alias("bucket"),
        "sm",
    )
    return lab.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr(
            "CAST(sum(CAST(sm AS DECIMAL(38,0))) div count(*) AS BIGINT)"
        ).alias("mean_lp_micro"),
    )


register("pipeline_ccnet_buckets", _ccnet_tercile_sql())(_ccnet_terciles)


# ===========================================================================
# Hypertable staples: time-weighted average + LOCF gap filling over
# the irregular per-user event samples.
# ===========================================================================

def _twa_entry(max_span_hours: int = 24) -> None:
    from diagnosisextraction_ml_spark.operators import rollup as rollup_ops

    clamp = max_span_hours * 3600
    sql = f"""
    WITH s AS (
      SELECT user_id, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
             CAST(round(value * 1000000) AS BIGINT) AS vm
      FROM events
    ),
    nx AS (
      -- last-sample exclusion BEFORE the clamp: DuckDB's least()
      -- ignores NULLs (Spark's propagates), so clamping first would
      -- silently give tail samples an open-ended hold
      SELECT user_id, es AS s0,
             lead(es) OVER (PARTITION BY user_id ORDER BY es, vm) AS nxt,
             vm
      FROM s
      QUALIFY nxt IS NOT NULL AND nxt > es
    ),
    iv AS (
      SELECT user_id, s0, least(nxt, s0 + {clamp}) AS e0, vm FROM nx
    ),
    h AS (
      SELECT user_id, vm, s0, e0, CAST(u.h AS BIGINT) AS hour
      -- floor-division (toward -inf) like Spark's F.floor, not DuckDB's
      -- truncating `//`: the two disagree on pre-1970 negative epochs
      FROM iv CROSS JOIN UNNEST(range(
        (s0 - ((s0 % 3600) + 3600) % 3600) // 3600,
        ((e0 - 1) - (((e0 - 1) % 3600) + 3600) % 3600) // 3600 + 1)) u(h)
    ),
    per AS (
      SELECT user_id, hour,
             least(e0, (hour + 1) * 3600) - greatest(s0, hour * 3600) AS o,
             CAST(vm AS HUGEINT)
               * (least(e0, (hour + 1) * 3600) - greatest(s0, hour * 3600)) AS vo
      FROM h
    )
    SELECT user_id, hour, CAST(sum(o) AS BIGINT) AS covered_s,
           CAST(sum(vo) // sum(o) AS BIGINT) AS twa_micro
    FROM per GROUP BY user_id, hour
    """

    def _fn(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        return rollup_ops.time_weighted_avg_hourly(
            ev.select(F.col("user_id"), F.col("ts"), F.col("value")),
            key_cols=["user_id"],
            ts_col="ts",
            value_col="value",
            max_span_hours=max_span_hours,
        )

    register("ts_twa_hourly", sql)(_fn)


_twa_entry()


def _gapfill_entry() -> None:
    from diagnosisextraction_ml_spark.operators import rollup as rollup_ops

    sql = """
    WITH s AS (
      SELECT event_type, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
             CAST(round(value * 1000000) AS BIGINT) AS vm
      FROM events
    ),
    hourly AS (
      -- floor-division (toward -inf) like Spark's F.floor, not DuckDB's
      -- truncating `//`: the two disagree on pre-1970 negative epochs
      SELECT event_type,
             (es - ((es % 3600) + 3600) % 3600) // 3600 AS hour,
             vm AS value_obs
      FROM s
      QUALIFY row_number() OVER (
          PARTITION BY event_type, (es - ((es % 3600) + 3600) % 3600) // 3600
          ORDER BY es DESC, vm DESC) = 1
    ),
    span AS (SELECT event_type, min(hour) AS h0, max(hour) AS h1
             FROM hourly GROUP BY event_type),
    axis AS (SELECT event_type, CAST(u.h AS BIGINT) AS hour
             FROM span CROSS JOIN UNNEST(range(h0, h1 + 1)) u(h)),
    j AS (SELECT a.event_type, a.hour, hourly.value_obs
          FROM axis a LEFT JOIN hourly
            ON a.event_type = hourly.event_type AND a.hour = hourly.hour)
    SELECT event_type, hour,
           CAST(last_value(value_obs IGNORE NULLS) OVER (
                  PARTITION BY event_type ORDER BY hour
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS value_micro,
           value_obs IS NULL AS is_gap
    FROM j
    """

    def _fn(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        return rollup_ops.gapfill_locf_hourly(
            ev.select("event_type", "ts", "value"),
            key_cols=["event_type"],
            ts_col="ts",
            value_col="value",
        )

    register("ts_gapfill_locf", sql)(_fn)


_gapfill_entry()


# ===========================================================================
# Deterministic Poisson-bootstrap AUC confidence interval.
# ===========================================================================

def _auc_ci_entry(n_boot: int = 32, alpha: float = 0.05) -> None:
    from diagnosisextraction_ml_spark.operators.evaluate import _POISSON1_CDF

    h = md5_hash64_sql("concat(id, '|', CAST(b AS VARCHAR))")
    w_case = "CASE " + " ".join(
        f"WHEN u < {t!r} THEN {k}" for k, t in enumerate(_POISSON1_CDF)
    ) + f" ELSE {len(_POISSON1_CDF)} END"
    sql = f"""
    WITH base AS (
      SELECT CAST(vec_id AS VARCHAR) AS id,
             CAST(({md5_hash64_sql("concat(CAST(vec_id AS VARCHAR), 'curve')")} % 1000) AS DOUBLE) / 1000.0
               + (label % 2) * 0.3 AS s,
             CAST(label % 2 AS DOUBLE) AS y
      FROM embeddings),
    reps AS (SELECT id, s, y, CAST(u.b AS BIGINT) AS b
             FROM base CROSS JOIN UNNEST(range({n_boot})) u(b)),
    uw AS (SELECT b, s, y,
                  (({h} % 1000000) + 0.5) / 1000000.0 AS u
           FROM reps),
    ww AS (SELECT b, s, y, CAST({w_case} AS DOUBLE) AS w FROM uw),
    per AS (SELECT b, s, sum(w * y) AS pos, sum(w) AS cnt
            FROM ww GROUP BY b, s HAVING sum(w) > 0),
    ranked AS (SELECT b, s, pos, cnt,
                      sum(cnt) OVER (PARTITION BY b ORDER BY s
                                     ROWS UNBOUNDED PRECEDING) AS cum
               FROM per),
    r2 AS (SELECT b, pos, cnt, cum - (cnt - 1) / 2.0 AS avg_rank FROM ranked),
    aucs AS (SELECT b,
                    round((sum(avg_rank * pos) - sum(pos) * (sum(pos) + 1) / 2.0)
                          / (sum(pos) * sum(cnt - pos)), 6) AS auc
             FROM r2 GROUP BY b
             HAVING sum(pos) > 0 AND sum(cnt - pos) > 0),
    ord AS (SELECT auc, row_number() OVER (ORDER BY auc) AS i,
                   count(*) OVER () AS m
            FROM aucs)
    SELECT {n_boot} AS n_boot, CAST(max(m) AS BIGINT) AS n_effective,
           min(CASE WHEN i >= greatest(CAST(ceil(m * {alpha / 2}) AS BIGINT), 1)
                    THEN auc END) AS auc_lo,
           min(CASE WHEN i >= least(CAST(ceil(m * {1 - alpha / 2}) AS BIGINT), m)
                    THEN auc END) AS auc_hi
    FROM ord
    """

    def _fn(spark, sf_dir):
        emb = _t(spark, sf_dir, "embeddings")
        noise = (
            md5_hash64(F.concat(F.col("vec_id").cast("string"), F.lit("curve"))) % 1000
        ).cast("double") / 1000.0
        scored = emb.select(
            F.col("vec_id").alias("id"),
            (noise + (F.col("label") % 2) * 0.3).alias("score"),
            (F.col("label") % 2).alias("label"),
        )
        return evaluate.auc_bootstrap_ci(
            scored, "score", "label", "id", n_boot=n_boot, alpha=alpha
        )

    register("eval_auc_bootstrap_ci", sql)(_fn)


_auc_ci_entry()


# ===========================================================================
# Query-likelihood (Dirichlet) retrieval — second ranking model next
# to BM25, same query batch.
# ===========================================================================

def _qld_entry(k: int = 10) -> None:
    from diagnosisextraction_ml_spark.operators import search

    mu = float(search.QLD_MU)
    toks = tokenize_sql("coalesce(lower(text), '')")
    qvals = ", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)
    sql = f"""
    WITH tok AS (SELECT doc_id, unnest({toks}) AS term FROM documents),
    postings AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM postings GROUP BY 1),
    stats AS (SELECT SUM(dl) AS total_dl FROM dl),
    cfreq AS (SELECT term, SUM(tf) AS cf FROM postings GROUP BY 1),
    qt(query_id, term) AS (VALUES {qvals}),
    nq AS (SELECT query_id, COUNT(*) AS n_q FROM qt GROUP BY 1),
    matched AS (
      SELECT qt.query_id, p.doc_id, d.dl,
        CAST(round(CAST(1000000.0 AS DOUBLE) * ln(
          CAST(1.0 AS DOUBLE)
          + (CAST(tf AS DOUBLE) * CAST(total_dl AS DOUBLE))
            / (CAST({mu!r} AS DOUBLE) * CAST(cf AS DOUBLE))), 0) AS BIGINT) AS s
      FROM postings p
      JOIN qt ON qt.term = p.term
      JOIN cfreq ON cfreq.term = p.term
      JOIN dl d ON d.doc_id = p.doc_id
      CROSS JOIN stats
    ),
    per_doc AS (SELECT query_id, doc_id,
                       CAST(SUM(s) AS BIGINT) AS s_matched, MIN(dl) AS dl
                FROM matched GROUP BY 1, 2),
    scored AS (
      SELECT p.query_id, doc_id,
             s_matched + n_q * CAST(round(CAST(1000000.0 AS DOUBLE) * ln(
               CAST({mu!r} AS DOUBLE)
               / (CAST(dl AS DOUBLE) + CAST({mu!r} AS DOUBLE))), 0) AS BIGINT)
               AS score_micro
      FROM per_doc p JOIN nq ON nq.query_id = p.query_id
    )
    SELECT query_id, CAST(rnk AS INTEGER) AS rank, doc_id, score_micro
    FROM (SELECT query_id, doc_id, score_micro,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY score_micro DESC, doc_id) AS rnk
          FROM scored) r
    WHERE rnk <= {k}
    """

    def _fn(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        return search.qld_topk(docs, _BM25_QUERIES, k=k)

    register("search_qld_topk", sql)(_fn)


_qld_entry()


# ===========================================================================
# Hybrid retrieval: RRF fusion of the BM25 and QL rankers.
# ===========================================================================

def _rrf_entry(k: int = 10) -> None:
    from diagnosisextraction_ml_spark.operators import search

    from diagnosisextraction_ml_spark.plans.queries import _REGISTRY

    rk = float(search.RRF_K)
    bm25 = _REGISTRY["search_bm25_topk"][1]
    qld = _REGISTRY["search_qld_topk"][1]
    sql = f"""
    WITH bm25 AS ({bm25}),
    qld AS ({qld}),
    contrib AS (
      SELECT query_id, doc_id,
             CAST(round(CAST(1000000.0 AS DOUBLE)
                        / (CAST({rk!r} AS DOUBLE) + rank)) AS BIGINT) AS c
      FROM bm25
      UNION ALL
      SELECT query_id, doc_id,
             CAST(round(CAST(1000000.0 AS DOUBLE)
                        / (CAST({rk!r} AS DOUBLE) + rank)) AS BIGINT) AS c
      FROM qld
    ),
    fused AS (SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS rrf_micro
              FROM contrib GROUP BY 1, 2)
    SELECT query_id, CAST(rnk AS INTEGER) AS rank, doc_id, rrf_micro
    FROM (SELECT query_id, doc_id, rrf_micro,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY rrf_micro DESC, doc_id) AS rnk
          FROM fused) r
    WHERE rnk <= {k}
    """

    def _fn(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        return search.rrf_fuse(
            [
                search.bm25_topk(docs, _BM25_QUERIES, k=k),
                search.qld_topk(docs, _BM25_QUERIES, k=k),
            ],
            k=k,
        )

    register("pipeline_search_rrf", sql)(_fn)


_rrf_entry()


# ===========================================================================
# Per-document token entropy — gibberish/template detector.
# ===========================================================================

def _entropy_entry() -> None:
    toks = tokenize_sql("lower(text)")
    sql = f"""
    WITH tok AS (SELECT doc_id, unnest({toks}) AS t FROM documents),
    per AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c
            FROM tok WHERE t != '' GROUP BY doc_id, t),
    agg AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(CAST(round(CAST(1000000.0 AS DOUBLE) * c
                                 * ln(CAST(c AS DOUBLE))) AS BIGINT))
                  AS BIGINT) AS sclnc
      FROM per GROUP BY doc_id)
    SELECT doc_id, n_tokens, n_distinct,
           CAST(CAST(round(CAST(1000000.0 AS DOUBLE)
                           * ln(CAST(n_tokens AS DOUBLE))) AS BIGINT)
                - sclnc // n_tokens AS BIGINT) AS entropy_micro
    FROM agg
    """

    def _fn(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        return textstats.token_entropy(docs)

    register("text_token_entropy", sql)(_fn)


_entropy_entry()


# ===========================================================================
# NDCG@10 of the hybrid (RRF) ranking against hash-synthetic graded
# relevance — closes the retrieval loop: rank -> fuse -> measure.
# ===========================================================================

def _ndcg_entry(k: int = 10) -> None:
    import math

    from diagnosisextraction_ml_spark.operators import search

    disc_sql = "CASE " + " ".join(
        f"WHEN rank = {r} THEN {1.0 / math.log2(r + 1)!r}" for r in range(1, k + 1)
    ) + " ELSE NULL END"
    from diagnosisextraction_ml_spark.plans.queries import _REGISTRY

    rrf_sql = _REGISTRY["pipeline_search_rrf"][1]
    h = md5_hash64_sql("concat(query_id, '|', CAST(doc_id AS VARCHAR))")
    sql = f"""
    WITH ranked AS ({rrf_sql}),
    qd AS (SELECT d.doc_id, q.query_id
           FROM documents d CROSS JOIN (VALUES ('q1'), ('q2'), ('q3')) q(query_id)),
    rel AS (
      SELECT query_id, doc_id, CAST(({h} % 3) + 1 AS INT) AS rel
      FROM qd WHERE {h} % 20 = 0
    ),
    hits AS (
      SELECT r.query_id,
             CAST(round((pow(2.0, coalesce(rel.rel, 0)) - 1.0)
                        * ({disc_sql}) * 1000000) AS BIGINT) AS g
      FROM ranked r
      LEFT JOIN rel ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id
      WHERE r.rank <= {k}
    ),
    dcg AS (SELECT query_id, CAST(sum(g) AS BIGINT) AS dcg_micro
            FROM hits GROUP BY query_id),
    ideal_ranked AS (
      SELECT query_id, rel,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY rel DESC, doc_id ASC) AS rank
      FROM rel WHERE rel > 0
    ),
    idcg AS (
      SELECT query_id,
             CAST(sum(CAST(round((pow(2.0, rel) - 1.0) * ({disc_sql})
                                 * 1000000) AS BIGINT)) AS BIGINT) AS idcg_micro
      FROM ideal_ranked WHERE rank <= {k} GROUP BY query_id
    )
    SELECT dcg.query_id, dcg_micro,
           coalesce(idcg_micro, 0) AS idcg_micro,
           CASE WHEN coalesce(idcg_micro, 0) > 0
                THEN CAST((CAST(1000000 AS HUGEINT) * dcg_micro)
                          // idcg_micro AS BIGINT)
                ELSE NULL END AS ndcg_micro
    FROM dcg LEFT JOIN idcg ON idcg.query_id = dcg.query_id
    """

    def _fn(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        qd = docs.select(
            "doc_id",
            F.explode(
                F.array(*[F.lit(q) for q in ("q1", "q2", "q3")])
            ).alias("query_id"),
        )
        hh = md5_hash64(
            F.concat_ws("|", F.col("query_id"), F.col("doc_id").cast("string"))
        )
        rel = qd.select(
            "query_id",
            "doc_id",
            ((hh % 3) + 1).cast("int").alias("rel"),
            (hh % 20).alias("__m"),
        ).filter(F.col("__m") == 0).drop("__m")
        ranked = search.rrf_fuse(
            [
                search.bm25_topk(docs, _BM25_QUERIES, k=k),
                search.qld_topk(docs, _BM25_QUERIES, k=k),
            ],
            k=k,
        )
        return evaluate.ndcg_at_k(ranked, rel, k=k)

    register("eval_ndcg_rrf", sql)(_fn)


_ndcg_entry()


# ===========================================================================
# Gini coefficient of per-customer revenue — concentration QC.
# ===========================================================================

def _gini_entry() -> None:
    from diagnosisextraction_ml_spark.operators import profile as profile_ops

    sql = """
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM orders GROUP BY 1
    ),
    per AS (SELECT CAST(round(rev * 1000000) AS BIGINT) AS v,
                   CAST(count(*) AS BIGINT) AS c
            FROM rev GROUP BY 1),
    cum AS (SELECT v, c,
                   CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                        AS HUGEINT) AS cm,
                   CAST(sum(c) OVER () AS HUGEINT) AS n
            FROM per),
    agg AS (SELECT max(n) AS n,
                   sum(CAST(v AS HUGEINT)
                       * (CAST(c AS HUGEINT) * (cm - c)
                          + (CAST(c AS HUGEINT) * (c + 1)) // 2)) AS s1,
                   sum(CAST(v AS HUGEINT) * c) AS sx
            FROM cum)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(sx AS BIGINT) AS sum_micro,
           CAST(CASE WHEN sx > 0
                THEN (2000000 * s1 - 1000000 * (n + 1) * sx) // (n * sx)
                ELSE NULL END AS BIGINT) AS gini_micro
    FROM agg
    """

    def _fn(spark, sf_dir):
        orders = _t(spark, sf_dir, "orders")
        rev = orders.groupBy("o_custkey").agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("rev")
        )
        return profile_ops.gini_coefficient(rev, "rev", (0.0, 1e7))

    register("qc_gini_revenue", sql)(_fn)


_gini_entry()


# ===========================================================================
# Rolling active users (DAU / trailing 7-day WAU) over events.
# ===========================================================================

def _wau_entry(window_days: int = 7) -> None:
    from diagnosisextraction_ml_spark.operators import funnel

    sql = f"""
    WITH pairs AS (
      SELECT DISTINCT user_id AS u,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS d
      FROM events
    ),
    dau AS (SELECT d AS day, CAST(count(*) AS BIGINT) AS dau
            FROM pairs GROUP BY d),
    contrib AS (
      SELECT u, CAST(d + o.i AS BIGINT) AS day
      FROM pairs CROSS JOIN UNNEST(range({window_days})) o(i)
    ),
    rolling AS (SELECT day, CAST(count(DISTINCT u) AS BIGINT) AS rolling_active
                FROM contrib GROUP BY day)
    SELECT dau.day, dau, rolling_active
    FROM dau JOIN rolling ON rolling.day = dau.day
    """

    def _fn(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        return funnel.rolling_active_users(ev, window_days=window_days)

    register("events_rolling_active", sql)(_fn)


_wau_entry()


# ===========================================================================
# A/B test on an ORDERED funnel conversion (view -> later purchase):
# the funnel chain supplies the denominator/numerator per arm, the
# exact-rational two-proportion inequality decides significance.
# ===========================================================================

def _ab_funnel_entry() -> None:
    from diagnosisextraction_ml_spark.operators import experiment

    sql = experiment.two_proportion_test_sql("""
    v AS (
      SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t0
      FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    u AS (
      SELECT v.user_id % 2 AS arm,
             max(CASE WHEN e.event_type = 'purchase'
                       AND CAST(e.ts AS TIMESTAMP) >= v.t0
                      THEN 1 ELSE 0 END) AS converted
      FROM v LEFT JOIN events e ON e.user_id = v.user_id
      GROUP BY v.user_id
    )""")

    def _fn(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
            F.min("ts").alias("t0")
        )
        p = ev.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("t_ev")
        )
        units = (
            v.join(p, ["user_id"], "left")
            .groupBy("user_id")
            .agg(
                F.max(
                    F.when(F.col("t_ev") >= F.col("t0"), 1).otherwise(0)
                ).alias("converted")
            )
            .na.fill({"converted": 0})
            .select((F.col("user_id") % 2).alias("arm"), "converted")
        )
        return experiment.two_proportion_test(units)

    register("ab_funnel_conversion", sql)(_fn)


_ab_funnel_entry()


# ===========================================================================
# Bounce rate over gap-based sessions + RFM customer segmentation —
# two more recognizable analytics staples, both pure compositions.
# ===========================================================================

def _bounce_entry() -> None:
    sql = """
    WITH base AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsu FROM events
    ), flagged AS (
      SELECT user_id, event_id, tsu,
             CASE WHEN lag(tsu) OVER w IS NULL THEN 0
                  WHEN epoch_us(tsu) - epoch_us(lag(tsu) OVER w) > 1800000000 THEN 1
                  ELSE 0 END AS new_session
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
    ), sessions AS (
      SELECT user_id,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY tsu, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    ), per AS (
      SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events
      FROM sessions GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           CAST((1000000 * sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS bounce_rate_micro
    FROM per
    """

    def _fn(spark, sf_dir):
        from diagnosisextraction_ml_spark.plans.queries import events_sessionize

        sess = events_sessionize(spark, sf_dir)
        return sess.agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum((F.col("n_events") == 1).cast("long")).alias("n_bounces"),
        ).select(
            "n_sessions",
            "n_bounces",
            F.expr("1000000 * n_bounces div n_sessions").alias(
                "bounce_rate_micro"
            ),
        )

    register("events_bounce_rate", sql)(_fn)


_bounce_entry()


def _rfm_entry() -> None:
    """RFM segmentation: per-customer Recency/Frequency/Monetary tercile
    buckets (the classic CRM segmentation), counted per segment cell.

    Scale shape: the three dimensions UNPIVOT to (dim, value) rows so
    ONE per-dim window pass over per-(dim, value) COUNTS computes all
    tercile cutoffs (the ccnet order-statistic pattern — cutoffs are
    exact ceil(n/3) ranks, ties to the lower bucket); monetary is
    quantized to whole currency units so each dim's distinct-value
    relation stays bounded. Cutoffs broadcast back, buckets re-pivot
    with one groupBy(customer) max-per-dim, segments are one final
    count. Everything integer; hash-exact cross-engine."""
    sql = """
    WITH mx AS (SELECT max(CAST(o_orderdate AS TIMESTAMP)) AS mxd FROM orders),
    per AS (
      SELECT o_custkey,
             CAST(date_diff('day', max(CAST(o_orderdate AS TIMESTAMP)), (SELECT mxd FROM mx)) AS BIGINT) AS r,
             CAST(count(*) AS BIGINT) AS f,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2)))) AS BIGINT) AS m
      FROM orders GROUP BY o_custkey
    ),
    stacked AS (
      SELECT o_custkey, 'r' AS dim, r AS v FROM per
      UNION ALL SELECT o_custkey, 'f', f FROM per
      UNION ALL SELECT o_custkey, 'm', m FROM per
    ),
    perv AS (SELECT dim, v, CAST(count(*) AS BIGINT) AS c
             FROM stacked GROUP BY dim, v),
    cum AS (SELECT dim, v, c,
                   CAST(sum(c) OVER (PARTITION BY dim ORDER BY v
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cm,
                   CAST(sum(c) OVER (PARTITION BY dim) AS BIGINT) AS tot
            FROM perv),
    cuts AS (SELECT dim,
                    min(CASE WHEN cm >= (tot + 2) // 3 THEN v END) AS c1,
                    min(CASE WHEN cm >= (2 * tot + 2) // 3 THEN v END) AS c2
             FROM cum GROUP BY dim),
    lab AS (
      SELECT s.o_custkey, s.dim,
             1 + CASE WHEN s.v > cuts.c1 THEN 1 ELSE 0 END
               + CASE WHEN s.v > cuts.c2 THEN 1 ELSE 0 END AS b
      FROM stacked s JOIN cuts ON cuts.dim = s.dim
    ),
    piv AS (
      SELECT o_custkey,
             max(CASE WHEN dim = 'r' THEN b END) AS r_bucket,
             max(CASE WHEN dim = 'f' THEN b END) AS f_bucket,
             max(CASE WHEN dim = 'm' THEN b END) AS m_bucket
      FROM lab GROUP BY o_custkey
    )
    SELECT r_bucket, f_bucket, m_bucket,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM piv GROUP BY 1, 2, 3
    """

    def _fn(spark, sf_dir):
        from pyspark.sql import Window

        orders = _t(spark, sf_dir, "orders")
        mx = orders.agg(F.max("o_orderdate").alias("mxd"))
        per = (
            orders.groupBy("o_custkey")
            .agg(
                F.max("o_orderdate").alias("last"),
                F.count(F.lit(1)).alias("f"),
                F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 0)
                .cast("long")
                .alias("m"),
            )
            .crossJoin(F.broadcast(mx))
            .select(
                "o_custkey",
                F.datediff(
                    F.col("mxd").cast("date"), F.col("last").cast("date")
                ).cast("long").alias("r"),
                "f",
                "m",
            )
            # localCheckpoint: per feeds BOTH the tercile-cut
            # derivation and the labeling pass — left lazy the orders
            # scan + per-customer rollup ran twice (r15 plan audit: 4
            # orders scans; 2 after). One narrow row per customer.
            .localCheckpoint()
        )
        stacked = per.select(
            "o_custkey",
            F.explode(
                F.array(
                    F.struct(F.lit("r").alias("dim"), F.col("r").alias("v")),
                    F.struct(F.lit("f").alias("dim"), F.col("f").alias("v")),
                    F.struct(F.lit("m").alias("dim"), F.col("m").alias("v")),
                )
            ).alias("s"),
        ).select("o_custkey", F.col("s.dim").alias("dim"), F.col("s.v").alias("v"))
        perv = stacked.groupBy("dim", "v").agg(F.count(F.lit(1)).alias("c"))
        w_run = (
            Window.partitionBy("dim")
            .orderBy(F.col("v").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        w_all = Window.partitionBy("dim").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        cum = perv.withColumn("cm", F.sum("c").over(w_run)).withColumn(
            "tot", F.sum("c").over(w_all)
        )
        cuts = cum.groupBy("dim").agg(
            F.min(F.when(F.col("cm") >= F.expr("(tot + 2) div 3"), F.col("v"))).alias("c1"),
            F.min(F.when(F.col("cm") >= F.expr("(2 * tot + 2) div 3"), F.col("v"))).alias("c2"),
        )
        lab = stacked.join(F.broadcast(cuts), "dim").select(
            "o_custkey",
            "dim",
            (
                F.lit(1)
                + (F.col("v") > F.col("c1")).cast("int")
                + (F.col("v") > F.col("c2")).cast("int")
            ).alias("b"),
        )
        piv = lab.groupBy("o_custkey").agg(
            F.max(F.when(F.col("dim") == "r", F.col("b"))).alias("r_bucket"),
            F.max(F.when(F.col("dim") == "f", F.col("b"))).alias("f_bucket"),
            F.max(F.when(F.col("dim") == "m", F.col("b"))).alias("m_bucket"),
        )
        return piv.groupBy("r_bucket", "f_bucket", "m_bucket").agg(
            F.count(F.lit(1)).alias("n_customers")
        )

    register("rel_rfm_segments", sql)(_fn)


_rfm_entry()


# ===========================================================================
# Pareto share (top-decile revenue concentration) + hapax ratio
# (vocabulary health) — final round-8 composition pair.
# ===========================================================================

def _pareto_entry() -> None:
    """Revenue share of the top decile of customers. Tie convention
    (documented, engine-identical): the decile cutoff is the revenue
    value at rank ceil(n/10) from the top, and EVERY customer at or
    above that value counts as top — ties inflate the group rather
    than splitting it arbitrarily."""
    sql = """
    WITH rev AS (
      SELECT o_custkey,
             CAST(round(100 * sum(CAST(o_totalprice AS DECIMAL(18,2)))) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    perv AS (SELECT cents AS v, CAST(count(*) AS BIGINT) AS c FROM rev GROUP BY 1),
    cum AS (SELECT v, c,
                   CAST(sum(c) OVER (ORDER BY v DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cm,
                   CAST(sum(c) OVER () AS BIGINT) AS n
            FROM perv),
    cut AS (SELECT max(CASE WHEN cm >= (n + 9) // 10 THEN v END) AS c10, max(n) AS n
            FROM cum),
    agg AS (
      SELECT cut.n,
             CAST(sum(CASE WHEN rev.cents >= cut.c10 THEN 1 ELSE 0 END) AS BIGINT) AS top_n,
             CAST(sum(CASE WHEN rev.cents >= cut.c10 THEN CAST(rev.cents AS HUGEINT) ELSE 0 END) AS HUGEINT) AS top_cents,
             CAST(sum(CAST(rev.cents AS HUGEINT)) AS HUGEINT) AS all_cents
      FROM rev CROSS JOIN cut GROUP BY cut.n
    )
    SELECT CAST(n AS BIGINT) AS n_customers, top_n,
           CAST((1000000 * top_cents) // all_cents AS BIGINT) AS top_share_micro
    FROM agg
    """

    def _fn(spark, sf_dir):
        from diagnosisextraction_ml_spark.operators.evaluate import _bucketed_cumsum

        orders = _t(spark, sf_dir, "orders")
        # localCheckpoint: rev feeds BOTH the cutoff derivation (perv →
        # bucketed cumsum → cut) and the final share aggregate; left
        # lazy the orders scan+groupBy runs twice (measured ~1.5 s at
        # sf0.1, r15). The narrow (custkey, cents) relation is the
        # right thing to materialize at any scale.
        rev = orders.groupBy("o_custkey").agg(
            F.round(
                F.lit(100) * F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 0
            )
            .cast("long")
            .alias("cents")
        ).localCheckpoint()
        perv = rev.groupBy(F.col("cents").alias("v")).agg(
            F.count(F.lit(1)).alias("c")
        )
        # Running count over distinct revenue values DESC via the curve
        # engine's two-level bucketed cumsum (evaluate.py doctrine) — a
        # global-order window here would sort every distinct customer
        # revenue on one partition at scale. Buckets split on
        # log1p(cents) so the heavy-tailed revenue range balances
        # (range-clamping keeps the split order-correct; log1p is
        # strictly monotone, so per-bucket DESC order on it equals DESC
        # order on cents — ties impossible below ~1e14 cents).
        keyed = perv.withColumn("lv", F.log1p(F.col("v").cast("double")))
        cum = _bucketed_cumsum(
            keyed,
            "lv",
            {"c": "cm"},
            descending=True,
            n_buckets=1024,
            score_range=(0.0, 33.0),  # log1p(1e14 cents) ≈ 32.3
        )
        cut = cum.groupBy().agg(
            F.max(
                F.when(
                    F.col("cm") >= F.expr("(__tot_c + 9) div 10"), F.col("v")
                )
            ).alias("c10"),
            F.max("__tot_c").alias("n"),
        )
        agg = rev.crossJoin(F.broadcast(cut)).groupBy("n").agg(
            F.sum((F.col("cents") >= F.col("c10")).cast("long")).alias("top_n"),
            F.sum(
                F.when(F.col("cents") >= F.col("c10"), F.col("cents")).otherwise(0)
                .cast("decimal(38,0)")
            ).alias("top_cents"),
            F.sum(F.col("cents").cast("decimal(38,0)")).alias("all_cents"),
        )
        return agg.select(
            F.col("n").alias("n_customers"),
            "top_n",
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * top_cents"
                " div all_cents AS BIGINT)"
            ).alias("top_share_micro"),
        )

    register("rel_pareto_share", sql)(_fn)


_pareto_entry()


def _hapax_entry() -> None:
    """Hapax-legomena profile of the corpus vocabulary: how much of the
    vocabulary occurs exactly once (healthy natural text ≈ 40-60%;
    far lower means templated/duplicated corpus, far higher means
    noise/gibberish tokens)."""
    toks = tokenize_sql("lower(text)")
    sql = f"""
    WITH tok AS (SELECT unnest({toks}) AS t FROM documents),
    per AS (SELECT t, CAST(count(*) AS BIGINT) AS c
            FROM tok WHERE t != '' GROUP BY t)
    SELECT CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST((1000000 * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS hapax_vocab_micro,
           CAST((1000000 * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END))
                // sum(c) AS BIGINT) AS hapax_mass_micro
    FROM per
    """

    def _fn(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        per = (
            docs.select(F.explode(tokenize_expr(F.lower(F.col("text")))).alias("t"))
            .groupBy("t")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return per.agg(
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum((F.col("c") == 1).cast("long")).alias("n_hapax"),
            F.sum("c").alias("n_tokens"),
        ).select(
            "vocab_size",
            "n_hapax",
            "n_tokens",
            F.expr("1000000 * n_hapax div vocab_size").alias("hapax_vocab_micro"),
            F.expr("1000000 * n_hapax div n_tokens").alias("hapax_mass_micro"),
        )

    register("text_hapax_profile", sql)(_fn)


_hapax_entry()


# ===========================================================================
# DSIR — importance-resampling data selection (Xie et al. 2023)
# ===========================================================================

def _dsir_entries() -> None:
    """Hashed-ngram importance log-weights (target = lang='en' vs the
    full raw corpus) and the Gumbel top-k resample. The DuckDB twin
    replays the full fit→score→sample pipeline: same md5 buckets, same
    add-1 smoothing, same micro-nat quantization — sums are exact int64
    both sides; only the post-round LN values are IEEE doubles."""
    from diagnosisextraction_ml_spark.operators.dsir import DEFAULT_BUCKETS

    b = DEFAULT_BUCKETS
    toks = tokenize_sql("lower(text)")
    # grams = unigrams ∪ bigrams, one shared md5-bucket space.
    grams_cte = f"""
    t AS (SELECT doc_id, lang, {toks} AS toks FROM documents),
    uni AS (SELECT doc_id, lang, unnest(toks) AS gram FROM t WHERE len(toks) >= 1),
    bi AS (SELECT doc_id, lang, w1 || ' ' || w2 AS gram FROM (
      SELECT doc_id, lang,
             unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
             unnest(list_slice(toks, 2, len(toks))) AS w2
      FROM t WHERE len(toks) >= 2)),
    g AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
                 {md5_hash64_sql('gram')} % {b} AS bucket
          FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
    agg AS (SELECT bucket, SUM(tgt) AS t_n, COUNT(*) AS r_n FROM g GROUP BY bucket),
    tot AS (SELECT SUM(tgt) AS t_tot, COUNT(*) AS r_tot FROM g),
    w AS (SELECT bucket,
                 CAST(ROUND(1000000 * (LN(t_n + 1) - LN(t_tot + {b})
                                       - LN(r_n + 1) + LN(r_tot + {b}))) AS BIGINT)
                 AS ratio_micro
          FROM agg, tot),
    s AS (SELECT doc_id, COUNT(*) AS n_grams,
                 CAST(SUM(ratio_micro) AS BIGINT) AS logw_micro
          FROM g JOIN w USING (bucket) GROUP BY doc_id)"""

    weights_sql = f"""
    WITH {grams_cte}
    SELECT doc_id, n_grams, logw_micro, logw_micro / 1000000.0 AS logw
    FROM s
    """

    def _weights(spark, sf_dir):
        from diagnosisextraction_ml_spark.operators import dsir

        docs = _t(spark, sf_dir, "documents")
        labeled = docs.withColumn("tgt", (F.col("lang") == "en").cast("long"))
        ratios = dsir.fit_log_ratio(labeled, "tgt")
        return dsir.score_importance(docs, ratios)

    register("dsir_logratio_weights", weights_sql)(_weights)

    gumbel_h = md5_hash64_sql("concat('dsir|', CAST(doc_id AS VARCHAR))")
    topk_sql = f"""
    WITH {grams_cte},
    keyed AS (
      SELECT doc_id, logw_micro,
             CAST(ROUND(-1000000 * LN(-LN(({gumbel_h} + 0.5)
                        / 1152921504606846976.0))) AS BIGINT) AS gumbel_micro
      FROM s)
    SELECT doc_id, logw_micro, gumbel_micro,
           logw_micro + gumbel_micro AS key_micro
    FROM keyed
    ORDER BY key_micro DESC, doc_id
    LIMIT 100
    """

    def _topk(spark, sf_dir):
        from diagnosisextraction_ml_spark.operators import dsir

        docs = _t(spark, sf_dir, "documents")
        labeled = docs.withColumn("tgt", (F.col("lang") == "en").cast("long"))
        ratios = dsir.fit_log_ratio(labeled, "tgt")
        scores = dsir.score_importance(docs, ratios)
        return dsir.gumbel_topk(scores, 100).select(
            "doc_id", "logw_micro", "gumbel_micro", "key_micro"
        )

    register("dsir_gumbel_topk", topk_sql)(_topk)


_dsir_entries()


# ===========================================================================
# Winnowing fingerprints (Schleimer-Wilkerson-Aiken) + decontamination
# ===========================================================================

def _winnow_entries() -> None:
    """Window-min k-gram fingerprints and the benchmark-contamination
    overlap built on them. The packed ``hash40·2^22 + (2^22−1−pos)``
    integer makes "min hash, rightmost tie" a plain MIN in both
    engines; the twin replays the identical frame."""
    from diagnosisextraction_ml_spark.operators.winnow import (
        DEFAULT_K,
        DEFAULT_W,
        _POS_MOD,
        _HASH_MOD,
    )

    k, w = DEFAULT_K, DEFAULT_W
    fps_cte = f"""
    norm AS (
      SELECT doc_id,
             {normalize_ws_sql('lower(text)')} AS s
      FROM documents),
    base AS (
      SELECT doc_id, s, len(s) - {k - 1} AS n_grams
      FROM norm WHERE len(s) - {k - 1} >= 1),
    grams AS (
      SELECT doc_id, n_grams, pos,
             ({md5_hash64_sql(f'substr(s, CAST(pos AS INT), {k})')} % {_HASH_MOD})
               * {_POS_MOD} + ({_POS_MOD - 1} - pos) AS packed
      FROM base, unnest(range(1, CAST(n_grams AS BIGINT) + 1)) AS u(pos)),
    wins AS (
      SELECT doc_id, n_grams, pos,
             MIN(packed) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW)
               AS wmin
      FROM grams),
    fps AS (
      SELECT DISTINCT doc_id, wmin FROM wins
      WHERE pos >= LEAST({w}, n_grams)),
    fph AS (
      SELECT doc_id, wmin // {_POS_MOD} AS fp_hash,
             {_POS_MOD - 1} - (wmin % {_POS_MOD}) AS pos
      FROM fps)"""

    profile_sql = f"""
    WITH {fps_cte},
    counts AS (SELECT doc_id, COUNT(*) AS n_fp FROM fph GROUP BY doc_id)
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, n_fp,
           CAST((1000000 * n_fp) // n_grams AS BIGINT) AS density_micro
    FROM (SELECT DISTINCT doc_id, n_grams FROM base) JOIN counts USING (doc_id)
    """

    def _profile(spark, sf_dir):
        from diagnosisextraction_ml_spark.operators import winnow

        return winnow.winnow_profile(_t(spark, sf_dir, "documents"))

    register("text_winnow_fingerprints", profile_sql)(_profile)

    overlap_sql = f"""
    WITH {fps_cte},
    corpus AS (
      SELECT DISTINCT doc_id, fp_hash FROM fph WHERE doc_id % 10 != 0),
    bench AS (SELECT DISTINCT fp_hash FROM fph WHERE doc_id % 10 = 0),
    hits AS (
      SELECT doc_id, COUNT(*) AS n_hit
      FROM corpus JOIN bench USING (fp_hash) GROUP BY doc_id),
    totals AS (SELECT doc_id, COUNT(*) AS n_fp FROM corpus GROUP BY doc_id)
    SELECT doc_id, n_fp,
           CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
           CAST((1000000 * COALESCE(n_hit, 0)) // n_fp AS BIGINT)
             AS overlap_micro
    FROM totals LEFT JOIN hits USING (doc_id)
    """

    def _overlap(spark, sf_dir):
        from diagnosisextraction_ml_spark.operators import winnow

        docs = _t(spark, sf_dir, "documents")
        return winnow.winnow_contamination(
            docs.filter(F.col("doc_id") % 10 != 0),
            docs.filter(F.col("doc_id") % 10 == 0),
        )

    register("decontam_winnow_overlap", overlap_sql)(_overlap)


_winnow_entries()


# ===========================================================================
# Embedding Gram matrix + PCA projection (whitening prep for SemDeDup/ANN)
# ===========================================================================

register(
    "emb_gram_upper",
    """
    WITH q AS (
      SELECT list_transform(
               embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)
             ) AS q
      FROM embeddings)
    SELECT CAST(a.i - 1 AS BIGINT) AS i,
           CAST(b.i - 1 AS BIGINT) AS j,
           CAST(sum(q[a.i] * q[b.i]) AS BIGINT) AS sum_prod
    FROM q
    CROSS JOIN UNNEST(range(1, len(q) + 1)) a(i)
    CROSS JOIN UNNEST(range(1, len(q) + 1)) b(i)
    WHERE b.i >= a.i
    GROUP BY 1, 2
    """,
)(
    lambda spark, sf_dir: similarity.gram_matrix_quantized(
        _t(spark, sf_dir, "embeddings")
    )
)


# The registered projection serves FROZEN components (train-once/apply-
# everywhere, like the BPE merge table above): the offline trainer is
# similarity.pca_project's exact-integer-Gram eigh on the sf0.001
# embeddings, its sign-canonicalized eigenvectors quantized to
# round(c·1e6) ints (tools/freeze_artifacts.py). Both engines compute
# each pc as the exact INTEGER Σ round(x·1e6)·qc scaled by 1e12 —
# order-independent and hash-exact. Trainer-vs-frozen agreement is
# test-pinned (tests/test_similarity.py); the live-eigh path keeps its
# own Gram twin + numpy-parity tests.

def _pca_project(spark, sf_dir):
    from diagnosisextraction_ml_spark.plans.frozen_artifacts import (
        FIXED_PCA_COMPONENTS_Q,
    )

    return similarity.pca_project_frozen(
        _t(spark, sf_dir, "embeddings"), FIXED_PCA_COMPONENTS_Q
    )


def _pca_project_sql() -> str:
    from diagnosisextraction_ml_spark.plans.frozen_artifacts import (
        FIXED_PCA_COMPONENTS_Q,
    )

    pc_cols = ",\n           ".join(
        "round(CAST(list_sum(list_transform(range(1, len(qe) + 1), "
        f"i -> qe[i] * ({c!r}::BIGINT[])[i])) AS DOUBLE) "
        f"/ 1000000000000.0, 6) AS pc{j}"
        for j, c in enumerate(FIXED_PCA_COMPONENTS_Q)
    )
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qe
      FROM embeddings)
    SELECT vec_id,
           {pc_cols}
    FROM q
    """


register("emb_pca_project", _pca_project_sql())(_pca_project)


# ===========================================================================
# Last-touch attribution (conversion credit over the events stream)
# ===========================================================================

register(
    "events_attribution",
    """
    WITH t AS (
      SELECT event_type, value,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch
      FROM events)
    SELECT COALESCE(ch, '(none)') AS channel,
           count(*) AS n_conversions,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM t
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)(
    lambda spark, sf_dir: __import__(
        "diagnosisextraction_ml_spark.operators.funnel", fromlist=["funnel"]
    ).lasttouch_attribution(_t(spark, sf_dir, "events"))
)


# ===========================================================================
# Salted skew join — identity with the plain equi-join, by construction
# and by oracle: the twin is the UNSALTED join.
# ===========================================================================

register(
    "join_salted_events",
    """
    SELECT c.c_mktsegment AS segment, count(*) AS n_events,
           CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)(
    lambda spark, sf_dir: joins.salted_join(
        _t(spark, sf_dir, "events"),
        _t(spark, sf_dir, "customer"),
        "user_id",
        "c_custkey",
        salt_expr=F.col("event_id"),
        salts=8,
    )
    .groupBy(F.col("c_mktsegment").alias("segment"))
    .agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
    )
)


# ===========================================================================
# Linear multi-touch attribution — equal credit across prior touches.
# ===========================================================================

register(
    "events_attribution_linear",
    """
    WITH t AS (
      SELECT event_id, user_id, ts, event_type, value,
             CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 END) OVER w, 0) AS BIGINT) AS n_click,
             CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 END) OVER w, 0) AS BIGINT) AS n_view
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    conv AS (SELECT *, n_click + n_view AS k FROM t WHERE event_type = 'purchase'),
    credits AS (
      SELECT 'click' AS channel,
             CASE WHEN k > 0 THEN round(value * CAST(n_click AS DOUBLE) / CAST(k AS DOUBLE), 6)
                  ELSE 0.0 END AS credit,
             n_click > 0 AS keep
      FROM conv
      UNION ALL
      SELECT 'view',
             CASE WHEN k > 0 THEN round(value * CAST(n_view AS DOUBLE) / CAST(k AS DOUBLE), 6)
                  ELSE 0.0 END,
             n_view > 0
      FROM conv
      UNION ALL
      SELECT '(none)', CASE WHEN k = 0 THEN value ELSE 0.0 END, k = 0 FROM conv)
    SELECT channel, count(*) AS n_conversions,
           CAST(coalesce(sum(CAST(credit AS DECIMAL(18,6))), 0) AS DOUBLE) AS revenue
    FROM credits
    WHERE keep
    GROUP BY 1
    """,
)(
    lambda spark, sf_dir: funnel_ops.linear_attribution(
        _t(spark, sf_dir, "events")
    )
)


# ===========================================================================
# Seasonal-naive forecast backtest (MAPE per key over hourly sums).
# ===========================================================================

register(
    "ts_seasonal_naive",
    """
    WITH hourly AS (SELECT event_type AS key,
                           CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
                           sum(CAST(value AS DECIMAL(18,6))) AS actual
                    FROM events GROUP BY 1, 2),
    fc AS (SELECT key, h + 24 AS h, actual AS forecast FROM hourly),
    j AS (SELECT hourly.key,
                 round(CAST(abs(hourly.actual - fc.forecast) AS DOUBLE)
                       / abs(CAST(hourly.actual AS DOUBLE)), 6) AS ape
          FROM hourly JOIN fc ON hourly.key = fc.key AND hourly.h = fc.h
          WHERE hourly.actual <> 0)
    SELECT key, count(*) AS n_hours,
           CAST(sum(CAST(ape AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mape
    FROM j GROUP BY 1
    """,
)(
    lambda spark, sf_dir: rollup_ops.seasonal_naive_backtest(
        _t(spark, sf_dir, "events")
    )
)
