"""Byte-pair-encoding tokenizer — train at corpus scale, apply anywhere.

The brief's "token counting (BPE-ish regex)" escalated to the real
thing: classic BPE (Sennrich, Haddow & Birch 2016, "Neural Machine
Translation of Rare Words with Subword Units") learns a merge table
from word frequencies and tokenizes by replaying the merges. The split
of labor follows how production tokenizer training actually works:

- **Word counting is the corpus-scale part** — one map-side-combined
  ``groupBy`` over 100 TB of text. The resulting word-count table is
  Zipf-small; ``min_count`` (noise floor) and ``max_vocab`` bound the
  driver pull explicitly, and both caps are logged in the return value
  so truncation is never silent. The ``max_vocab`` cap is applied as a
  *count threshold* computed from the per-count histogram (Zipf-tiny),
  never as a global ``orderBy().limit()`` — so no
  TakeOrderedAndProject single-point merge at scale; ties at the
  boundary count are all kept (the cut is ``n >= cutoff``, so the
  result can slightly exceed ``max_vocab``).
- **Merge learning is inherently sequential** (each merge changes the
  pair statistics the next one sees), so it runs driver-side on the
  counts table — exactly like every reference implementation. The loop
  is *incremental* (pair→count deltas + a lazy-deletion heap + a
  pair→words index, as in production BPE trainers): each merge touches
  only the words that contain the merged pair, so total work is
  O(corpus-symbol churn), not O(vocab · merges). All ties break
  lexicographically → byte-deterministic merge lists on any cluster.
- **Application is embarrassingly parallel**: an Arrow-batched pandas
  UDF replays the merge ranks per word (the standard rank-greedy
  algorithm), with a per-batch dict word cache since Zipf means most
  words repeat within a batch.

End-of-word is marked with the ``</w>`` sentinel on the last symbol,
as in the paper; detokenization is ``"".join(tokens).replace("</w>",
" ")``.
"""

from __future__ import annotations

import heapq

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from diagnosisextraction_ml_spark.functions.text import tokenize_expr

EOW = "</w>"


# ---------------------------------------------------------------------------
# Pure core (driver-side, deterministic)
# ---------------------------------------------------------------------------

def _word_symbols(word: str) -> tuple[str, ...]:
    if not word:
        return ()
    chars = list(word)
    chars[-1] = chars[-1] + EOW
    return tuple(chars)


def _merge_symbols(sym: list[str], a: str, b: str, merged: str) -> list[str]:
    """Left-to-right single pass replacing every adjacent (a, b) with
    ``merged`` — the paper's replacement rule (non-overlapping, so
    'aaa' with pair (a,a) becomes ['aa', 'a'])."""
    out: list[str] = []
    i = 0
    n = len(sym)
    while i < n:
        if i + 1 < n and sym[i] == a and sym[i + 1] == b:
            out.append(merged)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return out


def learn_bpe_from_counts(
    word_counts: dict[str, int], n_merges: int
) -> list[tuple[str, str]]:
    """Classic BPE merge learning over a {word: count} table
    (Sennrich, Haddow & Birch 2016), incremental variant.

    Each step merges the most frequent adjacent symbol pair (count
    weighted by word frequency; ties broken lexicographically so the
    result is deterministic), for ``n_merges`` steps or until no pair
    repeats.

    Instead of re-scanning the whole vocab per merge (O(vocab·merges)),
    this maintains:

    - ``pair_counts``: pair → weighted occurrence count, updated by
      delta only for words the merge actually rewrote;
    - ``where``: pair → set of word ids containing the pair, so a merge
      touches only its own words;
    - a lazy-deletion max-heap of ``(-count, pair)`` entries. Every
      count change pushes a fresh entry; stale entries are discarded on
      pop by checking against the live ``pair_counts`` value. Tuple
      ordering gives max-count-then-lexicographically-smallest — the
      same selection rule as the naive argmin over ``(-count, pair)``.

    Total work is proportional to symbol churn (each rewritten word's
    local pairs), which is what production BPE trainers do; a 32k-merge
    table over a 1M-word vocab is minutes, not days.
    """
    # Collapse to symbol sequences (words that normalize to the same
    # sequence pool their counts, matching the naive dict-keyed vocab).
    agg: dict[tuple[str, ...], int] = {}
    for w, c in word_counts.items():
        sym = _word_symbols(w)
        if sym:
            agg[sym] = agg.get(sym, 0) + int(c)
    syms: list[list[str]] = [list(s) for s in agg.keys()]
    cnts: list[int] = list(agg.values())

    pair_counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for wi, (s, c) in enumerate(zip(syms, cnts)):
        for p in zip(s, s[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + c
            where.setdefault(p, set()).add(wi)

    heap: list[tuple[int, tuple[str, str]]] = [
        (-c, p) for p, c in pair_counts.items()
    ]
    heapq.heapify(heap)

    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges and heap:
        negc, best = heapq.heappop(heap)
        cur = pair_counts.get(best, 0)
        if cur != -negc:
            continue  # stale entry — the live count was pushed later
        if cur < 2:
            break  # nothing repeats — further merges are noise
        merges.append(best)
        merged = best[0] + best[1]
        a, b = best
        for wi in sorted(where.get(best, ())):
            s = syms[wi]
            c_w = cnts[wi]
            old_pairs: dict[tuple[str, str], int] = {}
            for p in zip(s, s[1:]):
                old_pairs[p] = old_pairs.get(p, 0) + 1
            new_s = _merge_symbols(s, a, b, merged)
            syms[wi] = new_s
            new_pairs: dict[tuple[str, str], int] = {}
            for p in zip(new_s, new_s[1:]):
                new_pairs[p] = new_pairs.get(p, 0) + 1
            for p in set(old_pairs) | set(new_pairs):
                d = new_pairs.get(p, 0) - old_pairs.get(p, 0)
                if d:
                    nc = pair_counts.get(p, 0) + d * c_w
                    if nc <= 0:
                        pair_counts.pop(p, None)
                    else:
                        pair_counts[p] = nc
                        heapq.heappush(heap, (-nc, p))
                if new_pairs.get(p, 0) > 0:
                    where.setdefault(p, set()).add(wi)
                elif old_pairs.get(p, 0) > 0:
                    s_ids = where.get(p)
                    if s_ids is not None:
                        s_ids.discard(wi)
                        if not s_ids:
                            where.pop(p, None)
        # The merged pair is now gone everywhere: its count deltas sum
        # to -cur, so pair_counts dropped the key above.
    return merges


def apply_bpe_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Tokenize one word by replaying merges in learned order (the
    standard rank-greedy algorithm: always apply the lowest-rank pair
    present)."""
    sym = list(_word_symbols(word))
    if not sym:
        return []
    while len(sym) > 1:
        best_rank = None
        best_i = -1
        for i, pair in enumerate(zip(sym, sym[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        sym[best_i : best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return sym


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

def corpus_word_counts(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    max_vocab: int | None = None,
) -> DataFrame:
    """(word, n) over whitespace tokens — the corpus-scale pass.

    ``max_vocab`` is applied as a count-threshold cut (see
    :func:`vocab_count_cutoff`): all words whose count ties the
    rank-``max_vocab`` count are kept, so the result can exceed
    ``max_vocab`` by the tie width. This keeps the whole cut
    distributed — a global ``orderBy().limit(K)`` would execute as
    TakeOrderedAndProject, shipping every partition's top-K rows to a
    single merge point, which is exactly the wrong shape at 100 TB.
    """
    toks = F.explode(tokenize_expr(F.lower(F.col(text_col)))).alias("word")
    wc = df.select(toks).groupBy("word").agg(F.count("*").alias("n"))
    if min_count > 1:
        wc = wc.filter(F.col("n") >= min_count)
    if max_vocab is not None:
        cutoff, _ = vocab_count_cutoff(wc, max_vocab)
        if cutoff is not None:
            wc = wc.filter(F.col("n") >= cutoff)
    return wc


def vocab_count_cutoff(wc: DataFrame, max_vocab: int) -> tuple[int | None, bool]:
    """Count at rank ``max_vocab`` of a (word, n) table, from the
    per-count histogram.

    Returns ``(cutoff, truncated)``: ``filter(n >= cutoff)`` keeps the
    top-``max_vocab`` words *plus all boundary ties* (the documented
    tie rule); ``cutoff is None`` means the vocab fits entirely.
    ``truncated`` is True iff some word is actually dropped by the cut
    (so a vocab of exactly ``max_vocab`` words is NOT flagged).

    The histogram ``groupBy("n").count()`` is Zipf-tiny (distinct count
    *values* number ~O(√total occurrences)), so collecting it is a few
    KB regardless of corpus size — fully distributed up to that.
    """
    hist = wc.groupBy("n").agg(F.count("*").alias("n_words")).collect()
    rows = sorted(hist, key=lambda r: -r["n"])
    total = sum(r["n_words"] for r in rows)
    if total <= max_vocab:
        return None, False
    cum = 0
    for r in rows:
        cum += r["n_words"]
        if cum >= max_vocab:
            return int(r["n"]), cum < total
    return None, False  # unreachable: total > max_vocab


def learn_bpe(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_count: int = 1,
    max_vocab: int | None = 1_000_000,
) -> dict:
    """Train BPE on a corpus: distributed word counts → driver merges.

    Returns {"merges": [(a, b), ...], "vocab_size": int,
    "truncated": bool} — ``truncated`` is True iff the ``max_vocab``
    threshold cut actually dropped words (computed from the per-count
    histogram, so a corpus whose vocab is exactly ``max_vocab`` is not
    falsely flagged). The cut keeps boundary-count ties, so
    ``vocab_size`` can exceed ``max_vocab`` by the tie width; coverage
    loss is in the long tail only.
    """
    base = corpus_word_counts(df, text_col, min_count=min_count).persist()
    try:
        wc = base
        truncated = False
        if max_vocab is not None:
            cutoff, truncated = vocab_count_cutoff(base, max_vocab)
            if cutoff is not None:
                wc = base.filter(F.col("n") >= cutoff)
        rows = wc.collect()
    finally:
        base.unpersist()
    counts = {r["word"]: r["n"] for r in rows}
    return {
        "merges": learn_bpe_from_counts(counts, n_merges),
        "vocab_size": len(counts),
        "truncated": truncated,
    }


def bpe_tokenize_udf(merges: list[tuple[str, str]]):
    """Column function: text → array<string> of BPE tokens.

    Arrow-batched; the merge-rank table and an unbounded per-batch word
    cache live in the closure (Zipf: the cache hit rate is the point).
    """
    from pyspark.sql.functions import pandas_udf

    ranks = {tuple(p): i for i, p in enumerate(merges)}

    @pandas_udf("array<string>")
    def _tok(texts: pd.Series) -> pd.Series:
        import re

        ws = re.compile(r"\s+", re.ASCII)
        cache: dict[str, list[str]] = {}
        out = []
        for t in texts:
            toks: list[str] = []
            for w in ws.split(str(t or "").lower()):
                if not w:
                    continue
                hit = cache.get(w)
                if hit is None:
                    hit = apply_bpe_word(w, ranks)
                    cache[w] = hit
                toks.extend(hit)
            out.append(toks)
        return pd.Series(out)

    return _tok


def bpe_token_stats(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_bpe_tokens, n_ws_tokens, tokens_per_word) per document —
    the fertility statistic that judges a tokenizer on a corpus.

    NULL text counts as empty (0 tokens) so the stats are total and
    deterministic cross-engine.
    """
    tok = bpe_tokenize_udf(merges)
    txt = F.coalesce(F.col(text_col), F.lit(""))
    ws_n = F.size(tokenize_expr(F.lower(txt))).cast("long")
    out = df.select(
        F.col(id_col),
        F.size(tok(txt)).cast("long").alias("n_bpe_tokens"),
        ws_n.alias("n_ws_tokens"),
    )
    return out.withColumn(
        "tokens_per_word",
        F.col("n_bpe_tokens") / F.greatest(F.col("n_ws_tokens"), F.lit(1)),
    )
