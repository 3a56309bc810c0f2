"""Text scalar functions (SURVEY.md §2.3 T1-T3, T6-T8).

Everything here is built from native `pyspark.sql.functions` so the
whole cleaning chain stays inside whole-stage codegen — no Python in
the hot path. The reference applied per-row Python lambdas
(`df.apply(...)`, notebook cells 10/17/23); at 100 TB that is the
difference between a single codegen'd scan stage and a
serialize-every-row Python round trip.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# T1 — XML/mojibake artefact map.
# Ref: processArtefactsXML, src/NLP_functions.py:141-155 (the map itself
# is data, reproduced for parity; applied as chained literal replaces).
ARTEFACT_MAP: dict[str, str] = {
    "ã«": "e",
    "ã¨": "e",
    "ã¶": "o",
    "\r": " ",
    "\n": " ",
    "\t": " ",
    "·": " ",
    "ã©": "e",
    "ã¯": "i",
    "ãº": "u",
    "ã³": "o",
    "\xa0": " ",
}

# T2 — "sticky chars" stripped (note: also removes digits).
# Ref: simpleCleaning regex, src/NLP_functions.py:117.
STICKY_CHARS_RE = r"[!#,.:\";@\-\+\\/&=\$\]\[<>'\^\*`’\(\)\d]"


def fix_xml_artefacts(col: Column | str) -> Column:
    """T1 — chained literal replaces for the mojibake map.

    Uses `F.replace` (literal, codegen'd) rather than regexp so multi-
    char keys like 'ã«' are handled exactly like Python str.replace.
    """
    c = F.col(col) if isinstance(col, str) else col
    for src, dst in ARTEFACT_MAP.items():
        c = F.replace(c, F.lit(src), F.lit(dst))
    return c


def simple_cleaning(col: Column | str) -> Column:
    """T2 — strip punctuation/digits to spaces, lowercase.

    Ref: simpleCleaning, src/NLP_functions.py:106-123. Each matched
    char becomes one space (the reference substitutes per character),
    and the result is lowercased. Stemming is applied separately (T4).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_replace(c, STICKY_CHARS_RE, " "))


# T3 — accent folding. Spark has no NFD-normalize builtin; for the
# accented characters that occur in Dutch clinical text a translate
# table is exact and stays codegen'd. Ref: removeAccent,
# src/NLP_functions.py:125-139 (NFD + ascii-encode drops combining
# marks; for precomposed Latin-1/Latin-A chars the mapping below is
# the same function).
_ACCENT_SRC = "àáâãäåçèéêëìíîïñòóôõöùúûüýÿÀÁÂÃÄÅÇÈÉÊËÌÍÎÏÑÒÓÔÕÖÙÚÛÜÝ"
_ACCENT_DST = "aaaaaaceeeeiiiinooooouuuuyyAAAAAACEEEEIIIINOOOOOUUUUY"


def fold_accents(col: Column | str) -> Column:
    """T3 — fold precomposed accented Latin chars to ASCII."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, _ACCENT_SRC, _ACCENT_DST)


def tokenize_expr(col: Column | str) -> Column:
    """T7 — whitespace tokenization → array<string>.

    Ref: ``sentence.split()`` (src/NLP_functions.py:69,104,547,581).
    Empty tokens from leading/trailing whitespace are dropped, matching
    Python's argument-less split. The one word tokenizer of the package:
    callers that want case-folded words pass ``F.lower(col)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def tokenize_sql(expr: str) -> str:
    r"""DuckDB-SQL twin of :func:`tokenize_expr`.

    RE2's ``\s`` lacks the vertical tab that Java's ``\s`` (and Python's
    ``str.split``) split on, so the class adds ``\v`` explicitly.
    """
    return f"list_filter(string_split_regex(trim({expr}), '[\\s\\v]+'), x -> x != '')"


def normalize_ws(col: Column | str) -> Column:
    """Whitespace-normalized text: trim spaces, collapse every
    whitespace run to one space. The text the exact-dedup fingerprints
    hash (``md5(normalize_ws(text))``), so two documents that differ
    only in spacing share a fingerprint."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.trim(c), r"\s+", " ")


def normalize_ws_sql(expr: str) -> str:
    r"""DuckDB-SQL twin of :func:`normalize_ws`; ``\v`` added to RE2's
    ``\s`` for the same reason as in :func:`tokenize_sql`."""
    return f"regexp_replace(trim({expr}), '[\\s\\v]+', ' ', 'g')"


def remove_stopwords_expr(tokens: Column, stopwords: Sequence[str]) -> Column:
    """T6 — drop stopwords from a token array (native, codegen'd).

    Ref: notebook cells 23/91 (NLTK Dutch stopword filter). For the
    MLlib pipeline path use ``StopWordsRemover``; this expression form
    keeps pure-SQL plans (and the DuckDB oracle) possible.
    """
    sw = F.array(*[F.lit(w) for w in stopwords])
    return F.filter(tokens, lambda t: ~F.array_contains(sw, t))


def word_match_expr(col: Column | str, targets: Sequence[str]) -> Column:
    """T8/M1 — rule-based word-matching classifier → 1/0.

    Ref: CustomBinaryModel.judgeEntry/predict,
    src/TextClassification.py:57-75 — regex ``\\b(t1|t2|...)\\b`` over
    the text; any hit → positive. Pure `rlike`, no fitting.
    """
    c = F.col(col) if isinstance(col, str) else col
    pattern = r"\b(" + "|".join(targets) + r")\b"
    return c.rlike(pattern).cast("int")


# Default matching targets for the RA use case (ref: notebook cell 36).
RA_TARGETS = ("rheumatoid arthritis", "reumatoide artritis", "ra")


def nfc_normalize_udf() -> Column:
    """Factory for an Arrow-batched Unicode NFC normalizer.

    Unicode normalization is the canonical first step of a multilingual
    pre-training pipeline (decomposed "e" + U+0301 and precomposed "é"
    must dedup/tokenize identically). Spark has no built-in NFC
    expression, so this is one of the few places the repo drops to
    Python — as a vectorized ``pandas_udf`` (Arrow batches, not
    row-at-a-time), per the UDF doctrine. ``unicodedata.normalize`` and
    DuckDB's ``nfc_normalize`` both implement the Unicode standard
    algorithm, so the oracle twin matches exactly.

    Returned as a factory (not a module-level UDF) so importing this
    module never touches the UDF machinery.
    """
    import unicodedata

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def _nfc(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda s: unicodedata.normalize("NFC", s) if s is not None else None
        )

    return _nfc
