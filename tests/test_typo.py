"""T5 — Damerau-Levenshtein typo correction tests.

Ref semantics: TypoCorrection (src/NLP_functions.py:39-87) — OSA
distance normalized by the longer string, replace when <= 0.20,
first-argmin tie-break.
"""

from __future__ import annotations

from diagnosisextraction_ml_spark.functions.typo import (
    correct_token,
    correct_typos,
    damerau_levenshtein,
    normalized_damerau_levenshtein,
)


def test_osa_distance_hand_cases():
    assert damerau_levenshtein("", "") == 0
    assert damerau_levenshtein("abc", "") == 3
    assert damerau_levenshtein("kitten", "sitting") == 3
    assert damerau_levenshtein("abcd", "acbd") == 1  # transposition
    # classic OSA-vs-full-DL case: OSA gives 3 (no substring moves)
    assert damerau_levenshtein("ca", "abc") == 3


def test_normalized():
    assert normalized_damerau_levenshtein("", "") == 0.0
    assert normalized_damerau_levenshtein("abcd", "abce") == 0.25
    assert normalized_damerau_levenshtein("ab", "ba") == 0.5


def test_correct_token():
    vocab = ["artritis", "artrose", "knie"]
    assert correct_token("artritus", vocab) == "artritis"  # dist 1/8 <= 0.2
    assert correct_token("knie", vocab) == "knie"  # in vocab
    assert correct_token("xyzzy", vocab) == "xyzzy"  # nothing close
    # first-argmin tie-break: equal distance picks earlier vocab entry
    assert correct_token("ab", ["ax", "ay"], 0.5) == "ax"


def test_correct_typos_sentence():
    vocab = ["artritis", "in", "knie"]
    assert correct_typos("artritus in knie", vocab) == "artritis in knie"
    assert correct_typos("", vocab) == ""


def test_correct_typos_df(spark):
    from diagnosisextraction_ml_spark.operators.prep import correct_typos_df

    df = spark.createDataFrame(
        [(1, "artritus in knie"), (2, ""), (3, "   "), (4, "artritus in knie"), (5, None)],
        "id int, text string",
    )
    out = {r["id"]: r["text"] for r in correct_typos_df(df, "text", ["artritis", "in", "knie"], 0.25).collect()}
    assert out[1] == "artritis in knie"
    assert out[4] == "artritis in knie"
    assert out[2] == ""  # empty text survives (coalesce, not NULL)
    assert out[3] == "   "
    assert out[5] == ""  # NULL text → ''


def test_correct_typos_df_deterministic_under_repartition(spark):
    from diagnosisextraction_ml_spark.operators.prep import correct_typos_df

    rows = [(i, f"artritus case {i % 7}") for i in range(50)]
    df = spark.createDataFrame(rows, "id int, text string")
    vocab = ["artritis", "case"] + [str(i) for i in range(7)]
    a = sorted(map(tuple, correct_typos_df(df, "text", vocab).collect()))
    b = sorted(map(tuple, correct_typos_df(df.repartition(7), "text", vocab).collect()))
    assert a == b
