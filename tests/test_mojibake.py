"""Mojibake repair — first-principles map, roundtrip, plan shape."""

from __future__ import annotations

from diagnosisextraction_ml_spark.functions.mojibake import (
    MOJIBAKE_MAP,
    fix_mojibake,
    make_mojibake,
)

CLEAN = "Café naïve “smart quotes” – em—dash … ‘single’ ß §2 ±3° €5 ™"


def _fix(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, t string"
    )
    return [r.f for r in df.select(fix_mojibake("t").alias("f")).orderBy("i").collect()]


def test_map_derivation():
    # every entry is exactly encode-utf8/decode-1252 of its target
    for garbled, ch in MOJIBAKE_MAP:
        assert make_mojibake(ch) == garbled
        assert len(garbled) in (2, 3) and len(ch) == 1
    # longest-first ordering (3-byte garbles before 2-byte)
    lens = [len(g) for g, _ in MOJIBAKE_MAP]
    assert lens == sorted(lens, reverse=True)


def test_roundtrip_spark(spark):
    [fixed] = _fix(spark, [make_mojibake(CLEAN)])
    assert fixed == CLEAN


def test_clean_text_untouched(spark):
    texts = ["plain ascii stays", CLEAN, ""]
    assert _fix(spark, texts) == texts


def test_double_encoding_partial(spark):
    # double-garbled text: one repair pass undoes one layer
    double = make_mojibake(make_mojibake("é"))
    [once] = _fix(spark, [double])
    assert once == make_mojibake("é")
    [twice] = _fix(spark, [once])
    assert twice == "é"


def test_null_passthrough(spark):
    df = spark.createDataFrame([(1, None)], "i long, t string")
    [r] = df.select(fix_mojibake("t").alias("f")).collect()
    assert r.f is None


def test_zero_shuffle_plan(spark):
    df = spark.createDataFrame([(1, CLEAN)], "i long, t string")
    plan = (
        df.select(fix_mojibake("t").alias("f"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
