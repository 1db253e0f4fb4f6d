"""Gopher Table-A1 battery (satya_spark/functions/gopher.py):
hand-computed quality signals, n-gram repetition fractions, and the
plan pins (zero shuffle for the doc-local battery; single corpus
explode for the nine-gram-size repetition pass). The DuckDB
differential runs in the gopher_quality / gopher_ngrams oracle gates.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from satya_spark.functions.gopher import (
    gopher_ngram_repetition,
    gopher_quality,
)

# 51 words, all alphabetic, stopword-rich, mean word length in range
BODY = (
    "the quick brown fox jumps over the lazy dog and then it runs "
    "back to the barn where it can rest with the other animals that "
    "have been waiting for food all day long since early morning "
    "when the farmer went out to check on the fields of wheat and corn"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BODY),  # clean: passes everything
        (1, "too short."),  # fails word-count lower bound
        # bullet-heavy: 3 of 4 lines bullet-started (0.75 <= 0.9 ok),
        # one ellipsis-ended line (0.25 <= 0.3 ok)
        (2, "\n".join(["• first item", "- second item", "* third one...",
                       BODY])),
        # hash-heavy: 6 hashes over ~12 words > 0.1 ratio
        (3, "#a #b #c #d #e #f " + " ".join(BODY.split()[:6])),
        (4, None),  # NULL text: empty, keep = false
        # duplicated sentence: 10-word sentence repeated 3x
        (5, " ".join(["pack my box with five dozen liquor jugs right now"] * 3)),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_quality_signals_hand_computed(docs):
    out = {r["doc_id"]: r for r in gopher_quality(docs).collect()}
    d0 = out[0]
    assert d0["n_words"] == 51
    assert d0["hash_ratio"] == 0.0 and d0["ellipsis_ratio"] == 0.0
    assert d0["bullet_line_frac"] == 0.0 and d0["ellipsis_line_frac"] == 0.0
    assert d0["alpha_word_frac"] == 1.0
    assert d0["n_required_stopwords"] >= 5
    assert d0["gopher_keep"] is True

    assert out[1]["n_words"] == 2 and out[1]["gopher_keep"] is False

    d2 = out[2]
    assert d2["bullet_line_frac"] == 0.75
    assert d2["ellipsis_line_frac"] == 0.25
    assert d2["gopher_keep"] is True

    d3 = out[3]
    assert d3["hash_ratio"] == 0.5  # 6 hashes / 12 words
    assert d3["gopher_keep"] is False

    d4 = out[4]
    assert d4["n_words"] == 0 and d4["gopher_keep"] is False
    assert d4["mean_word_len"] is None


def test_quality_is_narrow_zero_shuffle(docs):
    plan = gopher_quality(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_ngram_repetition_hand_computed(spark):
    # "a b a b a b": bigram 'a b' x3 (mass 3*2=6), 'b a' x2 (mass 4);
    # total_chars = 6 -> top_2 = min(6/6, 1) = 1.0; trigrams 'a b a' x2
    # (mass 2*3=6) -> top_3 = 1.0; no 5..10-gram repeats -> dup = 0
    df = spark.createDataFrame([(0, "a b a b a b")], ["doc_id", "text"])
    r = gopher_ngram_repetition(df).collect()[0]
    assert r["top_2gram_char_frac"] == 1.0
    assert r["top_3gram_char_frac"] == 1.0
    assert r["dup_5gram_char_frac"] == 0.0
    assert r["rep_keep"] is False

    # repeated 10-word sentence x3: every 5..10-gram inside repeats
    sent = "pack my box with five dozen liquor jugs right now"
    df2 = spark.createDataFrame([(0, " ".join([sent] * 3))], ["doc_id", "text"])
    r2 = gopher_ngram_repetition(df2).collect()[0]
    for n in range(5, 11):
        assert r2[f"dup_{n}gram_char_frac"] > 0.5, n
    assert r2["rep_keep"] is False

    # 30 distinct equal-length words, nothing repeats at any n: every
    # gram occurs once, so top_n = n-gram chars / total = n*6/(30*6)
    words = " ".join(f"word{chr(97 + i)}{chr(97 + i)}" for i in range(30))
    df3 = spark.createDataFrame([(0, words)], ["doc_id", "text"])
    r3 = gopher_ngram_repetition(df3).collect()[0]
    assert r3["rep_keep"] is True
    assert r3["top_2gram_char_frac"] == round(12 / 180, 6)
    assert r3["top_4gram_char_frac"] == round(24 / 180, 6)
    assert r3["dup_5gram_char_frac"] == 0.0

    # empty + gram-less docs report 0.0 everywhere, keep stays boolean
    df4 = spark.createDataFrame([(0, ""), (1, "single")], ["doc_id", "text"])
    for r4 in gopher_ngram_repetition(df4).collect():
        assert r4["top_2gram_char_frac"] == 0.0
        assert r4["dup_10gram_char_frac"] == 0.0
        assert r4["rep_keep"] is True


def test_ngram_repetition_single_explode(spark):
    """All nine gram sizes must ride ONE Generate (explode) — nine
    separate explodes would scan/shuffle the corpus nine times — and
    the gram building must be lambda-free (array lambdas are
    CodegenFallback)."""
    df = spark.createDataFrame([(0, BODY)], ["doc_id", "text"])
    plan = (
        gopher_ngram_repetition(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Generate explode") == 1, plan.count("Generate explode")
    assert "lambdafunction" not in plan
