"""Example: the full training-data assembly line, end to end.

clean (C4 lines + Gopher) → dedup (exact + span removal) →
classifier filter → mix planning (rollup + stratified sample) →
sequence packing. Every stage is one of the oracle-gated operators;
this script is the narrative composition. Run as a test via
tests/test_examples.py.
"""

import sys

from pyspark.sql import functions as F

from satya_spark.functions.classify import classifier_score, hash_weights
from satya_spark.functions.dedup import exact_dup_groups, remove_duplicated_spans
from satya_spark.functions.gopher import with_gopher_quality
from satya_spark.functions.lines import with_clean_lines
from satya_spark.functions.mix import (
    corpus_mix,
    pack_sequences,
    stratified_sample,
)
from satya_spark.functions.text import tokens_ws
from satya_spark.session import get_spark

BASE = ["the", "of", "with", "that", "alpha", "bravo", "charlie",
        "delta", "window", "garden", "meadow", "stone"]


def doc_text(i: int) -> str:
    """Five 12-word terminal-punctuated lines; every 5th word carries
    the doc index so cross-doc shared token runs stay < 8 (the span-
    removal n below) while the vocabulary/stopwords pass Gopher."""
    lines = []
    for j in range(5):
        words = []
        for k in range(12):
            w = BASE[(j * 12 + k) % len(BASE)]
            words.append(f"{w}{i}" if k % 5 == 2 else w)
        lines.append(" ".join(words) + ".")
    return "\n".join(lines)


def main() -> int:
    spark = get_spark(app_name="example-pipeline", cpus=4, shuffle_partitions=8)
    rows = []
    for i in range(40):
        lang = ["en", "de"][i % 2]
        if i % 5 == 0:
            text = doc_text(0)  # exact dups of doc 0
        elif i % 7 == 0:
            text = "lorem ipsum dolor sit amet.\n" + doc_text(i)  # C4 poison
        else:
            text = doc_text(i)
        rows.append((i, text, lang, "web"))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )

    # 1. page-level cleaning (zero-shuffle, row-local: no join back)
    cleaned = (
        with_clean_lines(docs)
        .filter("c4_page_keep")
        .withColumn("text", F.array_join("c4_lines", "\n"))
        .select(*docs.columns)
    )
    n0, n1 = docs.count(), cleaned.count()
    print(f"clean_lines: {n0} -> {n1} pages")
    assert n1 < n0  # the lorem-ipsum pages dropped

    # 2. quality gate (Gopher Table A1, zero-shuffle, row-local)
    toks = cleaned.withColumn("toks", tokens_ws(F.col("text")))  # text non-NULL
    quality = (
        with_gopher_quality(toks, "toks").filter("gopher_keep").select(*cleaned.columns)
    )
    print(f"gopher_quality kept {quality.count()} of {n1}")

    # 3. exact dedup (keep-first) + span removal of residual overlap
    from satya_spark.functions.text import fingerprint

    print(f"exact dup groups: {exact_dup_groups(quality).count()}")
    fp = quality.withColumn("fp", fingerprint(F.col("text")))
    w = fp.groupBy("fp").agg(F.min("doc_id").alias("w"))
    deduped = (
        fp.join(w, "fp").filter(F.col("doc_id") == F.col("w")).drop("fp", "w")
    )
    print(f"exact dedup kept {deduped.count()}")
    # each doc's five lines are identical, so span removal also cuts
    # the within-doc line repeats (keep-first applies to ANY repeated
    # n-gram, same doc or not)
    removal = remove_duplicated_spans(deduped, n=8)
    stats = removal.agg(
        F.sum("n_tokens").alias("before"), F.sum("n_removed").alias("cut")
    ).collect()[0]
    print(f"span removal cut {stats['cut']} of {stats['before']} tokens")
    despanned = removal.join(
        deduped.select("doc_id", "lang", "source"), "doc_id"
    ).select("doc_id", F.col("text_dedup").alias("text"), "lang", "source")

    # 4. learned quality filter (broadcast model application) — the
    # hash stand-in model's logits spread ±1000, so the threshold here
    # just trims the worst tail; a trained model would use ~0
    scored = classifier_score(
        despanned, hash_weights(despanned), threshold=-300.0
    )
    final = despanned.join(
        scored.filter("clf_keep").select("doc_id"), "doc_id"
    )
    assert final.count() > 0

    # 5. mix planning: composition rollup + per-language sampling
    print("corpus mix:")
    for r in corpus_mix(final).orderBy("lang", "source").collect():
        print(f"  {r['lang']}/{r['source']}: {r['n_docs']} docs,"
              f" {r['n_tokens']} tokens, share {r['token_share']}")
    sampled = stratified_sample(final, {"de": 0.5}, default=1.0)

    # 6. pack into fixed token windows for the trainer
    packed = pack_sequences(sampled, window_tokens=64, n_shards=4)
    n_packs = packed.select("shard", "pack_id").distinct().count()
    print(f"packed {sampled.count()} docs into {n_packs} windows")
    assert n_packs > 0
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
