"""Driver contract for the spark-graft builder (PySpark target).

Flagship: the satya_spark constraint-validation engine (see SURVEY.md)
run over a transcripts table derived DETERMINISTICALLY from the
driver's lineitem parquet (satya_spark/transcripts.py — identical SQL
executed by Spark and by the DuckDB oracle, with violations planted at
fixed modulus sites mirroring satya's valid/invalid/boundary corpora).

Each ``queries()`` entry exercises one operator group from
SURVEY.md §2; ``oracle_sql()`` is generated from the SAME compiled
spec (satya_spark/compiler.py emits both the Spark Column and the
DuckDB predicate per kernel).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from typing import Optional

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from satya_spark.compiler import compile_spec  # noqa: E402
from satya_spark.spec import transcript_spec  # noqa: E402
from satya_spark.transcripts import from_tpch, tool_catalog_from_tpch, with_clause  # noqa: E402

KEYS = ["conv_id", "turn_idx"]
_COMPILED = compile_spec(transcript_spec())

# kernel groups (SURVEY.md §2.3): query name -> constraint names
_KERNEL_GROUPS: dict[str, tuple[str, ...]] = {
    "kernel_required": ("required",),
    "kernel_length": ("min_length", "max_length"),
    "kernel_pattern": ("pattern",),
    "kernel_email": ("email",),
    "kernel_url": ("url",),
    "kernel_enum": ("enum",),
    "kernel_bounds": ("ge", "le", "gt", "lt", "min_value", "max_value"),
    "kernel_multiple_of": ("multiple_of",),
    "kernel_items": ("min_items", "max_items", "unique_items"),
}


def _duck(sql_body: str) -> str:
    """Wrap a SELECT over the transcripts/tool_catalog CTEs."""
    return with_clause("duckdb") + "\n" + sql_body


def _spark_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = from_tpch(spark, sf_dir)
    return _COMPILED.violations_df(df, KEYS)


def _kernel_query(constraints: tuple[str, ...]):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _spark_violations(spark, sf_dir).filter(
            F.col("constraint_name").isin(*constraints)
        )

    return q


def _kernel_oracle(constraints: tuple[str, ...]) -> str:
    rules = [r for r in _COMPILED.rules if r.constraint in constraints]
    from satya_spark.compiler import CompiledSpec

    sub = CompiledSpec(spec=_COMPILED.spec, rules=rules)
    return _duck(
        "SELECT * FROM (\n"
        + sub.violations_sql("transcripts", KEYS)
        + "\n) v"
    )


# --- per-item / map-value kernels (SURVEY.md §2.3 forall) ------------------

def _item_spec():
    """Per-element constraints on array + map columns — the reference
    validates every list item and every dict value against the field's
    scalar constraints (src/lib.rs:874-918)."""
    from satya_spark.spec import FieldSpec, TableSpec

    return TableSpec(
        name="item_kernels",
        fields=(
            FieldSpec("tags", "array<string>", pattern=r"^[A-Z0-9]$"),
            FieldSpec("lens", "array<int>", ge=0, le=10_000_000),
            FieldSpec("props", "map<string,int>", ge=0),
        ),
    )


def _item_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = from_tpch(spark, sf_dir)
    return df.select(
        "conv_id",
        "turn_idx",
        "tags",
        F.array(F.col("turn_idx"), F.col("turn_idx") + 1).alias("lens"),
        F.map_from_arrays(
            F.array(F.lit("t"), F.lit("l")),
            F.array(F.col("turn_idx"), F.coalesce(F.length("text"), F.lit(0))),
        ).alias("props"),
    )


def q_kernel_item_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-item pattern on tags (forall), per-item bounds on an int
    array (array_min/max — codegen), per-VALUE bounds on a map."""
    from satya_spark.compiler import compile_spec

    return compile_spec(_item_spec()).violations_df(_item_df(spark, sf_dir), KEYS)


_ITEM_DF_SQL = (
    ", t2 AS (SELECT conv_id, turn_idx, tags, "
    "[turn_idx, turn_idx + 1] AS lens, "
    "MAP(['t','l'], [turn_idx, coalesce(length(text), 0)]) AS props "
    "FROM transcripts)"
)


# --- cross-row / aggregate queries ----------------------------------------

def q_row_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every per-column kernel at once: the full violation-row table
    (accumulate-not-fail-fast, tests/test_edge_cases.py:300-324)."""
    return _spark_violations(spark, sf_dir)


def q_row_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total/valid/invalid row counts — the batch-validate Vec<bool>
    analog (src/lib.rs:359-392) reduced to counts."""
    df = from_tpch(spark, sf_dir)
    valid = F.size(_COMPILED.violations_array_col()) == 0
    return df.select(valid.alias("v")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("v").cast("long")).alias("n_valid"),
        F.sum((~F.col("v")).cast("long")).alias("n_invalid"),
    )


def q_bucket_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket pass/fail verdicts (north rule's per-partition
    verdicts, on a deterministic conv bucket so the oracle agrees)."""
    df = from_tpch(spark, sf_dir)
    bucket = (F.expr("CAST(substring(conv_id, 2) AS BIGINT)") % 32).alias("bucket")
    valid = F.size(_COMPILED.violations_array_col()) == 0
    return (
        df.select(bucket, valid.alias("v"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("v").cast("long")).alias("n_valid"),
            F.sum((~F.col("v")).cast("long")).alias("n_invalid"),
        )
        .withColumn("passed", F.col("n_invalid") == 0)
    )


def q_unique_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed uniqueness on (conv_id, turn_idx) — unique_items
    (src/lib.rs:894-906) lifted to table scope."""
    from satya_spark.crossrow import duplicate_keys

    return duplicate_keys(from_tpch(spark, sf_dir), KEYS)


def q_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dangling tool references vs the tool catalog — broadcast
    left-anti join (custom-type resolution src/lib.rs:919-935 lifted
    to referential integrity)."""
    from satya_spark.crossrow import referential_violations

    df = from_tpch(spark, sf_dir)
    cat = tool_catalog_from_tpch(spark, sf_dir)
    return referential_violations(df, "tool", cat, keys=KEYS)


def q_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiles (per-field counters, src/satya/profiling.py
    lifted to columns). Exact distinct for oracle comparability."""
    from satya_spark.crossrow import column_stats

    df = from_tpch(spark, sf_dir)
    fields = ["conv_id", "turn_idx", "role", "text", "tool", "meta_email"]
    s = column_stats(df, fields, exact_distinct=True)
    return s.withColumn("null_rate", F.round("null_rate", 6))


def q_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation stats: one algebraic groupBy, whose map-side
    partial aggregation defuses hot-conversation skew (north rule)."""
    from satya_spark.crossrow import conv_stats

    return conv_stats(from_tpch(spark, sf_dir))


def q_conv_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate CONVERSATIONS (crossrow.conv_dup_groups): md5
    fingerprint over turn texts in stable turn order — document dedup
    lifted to the transcript payload. Planted dups: every conversation
    whose md5-hash64 ≡ 0 (mod 23) is replayed under a '_dup' id."""
    from satya_spark.crossrow import conv_dup_groups
    from satya_spark.functions.dedup import portable_hash64

    t = from_tpch(spark, sf_dir).select("conv_id", "turn_idx", "text")
    dup = t.filter(
        F.pmod(portable_hash64(F.col("conv_id"), "cd"), F.lit(23)) == 0
    ).withColumn("conv_id", F.concat(F.col("conv_id"), F.lit("_dup")))
    return conv_dup_groups(t.unionByName(dup))


def q_transcript_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-level PII detection + redaction over TRANSCRIPTS (the
    compliance pass transcript pipelines run before export): PII is
    planted deterministically per (conv_id, turn_idx) by portable
    hash — email on ≡0 (mod 13), SSN on ≡0 (mod 17) — then the same
    one-projection regex battery as the documents gate flags and
    redacts each turn."""
    from satya_spark.functions.dedup import portable_hash64
    from satya_spark.functions.pii import pii_flag, redact

    t = from_tpch(spark, sf_dir).select("conv_id", "turn_idx", "text")
    # coalesce the nullable turn_idx explicitly: concat_ws would skip
    # a null (planting anyway) while the DuckDB || chain yields NULL
    # (never planting) — the fixture HAS null turn_idx rows
    key = portable_hash64(
        F.concat(
            F.col("conv_id"),
            F.lit(":"),
            F.coalesce(F.col("turn_idx").cast("string"), F.lit("null")),
        ),
        "tp",
    )
    txt = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.coalesce(
            F.when(F.pmod(key, F.lit(13)) == 0, F.lit(" contact agent@example.com")),
            F.lit(""),
        ),
        F.coalesce(
            F.when(F.pmod(key, F.lit(17)) == 0, F.lit(" ssn 123-45-6789")),
            F.lit(""),
        ),
    )
    d = t.select("conv_id", "turn_idx", txt.alias("__t"))
    return d.select(
        "conv_id",
        "turn_idx",
        pii_flag(F.col("__t"), "email").alias("pii_email"),
        pii_flag(F.col("__t"), "ssn").alias("pii_ssn"),
        redact(F.col("__t")).alias("text_redacted"),
    )


def q_conv_repeated_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-conversation repeated turn text (stuck-agent / loop
    signal): one map-side-combining groupBy on (conv, text hash) —
    see convcheck.repeated_turn_groups."""
    from satya_spark.convcheck import repeated_turn_groups

    return repeated_turn_groups(from_tpch(spark, sf_dir))


def q_conv_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate conversations: each conversation flattened to
    one space-joined turn-ordered text, then the standard MinHash-LSH
    near-dup pipeline (banded buckets + exact-Jaccard verify) over
    conversation ids — the transcript-payload composition of the
    dedup tier. The fixture's conversations are heavily templated
    (near-dup CLIQUES), so the gate samples 1/11 of conversations by
    portable hash and reports the per-conversation summary
    (n_near_dups, nearest lower partner) — the pair set itself is
    quadratic in clique size by nature, not by plan shape.

    Templated fixtures make equal token sets the dominant clique
    mass, and minhash_dedup_pairs collapses them before banding:
    signature and verify cost follow the distinct token sets, and the
    c² term is only the final fan-out of (id, id, jac) rows (292 s →
    seconds at sf0.1, BENCH.md r5)."""
    from satya_spark.functions.dedup import minhash_dedup_pairs, portable_hash64

    t = from_tpch(spark, sf_dir).select("conv_id", "turn_idx", "text")
    texts = F.transform(
        F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
        lambda s: s["text"],
    )
    conv_docs = t.groupBy("conv_id").agg(
        F.concat_ws(" ", texts).alias("text")
    ).filter(F.pmod(portable_hash64(F.col("conv_id"), "cn"), F.lit(11)) == 0)
    pairs = minhash_dedup_pairs(conv_docs, id_col="conv_id", text_col="text")
    return pairs.groupBy("id_b").agg(
        F.count(F.lit(1)).alias("n_near_dups"),
        F.min("id_a").alias("nearest_lower"),
        F.round(F.max("jac"), 6).alias("max_jac"),
    ).select(F.col("id_b").alias("conv_id"), "n_near_dups", "nearest_lower", "max_jac")


def q_null_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-level null-rate: per-field null fraction vs threshold."""
    df = from_tpch(spark, sf_dir)
    return df.agg(
        F.round(
            F.sum(F.col("tool").isNull().cast("long")) / F.count(F.lit(1)), 6
        ).alias("tool_null_rate"),
        F.round(
            F.sum(F.col("meta_email").isNull().cast("long")) / F.count(F.lit(1)),
            6,
        ).alias("email_null_rate"),
    )


def _drift_pair(spark: SparkSession, sf_dir: str):
    """Even- vs odd-orderkey conversation populations, avg text
    length, both histogrammed in ONE aggregation pass."""
    from satya_spark.crossrow import conv_stats
    from satya_spark.drift import pair_from_split

    stats = conv_stats(from_tpch(spark, sf_dir))
    half = F.expr("CAST(substring(conv_id, 2) AS BIGINT)") % 2
    return pair_from_split(stats, "avg_text_len", half, 10.0, 16)


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI between even- and odd-orderkey conversation populations on
    avg text length (fixed 16-bucket grid, width 10)."""
    from satya_spark.drift import psi_pair

    return psi_pair(_drift_pair(spark, sf_dir))


def q_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned two-sample KS statistic between the same populations."""
    from satya_spark.drift import ks_pair

    return ks_pair(_drift_pair(spark, sf_dir))


def q_violation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(field, constraint) violation counters — the optimizer/
    profiling error-counter surface (src/satya/profiling.py:15-40)
    as an oracle-gated table instead of test-only."""
    return (
        _spark_violations(spark, sf_dir)
        .groupBy("field", "constraint_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_violations_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded triage sample: first 3 violating rows per (field,
    constraint) under the stable key order, via the two-phase salted
    top-n (crossrow.violations_sample)."""
    from satya_spark.crossrow import violations_sample

    return violations_sample(_spark_violations(spark, sf_dir), KEYS, n=3)


def q_top_violating_convs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worst-10 conversations by violation count — one-exchange
    count + TakeOrderedAndProject top-n (no full sort)."""
    from satya_spark.crossrow import top_violating_groups

    return top_violating_groups(
        _spark_violations(spark, sf_dir), "conv_id", n=10
    )


def q_column_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantile profile per numeric field (one aggregation
    pass). The gate runs exact=True — the production default is the
    mergeable Greenwald-Khanna sketch (approx_percentile), parity
    vs exact is pytest-covered with a rank-error bound."""
    from satya_spark.crossrow import column_quantiles

    df = from_tpch(spark, sf_dir).select(
        F.col("turn_idx").alias("turn_idx"),
        F.coalesce(F.length("text"), F.lit(0)).alias("text_len"),
    )
    return column_quantiles(df, ["turn_idx", "text_len"], exact=True)


def q_drift_psi_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-role PSI of the text-length distribution vs the whole
    table — localizes drift that a whole-table PSI averages away.
    One scan: a single groupBy(role, bucket) histogram; reference
    histogram derived from the tiny per-group frame."""
    from satya_spark.drift import psi_by_group

    df = from_tpch(spark, sf_dir).select(
        F.coalesce(F.col("role"), F.lit("<null>")).alias("role"),
        F.coalesce(F.length("text"), F.lit(0)).alias("text_len"),
    )
    return psi_by_group(df, "text_len", "role", width=200.0, n_buckets=20)


def q_events_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day PSI of the event-value distribution vs the whole month
    (drift.psi_by_group over event time) — the 'which ingestion day
    went bad' check on a second table/metric, same one-scan grouped
    histogram."""
    from satya_spark.drift import psi_by_group
    from satya_spark.eventfix import events_from_testdata

    ev = events_from_testdata(spark, sf_dir).select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.coalesce(F.col("value"), F.lit(0.0)).alias("value"),
    )
    return psi_by_group(ev, "value", "day", width=25.0, n_buckets=20)


def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-field profile delta (null rate, distinct count) between
    the even- and odd-orderkey conversation snapshots — the cheap
    always-on companion to the PSI/KS distribution checks. Exact
    distincts for oracle comparability (production default is HLL)."""
    from satya_spark.crossrow import profile_drift

    df = from_tpch(spark, sf_dir)
    half = F.expr("CAST(substring(conv_id, 2) AS BIGINT)") % 2
    old = df.filter(half == 0)
    new = df.filter(half == 1)
    return profile_drift(
        old, new, ["role", "tool", "meta_email", "text"], exact_distinct=True
    )


def q_quantile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-free drift: per-field quantile deltas between the even-
    and odd-orderkey snapshots (exact percentile for the oracle; GK
    sketch is the production default)."""
    from satya_spark.crossrow import quantile_drift

    df = from_tpch(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        F.coalesce(F.length("text"), F.lit(0)).alias("text_len"),
    )
    half = F.expr("CAST(substring(conv_id, 2) AS BIGINT)") % 2
    return quantile_drift(
        df.filter(half == 0),
        df.filter(half == 1),
        ["turn_idx", "text_len"],
        exact=True,
    )


def q_coercions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coercion tier (SURVEY.md §2.4): str→int (try_cast null-on-fail,
    src/blaze_validator.rs:277-297), str→bool case-insensitive
    true/false (src/satya/validator.py:606-613), ISO str→timestamp
    with Z→+00:00 (src/satya/validator.py:649-658)."""
    df = from_tpch(spark, sf_dir)
    raw_int = F.when(
        F.expr("CAST(substring(conv_id, 2) AS BIGINT)") % 17 == 0, F.lit("x")
    ).otherwise(F.col("turn_idx").cast("string"))
    raw_bool = F.when(F.col("turn_idx") % 3 == 0, F.lit("TRUE")).when(
        F.col("turn_idx") % 3 == 1, F.lit("false")
    ).otherwise(F.lit("yes"))
    raw_ts = F.concat(
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"), F.lit("Z")
    )
    out = df.select(
        "conv_id",
        "turn_idx",
        raw_int.alias("raw_int"),
        raw_bool.alias("raw_bool"),
        raw_ts.alias("raw_ts"),
    )
    return out.select(
        "conv_id",
        "turn_idx",
        F.expr("try_cast(raw_int AS BIGINT)").alias("coerced_int"),
        F.when(F.lower("raw_bool") == "true", F.lit(True))
        .when(F.lower("raw_bool") == "false", F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
        .alias("coerced_bool"),
        F.to_timestamp(F.replace(F.col("raw_ts"), F.lit("Z"), F.lit(""))).alias(
            "coerced_ts"
        ),
    )


def q_stable_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn text equality under stable (conv_id, turn_idx) order —
    the per-row invariant from BASELINE.json input_hint. rn is a
    window row_number over the stable sort."""
    from pyspark.sql import Window

    df = from_tpch(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "text")
    return df.select(
        "conv_id",
        "turn_idx",
        F.row_number().over(w).alias("rn"),
        "text",
    )


def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON ingestion path (SURVEY.md §2.1): serialize each turn to a
    JSON document, parse back with from_json against the declared
    schema (the validate_json analog, src/lib.rs:394-413), and assert
    text round-trips — result is the row count that survived."""
    df = from_tpch(spark, sf_dir).select("conv_id", "turn_idx", "role", "text")
    schema = "conv_id string, turn_idx int, role string, text string"
    parsed = df.select(
        "text",
        F.from_json(F.to_json(F.struct("conv_id", "turn_idx", "role", "text")), schema).alias("j"),
    )
    ok = parsed.filter(
        (F.col("j.text") == F.col("text"))
        | (F.col("j.text").isNull() & F.col("text").isNull())
    )
    return ok.agg(F.count(F.lit(1)).alias("n_roundtripped"))


# --- training-data pipeline operators (documents / embeddings) -----------

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analytics: ws/BPE token counts, punctuation ratio,
    quality score (satya_spark/functions/text.py). The English
    stopword hit count is hoisted into its own projection
    (with_stopword_hits) so the padded-stopword regexp subtree is
    computed once per row STRUCTURALLY — not via CSE luck."""
    from satya_spark.docfix import docs_from_testdata
    from satya_spark.functions import text as tx

    d = tx.with_stopword_hits(docs_from_testdata(spark, sf_dir))
    c = F.col("text")
    return d.select(
        "doc_id",
        tx.token_count_ws(c).alias("n_tok_ws"),
        tx.token_count_bpe(c).alias("n_tok_bpe"),
        tx.punct_ratio(c).alias("punct_ratio"),
        tx.quality_score_from_hits(c, F.col("hits_en")).alias("quality"),
    )


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-heuristic language ID vs the labeled lang column.
    All four languages' hit counts come from one hoisted projection;
    lang_id consumes attribute references only."""
    from satya_spark.docfix import docs_from_testdata
    from satya_spark.functions import text as tx

    d = tx.with_stopword_hits(docs_from_testdata(spark, sf_dir))
    pred = tx.lang_id_from_hits(
        F.col("text"), {l: F.col(f"hits_{l}") for l in tx.LANGS}
    )
    return d.select(
        "doc_id",
        "lang",
        pred.alias("lang_pred"),
        (pred == F.col("lang")).alias("correct"),
    )


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: type-token ratio per row
    (one codegen projection) + top-bigram share computed distributed
    (explode → map-side-combining groupBy → per-doc max/sum)."""
    from satya_spark.docfix import docs_from_testdata
    from satya_spark.functions import text as tx

    return tx.with_repetition(docs_from_testdata(spark, sf_dir))


def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (satya_spark/functions/pii.py):
    per-category flags, distinct-category count, and redacted text —
    one JVM-regex projection, planted-PII fixture (docfix.PII_CTE)."""
    from satya_spark.docfix import pii_from_testdata
    from satya_spark.functions.pii import with_pii

    d = with_pii(pii_from_testdata(spark, sf_dir))
    return d.select(
        "doc_id",
        "pii_email",
        "pii_ssn",
        "pii_phone",
        "pii_ipv4",
        F.col("pii_types").cast("long").alias("pii_types"),
        "text_redacted",
    )


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 fingerprint of whitespace-normalized text."""
    from satya_spark.docfix import docs_from_testdata
    from satya_spark.functions import text as tx

    d = docs_from_testdata(spark, sf_dir)
    return d.select("doc_id", tx.fingerprint(F.col("text")).alias("fp"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized-text fingerprint."""
    from satya_spark.docfix import docs_from_testdata
    from satya_spark.functions.dedup import exact_dup_groups

    return exact_dup_groups(docs_from_testdata(spark, sf_dir))


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs: token-set Jaccard >= 0.6, blocked by
    (lang, token-count band)."""
    from satya_spark.docfix import docs_from_testdata
    from satya_spark.functions.dedup import jaccard_pairs

    return jaccard_pairs(docs_from_testdata(spark, sf_dir), threshold=0.6)


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates verified with true Jaccard — the
    scalable near-dup pipeline (portable md5-derived hashes)."""
    from satya_spark.docfix import docs_from_testdata
    from satya_spark.functions.dedup import minhash_dedup_pairs

    return minhash_dedup_pairs(docs_from_testdata(spark, sf_dir), threshold=0.6)


def q_vector_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column validation (functions/vectors.py): dim / NaN /
    null-item / L2-norm-bound violation rows over a deterministically
    corrupted embeddings fixture (docfix.dirty_vecs_*) — the
    pre-flight check before ANN / SemDeDup. Pure codegen expressions,
    no shuffle; violations-only output."""
    from satya_spark.docfix import dirty_vecs_from_testdata
    from satya_spark.functions.vectors import vector_violations

    return vector_violations(
        dirty_vecs_from_testdata(spark, sf_dir),
        dim=64,
        norm_min=0.5,
        norm_max=2.0,
    )


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → duplicate clusters (dedup.dup_clusters): connected
    components over the production-banding MinHash pair graph via
    min-label propagation + pointer jumping; (doc_id, cluster_id =
    min member id). The keep-one-per-cluster dedup decision the pair
    gates stop short of. Oracle: recursive-CTE transitive closure
    over the SAME pair SQL."""
    from satya_spark.docfix import docs_from_testdata
    from satya_spark.functions.dedup import dup_clusters, minhash_dedup_pairs

    pairs = minhash_dedup_pairs(
        docs_from_testdata(spark, sf_dir), threshold=0.6, bands=2
    )
    # assume_distinct: minhash pairs are unique by construction (the
    # candidate set is distinct before the verify join), so the CC
    # edge build skips its defensive distinct exchange (r6)
    return dup_clusters(pairs, assume_distinct=True)


def q_dedup_minhash_tight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION banding knob demonstrated: same k=8 signature,
    bands=2 → 4-row bands. Collision probability per band is s^4
    instead of s^2, so low-similarity false candidates collapse (the
    dominant cost on a duplicate-heavy corpus is the per-candidate
    token-set verify — see BENCH.md); recall at the 0.6 threshold
    drops only for borderline pairs, and the verify step keeps
    precision exact. Fully oracled like the default config."""
    from satya_spark.docfix import docs_from_testdata
    from satya_spark.functions.dedup import minhash_dedup_pairs

    return minhash_dedup_pairs(
        docs_from_testdata(spark, sf_dir), threshold=0.6, bands=2
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signatures (explode + codegen'd bit sums)."""
    from satya_spark.docfix import docs_from_testdata
    from satya_spark.functions.dedup import simhash_signatures

    return simhash_signatures(docs_from_testdata(spark, sf_dir))


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, chunk-blocked (pigeonhole banding —
    hamming ≤ 3 pairs must share one of four 8-bit signature chunks),
    NOT within-language all-pairs. Equi-join on (chunk_idx, value)."""
    from satya_spark.docfix import docs_from_testdata
    from satya_spark.functions.dedup import simhash_pairs

    return simhash_pairs(
        docs_from_testdata(spark, sf_dir), max_hamming=3, bits=32, chunks=4
    )


def q_dedup_simhash_pairs_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION default banding (bits=60, chunks=4 → 15-bit
    chunks, 4 × 32,768 join keys — the config that survives 10^11
    docs, dedup.py SIMHASH_PAIR_BITS): same pigeonhole-exact pair
    finding, oracle-gated like the test-scale config above."""
    from satya_spark.docfix import docs_from_testdata
    from satya_spark.functions.dedup import simhash_pairs

    return simhash_pairs(docs_from_testdata(spark, sf_dir), max_hamming=3)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 10 query vectors —
    the exact ANN baseline (broadcast queries, no shuffle on corpus)."""
    from satya_spark.functions.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(emb, queries, k=5)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k: one numpy mapInArrow pass
    buckets, probe-filters, scores and keeps a per-batch local top-k.
    Fully oracled: the sign sketch's plane constants are SQL literals
    in the DuckDB twin (the exact baseline above is its quality
    reference)."""
    from satya_spark.functions.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(emb, queries, k=5, n_planes=4, dims=64)


def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k: each query also probes the n_planes
    buckets one sign-flip away — the recall knob on the single-probe
    path; fully oracled (plane constants + flip set in SQL)."""
    from satya_spark.functions.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(emb, queries, k=5, n_planes=4, dims=64, multiprobe=1)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, full probe: mini-k-means index (DataFrame-native
    training with numpy matmul assignment, iters=2) with nprobe=k,
    which provably equals brute force regardless of centroid FP noise
    — so the exact brute-force SQL IS its oracle. Pruned probing (the
    scale behavior) is gated separately in ann_ivf_pruned and
    quality-tested in tests/test_functions.py."""
    from satya_spark.functions.similarity import ivf_topk, train_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = train_centroids(emb, k=8, iters=2)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, cents, k=5, nprobe=8)


def q_ann_ivf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with real pruning (nprobe=2 of 8 lists), fully oracled:
    centroids are the deterministic stride-sampled init (iters=0), so
    index assignment, probe selection, and within-list ranking are all
    SQL-expressible with 6-decimal-rounded cosines."""
    from satya_spark.functions.similarity import ivf_topk, train_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = train_centroids(emb, k=8, iters=0)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, cents, k=5, nprobe=2)


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via multi-band sign-sketch LSH
    (4 bands × 6 planes) over embeddings + planted exact-dup vectors;
    full oracle (plane constants embedded as SQL literals).

    The sketch is a numpy matmul per Arrow batch (sketch_buckets_np)
    and the cosine verify a numpy batch op; sign parity with the SQL
    sketch holds except within float noise of a zero dot product."""
    from satya_spark.docfix import emb_from_testdata
    from satya_spark.functions.similarity import embedding_near_dup_pairs

    emb = emb_from_testdata(spark, sf_dir)
    return embedding_near_dup_pairs(
        emb, threshold=0.9, n_planes=6, dims=64, bands=4
    )


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (similarity.semantic_dedup): stride-centroid (iters=0,
    engine-portable) k=8 clustering over embeddings + planted dups,
    within-cluster exact-cosine drop rule (lower id wins). numpy
    matmul assignment + numpy batch verify, both on 6-decimal-rounded
    cosines like the SQL twin."""
    from satya_spark.docfix import emb_from_testdata
    from satya_spark.functions.similarity import semantic_dedup, train_centroids

    emb = emb_from_testdata(spark, sf_dir)
    cents = train_centroids(emb, k=8, iters=0)
    return semantic_dedup(emb, cents, threshold=0.9)


def q_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over the PERSISTED physical layout: ``build_ivf_index``
    writes the corpus partitioned by ``__list`` (one directory per
    inverted list — the Iceberg identity-partition stand-in), then
    probing applies the ≤k probed list ids as a LITERAL partition
    filter — static partition pruning at the scan (pinned in
    tests/test_plans.py). Same pruned semantics as ``ann_ivf_pruned``
    (iters=0 stride centroids, nprobe=2), so it shares that fully-SQL
    oracle."""
    import os
    import tempfile

    from satya_spark.functions.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
        train_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = train_centroids(emb, k=8, iters=0)
    tag = os.path.basename(sf_dir.rstrip("/"))
    idx = os.path.join(tempfile.gettempdir(), f"satya_ivf_index_{tag}")
    build_ivf_index(emb, cents, idx)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk_indexed(spark, idx, queries, cents, k=5, nprobe=2)


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: Arrow-batched mapInPandas feature
    extraction over opaque binary payloads. The fake featurizer is
    deterministic byte arithmetic over a payload that is itself
    ``repeat('blob'||id, 16)`` (multimodal.py), so the whole path IS
    SQL-expressible — fully oracled. The array<float> feature is
    exploded to (dim, feat_micro BIGINT) so every column is hashable
    and engine-portable (micro-units absorb the float32 round-trip)."""
    from satya_spark.functions.multimodal import extract_features, synthesize_media

    feats = extract_features(synthesize_media(spark, 200))
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.posexplode("feature").alias("dim", "feat"),
    ).select(
        "media_id",
        "kind",
        "n_bytes",
        F.col("dim").cast("int").alias("dim"),
        F.floor(F.col("feat").cast("double") * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("feat_micro"),
    )


# --- decorator-validator gate (SURVEY.md §2.8) ------------------------------
# The reference's @field_validator/@model_validator surface
# (src/satya/validators.py:66-140) run AT SCALE through validate_df,
# oracle-gated: before-mode feeds the kernels, plain-mode REPLACES the
# field's standard kernels, after-mode rewrites validated values, and
# the model validator accumulates row-scope verdicts — all reproduced
# as plain SQL in the DuckDB twin.

def _decorated_turn_cls():
    """Built lazily (and cached) so importing this module never touches
    Model metaclass machinery at driver-probe time."""
    global _DECORATED_TURN
    if _DECORATED_TURN is None:
        from satya_spark import Field as MField
        from satya_spark import Model, field_validator, model_validator

        class _DecoratedTurn(Model):
            conv_id: str
            turn_idx: int = MField(ge=0, le=10_000_000)
            role: Optional[str] = MField(enum=("SYSTEM", "USER", "ASSISTANT"))
            text: Optional[str] = MField(min_length=1, max_length=4000)

            @field_validator("role", mode="before")
            def norm_role(cls, v, info):
                # feeds the enum kernel: 'moderator' -> 'MODERATOR'
                return v.strip().upper()

            @field_validator("text", mode="plain")
            def text_ok(cls, v, info):
                # REPLACES min/max_length: the planted 4001-char text
                # passes here, blank/whitespace-only raises
                t = v.strip()
                if not t:
                    raise ValueError("blank text")
                return t

            @field_validator("conv_id", mode="after")
            def brand(cls, v, info):
                # gated: applies only to rows that passed validation
                # (small-batch raises before 'after' runs)
                return "t:" + v

            @model_validator(mode="after")
            def tail_guard(self):
                # fires on CLEAN long-tail assistant turns; the
                # turn_idx > 100 branch would also hit the planted
                # le-violating rows — those are already invalid, so
                # the after-stage gate suppresses it (small-batch
                # construction raised first), pinned by the oracle
                if self.turn_idx > 100 or (
                    self.role == "ASSISTANT" and self.turn_idx >= 5
                ):
                    raise ValueError("assistant may not close long conversations")
                return self

        _DECORATED_TURN = _DecoratedTurn
    return _DECORATED_TURN


_DECORATED_TURN = None


def q_decorator_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = from_tpch(spark, sf_dir).select("conv_id", "turn_idx", "role", "text")
    out = _decorated_turn_cls().validate_df(df)
    return out.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "role",
        "text",
        F.array_join(
            F.array_sort(F.transform("violations", lambda v: v["constraint_name"])),
            ",",
        ).alias("constraints"),
        F.size("violations").cast("long").alias("n_viol"),
        "valid",
    )


_DECORATOR_ORACLE_PRE = (
    "list_filter(["
    "CASE WHEN turn_idx < 0 THEN 'ge' END, "
    "CASE WHEN turn_idx > 10000000 THEN 'le' END, "
    "CASE WHEN role IS NOT NULL AND upper(role) NOT IN"
    " ('SYSTEM','USER','ASSISTANT') THEN 'enum' END, "
    "CASE WHEN text IS NOT NULL AND trim(text) = '' THEN 'text_ok' END"
    "], x -> x IS NOT NULL)"
)

_DECORATOR_ORACLE_SQL = (
    # after-stage gating parity: the 't:' brand and the tail_guard
    # verdict apply ONLY where the pre-stage (kernels + plain) passed
    "SELECT "
    "CASE WHEN len(pre) = 0 THEN concat('t:', conv_id)"
    " ELSE conv_id END AS conv_id, "
    "turn_idx, role, text, "
    "coalesce(array_to_string(list_sort(viol), ','), '') AS constraints, "
    "CAST(len(viol) AS BIGINT) AS n_viol, "
    "len(viol) = 0 AS valid "
    "FROM ("
    "SELECT conv_id, turn_idx, role, text, pre, "
    "CASE WHEN len(pre) = 0 AND (turn_idx > 100 OR"
    " (role = 'ASSISTANT' AND turn_idx >= 5))"
    " THEN list_append(pre, 'tail_guard') ELSE pre END AS viol "
    "FROM ("
    "SELECT conv_id, "
    "CAST(turn_idx AS BIGINT) AS turn_idx, "
    "upper(role) AS role, "
    "CASE WHEN text IS NULL THEN NULL "
    "WHEN trim(text) = '' THEN text "
    "ELSE trim(text) END AS text, "
    f"{_DECORATOR_ORACLE_PRE} AS pre "
    "FROM transcripts) t0) t"
)


# --- web parameter presets (reference src/satya/web.py:14-272) -------------

def _web_params():
    """The transcript stream validated AS an access log: one declared
    web parameter per column, exercising every constraint class the
    reference's WebParam.validate enforces — with WEB semantics (raw
    min_length, left-anchored re.match pattern, prefix-only url, no
    254-char email cap), which differ from the kernel gates on the
    same columns."""
    from satya_spark import web

    return {
        "conv_id": web.PathParam(pattern=r"c[0-9]{2,}"),
        "turn_idx": web.QueryParam(ge=0, le=10_000_000),
        "role": web.HeaderParam(
            "x_role", enum=["system", "user", "assistant", "tool"]
        ),
        "meta_email": web.FormField(None, email=True),
        "meta_url": web.QueryParam(None, url=True),
        "score": web.QueryParam(None, gt=0.0, lt=1e9),
        "tags": web.QueryParam(None, min_items=1, max_items=3, unique_items=True),
    }


_WEB_DTYPES = {
    "conv_id": "string",
    "turn_idx": "int",
    "role": "string",
    "meta_email": "string",
    "meta_url": "string",
    "score": "double",
    "tags": "array<string>",
}


def q_web_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar web-parameter validation: array-of-structs projection
    + filter + explode, zero shuffles (satya_spark/web.py
    violations_df)."""
    from satya_spark.web import violations_df

    df = from_tpch(spark, sf_dir).select(*_WEB_DTYPES)
    return violations_df(df, _web_params(), KEYS)


# --- events table (second spec deployment + sessionization) ---------------

def q_events_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same engine on a second table shape: events spec with a
    JSON-validity custom row rule. Violation rows keyed by event_id."""
    from satya_spark.compiler import compile_spec
    from satya_spark.eventfix import events_from_testdata, events_spec

    ev = events_from_testdata(spark, sf_dir)
    return compile_spec(events_spec()).violations_df(ev, ["event_id"])


def q_events_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """user_id → customer.c_custkey integrity (broadcast anti-join)."""
    from satya_spark.crossrow import referential_violations
    from satya_spark.eventfix import events_from_testdata

    ev = events_from_testdata(spark, sf_dir)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("user_id")
    )
    return referential_violations(ev, "user_id", cust, keys=["event_id"])


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per-user sessions split at >30-minute gaps
    (lag + window cumsum), aggregated to (user_id, session_id,
    n_events, min_event_id, sum_cents). Exact-integer cents avoid
    float-summation nondeterminism."""
    from pyspark.sql import Window

    from satya_spark.eventfix import events_from_testdata

    ev = events_from_testdata(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.floor(F.unix_timestamp("ts")).cast("long")
    prev = F.lag(secs).over(w)
    marked = ev.withColumn(
        "new_s",
        F.when(prev.isNull() | ((secs - prev) > 1800), F.lit(1)).otherwise(F.lit(0)),
    )
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = marked.withColumn("session_id", F.sum("new_s").over(cum))
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("min_event_id"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("sum_cents"),
        )
    )


def q_conv_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-level conversation checks (turn contiguity, role
    alternation, system placement, tool-role pairing) — one conv_id
    window shuffle; see satya_spark/convcheck.py."""
    from satya_spark.convcheck import conversation_structure_violations

    return conversation_structure_violations(from_tpch(spark, sf_dir))


def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: word-8-gram overlap of the (dup-
    planted) documents corpus against the derived eval suite;
    broadcast bench side, one groupBy(doc_id) over hit rows only."""
    from satya_spark.docfix import docs_from_testdata, eval_suite_from_testdata
    from satya_spark.functions.decontam import contamination_report

    return contamination_report(
        docs_from_testdata(spark, sf_dir),
        eval_suite_from_testdata(spark, sf_dir),
    )


def q_lines_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 page cleaning (functions/lines.py): per-line terminal-punct
    / min-words / javascript filter + lorem-ipsum / curly-brace /
    min-kept-lines page drops — ONE narrow projection, zero shuffle."""
    from satya_spark.docfix import lines_docs_from_testdata
    from satya_spark.functions.lines import clean_lines

    return clean_lines(lines_docs_from_testdata(spark, sf_dir))


def q_lines_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global line dedup: first occurrence per line hash wins
    (map-side-combining groupBy, 8-byte equi join back, one rebuild
    shuffle); see functions/lines.py plan-shape notes."""
    from satya_spark.docfix import lines_docs_from_testdata
    from satya_spark.functions.lines import dedup_lines

    return dedup_lines(lines_docs_from_testdata(spark, sf_dir))


def q_line_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher duplicate-line signals (dup_line_frac /
    dup_line_char_frac) — distributed explode → groupBy(id, hash),
    linear where the pure-expression form is O(lines²) per row."""
    from satya_spark.docfix import lines_docs_from_testdata
    from satya_spark.functions.lines import line_repetition

    return line_repetition(lines_docs_from_testdata(spark, sf_dir))


def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style span removal (dedup.remove_duplicated_spans):
    first occurrence of each duplicated n-gram survives, every other
    occurrence's token span is cut; rebuilt text + removal counts per
    doc. n=8 at gate scale (production default 50)."""
    from satya_spark.docfix import docs_from_testdata
    from satya_spark.functions.dedup import remove_duplicated_spans

    return remove_duplicated_spans(docs_from_testdata(spark, sf_dir), n=8)


def q_clf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier application (functions/classify.py):
    exploded corpus tokens × BROADCAST (token, weight) model → one
    map-side-combining groupBy(id); reported score is the rounded
    mean logit (monotone in the sigmoid). The model here is the
    deterministic md5 stand-in over the corpus vocabulary."""
    from satya_spark.functions.classify import classifier_score, hash_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return classifier_score(docs, hash_weights(docs))


def q_mix_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-column Bernoulli sampling (mix.bernoulli_sample): keep
    probability = the composite quality score — quality-weighted
    downsampling as a deterministic pure filter."""
    from satya_spark.functions.mix import bernoulli_sample
    from satya_spark.functions.text import quality_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "p", quality_score(F.col("text"))
    )
    return bernoulli_sample(docs, "p")


def q_mix_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style per-domain cap (mix.cap_per_group): at most n
    docs per source, chosen by deterministic md5-hash priority —
    two-phase salted top-n so one hot domain never funnels through a
    single reduce task."""
    from satya_spark.functions.mix import cap_per_group

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return cap_per_group(docs, group_col="source", n=10).select(
        "doc_id", "source", "rk"
    )


def q_pack_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainer-facing pack expansion (mix.pack_segments): one row per
    (doc, window) intersection with the in-document token sub-range;
    docs crossing window boundaries emit one segment per window."""
    from satya_spark.functions.mix import pack_segments

    return pack_segments(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        window_tokens=37,
        n_shards=8,
    )


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-span report (ExactSubstr signal, Lee et
    al. 2021): one posexplode to 8-byte gram keys, groupBy(hash)
    count ≥ 2, join-back, per-doc run merge. n=8 at gate scale
    (production default 50 — the fixture's docs are short)."""
    from satya_spark.docfix import docs_from_testdata
    from satya_spark.functions.dedup import duplicated_spans

    return duplicated_spans(docs_from_testdata(spark, sf_dir), n=8)


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix composition rollup (functions/mix.py): per
    (lang, source) doc/token counts, mean quality, token share — one
    map-side-combining groupBy; the share window runs over the rollup
    rows only."""
    from satya_spark.functions.mix import corpus_mix

    return corpus_mix(spark.read.parquet(f"{sf_dir}/documents.parquet"))


MIX_FRACTIONS = {"en": 0.5, "de": 0.25}


def q_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling: md5-hash64 threshold
    filter per stratum — reproducible across runs/engines/partition
    layouts, zero shuffle."""
    from satya_spark.functions.mix import stratified_sample

    return stratified_sample(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        MIX_FRACTIONS,
        default=1.0,
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing, shard-local (8 shards at
    gate scale; the shard count is the scale knob bounding each
    window sort to corpus/n_shards rows)."""
    from satya_spark.functions.mix import pack_sequences

    return pack_sequences(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        window_tokens=512,
        n_shards=8,
    )


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher Table-A1 doc-local quality signals (functions/gopher.py):
    word-count/mean-word-length bounds, hash+ellipsis symbol ratios,
    bullet/ellipsis line fractions, alpha-word fraction, required
    stopwords — one narrow projection, zero shuffle."""
    from satya_spark.docfix import gopher_docs_from_testdata
    from satya_spark.functions.gopher import gopher_quality

    return gopher_quality(gopher_docs_from_testdata(spark, sf_dir))


def q_gopher_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher within-doc n-gram repetition (top-2/3/4-gram and
    dup-5..10-gram character fractions): ONE explode of all nine gram
    sizes → map-side-combining groupBy — linear where the pure-
    expression form is O(tokens²) per row."""
    from satya_spark.docfix import gopher_docs_from_testdata
    from satya_spark.functions.gopher import gopher_ngram_repetition

    return gopher_ngram_repetition(gopher_docs_from_testdata(spark, sf_dir))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: run the full validation pipeline and
    return per-(field, constraint) violation counts."""
    sf_dir = "/root/testdata/sf0.001"
    from satya_spark.engine import ValidationEngine
    from satya_spark.spec import transcript_spec

    eng = ValidationEngine(transcript_spec())
    df = from_tpch(spark, sf_dir)
    run = eng.run(df, catalogs={"tool_catalog": tool_catalog_from_tpch(spark, sf_dir)})
    return (
        run.violations.groupBy("field", "constraint_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("field", "constraint_name")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """REGISTRATION ORDER IS LOAD-BEARING: the driver's correctness
    artifact covers the first ~50 registered queries, so gates are
    registered most-verification-starved first (r4 verdict task 1);
    79 gates in all:

    * tier 1 (18) — never driver-verified (new this round or
      previously pushed past the window), plus the ANN gates whose
      only implementation is now the numpy/Arrow one;
    * tier 2 (11) — r03-verified but the implementing code has changed
      since (similarity.py / dedup.py churn);
    * tier 3 (17) — changed this round or highest-value stable gates;
    * tier 4 (33) — long-stable gates, green in CORRECTNESS_r04 and
      unchanged since (kernels, text battery, hygiene) — these fall
      outside the driver window this round by design; the local
      runner (scripts/check_correctness.py) still sweeps all of them.
    """
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    # -- tier 1: never driver-verified (18) --
    out.update(
        {
            "mix_cap": q_mix_cap,
            "dup_clusters": q_dup_clusters,
            "vector_check": q_vector_check,
            "web_params": q_web_params,
            "dup_spans": q_dup_spans,
            "dup_span_removal": q_dup_span_removal,
            "clf_score": q_clf_score,
            "pack_sequences": q_pack_sequences,
            "pack_segments": q_pack_segments,
            "dedup_semantic": q_dedup_semantic,
            "dedup_simhash_pairs_prod": q_dedup_simhash_pairs_prod,
            "ann_lsh_topk": q_ann_lsh_topk,
            "ann_lsh_multiprobe": q_ann_lsh_multiprobe,
            "ann_ivf_topk": q_ann_ivf_topk,
            "ann_ivf_pruned": q_ann_ivf_pruned,
            "ann_ivf_indexed": q_ann_ivf_indexed,
            "decorator_validate": q_decorator_validate,
            "events_drift_daily": q_events_drift_daily,
        }
    )
    # -- tier 2: r03-verified, code changed since (11) --
    out.update(
        {
            "dedup_jaccard": q_dedup_jaccard,
            "dedup_minhash": q_dedup_minhash,
            "dedup_minhash_tight": q_dedup_minhash_tight,
            "dedup_simhash": q_dedup_simhash,
            "dedup_simhash_pairs": q_dedup_simhash_pairs,
            "ann_topk": q_ann_topk,
            "dedup_embedding": q_dedup_embedding,
            "media_features": q_media_features,
            "events_validate": q_events_validate,
            "events_referential": q_events_referential,
            "events_sessions": q_events_sessions,
        }
    )
    # -- tier 3: changed this round (conv_neardup + the crossrow
    # fingerprint path it reuses) or highest-value stable (17) --
    out.update(
        {
            "conv_neardup": q_conv_neardup,
            "conv_dedup": q_conv_dedup,
            "conv_repeated_turns": q_conv_repeated_turns,
            "conv_stats": q_conv_stats,
            "conv_structure": q_conv_structure,
            "transcript_pii": q_transcript_pii,
            "row_violations": q_row_violations,
            "row_verdicts": q_row_verdicts,
            "bucket_verdicts": q_bucket_verdicts,
            "unique_key": q_unique_key,
            "referential": q_referential,
            "column_stats": q_column_stats,
            "coercions": q_coercions,
            "drift_psi": q_drift_psi,
            "drift_ks": q_drift_ks,
            "json_roundtrip": q_json_roundtrip,
            "violations_sample": q_violations_sample,
        }
    )
    # -- tier 4: long-stable, r4-green, unchanged (33) --
    out.update({name: _kernel_query(cs) for name, cs in _KERNEL_GROUPS.items()})
    out.update(
        {
            "kernel_item_type": q_kernel_item_type,
            "corpus_mix": q_corpus_mix,
            "null_rate": q_null_rate,
            "drift_psi_grouped": q_drift_psi_grouped,
            "profile_drift": q_profile_drift,
            "quantile_drift": q_quantile_drift,
            "violation_counts": q_violation_counts,
            "top_violating_convs": q_top_violating_convs,
            "column_quantiles": q_column_quantiles,
            "stable_text": q_stable_text,
            "text_stats": q_text_stats,
            "text_langid": q_text_langid,
            "text_fingerprint": q_text_fingerprint,
            "text_repetition": q_text_repetition,
            "text_pii": q_text_pii,
            "dedup_exact": q_dedup_exact,
            "decontam": q_decontam,
            "lines_clean": q_lines_clean,
            "lines_dedup": q_lines_dedup,
            "line_repetition": q_line_repetition,
            "gopher_quality": q_gopher_quality,
            "gopher_ngrams": q_gopher_ngrams,
            "mix_sample": q_mix_sample,
            "mix_bernoulli": q_mix_bernoulli,
        }
    )
    return out


def oracle_sql() -> dict[str, str]:
    valid = _COMPILED.valid_sql()
    out: dict[str, str] = {
        name: _kernel_oracle(cs) for name, cs in _KERNEL_GROUPS.items()
    }
    out["row_violations"] = _duck(
        "SELECT * FROM (\n"
        + _COMPILED.violations_sql("transcripts", KEYS)
        + "\n) v"
    )
    from satya_spark.compiler import compile_spec as _cs

    out["kernel_item_type"] = _duck(
        _ITEM_DF_SQL
        + " SELECT * FROM (\n"
        + _cs(_item_spec()).violations_sql("t2", KEYS)
        + "\n) v"
    )
    out["decorator_validate"] = _duck(_DECORATOR_ORACLE_SQL)
    from satya_spark.web import violations_sql as _web_sql

    out["web_params"] = _duck(
        _web_sql("transcripts", _web_params(), KEYS, _WEB_DTYPES)
    )
    out["row_verdicts"] = _duck(
        f"SELECT CAST(count(*) AS BIGINT) AS n_rows, "
        f"CAST(count(CASE WHEN ({valid}) THEN 1 END) AS BIGINT) AS n_valid, "
        f"CAST(count(CASE WHEN NOT ({valid}) THEN 1 END) AS BIGINT) AS n_invalid "
        f"FROM transcripts"
    )
    out["bucket_verdicts"] = _duck(
        f"SELECT CAST(substring(conv_id, 2) AS BIGINT) % 32 AS bucket, "
        f"CAST(count(*) AS BIGINT) AS n_rows, "
        f"CAST(count(CASE WHEN ({valid}) THEN 1 END) AS BIGINT) AS n_valid, "
        f"CAST(count(CASE WHEN NOT ({valid}) THEN 1 END) AS BIGINT) AS n_invalid, "
        f"count(CASE WHEN NOT ({valid}) THEN 1 END) = 0 AS passed "
        f"FROM transcripts GROUP BY 1"
    )
    out["unique_key"] = _duck(
        "SELECT conv_id, turn_idx, CAST(count(*) AS BIGINT) AS dup_count "
        "FROM transcripts GROUP BY conv_id, turn_idx HAVING count(*) > 1"
    )
    out["referential"] = _duck(
        "SELECT tool, conv_id, turn_idx FROM transcripts "
        "WHERE tool IS NOT NULL AND tool NOT IN (SELECT tool FROM tool_catalog)"
    )
    stats_parts = []
    for fld in ["conv_id", "turn_idx", "role", "text", "tool", "meta_email"]:
        stats_parts.append(
            f"SELECT '{fld}' AS field, CAST(count(*) AS BIGINT) AS n_rows, "
            f"CAST(count(CASE WHEN {fld} IS NULL THEN 1 END) AS BIGINT) AS n_null, "
            f"round(CAST(count(CASE WHEN {fld} IS NULL THEN 1 END) AS DOUBLE)"
            f" / count(*), 6) AS null_rate, "
            f"CAST(count(DISTINCT {fld}) AS BIGINT) AS n_distinct FROM transcripts"
        )
    out["column_stats"] = _duck(" UNION ALL ".join(stats_parts))
    from satya_spark.convcheck import conversation_structure_sql

    out["conv_structure"] = _duck(conversation_structure_sql("transcripts"))
    from satya_spark.functions.dedup import portable_hash64_sql as _ph
    from satya_spark.convcheck import repeated_turn_groups_sql

    out["conv_repeated_turns"] = _duck(repeated_turn_groups_sql("transcripts"))
    from satya_spark.functions import pii as _px

    _tkey = _ph(
        "conv_id || ':' || coalesce(CAST(turn_idx AS VARCHAR), 'null')", "tp"
    )
    _ttxt = (
        "coalesce(text, '')"
        f" || coalesce(CASE WHEN {_tkey} % 13 = 0"
        " THEN ' contact agent@example.com' END, '')"
        f" || coalesce(CASE WHEN {_tkey} % 17 = 0"
        " THEN ' ssn 123-45-6789' END, '')"
    )
    out["transcript_pii"] = _duck(
        f", tpii AS (SELECT conv_id, turn_idx, {_ttxt} AS __t"
        " FROM transcripts) "
        "SELECT conv_id, turn_idx,"
        f" {_px.pii_flag_sql('__t', 'email')} AS pii_email,"
        f" {_px.pii_flag_sql('__t', 'ssn')} AS pii_ssn,"
        f" {_px.redact_sql('__t')} AS text_redacted FROM tpii"
    )
    out["conv_stats"] = _duck(
        "SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns, "
        "max(turn_idx) AS max_turn_idx, "
        "CAST(sum(coalesce(length(text), 0)) AS BIGINT) AS sum_text_len, "
        "round(CAST(sum(coalesce(length(text), 0)) AS DOUBLE) / count(*), 4)"
        " AS avg_text_len "
        "FROM transcripts GROUP BY conv_id"
    )
    from satya_spark.functions import text as _tx
    from satya_spark.functions.dedup import MINHASH_BANDS as _MB
    from satya_spark.functions.dedup import MINHASH_K as _MK

    _ctoks = f"list_distinct({_tx.tokens_ws_sql('text')})"
    _cmh = ", ".join(
        "list_aggregate(list_transform(toks, x ->"
        f" ('0x' || substring(md5('mh{i}:' || x), 1, 15))::BIGINT), 'min')"
        f" AS mh{i}"
        for i in range(_MK)
    )
    _cr = _MK // _MB
    _cbands = " UNION ALL ".join(
        "SELECT conv_id, {b} AS band, md5({concat}) AS bucket FROM sig".format(
            b=b,
            concat=" || ',' || ".join(
                f"CAST(mh{b * _cr + j} AS VARCHAR)" for j in range(_cr)
            ),
        )
        for b in range(_MB)
    )
    _cjac = (
        "round(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)"
        " / len(list_distinct(list_concat(ta.toks, tb.toks))), 6)"
    )
    out["conv_neardup"] = _duck(
        ", conv_docs AS (SELECT conv_id,"
        " string_agg(text, ' ' ORDER BY turn_idx, text) AS text"
        " FROM transcripts GROUP BY conv_id"
        f" HAVING {_ph('conv_id', 'cn')} % 11 = 0), "
        f"t AS (SELECT conv_id, {_ctoks} AS toks FROM conv_docs), "
        f"sig AS (SELECT conv_id, toks, {_cmh} FROM t), "
        f"bb AS ({_cbands}), "
        "cand AS (SELECT DISTINCT a.conv_id AS id_a, b.conv_id AS id_b"
        " FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket"
        " AND a.conv_id < b.conv_id), "
        "pr AS (SELECT id_a, id_b, jac FROM (SELECT id_a, id_b,"
        f" {_cjac} AS jac FROM cand"
        " JOIN t ta ON ta.conv_id = id_a JOIN t tb ON tb.conv_id = id_b) p"
        " WHERE jac >= 0.6) "
        "SELECT id_b AS conv_id, CAST(count(*) AS BIGINT) AS n_near_dups,"
        " min(id_a) AS nearest_lower, round(max(jac), 6) AS max_jac"
        " FROM pr GROUP BY id_b"
    )
    out["conv_dedup"] = _duck(
        ", aug AS (SELECT conv_id, turn_idx, text FROM transcripts"
        " UNION ALL SELECT conv_id || '_dup' AS conv_id, turn_idx, text"
        f" FROM transcripts WHERE {_ph('conv_id', 'cd')} % 23 = 0), "
        "fps AS (SELECT conv_id,"
        " md5(string_agg(text, chr(30) ORDER BY turn_idx, text)) AS conv_fp,"
        " count(*) AS n_turns FROM aug GROUP BY conv_id) "
        "SELECT conv_fp, CAST(count(*) AS BIGINT) AS n_convs,"
        " min(conv_id) AS canonical_conv,"
        " CAST(max(n_turns) AS BIGINT) AS n_turns"
        " FROM fps GROUP BY conv_fp HAVING count(*) > 1"
    )
    out["null_rate"] = _duck(
        "SELECT "
        "round(CAST(count(CASE WHEN tool IS NULL THEN 1 END) AS DOUBLE)"
        " / count(*), 6) AS tool_null_rate, "
        "round(CAST(count(CASE WHEN meta_email IS NULL THEN 1 END) AS DOUBLE)"
        " / count(*), 6) AS email_null_rate "
        "FROM transcripts"
    )
    drift_cte = (
        ", conv AS (SELECT conv_id, "
        "round(CAST(sum(coalesce(length(text),0)) AS DOUBLE)/count(*), 4) AS m, "
        "CAST(substring(conv_id, 2) AS BIGINT) % 2 AS half "
        "FROM transcripts GROUP BY conv_id), "
        "hists AS (SELECT greatest(least(CAST(floor(m / 10.0) AS INT), 15), 0)"
        " AS bucket, "
        "CAST(count(CASE WHEN half = 0 THEN 1 END) AS BIGINT) AS n_ref, "
        "CAST(count(CASE WHEN half = 1 THEN 1 END) AS BIGINT) AS n_cur "
        "FROM conv GROUP BY 1), "
        "grid AS (SELECT CAST(range AS INT) AS bucket FROM range(16)), "
        "joined AS (SELECT g.bucket, coalesce(n_ref, 0) AS n_ref, "
        "coalesce(n_cur, 0) AS n_cur FROM grid g LEFT JOIN hists h"
        " ON g.bucket = h.bucket), "
        "tot AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM joined)"
    )
    out["drift_psi"] = _duck(
        drift_cte
        + " SELECT bucket, "
        "round(CAST(n_ref AS DOUBLE)/t_ref + 1e-06, 8) AS p, "
        "round(CAST(n_cur AS DOUBLE)/t_cur + 1e-06, 8) AS q, "
        "round((CAST(n_ref AS DOUBLE)/t_ref + 1e-06 - CAST(n_cur AS DOUBLE)/t_cur - 1e-06)"
        " * ln((CAST(n_ref AS DOUBLE)/t_ref + 1e-06) / (CAST(n_cur AS DOUBLE)/t_cur + 1e-06)), 6)"
        " AS psi_contrib "
        "FROM joined, tot ORDER BY bucket"
    )
    out["drift_ks"] = _duck(
        drift_cte
        + ", cdf AS (SELECT bucket, "
        "CAST(sum(n_ref) OVER (ORDER BY bucket) AS DOUBLE) / t_ref AS c_ref, "
        "CAST(sum(n_cur) OVER (ORDER BY bucket) AS DOUBLE) / t_cur AS c_cur "
        "FROM joined, tot) "
        "SELECT round(max(abs(c_ref - c_cur)), 6) AS ks_stat FROM cdf"
    )
    viol_sub = (
        "(\n" + _COMPILED.violations_sql("transcripts", KEYS) + "\n) v"
    )
    out["violation_counts"] = _duck(
        f"SELECT field, constraint_name, CAST(count(*) AS BIGINT) AS n "
        f"FROM {viol_sub} GROUP BY field, constraint_name"
    )
    out["violations_sample"] = _duck(
        f"SELECT conv_id, turn_idx, field, constraint_name, offending_value, "
        f"CAST(rk AS INT) AS rk FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY field, constraint_name "
        f"ORDER BY conv_id, turn_idx) AS rk FROM {viol_sub}) WHERE rk <= 3"
    )
    out["top_violating_convs"] = _duck(
        f"SELECT conv_id, CAST(count(*) AS BIGINT) AS n_violations "
        f"FROM {viol_sub} GROUP BY conv_id "
        f"ORDER BY n_violations DESC, conv_id LIMIT 10"
    )
    quant_parts = []
    for fld, expr_sql in [
        ("turn_idx", "CAST(turn_idx AS DOUBLE)"),
        ("text_len", "CAST(coalesce(length(text), 0) AS DOUBLE)"),
    ]:
        quant_parts.append(
            f"SELECT '{fld}' AS field, "
            f"round(quantile_cont({expr_sql}, 0.25), 6) AS q25, "
            f"round(quantile_cont({expr_sql}, 0.50), 6) AS q50, "
            f"round(quantile_cont({expr_sql}, 0.75), 6) AS q75 "
            f"FROM transcripts"
        )
    out["column_quantiles"] = _duck(" UNION ALL ".join(quant_parts))
    gpsi_cte = (
        ", gsrc AS (SELECT coalesce(role, '<null>') AS grp, "
        "greatest(least(CAST(floor(coalesce(length(text), 0) / 200.0) AS INT),"
        " 19), 0) AS bucket FROM transcripts), "
        "h AS (SELECT grp, bucket, CAST(count(*) AS BIGINT) AS n "
        "FROM gsrc GROUP BY grp, bucket), "
        "gh AS (SELECT bucket, sum(n) AS n_ref FROM h GROUP BY bucket), "
        "grid AS (SELECT g.grp, r.bucket FROM (SELECT DISTINCT grp FROM h) g "
        "CROSS JOIN (SELECT CAST(range AS INT) AS bucket FROM range(20)) r), "
        "joined AS (SELECT grid.grp, grid.bucket, "
        "coalesce(h.n, 0) AS n_cur, coalesce(gh.n_ref, 0) AS n_ref "
        "FROM grid LEFT JOIN h ON grid.grp = h.grp AND grid.bucket = h.bucket "
        "LEFT JOIN gh ON grid.bucket = gh.bucket), "
        "tot AS (SELECT grp, sum(n_cur) AS t_cur FROM joined GROUP BY grp), "
        "tref AS (SELECT sum(n) AS t_ref FROM h)"
    )
    out["drift_psi_grouped"] = _duck(
        gpsi_cte
        + " SELECT joined.grp, "
        "round(sum((CAST(n_ref AS DOUBLE)/t_ref + 1e-06"
        " - CAST(n_cur AS DOUBLE)/t_cur - 1e-06)"
        " * ln((CAST(n_ref AS DOUBLE)/t_ref + 1e-06)"
        " / (CAST(n_cur AS DOUBLE)/t_cur + 1e-06))), 6) AS psi, "
        "CAST(sum(n_cur) AS BIGINT) AS n_rows "
        "FROM joined JOIN tot ON joined.grp = tot.grp CROSS JOIN tref "
        "GROUP BY joined.grp"
    )
    pd_parts = []
    for fld in ["role", "tool", "meta_email", "text"]:
        pd_parts.append(
            f"SELECT '{fld}' AS field, "
            f"CAST(count(CASE WHEN {fld} IS NULL THEN 1 END) AS DOUBLE)"
            f" / count(*) AS nr, "
            f"CAST(count(DISTINCT {fld}) AS BIGINT) AS nd, half FROM halves"
            f" GROUP BY half"
        )
    out["profile_drift"] = _duck(
        ", halves AS (SELECT *, CAST(substring(conv_id, 2) AS BIGINT) % 2"
        " AS half FROM transcripts), "
        "p AS (" + " UNION ALL ".join(pd_parts) + "), "
        "o AS (SELECT field, nr AS nro, nd AS ndo FROM p WHERE half = 0), "
        "n AS (SELECT field, nr AS nrn, nd AS ndn FROM p WHERE half = 1) "
        "SELECT o.field, round(nro, 6) AS null_rate_old, "
        "round(nrn, 6) AS null_rate_new, "
        "round(nrn - nro, 6) AS null_rate_delta, "
        "ndo AS n_distinct_old, ndn AS n_distinct_new "
        "FROM o JOIN n ON o.field = n.field"
    )
    qd_parts = []
    for fld, expr_sql in [
        ("turn_idx", "CAST(turn_idx AS DOUBLE)"),
        ("text_len", "CAST(coalesce(length(text), 0) AS DOUBLE)"),
    ]:
        sel = [f"'{fld}' AS field"]
        for pname, pval in [("q25", "0.25"), ("q50", "0.50"), ("q75", "0.75")]:
            q_old = f"round(quantile_cont({expr_sql}, {pval}) FILTER (half = 0), 6)"
            q_new = f"round(quantile_cont({expr_sql}, {pval}) FILTER (half = 1), 6)"
            sel.append(f"{q_old} AS {pname}_old")
            sel.append(f"{q_new} AS {pname}_new")
            # delta over the ROUNDED quantiles — matches the Spark
            # side, where quantile_drift subtracts column_quantiles'
            # already-rounded outputs
            sel.append(f"round({q_new} - {q_old}, 6) AS {pname}_delta")
        qd_parts.append(
            "SELECT "
            + ", ".join(sel)
            + " FROM (SELECT *, CAST(substring(conv_id, 2) AS BIGINT) % 2"
            " AS half FROM transcripts) t"
        )
    out["quantile_drift"] = _duck(" UNION ALL ".join(qd_parts))
    out["coercions"] = _duck(
        "SELECT conv_id, turn_idx, "
        "TRY_CAST(CASE WHEN CAST(substring(conv_id, 2) AS BIGINT) % 17 = 0"
        " THEN 'x' ELSE CAST(turn_idx AS STRING) END AS BIGINT) AS coerced_int, "
        "CASE WHEN lower(CASE WHEN turn_idx % 3 = 0 THEN 'TRUE'"
        " WHEN turn_idx % 3 = 1 THEN 'false' ELSE 'yes' END) = 'true' THEN TRUE "
        "WHEN lower(CASE WHEN turn_idx % 3 = 0 THEN 'TRUE'"
        " WHEN turn_idx % 3 = 1 THEN 'false' ELSE 'yes' END) = 'false' THEN FALSE "
        "ELSE CAST(NULL AS BOOLEAN) END AS coerced_bool, "
        "ts AS coerced_ts "
        "FROM transcripts"
    )
    out["stable_text"] = _duck(
        "SELECT conv_id, turn_idx, "
        "CAST(row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx, text)"
        " AS INT) AS rn, text FROM transcripts"
    )
    out["json_roundtrip"] = _duck(
        "SELECT CAST(count(*) AS BIGINT) AS n_roundtripped FROM transcripts"
    )
    out.update(_doc_oracles())
    out.update(_event_oracles())
    out["ann_lsh_topk"] = _lsh_oracle()
    out["ann_lsh_multiprobe"] = _lsh_oracle(multiprobe=1)
    out["ann_ivf_topk"] = _doc_oracles()["ann_topk"]  # full probe ≡ brute force
    out["ann_ivf_pruned"] = _ivf_pruned_oracle()
    out["ann_ivf_indexed"] = _ivf_pruned_oracle()  # same pruned semantics
    out["dedup_embedding"] = _embdup_oracle()
    out["dedup_semantic"] = _semantic_dedup_oracle()
    out["media_features"] = _media_oracle()
    return out


def _embdup_oracle(
    threshold: float = 0.9,
    n_planes: int = 6,
    dims: int = 64,
    bands: int = 4,
    seed: str = "nd",
) -> str:
    """SQL twin of similarity.embedding_near_dup_pairs over the embfix
    fixture: per-band sign-sketch buckets with the deterministic plane
    constants embedded as literals, union of band collisions, exact
    cosine verify."""
    from satya_spark.docfix import emb_with_clause
    from satya_spark.functions.similarity import _plane_component

    def dot(band: int, p: int) -> str:
        terms = " + ".join(
            f"embedding[{d + 1}]::DOUBLE * {_plane_component(f'{seed}{band}', p, d)!r}"
            for d in range(dims)
        )
        return f"({terms})"

    def bucket(band: int) -> str:
        parts = " + ".join(
            f"(CASE WHEN {dot(band, p)} > 0 THEN {2 ** p} ELSE 0 END)"
            for p in range(n_planes)
        )
        return f"({parts})"

    band_selects = " UNION ALL ".join(
        f"SELECT vec_id, {bi} AS band, {bucket(bi)} AS bucket FROM embfix"
        for bi in range(bands)
    )
    cos = (
        "round(list_dot_product(va.embedding::DOUBLE[], vb.embedding::DOUBLE[])"
        " / (sqrt(list_dot_product(va.embedding::DOUBLE[], va.embedding::DOUBLE[]))"
        " * sqrt(list_dot_product(vb.embedding::DOUBLE[], vb.embedding::DOUBLE[]))), 6)"
    )
    return emb_with_clause() + (
        f", bb AS ({band_selects})"
        ", cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b FROM bb a"
        " JOIN bb b ON a.band = b.band AND a.bucket = b.bucket"
        " AND a.vec_id < b.vec_id) "
        f"SELECT id_a, id_b, cos_sim FROM (SELECT id_a, id_b, {cos} AS cos_sim"
        " FROM cand JOIN embfix va ON va.vec_id = id_a"
        " JOIN embfix vb ON vb.vec_id = id_b) p"
        f" WHERE cos_sim >= CAST({threshold!r} AS DOUBLE)"
    )


def _ivf_pruned_oracle(k_lists: int = 8, nprobe: int = 2, k: int = 5) -> str:
    """SQL twin of stride-centroid IVF (similarity.py train_centroids
    iters=0 + ivf_topk): centroids = the k_lists lowest-id vectors with
    vec_id % (n // k_lists) == 0; assignment = argmax rounded cosine
    (ties → smallest centroid idx); probe selection = top-nprobe rounded
    cosine (ties → LARGEST idx, matching _probes_driver_np);
    final ranking identical to the brute-force oracle."""
    cos_ec = (
        "round(list_dot_product(e.embedding::DOUBLE[], c.cvec::DOUBLE[])"
        " / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))"
        " * sqrt(list_dot_product(c.cvec::DOUBLE[], c.cvec::DOUBLE[]))), 6)"
    )
    cos_lq = (
        "round(list_dot_product(l.embedding::DOUBLE[], qp.embedding::DOUBLE[])"
        " / (sqrt(list_dot_product(l.embedding::DOUBLE[], l.embedding::DOUBLE[]))"
        " * sqrt(list_dot_product(qp.embedding::DOUBLE[], qp.embedding::DOUBLE[]))), 6)"
    )
    return (
        f"WITH par AS (SELECT greatest(CAST(count(*) // {k_lists} AS BIGINT), 1)"
        " AS stride FROM embeddings), "
        "cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)"
        " AS c_idx, embedding AS cvec FROM embeddings, par"
        f" WHERE vec_id % stride = 0 ORDER BY vec_id LIMIT {k_lists}), "
        f"asg AS (SELECT e.vec_id, e.embedding, c.c_idx, {cos_ec} AS s"
        " FROM embeddings e CROSS JOIN cent c), "
        "lists AS (SELECT vec_id, embedding, c_idx AS list FROM asg"
        " QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c_idx ASC) = 1), "
        "qprobe AS (SELECT vec_id AS query_id, embedding, c_idx AS list FROM asg"
        " WHERE vec_id < 10"
        f" QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c_idx DESC) <= {nprobe}), "
        f"s AS (SELECT qp.query_id, l.vec_id, {cos_lq} AS cos_sim"
        " FROM lists l JOIN qprobe qp ON l.list = qp.list"
        " WHERE l.vec_id <> qp.query_id) "
        "SELECT query_id, CAST(row_number() OVER "
        "(PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rank, "
        "vec_id, cos_sim FROM s "
        f"QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) <= {k}"
    )


def _semantic_dedup_oracle(k_lists: int = 8, threshold: float = 0.9) -> str:
    """SQL twin of q_dedup_semantic: stride centroids (iters=0) over
    embfix, assignment = argmax rounded cosine (ties → smallest
    centroid idx — same as _assign_lists_np's numpy argmax), pairs
    within a cluster with rounded cosine ≥ threshold, drop rule =
    lower id wins (kept_id = min colliding lower id, max_cos = max
    qualifying cosine)."""
    from satya_spark.docfix import emb_with_clause

    cos_ec = (
        "round(list_dot_product(e.embedding::DOUBLE[], c.cvec::DOUBLE[])"
        " / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))"
        " * sqrt(list_dot_product(c.cvec::DOUBLE[], c.cvec::DOUBLE[]))), 6)"
    )
    cos_ab = (
        "round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
        " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
        " * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)"
    )
    return emb_with_clause() + (
        f", par AS (SELECT greatest(CAST(count(*) // {k_lists} AS BIGINT), 1)"
        " AS stride FROM embfix), "
        "cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)"
        " AS c_idx, embedding AS cvec FROM embfix, par"
        f" WHERE vec_id % stride = 0 ORDER BY vec_id LIMIT {k_lists}), "
        f"asg AS (SELECT e.vec_id, e.embedding, c.c_idx, {cos_ec} AS s"
        " FROM embfix e CROSS JOIN cent c), "
        "lists AS (SELECT vec_id, embedding, c_idx AS list FROM asg"
        " QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c_idx ASC) = 1), "
        f"p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos_ab} AS cos_sim"
        " FROM lists a JOIN lists b ON a.list = b.list AND a.vec_id < b.vec_id) "
        "SELECT id_b AS vec_id, min(id_a) AS kept_id, max(cos_sim) AS max_cos"
        f" FROM p WHERE cos_sim >= CAST({threshold!r} AS DOUBLE) GROUP BY id_b"
    )


def _media_oracle(n: int = 200, dim: int = 8) -> str:
    """SQL twin of synthesize_media + extract_features: the payload is
    repeat('blob'||id, 16) (ASCII → chars == bytes), the feature is the
    per-(position mod dim) byte mean / 255, half-up-quantized to
    micro-units — identical double ops to multimodal._fake_feature."""
    return (
        f"WITH m AS (SELECT CAST(range AS BIGINT) AS media_id, "
        f"repeat('blob' || CAST(range AS VARCHAR), 16) AS s FROM range({n})), "
        "b0 AS (SELECT media_id, s, CAST(length(s) AS BIGINT) AS n_bytes, "
        "unnest(generate_series(1, length(s))) AS p FROM m), "
        "b AS (SELECT media_id, n_bytes, CAST(p AS INT) AS p, "
        "ord(substring(s, CAST(p AS INT), 1)) AS byte FROM b0), "
        f"ag AS (SELECT media_id, n_bytes, CAST((p - 1) % {dim} AS INT) AS dim, "
        "CAST(sum(byte) AS DOUBLE) / count(*) / 255.0 AS x "
        "FROM b GROUP BY media_id, n_bytes, dim) "
        "SELECT media_id, "
        "CASE CAST(media_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'"
        " ELSE 'video' END AS kind, "
        "n_bytes, dim, CAST(floor(x * 1000000 + 0.5) AS BIGINT) AS feat_micro "
        "FROM ag"
    )


def _lsh_oracle(n_planes: int = 4, dims: int = 64, multiprobe: int = 0) -> str:
    """The LSH sign-sketch is deterministic (md5-derived plane
    constants), so the whole approximate search IS SQL-expressible:
    embed the plane weights as literals and replicate bucket + cosine
    + rank in DuckDB. multiprobe=1 additionally probes the n_planes
    one-bit-flip buckets (flip set unnested in SQL)."""
    from satya_spark.functions.similarity import _plane_component

    def dot(p: int, alias: str) -> str:
        terms = " + ".join(
            f"{alias}.embedding[{d + 1}]::DOUBLE * {_plane_component('ann', p, d)!r}"
            for d in range(dims)
        )
        return f"({terms})"

    def bucket(alias: str) -> str:
        parts = " + ".join(
            f"(CASE WHEN {dot(p, alias)} > 0 THEN {2 ** p} ELSE 0 END)"
            for p in range(n_planes)
        )
        return f"({parts})"

    cos = (
        "round(list_dot_product(c.embedding::DOUBLE[], q.embedding::DOUBLE[])"
        " / (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))"
        " * sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))), 6)"
    )
    if multiprobe == 1:
        flips = "[" + ", ".join(str(2**p) for p in range(n_planes)) + ", 0]"
        q_cte = (
            "q AS (SELECT vec_id AS query_id, embedding, "
            "CAST(xor(CAST(bucket AS BIGINT), CAST(f.flip AS BIGINT)) AS INT) AS bucket "
            f"FROM c, (SELECT unnest({flips}) AS flip) f WHERE vec_id < 10), "
        )
    else:
        q_cte = "q AS (SELECT vec_id AS query_id, embedding, bucket FROM c WHERE vec_id < 10), "
    return (
        f"WITH c AS (SELECT vec_id, embedding, {bucket('embeddings')} AS bucket"
        " FROM embeddings), "
        + q_cte
        + f"s AS (SELECT q.query_id, c.vec_id, {cos} AS cos_sim "
        "FROM c JOIN q ON c.bucket = q.bucket WHERE c.vec_id <> q.query_id) "
        "SELECT query_id, CAST(row_number() OVER "
        "(PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rank, "
        "vec_id, cos_sim FROM s "
        "QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) <= 5"
    )


def _event_oracles() -> dict[str, str]:
    from satya_spark.compiler import compile_spec
    from satya_spark.eventfix import events_spec, events_with_clause

    W = events_with_clause()
    compiled = compile_spec(events_spec())
    o: dict[str, str] = {}
    o["events_validate"] = W + (
        ", t AS (SELECT * FROM ev) SELECT * FROM (\n"
        + compiled.violations_sql("t", ["event_id"]).replace("FROM t", "FROM t")
        + "\n) v"
    )
    o["events_referential"] = W + (
        " SELECT user_id, event_id FROM ev WHERE user_id IS NOT NULL "
        "AND user_id NOT IN (SELECT c_custkey FROM customer)"
    )
    o["events_drift_daily"] = W + (
        ", gsrc AS (SELECT strftime(ts, '%Y-%m-%d') AS grp, "
        "greatest(least(CAST(floor(coalesce(value, 0.0) / 25.0) AS INT),"
        " 19), 0) AS bucket FROM ev), "
        "h AS (SELECT grp, bucket, CAST(count(*) AS BIGINT) AS n "
        "FROM gsrc GROUP BY grp, bucket), "
        "gh AS (SELECT bucket, sum(n) AS n_ref FROM h GROUP BY bucket), "
        "grid AS (SELECT g.grp, r.bucket FROM (SELECT DISTINCT grp FROM h) g "
        "CROSS JOIN (SELECT CAST(range AS INT) AS bucket FROM range(20)) r), "
        "joined AS (SELECT grid.grp, grid.bucket, "
        "coalesce(h.n, 0) AS n_cur, coalesce(gh.n_ref, 0) AS n_ref "
        "FROM grid LEFT JOIN h ON grid.grp = h.grp AND grid.bucket = h.bucket "
        "LEFT JOIN gh ON grid.bucket = gh.bucket), "
        "tot AS (SELECT grp, sum(n_cur) AS t_cur FROM joined GROUP BY grp), "
        "tref AS (SELECT sum(n) AS t_ref FROM h) "
        "SELECT joined.grp, "
        "round(sum((CAST(n_ref AS DOUBLE)/t_ref + 1e-06"
        " - CAST(n_cur AS DOUBLE)/t_cur - 1e-06)"
        " * ln((CAST(n_ref AS DOUBLE)/t_ref + 1e-06)"
        " / (CAST(n_cur AS DOUBLE)/t_cur + 1e-06))), 6) AS psi, "
        "CAST(sum(n_cur) AS BIGINT) AS n_rows "
        "FROM joined JOIN tot ON joined.grp = tot.grp CROSS JOIN tref "
        "GROUP BY joined.grp"
    )
    o["events_sessions"] = W + (
        ", s AS (SELECT user_id, event_id, value, "
        "CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
        "OR CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) > 1800 THEN 1 ELSE 0 END AS new_s, "
        "ts FROM ev), "
        "sess AS (SELECT user_id, event_id, value, "
        "CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM s) "
        "SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events, "
        "min(event_id) AS min_event_id, "
        "CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents "
        "FROM sess GROUP BY user_id, session_id"
    )
    return o


def _doc_oracles() -> dict[str, str]:
    from satya_spark.docfix import docs_with_clause
    from satya_spark.functions import text as tx
    from satya_spark.functions.dedup import (
        MINHASH_BANDS,
        MINHASH_K,
        SIMHASH_BITS,
        SIMHASH_PAIR_BITS,
        SIMHASH_PAIR_CHUNKS,
    )

    W = docs_with_clause()
    o: dict[str, str] = {}
    o["text_stats"] = W + (
        f" SELECT doc_id, CAST({tx.token_count_ws_sql('text')} AS INT) AS n_tok_ws, "
        f"CAST({tx.token_count_bpe_sql('text')} AS INT) AS n_tok_bpe, "
        f"{tx.punct_ratio_sql('text')} AS punct_ratio, "
        f"{tx.quality_score_sql('text')} AS quality FROM docs"
    )
    o["text_langid"] = W + (
        f" SELECT doc_id, lang, {tx.lang_id_sql('text')} AS lang_pred, "
        f"{tx.lang_id_sql('text')} = lang AS correct FROM docs"
    )
    o["text_fingerprint"] = W + (
        f" SELECT doc_id, {tx.fingerprint_sql('text')} AS fp FROM docs"
    )
    o["text_repetition"] = W + tx.repetition_sql("docs", standalone=False)
    from satya_spark.docfix import pii_with_clause
    from satya_spark.functions import pii as px

    o["text_pii"] = pii_with_clause() + (
        " SELECT doc_id, "
        f"{px.pii_flag_sql('text', 'email')} AS pii_email, "
        f"{px.pii_flag_sql('text', 'ssn')} AS pii_ssn, "
        f"{px.pii_flag_sql('text', 'phone')} AS pii_phone, "
        f"{px.pii_flag_sql('text', 'ipv4')} AS pii_ipv4, "
        f"CAST({px.pii_count_types_sql('text')} AS BIGINT) AS pii_types, "
        f"{px.redact_sql('text')} AS text_redacted "
        "FROM pii_docs"
    )
    from satya_spark.docfix import eval_cte
    from satya_spark.functions.decontam import contamination_report_sql

    o["decontam"] = (
        W
        + ", "
        + eval_cte("duckdb")
        + "\n"
        + contamination_report_sql("docs", "eval_suite")
    )
    from satya_spark.docfix import lines_cte
    from satya_spark.functions import lines as ln

    WL = "WITH " + lines_cte("duckdb") + "\n"
    o["lines_clean"] = WL + ln.clean_lines_sql("lines_docs")
    o["lines_dedup"] = WL + ln.dedup_lines_sql("lines_docs")
    o["line_repetition"] = WL + ln.line_repetition_sql("lines_docs")
    from satya_spark.docfix import gopher_cte
    from satya_spark.functions import gopher as gp

    WG = "WITH " + gopher_cte("duckdb") + "\n"
    o["gopher_quality"] = WG + gp.gopher_quality_sql("gopher_docs")
    o["gopher_ngrams"] = WG + gp.gopher_ngram_repetition_sql("gopher_docs")
    from satya_spark.functions import mix as mx

    o["corpus_mix"] = mx.corpus_mix_sql("documents")
    o["mix_sample"] = mx.stratified_sample_sql(
        "documents", MIX_FRACTIONS, default=1.0
    )
    o["pack_sequences"] = mx.pack_sequences_sql(
        "documents", window_tokens=512, n_shards=8
    )
    from satya_spark.functions.text import quality_score_sql as _qs

    o["mix_bernoulli"] = (
        "WITH wdocs AS (SELECT *, "
        + _qs("text")
        + " AS p FROM documents)\n"
        + mx.bernoulli_sample_sql("wdocs", "p")
    )
    o["pack_segments"] = mx.pack_segments_sql(
        "documents", window_tokens=37, n_shards=8
    )
    o["mix_cap"] = (
        "SELECT doc_id, source, CAST(rk AS INT) AS rk FROM ("
        + mx.cap_per_group_sql("documents", group_col="source", n=10)
        + ")"
    )
    from satya_spark.functions import classify as cf

    o["clf_score"] = (
        "WITH __w AS (" + cf.hash_weights_sql("documents") + ")\n"
        + cf.classifier_score_sql("documents", "__w")
    )
    from satya_spark.functions.dedup import duplicated_spans_sql

    o["dup_spans"] = W + duplicated_spans_sql("docs", n=8, standalone=False)
    from satya_spark.functions.dedup import remove_duplicated_spans_sql

    o["dup_span_removal"] = W + remove_duplicated_spans_sql(
        "docs", n=8, standalone=False
    )
    o["dedup_exact"] = W + (
        f", fps AS (SELECT doc_id, {tx.fingerprint_sql('text')} AS fp FROM docs) "
        "SELECT fp, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS canonical_id "
        "FROM fps GROUP BY fp HAVING count(*) > 1"
    )
    toks_sql = f"list_distinct({tx.tokens_ws_sql('text')})"
    jac_sql = (
        "round(CAST(len(list_intersect({a}, {b})) AS DOUBLE)"
        " / len(list_distinct(list_concat({a}, {b}))), 6)"
    )
    # threshold-derived length-filter banding, mirroring
    # dedup.jaccard_pairs: the larger-count doc expands into bands
    # floor(t*c/w)..floor(c/w); equi-join on (lang, band); exactly-once
    # via the (count, id) lexicographic orientation filter.
    o["dedup_jaccard"] = W + (
        f", t AS (SELECT doc_id, lang, {toks_sql} AS toks, "
        f"len({toks_sql}) AS tc FROM docs)"
        ", small AS (SELECT doc_id AS id_s, lang, toks AS toks_s, tc AS tc_s, "
        "CAST(floor(CAST(tc AS DOUBLE) / 5) AS INT) AS band FROM t)"
        ", big AS (SELECT doc_id AS id_l, lang, toks AS toks_l, tc AS tc_l, "
        "CAST(unnest(generate_series("
        "CAST(floor(CAST(0.6 AS DOUBLE) * tc / 5) AS BIGINT), "
        "CAST(floor(CAST(tc AS DOUBLE) / 5) AS BIGINT))) AS INT) AS band FROM t) "
        "SELECT id_a, id_b, jac FROM ("
        "SELECT least(id_s, id_l) AS id_a, greatest(id_s, id_l) AS id_b, "
        + jac_sql.format(a="toks_s", b="toks_l")
        + " AS jac FROM big JOIN small USING (lang, band)"
        " WHERE tc_s < tc_l OR (tc_s = tc_l AND id_s < id_l)) p WHERE jac >= 0.6"
    )
    mh_cols = ", ".join(
        f"list_aggregate(list_transform(toks, x -> ('0x' || substring(md5('mh{i}:' || x), 1, 15))::BIGINT), 'min') AS mh{i}"
        for i in range(MINHASH_K)
    )

    def _minhash_sql(bands: int) -> str:
        """SQL twin of minhash_dedup_pairs for any banding of the
        k-row signature (rows_per_band = k // bands)."""
        r = MINHASH_K // bands
        band_selects = " UNION ALL ".join(
            "SELECT doc_id, {b} AS band, md5({concat}) AS bucket FROM sig".format(
                b=b,
                concat=" || ',' || ".join(
                    f"CAST(mh{b * r + j} AS VARCHAR)" for j in range(r)
                ),
            )
            for b in range(bands)
        )
        return W + (
            f", t AS (SELECT doc_id, {toks_sql} AS toks FROM docs)"
            f", sig AS (SELECT doc_id, toks, {mh_cols} FROM t)"
            f", bb AS ({band_selects})"
            ", cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bb a"
            " JOIN bb b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id) "
            "SELECT id_a, id_b, jac FROM (SELECT id_a, id_b, "
            + jac_sql.format(a="ta.toks", b="tb.toks")
            + " AS jac FROM cand JOIN t ta ON ta.doc_id = id_a"
            " JOIN t tb ON tb.doc_id = id_b) p WHERE jac >= 0.6"
        )

    o["dedup_minhash"] = _minhash_sql(MINHASH_BANDS)
    o["dedup_minhash_tight"] = _minhash_sql(2)
    from satya_spark.functions.dedup import dup_clusters_sql

    o["dup_clusters"] = dup_clusters_sql(_minhash_sql(2))
    from satya_spark.docfix import dirty_vecs_cte
    from satya_spark.functions.vectors import vector_violations_sql

    o["vector_check"] = (
        "WITH "
        + dirty_vecs_cte("duckdb")
        + "\n"
        + vector_violations_sql(
            "dirty_vecs", dim=64, norm_min=0.5, norm_max=2.0
        )
    )
    bit_sums = ", ".join(
        f"sum(((h >> {b}) & 1) * 2 - 1) AS s{b}" for b in range(SIMHASH_BITS)
    )
    sig_expr = " + ".join(
        f"(CASE WHEN s{b} >= 0 THEN 1 ELSE 0 END * {2**b})" for b in range(SIMHASH_BITS)
    )
    o["dedup_simhash"] = W + (
        f", toks AS (SELECT doc_id, unnest({toks_sql}) AS tok FROM docs)"
        ", h AS (SELECT doc_id, ('0x' || substring(md5('sh:' || tok), 1, 15))::BIGINT AS h FROM toks)"
        f", agg AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id) "
        f"SELECT doc_id, CAST({sig_expr} AS BIGINT) AS simhash FROM agg"
    )
    # chunk-blocked pair finding (dedup.simhash_pairs — pigeonhole
    # guarantees exact recall): parameterized over the banding config
    # so BOTH the test-scale (bits=32) and the shipped production
    # default (bits=60, 15-bit chunks) get their own green gate
    def _simhash_pairs_sql(bits2: int, chunks2: int, maxham2: int) -> str:
        cb2 = bits2 // chunks2
        bit_sums2 = ", ".join(
            f"sum(((h >> {b}) & 1) * 2 - 1) AS s{b}" for b in range(bits2)
        )
        sig_expr2 = " + ".join(
            f"(CASE WHEN s{b} >= 0 THEN 1 ELSE 0 END * CAST({2**b} AS BIGINT))"
            for b in range(bits2)
        )
        chunk_selects = " UNION ALL ".join(
            f"SELECT doc_id, simhash, {ci} AS ci, "
            f"(simhash >> {ci * cb2}) & {(1 << cb2) - 1} AS cv FROM sig2"
            for ci in range(chunks2)
        )
        return W + (
            f", toks2 AS (SELECT doc_id, unnest({toks_sql}) AS tok FROM docs)"
            ", h2 AS (SELECT doc_id, ('0x' || substring(md5('sh:' || tok), 1, 15))::BIGINT AS h FROM toks2)"
            f", agg2 AS (SELECT doc_id, {bit_sums2} FROM h2 GROUP BY doc_id)"
            f", sig2 AS (SELECT doc_id, CAST({sig_expr2} AS BIGINT) AS simhash FROM agg2)"
            f", ch AS ({chunk_selects})"
            ", cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, "
            "a.simhash AS s_a, b.simhash AS s_b FROM ch a JOIN ch b"
            " ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id) "
            "SELECT id_a, id_b, hamming FROM (SELECT id_a, id_b, "
            "CAST(bit_count(xor(s_a, s_b)) AS INT) AS hamming FROM cand) p "
            f"WHERE hamming <= {maxham2}"
        )

    o["dedup_simhash_pairs"] = _simhash_pairs_sql(32, 4, 3)
    o["dedup_simhash_pairs_prod"] = _simhash_pairs_sql(
        SIMHASH_PAIR_BITS, SIMHASH_PAIR_CHUNKS, 3
    )
    cos = (
        "round(list_dot_product(c.embedding::DOUBLE[], q.embedding::DOUBLE[])"
        " / (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))"
        " * sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))), 6)"
    )
    o["ann_topk"] = (
        "WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 10), "
        f"s AS (SELECT q.query_id, c.vec_id, {cos} AS cos_sim "
        "FROM embeddings c, q WHERE c.vec_id <> q.query_id) "
        "SELECT query_id, CAST(row_number() OVER "
        "(PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rank, "
        "vec_id, cos_sim FROM s "
        "QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) <= 5"
    )
    return o
