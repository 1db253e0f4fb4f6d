"""Cross-row operators: distributed uniqueness, referential
integrity, column stats, per-conversation aggregation
(SURVEY.md §2.9, FIXTURES.md F2 v_unique / v_ref).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from satya_spark import crossrow
from satya_spark.transcripts import synthesize, synthesize_tool_catalog


def test_duplicate_keys(spark):
    df = spark.createDataFrame(
        [("c1", 0), ("c1", 1), ("c1", 1), ("c2", 0), ("c2", 0), ("c2", 0)],
        ["conv_id", "turn_idx"],
    )
    dups = {
        (r["conv_id"], r["turn_idx"]): r["dup_count"]
        for r in crossrow.duplicate_keys(df, ["conv_id", "turn_idx"]).collect()
    }
    assert dups == {("c1", 1): 2, ("c2", 0): 3}


def test_referential_violations(spark):
    df = spark.createDataFrame(
        [("c1", 0, "tool_1"), ("c1", 1, None), ("c2", 0, "ghost")],
        ["conv_id", "turn_idx", "tool"],
    )
    cat = spark.createDataFrame([("tool_1",)], ["tool"])
    out = crossrow.referential_violations(
        df, "tool", cat, keys=["conv_id", "turn_idx"]
    ).collect()
    assert [(r["conv_id"], r["tool"]) for r in out] == [("c2", "ghost")]


def test_referential_is_broadcast(spark):
    df = synthesize(spark, n_conv=50)
    cat = synthesize_tool_catalog(spark)
    out = crossrow.referential_violations(df, "tool", cat)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_column_stats(spark):
    df = spark.createDataFrame(
        [("a",), ("a",), (None,), ("b",)], ["x"]
    )
    row = crossrow.column_stats(df, ["x"], exact_distinct=True).collect()[0]
    assert row["n_rows"] == 4
    assert row["n_null"] == 1
    assert abs(row["null_rate"] - 0.25) < 1e-9
    assert row["n_distinct"] == 2


def test_null_rate_violation_fires(spark):
    df = spark.createDataFrame([(None,), (None,), ("x",)], ["tool"])
    out = crossrow.null_rate_violations(df, "tool", 0.5).collect()
    assert len(out) == 1 and out[0]["field"] == "tool"
    ok = crossrow.null_rate_violations(df, "tool", 0.9).collect()
    assert ok == []


def test_salted_conv_stats_matches_plain(spark):
    """conv_stats must be result-identical to the direct groupBy — including on the synthesized hot conversation."""
    df = synthesize(spark, n_conv=200, hot_factor=500)
    salted = {
        r["conv_id"]: (r["n_turns"], r["max_turn_idx"], r["sum_text_len"])
        for r in crossrow.conv_stats(df).collect()
    }
    plain = {
        r["conv_id"]: (r["n_turns"], r["max_turn_idx"], r["sum_text_len"])
        for r in df.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.max("turn_idx").alias("max_turn_idx"),
            F.sum(F.coalesce(F.length("text"), F.lit(0))).alias("sum_text_len"),
        )
        .collect()
    }
    assert salted == plain
    assert salted["c0"][0] == 500  # hot conversation fully counted


def _viol_fixture(spark):
    """Small violations frame: (conv_id, turn_idx, field,
    constraint_name, offending_value) with a deliberately hot
    constraint."""
    rows = []
    for i in range(40):
        rows.append((f"c{i:03d}", i % 7, "text", "min_length", "x"))
    for i in range(5):
        rows.append((f"c{i:03d}", 99, "role", "enum", "ghost"))
    rows.append(("c000", 0, "tool", "pattern", "?"))
    return spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "field", "constraint_name", "offending_value"]
    )


def test_violations_sample_matches_single_window(spark):
    """Two-phase salted top-n ≡ the naive one-window top-n, for every
    salt factor (the salt is a lossless candidate filter)."""
    from pyspark.sql import Window

    viol = _viol_fixture(spark)
    w = Window.partitionBy("field", "constraint_name").orderBy("conv_id", "turn_idx")
    naive = (
        viol.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("conv_id", "turn_idx", "field", "constraint_name", "offending_value", "rk")
    )
    expect = sorted(tuple(r) for r in naive.collect())
    for buckets in (1, 2, 32):
        got = crossrow.violations_sample(
            viol, ["conv_id", "turn_idx"], n=3, salt_buckets=buckets
        )
        assert sorted(tuple(r) for r in got.collect()) == expect


def test_violations_sample_bounded_output(spark):
    viol = _viol_fixture(spark)
    out = crossrow.violations_sample(viol, ["conv_id", "turn_idx"], n=2).collect()
    # ≤ n rows per (field, constraint), ranks are 1..n
    from collections import Counter

    per = Counter((r["field"], r["constraint_name"]) for r in out)
    assert all(v <= 2 for v in per.values())
    assert {r["rk"] for r in out} <= {1, 2}
    # the hot constraint is capped, not enumerated
    assert per[("text", "min_length")] == 2


def test_top_violating_groups(spark):
    viol = _viol_fixture(spark)
    top = crossrow.top_violating_groups(viol, "conv_id", n=3).collect()
    # c000: 1 (min_length) + 1 (enum) + 1 (pattern) = 3; c001..c004: 2 each
    assert [r["conv_id"] for r in top] == ["c000", "c001", "c002"]
    assert [r["n_violations"] for r in top] == [3, 2, 2]


def test_column_quantiles_exact_matches_numpy(spark):
    import numpy as np

    vals = [float(v) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 100]]
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    row = crossrow.column_quantiles(df, ["x"], exact=True).collect()[0]
    assert row["field"] == "x"
    for name, p in [("q25", 25), ("q50", 50), ("q75", 75)]:
        assert abs(row[name] - float(np.percentile(vals, p))) < 1e-9


def test_column_quantiles_approx_near_exact(spark):
    """Production GK-sketch path stays within the documented rank
    error of the exact path on a 10k-row frame."""
    df = spark.range(10_000).select((F.col("id") % 997).cast("double").alias("x"))
    exact = crossrow.column_quantiles(df, ["x"], exact=True).collect()[0]
    approx = crossrow.column_quantiles(df, ["x"], exact=False).collect()[0]
    # rank error 1/accuracy=1e-4 over 10k rows ≈ ±1 rank ≈ ±1 value here
    for name in ("q25", "q50", "q75"):
        assert abs(exact[name] - approx[name]) <= 2.0


def test_column_quantiles_ignores_nulls(spark):
    df = spark.createDataFrame(
        [(1.0,), (None,), (3.0,), (None,), (5.0,)], "x double"
    )
    row = crossrow.column_quantiles(df, ["x"], exact=True).collect()[0]
    assert row["q50"] == 3.0


def test_schema_drift(spark):
    old = spark.createDataFrame([(1, "a", 1.0)], ["id", "name", "score"])
    new = spark.createDataFrame([(1, "a", 1, "x")], ["id", "name", "score", "tag"])
    diff = crossrow.schema_drift(old, new)
    by = {(d["field"], d["change"]): d for d in diff}
    assert ("tag", "added") in by
    assert by[("score", "type_changed")]["old_type"] == "double"
    assert by[("score", "type_changed")]["new_type"] == "bigint"
    assert len(diff) == 2
    assert crossrow.schema_drift(old, old) == []


def test_profile_drift(spark):
    old = spark.createDataFrame(
        [("a",), ("b",), (None,), ("a",)], "x string"
    )
    new = spark.createDataFrame(
        [(None,), (None,), ("a",), ("c",)], "x string"
    )
    row = crossrow.profile_drift(old, new, ["x"], exact_distinct=True).collect()[0]
    assert row["null_rate_old"] == 0.25
    assert row["null_rate_new"] == 0.5
    assert row["null_rate_delta"] == 0.25
    assert row["n_distinct_old"] == 2
    assert row["n_distinct_new"] == 2


def test_quantile_drift(spark):
    old = spark.range(100).select((F.col("id") % 50).cast("double").alias("x"))
    new = spark.range(100).select(
        ((F.col("id") % 50) + 10.0).alias("x")
    )
    row = crossrow.quantile_drift(old, new, ["x"], exact=True).collect()[0]
    assert row["q50_delta"] == 10.0
    assert row["q25_delta"] == 10.0
    assert row["q75_old"] + 10.0 == row["q75_new"]


def test_conv_dedup_fingerprints(spark):
    """Identical turn-text SEQUENCES collide regardless of row order;
    different order of the same texts (different turn_idx assignment)
    does not; null turn text equals a missing turn (documented)."""
    from satya_spark.crossrow import conv_dup_groups, conv_fingerprints

    rows = [
        ("a", 0, "hi"), ("a", 1, "there"),
        ("b", 1, "there"), ("b", 0, "hi"),          # same sequence, shuffled rows
        ("c", 0, "there"), ("c", 1, "hi"),          # same texts, swapped order
        ("d", 0, "hi"), ("d", 1, None), ("d", 2, "there"),  # null turn
        ("e", 0, "hi"), ("e", 1, "there"), ("e", 2, "there"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    fp = {r["conv_id"]: r["conv_fp"] for r in conv_fingerprints(df).collect()}
    assert fp["a"] == fp["b"] != fp["c"]
    assert fp["a"] == fp["d"]  # null turn skipped by the separator join
    assert fp["a"] != fp["e"]
    groups = {r["conv_fp"]: r for r in conv_dup_groups(df).collect()}
    g = groups[fp["a"]]
    assert g["n_convs"] == 3 and g["canonical_conv"] == "a"
