"""Drift kernels (PSI, binned KS): identical populations score ~0,
shifted populations exceed threshold (FIXTURES.md F4).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from satya_spark import drift


def _hist(spark, values, width=1.0, n=10):
    df = spark.createDataFrame([(float(v),) for v in values], ["m"])
    return drift.histogram(df, "m", width, n)


def test_identical_populations_no_drift(spark):
    vals = [0.5, 1.5, 2.5, 3.5, 4.5] * 20
    h1 = _hist(spark, vals)
    h2 = _hist(spark, vals)
    assert drift.psi_total(drift.psi(h1, h2, 10)) < 1e-6
    assert drift.ks_binned(h1, h2, 10).collect()[0]["ks_stat"] < 1e-9


def test_shifted_population_drifts(spark):
    ref = [1.5] * 50 + [2.5] * 50
    cur = [5.5] * 50 + [6.5] * 50  # hard shift
    h1 = _hist(spark, ref)
    h2 = _hist(spark, cur)
    assert drift.psi_total(drift.psi(h1, h2, 10)) > 0.5
    assert drift.ks_binned(h1, h2, 10).collect()[0]["ks_stat"] > 0.9


def test_mild_resample_does_not_drift(spark):
    # same distribution, different sample -> tiny PSI
    ref = [1.5] * 52 + [2.5] * 48
    cur = [1.5] * 49 + [2.5] * 51
    h1 = _hist(spark, ref)
    h2 = _hist(spark, cur)
    assert drift.psi_total(drift.psi(h1, h2, 10)) < 0.05
    assert drift.ks_binned(h1, h2, 10).collect()[0]["ks_stat"] < 0.05


def test_bucketize_clamps(spark):
    df = spark.createDataFrame([(-5.0,), (0.0,), (99.0,), (1e9,)], ["m"])
    rows = df.select(drift.bucketize(F.col("m"), 10.0, 5).alias("b")).collect()
    assert [r["b"] for r in rows] == [0, 0, 4, 4]


def test_psi_by_group_uniform_groups_near_zero(spark):
    """Groups sampled from the same distribution as the population
    score ~0 PSI."""
    from satya_spark.drift import psi_by_group

    df = spark.range(4000).select(
        (F.col("id") % 4).cast("string").alias("grp"),
        ((F.col("id") / 4).cast("long") % 100).cast("double").alias("x"),
    )
    out = {r["grp"]: r["psi"] for r in psi_by_group(df, "x", "grp", 10.0, 10).collect()}
    assert len(out) == 4
    assert all(abs(v) < 1e-3 for v in out.values())


def test_psi_by_group_flags_shifted_group(spark):
    """A group whose metric is shifted far from the population scores
    high PSI while the unshifted groups stay low."""
    from satya_spark.drift import psi_by_group

    base = spark.range(3000).select(
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") % 50).cast("double").alias("x"),
    )
    shifted = spark.range(1000).select(
        F.lit("drifted").alias("grp"),
        (F.col("id") % 50 + 500.0).alias("x"),
    )
    out = {
        r["grp"]: (r["psi"], r["n_rows"])
        for r in psi_by_group(base.union(shifted), "x", "grp", 100.0, 8).collect()
    }
    assert out["drifted"][0] > 1.0
    assert out["drifted"][1] == 1000
    # the drifted group scores strictly worse than every base group
    # (base groups also pay a little: the population reference itself
    # contains the drifted mass they lack — inherent to one-vs-all)
    assert all(out["drifted"][0] > v[0] for g, v in out.items() if g != "drifted")
