"""End-to-end engine tests on the synthesized transcript fixture,
plus plan-shape assertions (pushdown / codegen / no-Python-UDF)."""

from __future__ import annotations

from pyspark.sql import functions as F

from satya_spark.engine import ValidationEngine
from satya_spark.spec import transcript_spec
from satya_spark.transcripts import synthesize, synthesize_tool_catalog


def test_engine_run_outputs(spark):
    eng = ValidationEngine(transcript_spec(), n_shards=8)
    df = synthesize(spark, n_conv=300)
    run = eng.run(df, catalogs={"tool_catalog": synthesize_tool_catalog(spark)})

    ann = run.annotated
    assert {"valid", "violations", "shard"}.issubset(set(ann.columns))

    verd = run.shard_verdicts.collect()
    assert {r["shard"] for r in verd} <= set(range(8))
    assert sum(r["n_rows"] for r in verd) == df.count()
    # planted violations exist -> some shard fails
    assert any(not r["passed"] for r in verd)

    viol = run.violations
    consts = {r["constraint_name"] for r in viol.collect()}
    assert "enum" in consts  # planted 'moderator'
    assert "min_length" in consts  # planted ''

    # planted dangling tool refs are caught
    refs = run.referential["tool"].collect()
    assert all(r["tool"] == "ghost_tool" for r in refs) and refs


def test_valid_rows_have_no_violations(spark):
    eng = ValidationEngine(transcript_spec())
    ann = eng.annotate(synthesize(spark, n_conv=100))
    bad = ann.filter(
        (F.col("valid") & (F.size("violations") > 0))
        | (~F.col("valid") & (F.size("violations") == 0))
    )
    assert bad.count() == 0


def test_row_kernel_plan_is_pure_codegen(spark):
    """The per-row validation stage must be one whole-stage-codegen'd
    scan: no shuffle (Exchange), no Python evaluation (BatchEvalPython
    / ArrowEvalPython) — satya's hot loop stays in the JVM."""
    eng = ValidationEngine(transcript_spec())
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    # annotate a plain parquet-backed frame (shape is what matters)
    from satya_spark.transcripts import from_tpch

    ann = eng.annotate(from_tpch(spark, "/root/testdata/sf0.001"))
    ann.collect()  # finalize the AQE plan for THIS query execution
    plan = ann._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # no Python in the data plane
    assert "RLIKE" in plan  # regex kernels inlined as JVM expressions
    # the whole kernel stage is one fused Project over the scan
    assert plan.count("Project") >= 1 and "Exchange hashpartitioning" not in plan.split("Window")[0]


def test_drift_check_shapes(spark):
    eng = ValidationEngine(transcript_spec())
    a = synthesize(spark, n_conv=100)
    b = synthesize(spark, n_conv=100)
    out = eng.drift_check(a, b)
    assert abs(sum(r["psi_contrib"] for r in out["psi"].collect())) < 1e-6
    assert out["ks"].collect()[0]["ks_stat"] < 1e-9


def test_drift_pairs_are_not_cached(spark):
    """Both drift checks leave nothing pinned in the session's cache
    once their PSI and KS frames have been read."""
    spark.catalog.clearCache()
    eng = ValidationEngine(transcript_spec())
    a = synthesize(spark, n_conv=100)
    b = synthesize(spark, n_conv=120)
    half = (F.xxhash64("conv_id") % 2 == 0).cast("int")
    for out in (eng.drift_check(a, b), eng.drift_check_split(a, half)):
        out["psi"].collect()
        out["ks"].collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _count_py4j(monkeypatch, fn):
    """py4j commands ``fn()`` sends to the JVM. Only
    ``GatewayClient.send_command`` is patched: ``JavaClient`` inherits
    it, so patching both would count every call twice."""
    from py4j.java_gateway import GatewayClient

    calls = []
    orig = GatewayClient.send_command

    def counting(self, *a, **k):
        calls.append(1)
        return orig(self, *a, **k)

    with monkeypatch.context() as m:
        m.setattr(GatewayClient, "send_command", counting)
        fn()
    return len(calls)


def test_engines_share_one_kernel_build(spark, monkeypatch):
    """A second engine on an equal spec reuses the first one's kernel
    Column instead of building it again (thousands of py4j calls)."""
    from satya_spark.compiler import compile_spec

    first = ValidationEngine(transcript_spec())
    first.compiled.violations_array_col()
    built = _count_py4j(
        monkeypatch, lambda: compile_spec(transcript_spec()).violations_array_col()
    )
    assert built > 1000

    def second_engine():
        eng = ValidationEngine(transcript_spec(), n_shards=8)
        assert eng.compiled.violations_array_col() is first.compiled.violations_array_col()

    assert _count_py4j(monkeypatch, second_engine) < 10


def test_kernel_cache_keys_on_row_rule_callable_and_context(spark):
    """Specs that differ only in a non-SQL row rule's callable, or only
    in the context, get kernels of their own; equal ones share."""
    from satya_spark.spec import FieldSpec, RowRule, TableSpec

    df = spark.createDataFrame([(3,)], "x long")
    fields = (FieldSpec("x", "long"),)

    def spec(*rules):
        return TableSpec(name="t", fields=fields, row_rules=rules)

    def valid(eng):
        return eng.annotate(df).first()["valid"]

    over1 = spec(RowRule("big", lambda: F.col("x") > 1))
    over5 = spec(RowRule("big", lambda: F.col("x") > 5))
    e1, e5 = ValidationEngine(over1), ValidationEngine(over5)
    assert e1.compiled is not e5.compiled
    assert (valid(e1), valid(e5)) == (False, True)
    assert ValidationEngine(over1).compiled is e1.compiled

    by_ctx = spec(RowRule("big", lambda ctx: F.col("x") > ctx["n"]))
    c1 = ValidationEngine(by_ctx, context={"n": 1})
    c5 = ValidationEngine(by_ctx, context={"n": 5})
    assert c1.compiled is not c5.compiled
    assert (valid(c1), valid(c5)) == (False, True)
    assert ValidationEngine(by_ctx, context={"n": 1}).compiled is c1.compiled


_RESTART = """
import json
from pyspark.sql import SparkSession
from satya_spark.engine import ValidationEngine
from satya_spark.spec import transcript_spec
from satya_spark.transcripts import synthesize

def session():
    return (SparkSession.builder.master("local[1]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.driver.memory", "1g").getOrCreate())

def invalid_rows(spark):
    eng = ValidationEngine(transcript_spec())
    n = eng.annotate(synthesize(spark, n_conv=30)).filter("NOT valid").count()
    return eng, n

spark = session()
first, n1 = invalid_rows(spark)
spark.stop()
spark = session()
second, n2 = invalid_rows(spark)
fresh = second.compiled is not first.compiled
spark.stop()
print(json.dumps({"fresh": fresh, "n1": n1, "n2": n2}))
"""


def test_kernel_cache_dropped_when_context_stops():
    """An engine built after its SparkContext stopped and a new one
    started gets a kernel of its own, never the stale Column (a fresh
    process: the test session must not be stopped)."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "-c", _RESTART],
        capture_output=True,
        text=True,
        cwd=repo,
        env=dict(os.environ, PYTHONPATH=repo),
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["fresh"] and out["n1"] == out["n2"] > 0, out


def test_shard_verdicts_split_equals_annotated(spark, tmp_path):
    """Verdicts of a written quarantine split (no ``shard`` column;
    the shard is recomputed from the shard key) agree exactly with
    verdicts of the annotate()d input, and the split's valid=false
    side yields the same violation rows."""
    from satya_spark.io import read_split

    df = synthesize(spark, n_conv=400)
    eng = ValidationEngine(transcript_spec(), n_shards=16)
    ann = eng.annotate(df)
    path = str(tmp_path / "split")
    eng.write_split(df, path)
    split = spark.read.schema(ann.drop("shard").schema).parquet(path)
    assert sorted(map(tuple, eng.shard_verdicts(split).collect())) == sorted(
        map(tuple, eng.shard_verdicts(ann).collect())
    )
    quar = read_split(spark, path, "quarantine")
    assert sorted(map(tuple, eng.violations(quar).collect())) == sorted(
        map(tuple, eng.violations(ann).collect())
    )


def test_violations_capped_per_row(spark):
    """A row failing more rules than MAX_VIOLATIONS_PER_ROW yields
    exactly the cap everywhere: violations_df, the engine's violation
    rows, and the shard verdicts' n_rule_violations."""
    from satya_spark.compiler import MAX_VIOLATIONS_PER_ROW, compile_spec
    from satya_spark.spec import FieldSpec, RowRule, TableSpec

    spec = TableSpec(
        name="many_rules",
        fields=(FieldSpec("id", "long"),),
        row_rules=tuple(
            RowRule(f"r{i}", lambda: F.col("id") > 0, "id > 0")
            for i in range(MAX_VIOLATIONS_PER_ROW + 6)
        ),
    )
    df = spark.createDataFrame([(0,), (7,)], "id long")
    assert compile_spec(spec).violations_df(df, ["id"]).count() == 64
    eng = ValidationEngine(spec, n_shards=1)
    ann = eng.annotate(df)
    assert eng.violations(ann).count() == 64
    (verdict,) = eng.shard_verdicts(ann).collect()
    assert (verdict["n_rule_violations"], verdict["n_invalid_rows"]) == (64, 1)


def test_enforce_raises_on_planted_violations(spark):
    """enforce() = the raising model_validate surface at table scope
    (src/satya/__init__.py:76-81): clean table passes through
    untouched, dirty table raises with bounded deterministic sample."""
    import pytest

    from satya_spark.engine import TableValidationError

    eng = ValidationEngine(transcript_spec())
    df = synthesize(spark, n_conv=120)  # has planted violations
    with pytest.raises(TableValidationError) as ei:
        eng.enforce(df, sample_n=7)
    err = ei.value
    assert 0 < err.n_invalid <= err.n_rows
    assert 0 < len(err.sample) <= 7
    assert {"field", "constraint_name", "offending_value"} <= set(err.sample[0])
    # message stays bounded and informative
    assert f"{err.n_invalid}/{err.n_rows}" in str(err)

    # the one kernel expression is built once per compiled spec
    arr = eng.compiled.violations_array_col()
    assert eng.compiled.violations_array_col() is arr
    clean = df.filter(F.size(arr) == 0)
    out = eng.enforce(clean)
    assert out is clean  # valid input returned as-is (one count pass)


def test_write_split_one_pass_quarantine(spark, tmp_path):
    """write_split: ONE scan lands valid rows under valid=true and
    invalid rows (violations attached) under valid=false; read_split
    partition-prunes each side; counts reconcile with the verdicts."""
    from satya_spark.io import read_split

    eng = ValidationEngine(transcript_spec())
    df = synthesize(spark, n_conv=150)
    path = str(tmp_path / "split")
    sides = eng.write_split(df, path)
    assert sides["clean"].endswith("valid=true")

    clean = read_split(spark, path, "clean")
    quar = read_split(spark, path, "quarantine")
    n_clean, n_quar = clean.count(), quar.count()
    assert n_clean + n_quar == df.count()
    assert n_quar > 0  # planted violations
    # quarantined rows carry populated violations; clean rows empty
    assert quar.filter(F.size("violations") == 0).count() == 0
    assert clean.filter(F.size("violations") > 0).count() == 0

    # the read is partition-pruned: only one side's files are scanned
    quar.collect()
    plan = quar._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(valid" in plan or "valid#" in plan

    # all-valid input never creates the quarantine dir; empty, not error
    clean2_path = str(tmp_path / "split_clean")
    eng.write_split(clean.drop("valid", "violations"), clean2_path)
    assert read_split(spark, clean2_path, "quarantine").count() == 0
