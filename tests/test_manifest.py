"""Checkpoint-resume via the shard manifest (FIXTURES.md F5): a
pre-populated manifest skips validated shards; re-runs are idempotent;
final coverage is exactly-once per shard.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from satya_spark.engine import ValidationEngine
from satya_spark.manifest import Manifest, shard_col
from satya_spark.spec import transcript_spec
from satya_spark.transcripts import synthesize


def test_resume_skips_validated_shards(spark, tmp_path):
    eng = ValidationEngine(transcript_spec(), n_shards=8)
    df = synthesize(spark, n_conv=100).cache()
    total_rows = df.count()

    mpath = str(tmp_path / "manifest")
    # simulate a killed job: pretend shards 0..3 are already validated
    pre = Manifest(spark, mpath)
    with_shard = df.withColumn("shard", shard_col(8))
    done_counts = {
        r["shard"]: r["n"]
        for r in with_shard.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    pre.append(
        [
            {
                "run_id": "run0",
                "shard": s,
                "n_rows": done_counts.get(s, 0),
                "n_valid": 0,
                "n_invalid_rows": 0,
                "n_rule_violations": 0,
                "wall_ms": 0,
                # resume is scoped: records only count when their
                # fingerprint matches this run's (input fp + spec hash)
                "input_fingerprint": f"|spec:{eng.compiled.spec_hash()}",
                "completed_at_ms": 0,
            }
            for s in range(4)
        ]
    )

    out = eng.run_resumable(df, mpath, run_id="run1")
    shards_run1 = {r["shard"] for r in out.collect()}
    assert shards_run1.isdisjoint(set(range(4)))

    # exactly-once coverage: every shard recorded exactly once overall
    m = Manifest(spark, mpath).read()
    per_shard = m.groupBy("shard").count().collect()
    assert {r["shard"] for r in per_shard} == set(range(8))
    assert all(r["count"] == 1 for r in per_shard)
    # and row counts add up to the full input
    assert m.agg(F.sum("n_rows")).collect()[0][0] == total_rows

    # idempotent: a third run validates nothing new
    out2 = eng.run_resumable(df, mpath, run_id="run2")
    assert out2.count() == 0
    df.unpersist()


def test_file_verdicts_lineage(spark, tmp_path):
    eng = ValidationEngine(transcript_spec())
    path = str(tmp_path / "t")
    synthesize(spark, 200).repartition(4).write.parquet(path)
    out = eng.file_verdicts(spark.read.parquet(path)).collect()
    assert len(out) == 4  # one verdict row per physical file
    assert all(r["file"].endswith(".parquet") for r in out)
    assert sum(r["n_rows"] for r in out) == spark.read.parquet(path).count()


def test_violations_sampled_cap_visible(spark):
    eng = ValidationEngine(transcript_spec(), n_shards=4)
    ann = eng.annotate(synthesize(spark, 2000))
    out = eng.violations_sampled(ann, per_shard_cap=3).collect()
    per_shard = {}
    for r in out:
        per_shard.setdefault(r["shard"], []).append(r)
    for shard, rows in per_shard.items():
        assert len(rows) <= 3
        # the true count is carried even when truncated
        assert all(r["shard_violation_count"] >= len(rows) for r in rows)


def test_manifest_atomic_append_visible(spark, tmp_path):
    m = Manifest(spark, str(tmp_path / "m2"))
    assert m.completed_shards() == set()
    m.append(
        [
            {
                "run_id": "r",
                "shard": 3,
                "n_rows": 10,
                "n_valid": 10,
                "n_invalid_rows": 0,
                "n_rule_violations": 0,
                "wall_ms": 5,
                "input_fingerprint": "x",
                "completed_at_ms": 1,
            }
        ]
    )
    assert m.completed_shards() == {3}
    row = m.read().collect()[0]
    assert row["n_rows"] == 10 and row["run_id"] == "r"


def test_resume_scoped_to_fingerprint(spark, tmp_path):
    """Round-1 advice: rerunning against DIFFERENT input (or a changed
    spec) must re-validate, not silently skip shards recorded by any
    prior run at the same manifest path."""
    eng = ValidationEngine(transcript_spec(), n_shards=4)
    df = synthesize(spark, n_conv=60).cache()
    mpath = str(tmp_path / "m")

    first = eng.run_resumable(df, mpath, run_id="r1", fingerprint="inputA")
    assert first.count() == 4

    # same input -> fully resumed, nothing re-validated
    again = eng.run_resumable(df, mpath, run_id="r2", fingerprint="inputA")
    assert again.count() == 0

    # different input fingerprint -> all shards re-validated
    other = eng.run_resumable(df, mpath, run_id="r3", fingerprint="inputB")
    assert other.count() == 4

    # changed spec (different compiled hash) -> re-validated too
    from satya_spark.spec import FieldSpec, TableSpec

    eng2 = ValidationEngine(
        TableSpec(
            name="transcripts2",
            fields=(FieldSpec("conv_id", "string", required=True),),
            unique_key=("conv_id",),
        ),
        n_shards=4,
    )
    changed = eng2.run_resumable(df, mpath, run_id="r4", fingerprint="inputA")
    assert changed.count() == 4
    df.unpersist()


def test_manifest_carries_kernel_profile(spark, tmp_path):
    """VERDICT r1 #10: per-field kernel timing (src/satya/profiling.py
    FieldStats analog) persisted with the manifest rows."""
    import json

    eng = ValidationEngine(transcript_spec(), n_shards=4)
    df = synthesize(spark, n_conv=50)
    out = eng.run_resumable(
        df, str(tmp_path / "m"), run_id="p1", fingerprint="in", profile=True
    )
    rows = out.collect()
    # run-scope stats live on exactly ONE row (not duplicated per shard)
    carrying = [r for r in rows if r["profile"]]
    assert len(carrying) == 1
    prof = json.loads(carrying[0]["profile"])
    by_field = {p["field_name"]: p for p in prof}
    assert set(by_field) == {f.name for f in transcript_spec().fields}
    for p in prof:
        assert p["validation_count"] > 0 and p["total_time_us"] > 0
        assert p["n_kernels"] >= 1
    # planted '' texts -> text field must show errors
    assert by_field["text"]["errors"] > 0


def test_resume_scoped_to_row_rule_context(spark, tmp_path):
    """review r2: context-only rule changes (no SQL twin) must not
    resume over verdicts computed under a different context."""
    from pyspark.sql import functions as F

    from satya_spark.spec import FieldSpec, RowRule, TableSpec

    spec = TableSpec(
        name="ctxm",
        fields=(FieldSpec("conv_id", "string", required=True),),
        unique_key=("conv_id",),
        row_rules=(
            RowRule("len_budget", lambda ctx: F.length("conv_id") > ctx["max_len"]),
        ),
    )
    df = synthesize(spark, n_conv=40).select("conv_id")
    m = str(tmp_path / "m")
    first = ValidationEngine(spec, n_shards=4, context={"max_len": 2}).run_resumable(
        df, m, run_id="c1", fingerprint="in"
    )
    assert first.count() == 4
    # same context -> resumes; different context -> re-validates
    same = ValidationEngine(spec, n_shards=4, context={"max_len": 2}).run_resumable(
        df, m, run_id="c2", fingerprint="in"
    )
    other = ValidationEngine(spec, n_shards=4, context={"max_len": 99}).run_resumable(
        df, m, run_id="c3", fingerprint="in"
    )
    assert same.count() == 0 and other.count() == 4


def test_run_incremental_append_only(spark, tmp_path):
    """File-level incremental: first run validates all files, a
    re-run validates none, a new file validates only itself, and an
    in-place rewrite re-validates the rewritten file."""
    import shutil

    from satya_spark.engine import ValidationEngine
    from satya_spark.manifest import FileManifest
    from satya_spark.spec import transcript_spec
    from satya_spark.transcripts import synthesize

    inp = tmp_path / "inp"
    inp.mkdir()
    mpath = str(tmp_path / "fm")
    # two initial "daily drop" files
    stage = str(tmp_path / "stage")
    synthesize(spark, 80).coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(p for p in __import__("os").listdir(stage) if p.endswith(".parquet"))
    shutil.copy(f"{stage}/{part}", inp / "day1.parquet")
    synthesize(spark, 40).coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(p for p in __import__("os").listdir(stage) if p.endswith(".parquet"))
    shutil.copy(f"{stage}/{part}", inp / "day2.parquet")

    eng = ValidationEngine(transcript_spec())
    s1 = eng.run_incremental(spark, str(inp), mpath)
    assert (s1["files_total"], s1["files_validated"], s1["files_skipped"]) == (2, 2, 0)
    assert s1["n_rows"] > 0

    # idempotent re-run: nothing to do
    s2 = eng.run_incremental(spark, str(inp), mpath)
    assert (s2["files_validated"], s2["files_skipped"]) == (0, 2)

    # third drop arrives: only it is validated
    synthesize(spark, 20).coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(p for p in __import__("os").listdir(stage) if p.endswith(".parquet"))
    shutil.copy(f"{stage}/{part}", inp / "day3.parquet")
    s3 = eng.run_incremental(spark, str(inp), mpath)
    assert (s3["files_validated"], s3["files_skipped"]) == (1, 2)

    # in-place rewrite changes the fingerprint -> re-validated
    shutil.copy(f"{stage}/{part}", inp / "day1.parquet")
    s4 = eng.run_incremental(spark, str(inp), mpath)
    assert s4["files_validated"] == 1

    # manifest accumulates one row per validated (file, fingerprint):
    # 2 (initial) + 1 (day3) + 1 (day1 rewrite)
    fm = FileManifest(spark, mpath)
    assert fm.read().count() == 4


def test_run_incremental_spec_scoped(spark, tmp_path):
    """A changed spec must re-validate recorded files (the skip set
    is scoped to the spec hash, like shard resume)."""
    from satya_spark.engine import ValidationEngine
    from satya_spark.spec import FieldSpec, TableSpec
    from satya_spark.transcripts import synthesize

    inp = str(tmp_path / "inp")
    synthesize(spark, 30).coalesce(1).write.parquet(inp)
    mpath = str(tmp_path / "fm")

    s_a = TableSpec("t", [FieldSpec("conv_id", "string", required=True)])
    s_b = TableSpec(
        "t",
        [FieldSpec("conv_id", "string", required=True, min_length=100)],
    )
    e1 = ValidationEngine(s_a)
    r1 = e1.run_incremental(spark, inp, mpath)
    assert r1["files_validated"] >= 1
    r2 = e1.run_incremental(spark, inp, mpath)
    assert r2["files_validated"] == 0
    e2 = ValidationEngine(s_b)
    r3 = e2.run_incremental(spark, inp, mpath)
    assert r3["files_validated"] == r1["files_validated"]  # re-validated
    assert r3["passed"] is False  # min_length=100 fails everywhere


def test_iceberg_seam(spark, tmp_path):
    """Sandbox has no iceberg-spark-runtime jar: the capability probe
    must say so, parquet refs must flow through the same seam, and a
    table-ref write must fail with the actionable message instead of
    a Java classpath stack."""
    import pytest

    from satya_spark.io import have_iceberg, iceberg_configs, read_ref, write_ref

    assert have_iceberg(spark) is False
    cfg = iceberg_configs("lake", "/tmp/warehouse")
    assert cfg["spark.sql.catalog.lake.warehouse"] == "/tmp/warehouse"
    assert "IcebergSparkSessionExtensions" in cfg["spark.sql.extensions"]

    df = spark.range(5).withColumnRenamed("id", "conv_id")
    p = str(tmp_path / "t.parquet")
    write_ref(df, p, mode="overwrite")
    assert read_ref(spark, p).count() == 5
    with pytest.raises(RuntimeError, match="Iceberg runtime jar"):
        write_ref(df, "lake.db.transcripts")
