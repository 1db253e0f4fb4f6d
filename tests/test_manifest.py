"""Checkpoint-resume via the shard manifest (FIXTURES.md F5): a
pre-populated manifest skips validated shards; re-runs are idempotent;
final coverage is exactly-once per shard.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from satya_spark.engine import ValidationEngine
from satya_spark.manifest import Manifest, list_files, shard_col
from satya_spark.spec import transcript_spec
from satya_spark.transcripts import synthesize


def test_resume_skips_validated_shards(spark, tmp_path):
    eng = ValidationEngine(transcript_spec(), n_shards=8)
    df = synthesize(spark, n_conv=100).cache()
    total_rows = df.count()

    mpath = str(tmp_path / "manifest")
    out = str(tmp_path / "out")
    # simulate a killed job: pretend shards 0..3 are already validated
    pre = Manifest(spark, mpath)
    with_shard = df.withColumn("shard", shard_col(8))
    done_counts = {
        r["shard"]: r["n"]
        for r in with_shard.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # resume is scoped: records only count when their fingerprint
    # matches this run's (input fp + shard layout + spec hash)
    fps = eng.unit_fingerprints()
    pre.append(
        [
            {
                "run_id": "run0",
                "unit": str(s),
                "fingerprint": fps[str(s)],
                "n_rows": done_counts.get(s, 0),
                "n_valid": 0,
                "n_invalid_rows": 0,
                "n_rule_violations": 0,
                "wall_ms": 0,
                "completed_at_ms": 0,
            }
            for s in range(4)
        ]
    )

    s1 = eng.run_resumable(df, mpath, out, run_id="run1")
    m = Manifest(spark, mpath).read()
    run1 = m.filter(F.col("run_id") == "run1").collect()
    shards_run1 = {int(r["unit"]) for r in run1}
    assert shards_run1.isdisjoint(set(range(4)))
    assert s1["units_skipped"] == 4 and s1["rows"] == total_rows - sum(
        done_counts.get(s, 0) for s in range(4)
    )

    # exactly-once coverage: every shard recorded exactly once overall
    per_shard = m.groupBy("unit").count().collect()
    assert {int(r["unit"]) for r in per_shard} == set(range(8))
    assert all(r["count"] == 1 for r in per_shard)
    # and row counts add up to the full input
    assert m.agg(F.sum("n_rows")).collect()[0][0] == total_rows
    assert s1["recorded"]["rows"] == total_rows

    # idempotent: a third run validates nothing new
    s2 = eng.run_resumable(df, mpath, out, run_id="run2")
    assert s2["shards"] == 0 and s2["units_skipped"] == 8
    assert Manifest(spark, mpath).run_ids() == {"run0", "run1"}
    df.unpersist()


def test_file_verdicts_lineage(spark, tmp_path):
    eng = ValidationEngine(transcript_spec())
    path = str(tmp_path / "t")
    synthesize(spark, 200).repartition(4).write.parquet(path)
    out = eng.file_verdicts(eng.annotate(spark.read.parquet(path))).collect()
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
    assert m.recorded({"3": "x"}) == {}
    m.append(
        [
            {
                "run_id": "r",
                "unit": "3",
                "fingerprint": "x",
                "n_rows": 10,
                "n_valid": 10,
                "n_invalid_rows": 0,
                "n_rule_violations": 0,
                "wall_ms": 5,
                "completed_at_ms": 1,
            }
        ]
    )
    assert set(m.recorded({"3": "x"})) == {"3"}
    assert m.recorded({"3": "y"}) == {}  # another scope: not done
    row = m.read().collect()[0]
    assert row["n_rows"] == 10 and row["run_id"] == "r"


def test_old_format_manifest_revalidates(spark, tmp_path):
    """A manifest written in the older per-unit formats (``shard`` +
    ``input_fingerprint``, or ``file`` + ``file_fingerprint``) loads,
    and its rows skip nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    mpath = tmp_path / "m"
    mpath.mkdir()
    eng = ValidationEngine(transcript_spec(), n_shards=4)
    fp = f"in|spec:{eng.compiled.spec_hash()}"
    pq.write_table(
        pa.table({"run_id": ["old"] * 4, "shard": pa.array(range(4), pa.int32()),
                  "n_rows": [1] * 4, "input_fingerprint": [fp] * 4}),
        mpath / "manifest-old.parquet",
    )
    pq.write_table(
        pa.table({"run_id": ["old"], "file": ["f"], "file_fingerprint": [fp],
                  "passed": [True]}),
        mpath / "files-old.parquet",
    )
    assert Manifest(spark, str(mpath)).read().count() == 5
    s = eng.run_resumable(
        synthesize(spark, n_conv=40), str(mpath), str(tmp_path / "out"), "in"
    )
    assert s["units_skipped"] == 0 and s["shards"] == 4


def test_resume_scoped_to_fingerprint(spark, tmp_path):
    """Round-1 advice: rerunning against DIFFERENT input (or a changed
    spec) must re-validate, not silently skip shards recorded by any
    prior run at the same manifest path."""
    eng = ValidationEngine(transcript_spec(), n_shards=4)
    df = synthesize(spark, n_conv=60).cache()
    mpath, out = str(tmp_path / "m"), str(tmp_path / "out")

    first = eng.run_resumable(df, mpath, out, run_id="r1", fingerprint="inputA")
    assert first["shards"] == 4

    # same input -> fully resumed, nothing re-validated
    again = eng.run_resumable(df, mpath, out, run_id="r2", fingerprint="inputA")
    assert again["shards"] == 0

    # different input fingerprint -> all shards re-validated
    other = eng.run_resumable(df, mpath, out, run_id="r3", fingerprint="inputB")
    assert other["shards"] == 4

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
    changed = eng2.run_resumable(df, mpath, out, run_id="r4", fingerprint="inputA")
    assert changed["shards"] == 4

    # another shard count partitions the input differently -> re-validated
    eng8 = ValidationEngine(transcript_spec(), n_shards=8)
    resharded = eng8.run_resumable(df, mpath, out, run_id="r5", fingerprint="inputA")
    assert resharded["units_skipped"] == 0 and resharded["shards"] == 8
    df.unpersist()


def test_manifest_carries_kernel_profile(spark, tmp_path):
    """VERDICT r1 #10: per-field kernel timing (src/satya/profiling.py
    FieldStats analog) persisted with the manifest rows."""
    import json

    eng = ValidationEngine(transcript_spec(), n_shards=4)
    df = synthesize(spark, n_conv=50)
    mpath = str(tmp_path / "m")
    eng.run_resumable(
        df, mpath, str(tmp_path / "out"), run_id="p1", fingerprint="in", profile=True
    )
    rows = Manifest(spark, mpath).read().collect()
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
    resume over verdicts computed under a different context — for
    shard units and for file units alike."""
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
    inp = str(tmp_path / "in")
    df.coalesce(2).write.parquet(inp)
    units = {
        "shard": (df, {"fingerprint": "in"}),
        "file": (lambda ps: spark.read.parquet(*ps), {"files": list_files(inp)}),
    }
    for unit, (src, kw) in units.items():
        m, out = str(tmp_path / f"m_{unit}"), str(tmp_path / f"out_{unit}")

        def run(max_len, run_id):
            eng = ValidationEngine(spec, n_shards=4, context={"max_len": max_len})
            return eng.run_resumable(src, m, out, run_id=run_id, **kw)

        first = run(2, "c1")
        assert first["shards"] == first["units_total"] == {"shard": 4, "file": 2}[unit]
        assert first["invalid_rows"] > 0
        # same context -> resumes; different context -> re-validates
        same, other = run(2, "c2"), run(99, "c3")
        assert same["shards"] == 0 and other["shards"] == first["shards"], unit
        assert other["rows"] == first["rows"]
        assert other["invalid_rows"] < first["invalid_rows"]


def _drop_file(spark, stage, n_conv, dest):
    """Write ``n_conv`` synthesized conversations as ONE parquet file
    at ``dest``."""
    import os
    import shutil

    synthesize(spark, n_conv).coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
    shutil.copy(f"{stage}/{part}", dest)


def test_run_incremental_append_only(spark, tmp_path):
    """File-level incremental: first run validates all files, a
    re-run validates none, a new file validates only itself, and an
    in-place rewrite re-validates the rewritten file."""
    import shutil

    inp = tmp_path / "inp"
    inp.mkdir()
    mpath, out = str(tmp_path / "fm"), str(tmp_path / "out")
    # two initial "daily drop" files
    stage = str(tmp_path / "stage")
    _drop_file(spark, stage, 80, inp / "day1.parquet")
    _drop_file(spark, stage, 40, inp / "day2.parquet")

    eng = ValidationEngine(transcript_spec())

    def run():
        return eng.run_resumable(
            lambda ps: spark.read.parquet(*ps), mpath, out, files=list_files(str(inp))
        )

    def validated(s):
        return s["units_total"] - s["units_skipped"]

    s1 = run()
    assert (s1["units_total"], validated(s1), s1["units_skipped"]) == (2, 2, 0)
    assert s1["rows"] > 0

    # idempotent re-run: nothing to do
    s2 = run()
    assert (validated(s2), s2["units_skipped"]) == (0, 2)

    # third drop arrives: only it is validated
    _drop_file(spark, stage, 20, inp / "day3.parquet")
    s3 = run()
    assert (validated(s3), s3["units_skipped"]) == (1, 2)

    # in-place rewrite changes the fingerprint -> re-validated
    part = next(p for p in __import__("os").listdir(stage) if p.endswith(".parquet"))
    shutil.copy(f"{stage}/{part}", inp / "day1.parquet")
    s4 = run()
    assert validated(s4) == 1

    # manifest accumulates one row per validated (file, fingerprint):
    # 2 (initial) + 1 (day3) + 1 (day1 rewrite)
    assert Manifest(spark, mpath).read().count() == 4


def test_run_incremental_spec_scoped(spark, tmp_path):
    """A changed spec must re-validate recorded files (the skip set
    is scoped to the spec hash, like shard resume)."""
    from satya_spark.spec import FieldSpec, TableSpec

    inp = str(tmp_path / "inp")
    synthesize(spark, 30).coalesce(1).write.parquet(inp)
    mpath, out = str(tmp_path / "fm"), str(tmp_path / "out")

    s_a = TableSpec("t", [FieldSpec("conv_id", "string", required=True)])
    s_b = TableSpec(
        "t",
        [FieldSpec("conv_id", "string", required=True, min_length=100)],
    )

    def run(eng):
        s = eng.run_resumable(
            lambda ps: spark.read.parquet(*ps), mpath, out, files=list_files(inp)
        )
        return s, s["units_total"] - s["units_skipped"]

    e1 = ValidationEngine(s_a)
    r1, n1 = run(e1)
    assert n1 >= 1
    _, n2 = run(e1)
    assert n2 == 0
    e2 = ValidationEngine(s_b)
    r3, n3 = run(e2)
    assert n3 == n1  # re-validated
    assert r3["invalid_rows"] > 0  # min_length=100 fails everywhere


def _outputs(spark, out):
    """(verdict rows, violation rows) committed under ``out``, without
    the run_id partition column, as sorted tuples."""
    def rows(name):
        df = spark.read.parquet(f"{out}/{name}")
        return sorted(tuple(r) for r in df.drop("run_id").collect())

    return rows("verdicts"), rows("violations")


def test_resume_after_failed_commit(spark, tmp_path, monkeypatch):
    """A run that dies after its writes but before its manifest append
    leaves no committed output: the next run deletes the uncommitted
    ``run_id=`` directories and recomputes exactly the unrecorded
    units, and the union of committed outputs equals a one-shot run —
    for shard units and for file units (a new file arrives between
    the runs)."""
    import pytest

    eng = ValidationEngine(transcript_spec(), n_shards=4)
    real_append = Manifest.append

    def crash(self, rows):
        raise RuntimeError("killed before commit")

    # shard units: the failed first run records nothing, so the resumed
    # run recomputes every shard
    df = synthesize(spark, n_conv=60).cache()
    n_rows = df.count()
    m, out = str(tmp_path / "m"), str(tmp_path / "out")
    monkeypatch.setattr(Manifest, "append", crash)
    with pytest.raises(RuntimeError):
        eng.run_resumable(df, m, out, "in", run_id="dead")
    monkeypatch.setattr(Manifest, "append", real_append)
    resumed = eng.run_resumable(df, m, out, "in", run_id="r2")
    assert resumed["rows"] == n_rows and resumed["units_skipped"] == 0
    assert eng.run_resumable(df, m, out, "in", run_id="r3")["rows"] == 0
    one_shot = str(tmp_path / "one_shot")
    eng.write_outputs(df, one_shot)
    assert _outputs(spark, out) == _outputs(spark, one_shot)
    df.unpersist()

    # file units: run 1 commits two files, a third arrives, run 2 dies
    # before its commit, run 3 recomputes the third file only
    inp = tmp_path / "inp"
    inp.mkdir()
    stage = str(tmp_path / "stage")
    _drop_file(spark, stage, 50, inp / "day1.parquet")
    _drop_file(spark, stage, 30, inp / "day2.parquet")
    m, out = str(tmp_path / "fm"), str(tmp_path / "fout")

    def run(run_id):
        return eng.run_resumable(
            lambda ps: spark.read.parquet(*ps), m, out,
            files=list_files(str(inp)), run_id=run_id,
        )

    run("f1")
    _drop_file(spark, stage, 20, inp / "day3.parquet")
    monkeypatch.setattr(Manifest, "append", crash)
    with pytest.raises(RuntimeError):
        run("dead")
    monkeypatch.setattr(Manifest, "append", real_append)
    resumed = run("f3")
    assert resumed["units_skipped"] == 2
    assert resumed["rows"] == spark.read.parquet(str(inp / "day3.parquet")).count()
    assert {p.name for p in (tmp_path / "fout" / "verdicts").iterdir()} == {
        "run_id=f1", "run_id=f3"
    }
    one_shot = str(tmp_path / "fone_shot")
    eng.write_outputs(spark.read.parquet(str(inp)), one_shot, unit="file")
    assert _outputs(spark, out) == _outputs(spark, one_shot)


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
