"""CLI surface: python -m satya_spark validate — fresh-interpreter
end-to-end runs (parquet + ndjson + JSON-schema spec + resume)."""

from __future__ import annotations

import contextlib
import io
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cli(*argv, timeout=600):
    env = dict(os.environ, PYTHONPATH=REPO)
    return subprocess.run(
        [sys.executable, "-m", "satya_spark", *argv],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=env,
        timeout=timeout,
    )


def _clean(src, out, *flags):
    """Run ``clean`` in this process (on the test session); return its
    JSON summary line."""
    from satya_spark.__main__ import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["clean", "--input", src, "--output", out, *flags])
    assert rc == 0
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def test_cli_validate_parquet(spark, tmp_path):
    from satya_spark.transcripts import synthesize

    inp = str(tmp_path / "in.parquet")
    synthesize(spark, 300).write.parquet(inp)
    out = str(tmp_path / "out")
    r = _cli("validate", "--input", inp, "--output", out, "--shards", "8")
    assert r.returncode == 3, r.stderr[-1500:]  # planted violations present
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["rows"] > 0 and summary["invalid_rows"] > 0
    assert os.path.isdir(f"{out}/verdicts") and os.path.isdir(f"{out}/violations")


def test_cli_validate_ndjson_with_json_schema(tmp_path):
    schema = {
        "title": "people",
        "type": "object",
        "properties": {
            "name": {"type": "string", "minLength": 2},
            "age": {"type": "integer", "minimum": 0},
        },
        "required": ["name", "age"],
    }
    sfile = tmp_path / "schema.json"
    sfile.write_text(json.dumps(schema))
    data = tmp_path / "data"
    data.mkdir()
    (data / "d.ndjson").write_text(
        '{"name":"ann","age":3}\n{"name":"x","age":-1}\n'
    )
    out = str(tmp_path / "out")
    r = _cli(
        "validate", "--input", str(data), "--format", "ndjson",
        "--schema", str(sfile), "--output", out,
    )
    assert r.returncode == 3, r.stderr[-1500:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["rows"] == 2 and summary["invalid_rows"] == 1


def test_cli_resume_via_manifest(spark, tmp_path):
    from satya_spark.transcripts import synthesize

    inp = str(tmp_path / "in.parquet")
    synthesize(spark, 200).write.parquet(inp)
    out = str(tmp_path / "o")
    man = str(tmp_path / "manifest")
    r1 = _cli("validate", "--input", inp, "--output", out,
              "--manifest", man, "--shards", "8")
    assert r1.returncode == 3
    s1 = json.loads(r1.stdout.strip().splitlines()[-1])
    viol1 = spark.read.parquet(f"{out}/violations").collect()
    assert len(viol1) > 0 and {r["run_id"] for r in viol1} == {s1["run_id"]}
    # second run into the same --output: everything already validated
    # -> zero new rows, and run 1's violation rows are still there
    r2 = _cli("validate", "--input", inp, "--output", out,
              "--manifest", man, "--shards", "8")
    s2 = json.loads(r2.stdout.strip().splitlines()[-1])
    assert s2["rows"] == 0 and r2.returncode == 0
    assert s2["shards"] == 0 and s2["invalid_rows"] == 0
    assert s2["units_skipped"] == s2["units_total"] == 8
    assert s2["recorded"] == {
        "units": 8, "rows": s1["rows"], "invalid_rows": s1["invalid_rows"]
    }
    viol2 = spark.read.parquet(f"{out}/violations").collect()
    assert sorted(map(tuple, viol2)) == sorted(map(tuple, viol1))


def test_cli_manifest_refuses_plain_output(spark, tmp_path):
    """A manifest run into an --output that a run without a manifest
    wrote exits 2, names the directory and writes nothing: readers of
    <output>/verdicts would see the run_id= partitions and silently
    skip the plain run's part files beside them."""
    from satya_spark.__main__ import main
    from satya_spark.transcripts import synthesize

    inp = str(tmp_path / "in")
    synthesize(spark, 100).coalesce(2).write.parquet(inp)
    out = str(tmp_path / "out")
    argv = ["validate", "--input", inp, "--output", out, "--shards", "8"]
    with contextlib.redirect_stdout(io.StringIO()):
        assert main(argv) == 3
    before = sorted(os.listdir(f"{out}/verdicts"))
    for flag in ("--manifest", "--file-manifest"):
        err = io.StringIO()
        with contextlib.redirect_stdout(io.StringIO()), contextlib.redirect_stderr(err):
            rc = main([*argv, flag, str(tmp_path / flag.strip("-"))])
        assert rc == 2, flag
        assert f"{out}/verdicts" in err.getvalue(), err.getvalue()
        assert not os.path.exists(tmp_path / flag.strip("-"))
    assert sorted(os.listdir(f"{out}/verdicts")) == before


def test_input_fingerprint_distinguishes_remote_uris():
    from satya_spark.__main__ import _input_fingerprint

    a = _input_fingerprint("s3a://bucket/datasetA")
    b = _input_fingerprint("s3a://bucket/datasetB")
    assert a != b  # review r2: URIs used to collapse to one constant


def test_input_fingerprint_path_spelling_invariant(tmp_path):
    # review r2: ./data vs /abs/data must resume each other (content
    # identity, not path identity)
    import os

    from satya_spark.__main__ import _input_fingerprint

    d = tmp_path / "data"
    d.mkdir()
    (d / "part.parquet").write_bytes(b"x" * 10)
    absolute = _input_fingerprint(str(d))
    cwd = os.getcwd()
    try:
        os.chdir(tmp_path)
        relative = _input_fingerprint("data")
    finally:
        os.chdir(cwd)
    assert absolute == relative


def test_cli_triage(spark, tmp_path):
    from satya_spark.transcripts import synthesize

    inp = str(tmp_path / "in.parquet")
    synthesize(spark, 500).write.parquet(inp)
    r = _cli(
        "triage", "--input", inp, "--sample-n", "2", "--top-n", "3",
        "--drift-group", "role", "--drift-metric", "text",
    )
    assert r.returncode == 0, r.stderr[-1500:]
    report = json.loads(r.stdout.strip().splitlines()[-1])
    assert report["violation_sample"], "planted violations must sample"
    assert all(row["rk"] <= 2 for row in report["violation_sample"])
    assert 1 <= len(report["worst_groups"]) <= 3
    psis = {row["grp"]: row["psi"] for row in report["group_psi"]}
    assert "user" in psis and len(psis) >= 3
    # transcripts-shaped input -> sequence-level structure summary
    # (synthesize plants moderator roles and tools on user turns)
    sv = report["structure_violations"]
    assert sv.get("role_unknown", 0) > 0
    assert sv.get("tool_on_invalid_role", 0) > 0


def test_cli_validate_quarantine_split(spark, tmp_path):
    """--quarantine on planted, all-valid and zero-row input: the split
    holds every row, summary counts equal the sums over verdicts/, and
    only invalid input yields violation rows. A zero-row split has no
    data files, so it is read, as validate reads it, with an explicit
    schema."""
    from pyspark.sql import functions as F

    from satya_spark.engine import ValidationEngine
    from satya_spark.spec import transcript_spec
    from satya_spark.transcripts import synthesize

    planted = synthesize(spark, 200)
    ann = ValidationEngine(transcript_spec()).annotate(planted)
    schema = ann.drop("shard").schema
    inputs = {
        "planted": planted,
        "all_valid": ann.filter("valid").drop("shard", "valid", "violations"),
        "zero_rows": planted.limit(0),
    }
    for case, frame in inputs.items():
        inp = str(tmp_path / f"{case}.parquet")
        frame.write.parquet(inp)
        n_in = spark.read.parquet(inp).count()
        out = str(tmp_path / f"{case}_out")
        r = _cli(
            "validate", "--input", inp, "--output", out,
            "--shards", "8", "--quarantine",
        )
        assert r.returncode == (3 if case == "planted" else 0), r.stderr[-1500:]
        summary = json.loads(r.stdout.strip().splitlines()[-1])
        assert summary["split"]["clean"].endswith("valid=true")
        split = spark.read.schema(schema).parquet(f"{out}/split")
        clean, quar = split.filter("valid"), split.filter("NOT valid")
        assert clean.count() + quar.count() == summary["rows"] == n_in
        # summary counts are observed on the verdicts write itself
        v = spark.read.parquet(f"{out}/verdicts").agg(
            F.sum("n_rows"), F.sum("n_invalid_rows"), F.count(F.lit(1))
        ).first()
        assert (summary["rows"], summary["invalid_rows"], summary["shards"]) == (
            tuple(x or 0 for x in v)
        )
        n_viol = spark.read.parquet(f"{out}/violations").count()
        if case == "planted":
            assert quar.count() > 0 and n_viol > 0
        else:
            assert summary["invalid_rows"] == quar.count() == n_viol == 0


def test_cli_clean_corpus(spark, tmp_path):
    """clean: PII redacted in kept rows, short/repetitive/duplicate
    rows dropped with per-rule reasons, one JSON summary line."""
    src = str(tmp_path / "docs")
    rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "mail ada@math.org the quick brown fox jumps over the dog"),
        (3, "dup dup dup dup dup dup dup dup"),        # repetitive
        (4, "too short"),                               # < min tokens
        (5, "the quick brown fox jumps over the lazy dog tonight"),  # dup of 1
        (6, None),                                      # NULL text: 0 tokens
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "out")
    summary = _clean(
        src, out, "--min-tokens", "5", "--max-top-bigram", "0.5", "--dedup"
    )
    assert summary["rows_in"] == 6
    kept = {r["doc_id"]: r["text"] for r in spark.read.parquet(f"{out}/kept").collect()}
    dropped = {
        r["doc_id"]: sorted(r["drop_reasons"])
        for r in spark.read.parquet(f"{out}/dropped").collect()
    }
    assert set(kept) == {1, 2}
    assert "<EMAIL>" in kept[2] and "ada@math.org" not in kept[2]
    assert dropped[3] == ["repetitive"]
    # reasons ACCUMULATE: 2 tokens → too_short, and its single bigram
    # is 100% of bigrams → repetitive too
    assert dropped[4] == ["repetitive", "too_short"]
    assert dropped[5] == ["duplicate"]
    assert dropped[6] == ["too_short"]
    assert summary["rows_kept"] == 2 and summary["rows_dropped"] == 4


def test_cli_clean_decontam(spark, tmp_path):
    """clean --decontam-against: rows overlapping the eval suite by
    >= min-hits word n-grams are dropped with reason 'contaminated';
    non-overlapping rows survive."""
    src = str(tmp_path / "docs")
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "one two three four five six seven eight nine ten eleven"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    bench = str(tmp_path / "bench")
    spark.createDataFrame(
        [("alpha beta gamma delta epsilon zeta eta theta",)], "text string"
    ).write.parquet(bench)
    out = str(tmp_path / "out")
    summary = _clean(
        src, out, "--min-tokens", "2", "--decontam-against", bench
    )
    assert summary["rows_kept"] == 1
    dropped = {
        r["doc_id"]: list(r["drop_reasons"])
        for r in spark.read.parquet(f"{out}/dropped").collect()
    }
    assert dropped == {1: ["contaminated"]}


def test_cli_clean_c4_and_gopher(spark, tmp_path):
    """clean --c4-lines --gopher: page-rule failures drop with
    'c4_page' (original text preserved in dropped/), surviving pages
    get the line-filtered text, and the Gopher composites add
    'gopher_quality' / 'gopher_repetition' reasons computed on the
    CLEANED text."""
    body = "\n".join([
        "the quick brown fox jumps over the lazy dog near the barn.",
        "a farmer went out early to check on those wide green fields.",
        "later that evening everyone gathered around with warm bread.",
        "children played outside until the stars came up above town.",
        "nobody wanted to leave because the music kept playing on.",
    ])
    src = str(tmp_path / "docs")
    rows = [
        (1, body + "\nclick here"),  # junk line filtered, page survives
        (2, "lorem ipsum dolor sit amet.\n" + body),  # page poison
        # passes C4 but fails Gopher repetition: a 10-word sentence
        # repeated — dup 5..10-gram char mass near 1.0
        (3, "\n".join(
            ["pack my box with five dozen liquor jugs right now ok."] * 6
        )),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "out")
    summary = _clean(
        src, out, "--min-tokens", "2", "--min-ttr", "0.0",
        "--max-top-bigram", "1.0", "--c4-lines", "--gopher",
    )
    assert summary["rows_kept"] == 1
    kept = {r["doc_id"]: r["text"] for r in
            spark.read.parquet(f"{out}/kept").collect()}
    assert set(kept) == {1}
    assert "click here" not in kept[1]  # line filter rewrote the text
    dropped = {r["doc_id"]: (sorted(r["drop_reasons"]), r["text"]) for r in
               spark.read.parquet(f"{out}/dropped").collect()}
    assert dropped[2][0] == ["c4_page"]
    assert "lorem ipsum" in dropped[2][1]  # original text preserved
    assert "gopher_repetition" in dropped[3][0]


def test_cli_validate_incremental(spark, tmp_path):
    """validate --file-manifest: the first run writes verdicts and
    violations per file, a second run over unchanged input validates
    zero files. A hive-partitioned input is listed recursively and
    keeps its partition column; --quarantine, --format ndjson and an
    input without data files exit 2."""
    import json as _json

    from satya_spark.transcripts import synthesize

    inp = str(tmp_path / "in")
    synthesize(spark, 100).coalesce(2).write.parquet(inp)
    fm = str(tmp_path / "fm")
    out = str(tmp_path / "out")
    r1 = _cli("validate", "--input", inp, "--output", out, "--file-manifest", fm)
    s1 = _json.loads(r1.stdout.strip().splitlines()[-1])
    assert r1.returncode == 3, r1.stderr[-1500:]  # planted violations
    assert s1["units_skipped"] == 0 and s1["units_total"] >= 2
    assert spark.read.parquet(f"{out}/violations").count() > 0
    assert spark.read.parquet(f"{out}/verdicts").count() == s1["units_total"]
    r2 = _cli("validate", "--input", inp, "--output", out, "--file-manifest", fm)
    s2 = _json.loads(r2.stdout.strip().splitlines()[-1])
    assert s2["units_total"] - s2["units_skipped"] == 0
    assert s2["units_skipped"] == s1["units_total"]
    assert r2.returncode == 0  # nothing validated -> nothing failed

    # hive-partitioned input: the files sit one directory down
    part = str(tmp_path / "part")
    synthesize(spark, 100).write.partitionBy("role").parquet(part)
    pout = str(tmp_path / "pout")
    r3 = _cli("validate", "--input", part, "--output", pout,
              "--file-manifest", str(tmp_path / "pfm"))
    assert r3.returncode == 3, r3.stderr[-1500:]
    s3 = _json.loads(r3.stdout.strip().splitlines()[-1])
    plain = _cli("validate", "--input", part, "--output", str(tmp_path / "plain"))
    s_plain = _json.loads(plain.stdout.strip().splitlines()[-1])
    # a lost partition column would read as NULL and fail every row
    assert s3["rows"] == s_plain["rows"]
    assert s3["invalid_rows"] == s_plain["invalid_rows"]

    for bad in (["--quarantine"], ["--format", "ndjson"]):
        r = _cli("validate", "--input", inp, "--output", str(tmp_path / "x"),
                 "--file-manifest", str(tmp_path / "xfm"), *bad)
        assert r.returncode == 2, (bad, r.stderr[-1500:])
    empty = tmp_path / "empty"
    empty.mkdir()
    r = _cli("validate", "--input", str(empty), "--output", str(tmp_path / "x"),
             "--file-manifest", str(tmp_path / "xfm"))
    assert r.returncode == 2, r.stderr[-1500:]


def test_cli_clean_near_dedup(spark, tmp_path):
    """clean --near-dedup: a near-dup CHAIN (a~b, b~c) collapses to
    ONE kept doc via connected components — per-pair dropping would
    keep zero or double-flag. The kept copy is the min-id member that
    passes the OTHER rules: doc 1 is the min id of the cluster but
    fails --max-tokens, so doc 2 survives (a blind min-id canonical
    would delete every copy of the content)."""
    base = " ".join(f"tok{i}" for i in range(30))
    rows = [
        (1, base + " alpha beta gamma delta"),  # 34 tokens: too_long
        (2, base + " alpha beta"),              # 32 tokens, clean
        (3, base + " alpha beta gamma"),        # 33 tokens, near dup of 2
        (4, "completely different text with many unrelated words here"),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "out")
    summary = _clean(
        src, out, "--min-tokens", "2", "--max-tokens", "33", "--near-dedup"
    )
    kept = {r["doc_id"] for r in spark.read.parquet(f"{out}/kept").collect()}
    dropped = {
        r["doc_id"]: sorted(r["drop_reasons"])
        for r in spark.read.parquet(f"{out}/dropped").collect()
    }
    assert kept == {2, 4}
    assert dropped[1] == ["too_long"]       # NOT also near_duplicate
    assert dropped[3] == ["near_duplicate"]
    assert summary["rows_kept"] == 2 and summary["rows_dropped"] == 2
    assert summary["rows_in"] == 4
    assert summary["rows_kept"] == spark.read.parquet(f"{out}/kept").count()
    assert summary["rows_dropped"] == spark.read.parquet(f"{out}/dropped").count()


def test_cli_clean_near_dedup_survivor_after_c4_and_gopher(spark, tmp_path):
    """clean --c4-lines --gopher --near-dedup on multi-line documents
    that pass the C4 page and Gopher rules: a three-document cluster
    whose min id (doc 1) is dropped by another rule (--max-tokens)
    keeps its min KEPT id (doc 2), and only doc 3 is a near
    duplicate."""
    words = [chr(97 + i % 26) + chr(97 + i // 26) + "word" for i in range(200)]

    def line(ws):
        return "the " + " ".join(ws[:5]) + " and " + " ".join(ws[5:]) + "."

    def doc(ws):
        return "\n".join(line(ws[k : k + 10]) for k in range(0, len(ws), 10))

    base = words[:60]  # 6 lines of 12 tokens each
    rows = [
        (1, doc(base + words[100:110])),  # 84 tokens: too_long
        (2, doc(base[:-1] + [words[120]])),
        (3, doc(base[:-1] + [words[121]])),
        (4, doc(words[130:190])),  # unrelated
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "out")
    summary = _clean(
        src, out, "--c4-lines", "--gopher", "--near-dedup", "--max-tokens", "80"
    )
    kept = {r["doc_id"] for r in spark.read.parquet(f"{out}/kept").collect()}
    dropped = {
        r["doc_id"]: sorted(r["drop_reasons"])
        for r in spark.read.parquet(f"{out}/dropped").collect()
    }
    assert kept == {2, 4}, dropped
    assert dropped == {1: ["too_long"], 3: ["near_duplicate"]}
    assert summary["rows_kept"] == 2 and summary["rows_dropped"] == 2
