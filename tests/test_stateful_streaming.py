"""applyInPandasWithState streaming operator: per-conversation state
survives across micro-batches (duplicate + regression detection)."""

from __future__ import annotations

import json

from pyspark.sql import types as T

from satya_spark.streaming.stateful import STATE_CAP, stateful_turn_checks

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
    ]
)


def _write(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run_batch(spark, indir, ckpt, outdir, **kw):
    stream = spark.readStream.schema(SCHEMA).json(str(indir))
    q = (
        stateful_turn_checks(stream, **kw)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(outdir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_state_survives_micro_batches(spark, tmp_path):
    indir = tmp_path / "in"
    indir.mkdir()
    ckpt = tmp_path / "ckpt"
    outdir = tmp_path / "out"

    # batch 1: clean turns 0..2 for c1; turn 5 then 3 for c2 (regression)
    _write(
        indir / "b1.ndjson",
        [
            {"conv_id": "c1", "turn_idx": 0},
            {"conv_id": "c1", "turn_idx": 1},
            {"conv_id": "c1", "turn_idx": 2},
            {"conv_id": "c2", "turn_idx": 5},
            {"conv_id": "c2", "turn_idx": 3},
        ],
    )
    _run_batch(spark, indir, ckpt, outdir)
    rows = {
        (r["conv_id"], r["turn_idx"], r["anomaly"])
        for r in spark.read.parquet(str(outdir)).collect()
    }
    assert rows == {("c2", 3, "regressed_turn")}

    # batch 2 (new file, same checkpoint): duplicate of c1 turn 1 —
    # only detectable if state persisted across batches
    _write(indir / "b2.ndjson", [{"conv_id": "c1", "turn_idx": 1},
                                 {"conv_id": "c1", "turn_idx": 3}])
    _run_batch(spark, indir, ckpt, outdir)
    rows2 = {
        (r["conv_id"], r["turn_idx"], r["anomaly"])
        for r in spark.read.parquet(str(outdir)).collect()
    }
    assert ("c1", 1, "duplicate_turn") in rows2
    assert ("c1", 3, "duplicate_turn") not in rows2  # new turn is clean
    assert len(rows2) == 2


def test_bucketed_state_matches_per_conv(spark, tmp_path):
    """State key-space compaction (bucket_by — the throughput config,
    BENCH.md r4): per-conversation verdicts must be IDENTICAL to the
    per-conv-keyed operator, including cross-micro-batch state
    (duplicates spanning batches) and many convs sharing one bucket."""
    rows1 = [
        {"conv_id": f"c{i}", "turn_idx": t}
        for i in range(40)
        for t in ([0, 1, 2] if i % 3 else [2, 0, 0])  # dups + regressions
    ]
    # one hot conversation outgrows the seen-set cap: its state keeps
    # only turns 2..STATE_CAP+1, so the batch-2 replay of turns 0 and 1
    # (below the kept window) is reported as regressed and a replay
    # inside the window still as duplicate, all marked state_capped
    rows1 += [{"conv_id": "hot", "turn_idx": t} for t in range(STATE_CAP + 2)]
    rows2 = [{"conv_id": f"c{i}", "turn_idx": 1} for i in range(0, 40, 3)]
    rows2 += [{"conv_id": "hot", "turn_idx": t} for t in (0, 1, STATE_CAP)]
    outs = {}
    for name, kw in (("perconv", {}), ("bucketed", {"bucket_by": 4})):
        indir = tmp_path / f"in_{name}"
        indir.mkdir()
        ckpt, outdir = tmp_path / f"ck_{name}", tmp_path / f"out_{name}"
        _write(indir / "b1.ndjson", rows1)
        _run_batch(spark, indir, ckpt, outdir, **kw)
        # second batch replays turn 1 for every third conv — detected
        # only via state carried across micro-batches
        _write(indir / "b2.ndjson", rows2)
        _run_batch(spark, indir, ckpt, outdir, **kw)
        outs[name] = sorted(
            (r["conv_id"], r["turn_idx"], r["anomaly"], r["max_seen"],
             r["state_capped"])
            for r in spark.read.parquet(str(outdir)).collect()
        )
    assert outs["perconv"], "fixture must produce anomalies"
    assert outs["bucketed"] == outs["perconv"]
    hot = STATE_CAP + 1
    assert [r for r in outs["bucketed"] if r[4]] == [
        ("hot", 0, "regressed_turn", hot, True),
        ("hot", 1, "regressed_turn", hot, True),
        ("hot", STATE_CAP, "duplicate_turn", hot, True),
    ]
    # batch-2's turn 1 arrives at convs whose batch-1 max is 2 with 1
    # unseen → regressed_turn, detectable only via cross-batch state;
    # with 40 convs over 4 buckets every bucket holds many convs
    n_reg_batch2 = sum(
        1
        for c, t, a, _, _ in outs["bucketed"]
        if c != "hot" and t == 1 and a == "regressed_turn"
    )
    assert n_reg_batch2 == 14  # i = 0, 3, ..., 39


def test_checkpoint_resume_exactly_once(spark, tmp_path):
    """Restarting from a REAL checkpoint dir must neither reprocess
    nor drop: with no new input the restarted query emits nothing new;
    with new input, prior state still applies (VERDICT r2 #7)."""
    indir = tmp_path / "in"
    indir.mkdir()
    ckpt = tmp_path / "ckpt"
    outdir = tmp_path / "out"

    _write(indir / "b1.ndjson", [{"conv_id": "c1", "turn_idx": 0},
                                 {"conv_id": "c1", "turn_idx": 0}])
    _run_batch(spark, indir, ckpt, outdir)
    first = spark.read.parquet(str(outdir)).collect()
    assert {(r["conv_id"], r["turn_idx"], r["anomaly"]) for r in first} == {
        ("c1", 0, "duplicate_turn")
    }
    # the checkpoint is real on-disk state, not a fresh dir
    assert (ckpt / "offsets").exists() and any((ckpt / "offsets").iterdir())
    assert (ckpt / "state").exists()

    # restart with NO new input: nothing is reprocessed
    _run_batch(spark, indir, ckpt, outdir)
    assert len(spark.read.parquet(str(outdir)).collect()) == len(first)

    # restart with a replay of the same turn: state from run 1 flags it
    _write(indir / "b2.ndjson", [{"conv_id": "c1", "turn_idx": 0}])
    _run_batch(spark, indir, ckpt, outdir)
    rows = [
        (r["conv_id"], r["turn_idx"], r["anomaly"])
        for r in spark.read.parquet(str(outdir)).collect()
    ]
    assert rows.count(("c1", 0, "duplicate_turn")) == 2
