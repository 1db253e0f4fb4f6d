"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point, not just local tests:
AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow enabled for the few pandas-UDF kernels, and an
Arrow batch size echoing satya's 4096-record micro-batch sweet spot
(``src/lib.rs:378-392`` — we use 10k, the Arrow default order, since
JVM columnar batches amortize better than satya's dict batches).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "satya-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # FAIR task scheduling: a validation run emits several
        # independent outputs (verdicts, uniqueness, referential,
        # null-rate, drift) submitted concurrently from driver
        # threads. Under FIFO, every stage of the first-submitted big
        # job holds all task slots until it drains, so the short
        # cross-row jobs serialize BEHIND it and their fixed latency
        # lands on the critical path. Measured on the 10.2M-row
        # pipeline bench (best-of-4, BENCH.md r4 leg 4): at 2 cores
        # FAIR 52.9 s vs FIFO 57.9 s (~9% — slot-starved is where
        # interleaving pays); at 8 cores 14.6 vs 14.1 s (noise).
        # NB this IMPROVES the low-parallelism level and therefore
        # lowers the measured 2→8-core scaling ratio — accepted: the
        # absolute wall-clock win at the contended level is the real
        # cluster behavior, not the ratio. No effect on single-query
        # runs.
        .config("spark.scheduler.mode", "FAIR")
        # JIT refuses to compile methods past ~8 KB of bytecode
        # (DontCompileHugeMethods), so a fused whole-stage method above
        # that limit runs as interpreted bytecode forever. Aligning
        # Spark's fallback threshold with the JIT limit makes the
        # 25-kernel validation stages fall back to per-operator codegen
        # (each method JIT-able) instead of keeping a never-JIT'd fused
        # method: +6% on the 5M-row kernel throughput and ~-0.05 s on
        # every small kernel query (measured r6, this box). Scale-safe:
        # the JIT threshold is a JVM property, not a data-size one.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
