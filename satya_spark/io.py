"""Table layout helpers for the 100 TB design point.

Bucketing is the sandbox stand-in for Iceberg's bucket partition
transform (the real deployment target named by the north rule): write
the transcript table bucketed by ``conv_id`` and every downstream
per-conversation aggregation and self-join runs WITHOUT a shuffle —
the bucket join/agg reads co-located data. The resume manifest's
shard function (pmod(xxhash64(conv_id), n)) is deliberately the same
family, so manifest-filtering prunes whole buckets.

At 10^12 turns the difference is the whole game: an unbucketed
groupBy(conv_id) shuffles the full table; a bucketed one shuffles
nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str = "conv_id",
    n_buckets: int = 64,
    sort_col: str | None = "turn_idx",
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (+ optionally sorted) managed table.
    Sorting within buckets by turn_idx gives cheap stable
    (conv_id, turn_idx) ordering — the per-turn text-equality
    invariant's physical layout."""
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def read_split(
    spark: SparkSession, path: str, side: str = "clean", fmt: str = "parquet"
) -> DataFrame:
    """Read one side of a :meth:`ValidationEngine.write_split` layout.
    ``side`` is ``"clean"`` (valid=true) or ``"quarantine"``
    (valid=false). Reads the partition ROOT and filters on the
    partition column, so the scan is partition-pruned to the one
    side's files — a fully-clean run simply yields an empty
    quarantine frame (its ``valid=false`` directory was never
    created, and pruning selects zero files)."""
    if side not in ("clean", "quarantine"):
        raise ValueError(f"side must be 'clean' or 'quarantine', got {side!r}")
    df = spark.read.format(fmt).load(path)
    return df.filter(df["valid"] == (side == "clean"))


def write_observed(frame: DataFrame, path: str, **aggs) -> dict:
    """Write ``frame`` as parquet to ``path`` and return ``aggs``
    (name -> aggregate Column) as observed on that write: summary
    counts come from the pass that writes the rows, not a re-read."""
    from pyspark.sql import Observation

    obs = Observation()
    frame.observe(obs, *[c.alias(n) for n, c in aggs.items()]).write.mode(
        "overwrite"
    ).parquet(path)
    return obs.get


# --- Iceberg (the north rule's named deployment target) -------------------

ICEBERG_EXTENSION = (
    "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
)
ICEBERG_CATALOG_IMPL = "org.apache.iceberg.spark.SparkCatalog"


def iceberg_configs(catalog: str, warehouse: str) -> dict:
    """The session configs that turn a SparkSession into an Iceberg
    writer/reader (hadoop-type catalog; swap ``type`` for hive/rest in
    a real deployment). Returned as a dict so callers can thread them
    into ``spark-submit --conf`` or a builder — the sandbox image has
    no iceberg-spark-runtime jar, so get_spark does NOT set these by
    default."""
    return {
        "spark.sql.extensions": ICEBERG_EXTENSION,
        f"spark.sql.catalog.{catalog}": ICEBERG_CATALOG_IMPL,
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


def have_iceberg(spark: SparkSession) -> bool:
    """True when the Iceberg runtime jar is on the session's
    classpath (capability probe, not a config check)."""
    try:
        spark._jvm.java.lang.Class.forName(ICEBERG_CATALOG_IMPL)
        return True
    except Exception:
        return False


def read_ref(spark: SparkSession, ref: str) -> DataFrame:
    """Read a table reference of any supported kind: an Iceberg /
    catalog table name (``catalog.db.table``, requires the runtime
    jar), a managed table name, or a parquet path. This is the single
    input seam the CLI and engine use, so a deployment with Iceberg
    jars switches by passing a table ref instead of a path — no code
    change."""
    if ref.endswith(".parquet") or "/" in ref:
        return spark.read.parquet(ref)
    return spark.table(ref)


def write_ref(
    df: DataFrame, ref: str, mode: str = "append", fmt: str = "iceberg"
) -> None:
    """Write to an Iceberg table ref when the runtime is present,
    else to a parquet path (the sandbox stand-in). Iceberg writes are
    the atomic-snapshot half of the checkpoint-resume story: the
    manifest's (file, snapshot) lineage keys map 1:1 onto Iceberg's
    snapshot ids."""
    if ref.endswith(".parquet") or "/" in ref:
        df.write.mode(mode).parquet(ref)
        return
    if not have_iceberg(df.sparkSession):
        raise RuntimeError(
            "Iceberg runtime jar not on the classpath; pass a parquet"
            " path, or launch with iceberg_configs(...) +"
            " --packages org.apache.iceberg:iceberg-spark-runtime"
        )
    if mode == "overwrite":
        df.writeTo(ref).using(fmt).createOrReplace()
    else:
        df.writeTo(ref).append()
