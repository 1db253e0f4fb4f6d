"""Checkpoint-resume manifest (north rule: 'resumable from checkpoint
with per-partition lineage + metrics').

One append-only lineage log, keyed by a **unit** of work:

* ``shard`` (``validate --manifest``): a deterministic shard =
  ``pmod(xxhash64(key), n_shards)``. Sharding on the key (not on
  physical Spark partition ids, which are scheduling artifacts) makes
  lineage stable across cluster sizes and retries — the same
  conversation always lands in the same shard, so a restarted job at a
  different parallelism still skips exactly the validated work. Every
  shard shares the input's fingerprint.
* ``file`` (``validate --file-manifest``): one physical data file, the
  natural unit of an append-only corpus (daily drops, streaming sink
  output). Each file has its own stat fingerprint, so a new or
  rewritten file is pending while the historical corpus is never
  re-read. On Iceberg the ``(file_path, snapshot_id)`` pair plays
  this role.

A unit is done iff the manifest holds a row for that unit with that
unit's scoped fingerprint (input fingerprint + spec hash + context
digest, see ``ValidationEngine.unit_fingerprints``). Rows written by an
older manifest format carry no ``unit``/``fingerprint`` and so match
nothing: they cause re-validation, never a skip.

Output layout and commit rule. A resumable run writes its outputs to
``<output>/{verdicts,violations,split}/run_id=<id>/``, so a reader of
``<output>/violations`` sees every committed run. The manifest append
is the commit: it happens only after those writes succeed, and a run
first deletes every ``run_id=`` directory the manifest does not record
(the leftovers of a run that died before its commit). That makes one
writer per manifest a requirement: two concurrent runs would delete
each other's uncommitted outputs.

On a real deployment the manifest is an Iceberg table and the input is
partitioned/bucketed by the shard function, so the resume filter
becomes partition pruning at the scan (SURVEY.md §4.3); in the sandbox
the manifest is a local parquet directory with one atomically-renamed
file per run.
"""

from __future__ import annotations

import os
import time
import uuid
from typing import Dict

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        # the shard number or the data file's absolute path
        T.StructField("unit", T.StringType()),
        T.StructField("fingerprint", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_valid", T.LongType()),
        T.StructField("n_invalid_rows", T.LongType()),
        T.StructField("n_rule_violations", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
        T.StructField("completed_at_ms", T.LongType()),
        # per-field kernel timing profile (JSON, engine.profile_kernels)
        T.StructField("profile", T.StringType()),
    ]
)


def shard_col(n_shards: int, key: str = "conv_id") -> Column:
    return F.pmod(F.xxhash64(F.col(key)), F.lit(n_shards)).cast("int")


def stat_entry(path: str, root: str) -> str:
    """Identity of one file: its path relative to ``root`` + size +
    mtime_ns + inode. ``st_mtime_ns`` and ``st_ino`` (not whole-second
    mtime): a file rewritten in place with identical size within the
    same second must change it, or resume silently skips changed
    data."""
    st = os.stat(path)
    rel = os.path.relpath(path, root)
    return f"{rel}:{st.st_size}:{st.st_mtime_ns}:{st.st_ino}"


def list_files(root: str) -> Dict[str, str]:
    """Data files of a local input — ``root`` itself, or every file
    under it, recursively — mapped from real path to
    :func:`stat_entry`. Names starting with '.' or '_' are skipped, as
    Spark skips them. A non-local URI lists nothing."""
    if os.path.isfile(root):
        return {os.path.realpath(root): stat_entry(root, os.path.dirname(root))}
    out = {}
    for d, dirs, names in os.walk(root):
        dirs[:] = [n for n in dirs if not n.startswith((".", "_"))]
        for n in names:
            if not n.startswith((".", "_")):
                p = os.path.join(d, n)
                out[os.path.realpath(p)] = stat_entry(p, root)
    return out


class Manifest:
    """Parquet-backed manifest with atomic-enough appends
    (write temp file in-dir under a dot-name, then rename)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    def read(self) -> DataFrame:
        files = [
            os.path.join(self.path, f)
            for f in os.listdir(self.path)
            if f.endswith(".parquet") and not f.startswith(".")
        ]
        if not files:
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        # the explicit schema reads an older format's missing columns
        # as NULL
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(*files)

    def recorded(self, fingerprints: Dict[str, str]) -> Dict[str, object]:
        """Manifest rows of the units of ``fingerprints`` (unit ->
        scoped fingerprint) that are done, keyed by unit. Bounded: one
        row per unit and recording run."""
        rows = (
            self.read()
            .filter(F.col("fingerprint").isin(*set(fingerprints.values())))
            .collect()
        )
        done = [r for r in rows if fingerprints.get(r["unit"]) == r["fingerprint"]]
        return {r["unit"]: r for r in done}

    def run_ids(self) -> set:
        """Every committed run."""
        return {r["run_id"] for r in self.read().select("run_id").distinct().collect()}

    def append(self, rows: list) -> None:
        """Atomic-enough append: single-file parquet written to a
        hidden temp name, then os.rename (atomic on POSIX)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        if not rows:
            return
        table = pa.Table.from_pylist(rows, schema=to_arrow_schema(MANIFEST_SCHEMA))
        fname = f"manifest-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, "." + fname + ".tmp")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(self.path, fname))


def new_run_id() -> str:
    return time.strftime("%Y%m%dT%H%M%S") + "-" + uuid.uuid4().hex[:8]
