"""ValidationEngine — the top-level orchestrator.

The Spark analog of satya's ``StreamValidator``
(``src/satya/validator.py:10-21``): compile once, evaluate over
arbitrarily many batches. Here a "batch" is a DataFrame (or a whole
Iceberg/parquet table), and every engine of an equal spec and context
in one SparkContext shares one compiled spec and its built kernel
Column (:func:`shared_compiled`). Evaluation is:

    stage 1  per-column kernels        one codegen'd select (no shuffle)
    stage 2  per-shard verdicts        groupBy(shard) — counts only
    stage 3  cross-row rules           uniqueness / referential / null-rate
    stage 4  drift                     per-conversation stats → PSI/KS

matching the stage DAG that satya's ModelRegistry topological sort
implies for nested models (``src/satya/__init__.py:1164-1196``),
lifted to table scope (SURVEY.md §1.1 'Dependency graph').

Outputs (all DataFrames, all lazy until written):
* annotated rows (input + ``valid`` + ``violations`` array)
* violation rows ``(conv_id, turn_idx, field, constraint_name,
  offending_value)`` — ValidationError shape
  (``src/satya/__init__.py:20-48``)
* per-shard verdict rows (pass/fail + counts) — per-partition
  verdicts of the north rule
* cross-row violation tables
* manifest rows for checkpoint-resume
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import threading
import time
from dataclasses import dataclass
from typing import Dict, Optional, Sequence
from urllib.parse import unquote, urlparse

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import crossrow, drift
from .compiler import CompiledSpec, compile_spec, explode_violations
from .io import write_observed
from .manifest import Manifest, new_run_id, shard_col
from .spec import TableSpec


# one CompiledSpec per kernel_key in the active SparkContext, so the
# kernel Column (thousands of py4j calls to build) is built once per
# session and spec, not once per engine; the oldest entry goes first
_KERNELS: Dict[str, CompiledSpec] = {}
_KERNELS_MAX = 32
_kernels_sc: Optional[SparkContext] = None
_kernels_lock = threading.Lock()


def shared_compiled(spec: TableSpec, context: Optional[dict] = None) -> CompiledSpec:
    """``compile_spec(spec, context)``, shared by every engine whose
    spec and context have the same :meth:`CompiledSpec.kernel_key` in
    the active SparkContext. The cache belongs to that context: it is
    dropped on the first call after the context stopped or was
    replaced, so no Column outlives the session it was built in.
    Without an active context nothing is cached."""
    global _kernels_sc
    compiled = compile_spec(spec, context)
    sc = SparkContext._active_spark_context
    with _kernels_lock:
        if sc is not _kernels_sc:
            _KERNELS.clear()
            _kernels_sc = sc
        if sc is None:
            return compiled
        key = compiled.kernel_key(context)
        if key not in _KERNELS:
            if len(_KERNELS) >= _KERNELS_MAX:
                del _KERNELS[next(iter(_KERNELS))]
            _KERNELS[key] = compiled
        return _KERNELS[key]


def _split_schema(df: DataFrame) -> T.StructType:
    """The schema :meth:`ValidationEngine.write_split` writes for input
    ``df``, taken from ``df.schema`` instead of from analysing the
    kernel plan: ``annotate``'s ``withColumn`` replaces or appends
    ``violations`` and ``valid``, and the split drops ``shard``."""
    added = {
        "violations": T.DataType.fromDDL(CompiledSpec.VIOLATION_TYPE),
        "valid": T.BooleanType(),
    }
    fields = [
        T.StructField(f.name, added.pop(f.name)) if f.name in added else f
        for f in df.schema
        if f.name != "shard"
    ]
    return T.StructType(fields + [T.StructField(n, t) for n, t in added.items()])


class MixedOutputError(ValueError):
    """Raised by :meth:`ValidationEngine.run_resumable` when its
    ``output`` already holds outputs that are not ``run_id=<id>``
    partitions, such as the part files of a plain run: a reader of the
    directory would see the partitions and silently skip those rows."""


class TableValidationError(Exception):
    """Raised by :meth:`ValidationEngine.enforce` when a table fails.

    Table-level analog of the reference's raising construction path
    (``src/satya/__init__.py:76-81`` — instantiating a Model with bad
    data raises with the error list). At table scope the payload must
    stay bounded: the exception carries the total invalid-row count
    plus a small deterministic sample of violation rows, never the
    full violation set (which on a 10^12-row incident would be a
    second copy of the input)."""

    def __init__(self, n_invalid: int, n_rows: int, sample: list):
        self.n_invalid = n_invalid
        self.n_rows = n_rows
        self.sample = sample
        head = "; ".join(
            f"{r['field']}.{r['constraint_name']}={r['offending_value']!r}"
            for r in sample[:5]
        )
        super().__init__(
            f"{n_invalid}/{n_rows} rows failed validation; sample: {head}"
        )


@dataclass
class ValidationRun:
    annotated: DataFrame
    violations: DataFrame
    shard_verdicts: DataFrame
    duplicates: Optional[DataFrame]
    referential: Dict[str, DataFrame]
    null_rate: Dict[str, DataFrame]


class ValidationEngine:
    def __init__(
        self, spec: TableSpec, n_shards: int = 64, context: Optional[dict] = None
    ):
        # ``context``: run-scoped constants for custom row rules — the
        # ValidationInfo.context analog (folded into the compiled
        # expressions, see compiler.compile_row_rule)
        self.spec = spec
        self.context = dict(context or {})
        self.compiled: CompiledSpec = shared_compiled(spec, self.context)
        self.n_shards = n_shards
        # lineage/shard key: first unique-key column, else first field
        self.shard_key = (
            spec.unique_key[0] if spec.unique_key else spec.fields[0].name
        )

    # --- stage 0: schema policy -----------------------------------------
    def schema_violations(self, df: DataFrame) -> list:
        """Table-level schema diff (extra-field policy,
        ``src/satya/__init__.py:270-276, 869-879``): unknown columns
        (error iff spec.extra == 'forbid') and declared-but-missing
        columns (always an error for required fields). Driver-side —
        schema inspection touches no data."""
        declared = set(self.spec.field_names())
        present = set(df.columns)
        out = []
        if self.spec.extra == "forbid":
            for c in sorted(present - declared):
                out.append({"field": c, "constraint": "extra_field"})
        for f in self.spec.fields:
            # dotted names are struct paths INSIDE a parent column —
            # their presence is a data property (the parent's own
            # required rule + the inner kernels cover it), not schema
            if "." in f.name:
                continue
            if f.name not in present and f.required:
                out.append({"field": f.name, "constraint": "missing_column"})
        return out

    def conform(self, df: DataFrame) -> DataFrame:
        """Make the frame validatable: add declared-but-absent
        columns as typed nulls (missing key ≡ null, SURVEY.md §2.2)
        and, under 'forbid', drop unknown columns after
        schema_violations() has reported them."""
        from .coerce import spark_type

        declared = [n for n in self.spec.field_names() if "." not in n]
        cols = list(df.columns)
        out = df
        for f in self.spec.fields:
            if "." in f.name:
                continue  # struct paths live inside their parent
            if f.name not in cols:
                out = out.withColumn(f.name, F.lit(None).cast(spark_type(f.dtype)))
        if self.spec.extra == "forbid":
            out = out.select(*declared)
        return out

    # --- stage 1: row kernels -----------------------------------------
    def annotate(self, df: DataFrame) -> DataFrame:
        """input + shard + violations + valid (single scan, codegen).
        Every engine output reads these columns.

        ``valid`` derives from the violations array (codegen CSE
        computes the rule array once); the array carries the per-row
        violation cap (never silent: n_rule_violations in the shard
        verdicts counts the capped array)."""
        out = df.withColumn("shard", shard_col(self.n_shards, self.shard_key))
        out = out.withColumn("violations", self.compiled.violations_array_col())
        return out.withColumn("valid", F.size("violations") == 0)

    def _keys(self) -> list:
        return list(self.spec.unique_key or (self.spec.fields[0].name,))

    def violations(
        self, ann: DataFrame, keys: Optional[Sequence[str]] = None
    ) -> DataFrame:
        """Violation rows of :meth:`annotate` output (or of a written
        split, which carries the same ``violations`` column)."""
        return explode_violations(ann, list(self._keys() if keys is None else keys))

    # --- stage 2: per-unit verdicts -------------------------------------
    def _verdicts(self, ann: DataFrame, unit: Column, name: str) -> DataFrame:
        """Pass/fail + counts per ``unit`` value of :meth:`annotate`
        output. Verdict = no invalid rows in the unit. Counts-only
        aggregation → fully map-side combinable, one tiny shuffle.

        Plan-shape note: the violation count is evaluated in its OWN
        projection and the aggregate consumes only attribute
        references. Inlining the (large) rule expression into
        aggregate update expressions knocks the stage out of
        whole-stage codegen (~40× slower, measured at 3.4M rows); this
        structure keeps the scan→project→partial-agg pipeline fused.
        """
        pre = ann.select(unit.alias(name), F.size("violations").alias("nv"))
        return (
            pre.groupBy(name)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum((F.col("nv") == 0).cast("long")).alias("n_valid"),
                F.sum((F.col("nv") > 0).cast("long")).alias("n_invalid_rows"),
                F.sum(F.col("nv").cast("long")).alias("n_rule_violations"),
            )
            .withColumn("passed", F.col("n_invalid_rows") == 0)
        )

    def shard_verdicts(self, ann: DataFrame) -> DataFrame:
        """Per-shard verdicts of :meth:`annotate` output or of a
        written split (the shard is recomputed from ``shard_key``, so a
        split's missing ``shard`` column is no obstacle)."""
        return self._verdicts(ann, shard_col(self.n_shards, self.shard_key), "shard")

    def file_verdicts(self, ann: DataFrame) -> DataFrame:
        """Per-input-file verdicts of :meth:`annotate` output —
        physical lineage to complement the logical shard lineage
        (north rule: 'per-partition lineage'); on Iceberg the _file
        metadata column plays this role. ``ann`` must come straight
        from a file scan: a split read back from disk names the split's
        files, not the input's."""
        return self._verdicts(ann, F.input_file_name(), "file")

    def enforce(self, df: DataFrame, sample_n: int = 20) -> DataFrame:
        """Validate-or-raise: return ``df`` untouched if every row
        passes the compiled kernels, else raise
        :class:`TableValidationError`.

        The pass/fail decision is ONE counts-only aggregate over
        :meth:`annotate`'s ``valid`` column — the same fused
        scan→project→partial-agg shape as :meth:`shard_verdicts`, no
        shuffle beyond the 1-row final agg. Only on failure does a
        second bounded job collect ``sample_n`` violation rows
        (deterministic key order) for the exception. Valid tables pay
        exactly one count pass, so ``enforce`` composes as a cheap
        pipeline guard between stages.
        """
        ann = self.annotate(df)
        totals = (
            ann.select((~F.col("valid")).cast("long").alias("bad"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("bad").alias("n_invalid"),
            )
            .collect()[0]
        )
        if not totals["n_invalid"]:
            return df
        sample = [
            r.asDict()
            for r in self.violations(ann)
            .orderBy(*self._keys(), "field", "constraint_name")
            .limit(sample_n)
            .collect()
        ]
        raise TableValidationError(
            int(totals["n_invalid"]), int(totals["n_rows"]), sample
        )

    def write_split(
        self,
        df: DataFrame,
        path: str,
        fmt: str = "parquet",
        mode: str = "overwrite",
    ) -> Dict[str, str]:
        """Single-pass quarantine split: ONE scan writes valid rows to
        ``<path>/valid=true`` and invalid rows (with their populated
        ``violations`` array) to ``<path>/valid=false`` via a
        hive-partitioned write on the verdict column. The two-scan
        alternative (filter valid → write, filter invalid → write)
        reads a 10^12-row table twice; caching it to avoid that
        materializes a table-sized copy. Partitioning by the verdict
        is the Spark-native one-pass answer — and downstream reads of
        the clean side are partition-pruned to ``valid=true`` for
        free. Valid rows carry an empty ``violations`` array (uniform
        schema; negligible storage); read back through
        :func:`satya_spark.io.read_split`, which handles the
        no-invalid-rows case where the quarantine partition was never
        created."""
        ann = self.annotate(df).drop("shard")
        ann.write.mode(mode).partitionBy("valid").format(fmt).save(path)
        return {
            "clean": f"{path}/valid=true",
            "quarantine": f"{path}/valid=false",
        }

    # --- stage 3: cross-row --------------------------------------------
    def run(
        self,
        df: DataFrame,
        catalogs: Optional[Dict[str, DataFrame]] = None,
    ) -> ValidationRun:
        annotated = self.annotate(df)
        dups = (
            crossrow.duplicate_keys(df, self.spec.unique_key)
            if self.spec.unique_key
            else None
        )
        key_cols = self._keys()
        refs: Dict[str, DataFrame] = {}
        for col, cat_name in self.spec.references:
            if catalogs and cat_name in catalogs:
                refs[col] = crossrow.referential_violations(
                    df, col, catalogs[cat_name], keys=key_cols
                )
        nulls: Dict[str, DataFrame] = {}
        for f in self.spec.fields:
            if f.max_null_rate is not None:
                nulls[f.name] = crossrow.null_rate_violations(
                    df, f.name, f.max_null_rate
                )
        return ValidationRun(
            annotated=annotated,
            violations=self.violations(annotated),
            shard_verdicts=self.shard_verdicts(annotated),
            duplicates=dups,
            referential=refs,
            null_rate=nulls,
        )

    # --- one write path -------------------------------------------------
    def write_outputs(
        self,
        df: DataFrame,
        output: str,
        run_id: Optional[str] = None,
        unit: str = "shard",
        quarantine: bool = False,
        sample_per_shard: int = 0,
    ) -> Dict[str, object]:
        """Write per-``unit`` verdicts to ``<output>/verdicts`` and
        violation rows to ``<output>/violations`` (capped per shard
        with ``sample_per_shard``), plus, with ``quarantine``, the
        :meth:`write_split` split to ``<output>/split``. With
        ``run_id`` every output goes to its ``run_id=<id>/``
        subdirectory. Returns the ``validate`` summary: rows,
        invalid_rows, shards (verdict rows) and output, plus split.

        With ``quarantine`` the kernels run once, in the split write:
        verdicts read the split root, violation rows its valid=false
        side (an explicit schema, so a zero-row split with no
        partition directory reads as empty instead of failing schema
        inference). Without it, the verdicts write and the violations
        write each evaluate them. The counts are observed on the
        verdicts write, not re-read."""
        if quarantine and unit == "file":
            raise ValueError("file verdicts need the input scan; a split has lost it")
        sub = f"/run_id={run_id}" if run_id else ""
        if quarantine:
            split = self.write_split(df, f"{output}/split{sub}")
            ann = df.sparkSession.read.schema(_split_schema(df)).parquet(
                f"{output}/split{sub}"
            )
            bad = ann.filter(~F.col("valid"))
        else:
            ann = bad = self.annotate(df)
        if unit == "file":
            verdicts = self.file_verdicts(ann)
        else:
            verdicts = self.shard_verdicts(ann)
        counts = write_observed(
            verdicts,
            f"{output}/verdicts{sub}",
            shards=F.count(F.lit(1)),
            rows=F.sum("n_rows"),
            invalid=F.sum("n_invalid_rows"),
        )
        if sample_per_shard:
            viol = self.violations_sampled(bad, per_shard_cap=sample_per_shard)
        else:
            viol = self.violations(bad)
        viol.write.mode("overwrite").parquet(f"{output}/violations{sub}")
        summary: Dict[str, object] = {
            "rows": int(counts["rows"] or 0),
            "invalid_rows": int(counts["invalid"] or 0),
            "shards": counts["shards"],
            "output": output,
        }
        if quarantine:
            summary["split"] = split
        return summary

    # --- resumable runs ---------------------------------------------------
    def unit_fingerprints(
        self, fingerprint: str = "", files: Optional[Dict[str, str]] = None
    ) -> Dict[str, str]:
        """Unit -> scoped fingerprint, the identity a manifest row must
        carry for its unit to count as done. Shard units share the
        input's ``fingerprint`` plus the shard count and key that
        define them; file units (``files``: path -> stat entry, see
        :func:`satya_spark.manifest.list_files`) carry their own.

        Every fingerprint ends with the compiled spec's hash and, with
        a context, its digest: a non-SQL row rule's behavior can
        depend solely on context, which spec_hash (built from the SQL
        twins) cannot see. Pointing a manifest at different data, a
        changed spec or another context re-validates instead of
        silently skipping."""
        scope = f"spec:{self.compiled.spec_hash()}"
        if self.context:
            ctx = json.dumps(self.context, sort_keys=True, default=repr)
            scope += "|ctx:" + hashlib.md5(ctx.encode()).hexdigest()[:12]
        if files is not None:
            return {f: f"{fp}|{scope}" for f, fp in files.items()}
        shards = f"{fingerprint}|shards:{self.n_shards}:{self.shard_key}|{scope}"
        return {str(s): shards for s in range(self.n_shards)}

    def run_resumable(
        self,
        df,
        manifest_path: str,
        output: str,
        fingerprint: str = "",
        files: Optional[Dict[str, str]] = None,
        run_id: Optional[str] = None,
        quarantine: bool = False,
        sample_per_shard: int = 0,
        profile: bool = False,
    ) -> Dict[str, object]:
        """Validate only the units the manifest does not record as done:
        write their outputs with :meth:`write_outputs` under
        ``run_id=<id>/``, then commit them to the manifest. Returns the
        write_outputs summary plus run_id, units_total, units_skipped
        and recorded (units, rows and invalid rows the manifest holds
        for this scope, this run included). Raises
        :class:`MixedOutputError` when ``output``'s verdicts, violations
        or split directory holds anything but ``run_id=<id>`` entries.

        Shard units (default): ``df`` is the input frame and
        ``fingerprint`` identifies it. File units: ``files`` maps each
        data file of the input to its stat entry and ``df`` is a
        function from a list of those files to the frame of their
        rows, so only pending files are read.

        The manifest append is the commit (see :mod:`manifest`): a
        killed run leaves outputs no manifest row records, and the
        next run deletes them and recomputes exactly the unrecorded
        units. Every pending unit is recorded, also one without rows,
        so an empty file is not re-read by every later run. A fully
        recorded input reads and writes nothing (``split`` is then
        None). ``profile`` stores :meth:`profile_kernels` of the run
        on its first manifest row (the stats are whole-run, not
        per-unit)."""
        for name in ("verdicts", "violations", "split"):
            root = f"{output}/{name}"
            if os.path.isdir(root):
                stray = sorted(
                    e for e in os.listdir(root) if not e.startswith("run_id=")
                )
                if stray:
                    raise MixedOutputError(
                        f"{root} holds {stray[0]!r}, which is not a"
                        " run_id=<id> partition (a run without a manifest"
                        " wrote there); readers would skip those rows, so"
                        " give a manifest run its own --output"
                    )
        spark = SparkSession.active()
        manifest = Manifest(spark, manifest_path)
        run_id = run_id or new_run_id()
        unit = "shard" if files is None else "file"
        fps = self.unit_fingerprints(fingerprint, files)
        done = manifest.recorded(fps)
        todo = sorted(set(fps) - set(done))
        summary: Dict[str, object] = {
            "rows": 0, "invalid_rows": 0, "shards": 0, "output": output
        }
        if quarantine:
            summary["split"] = None
        rows = []
        if todo:
            committed = manifest.run_ids()
            for name in ("verdicts", "violations", "split"):
                for d in glob.glob(f"{glob.escape(output)}/{name}/run_id=*"):
                    if d.rsplit("run_id=", 1)[1] not in committed:
                        shutil.rmtree(d)
            if unit == "shard":
                shard = shard_col(self.n_shards, self.shard_key)
                part = df.filter(shard.isin([int(u) for u in todo]))
            else:
                part = df(todo)
            t0 = time.monotonic()
            summary = self.write_outputs(
                part, output, run_id, unit, quarantine, sample_per_shard
            )
            wall_ms = int((time.monotonic() - t0) * 1000)
            # at most one verdict row per pending unit; a file verdict
            # names an input_file_name() URI, list_files keys real paths
            verdicts = spark.read.parquet(f"{output}/verdicts/run_id={run_id}")
            written = {
                str(r["shard"])
                if unit == "shard"
                else os.path.realpath(unquote(urlparse(r["file"]).path)): r
                for r in verdicts.collect()
            }
            stray = set(written) - set(todo)
            if stray:
                # rows the manifest would not count: fail before the commit
                raise RuntimeError(f"verdicts of units not pending: {stray}")
            prof = json.dumps(self.profile_kernels(part)) if profile else None
            counts = ("n_rows", "n_valid", "n_invalid_rows", "n_rule_violations")
            now_ms = int(time.time() * 1000)
            for u in todo:
                r = written.get(u)
                rows.append(
                    {
                        "run_id": run_id,
                        "unit": u,
                        "fingerprint": fps[u],
                        **{c: int(r[c]) if r else 0 for c in counts},
                        "wall_ms": wall_ms,
                        "completed_at_ms": now_ms,
                        "profile": None if rows else prof,
                    }
                )
            manifest.append(rows)
        recorded = list(done.values()) + rows
        summary.update(
            run_id=run_id,
            units_total=len(fps),
            units_skipped=len(done),
            recorded={
                "units": len(recorded),
                "rows": sum(r["n_rows"] for r in recorded),
                "invalid_rows": sum(r["n_invalid_rows"] for r in recorded),
            },
        )
        return summary

    def violations_sampled(
        self, ann: DataFrame, per_shard_cap: int = 10_000
    ) -> DataFrame:
        """Violation rows of :meth:`annotate` output (or of a written
        split) with a per-shard cap — bounds write amplification when
        a data incident makes violations the MAJORITY of a 10^12-row
        table (full violation output would be a second copy of the
        input). Deterministic sample: first N per shard by key order.
        The cap is visible, not silent: rows carry
        shard_violation_count so consumers see how much was
        truncated."""
        from pyspark.sql import Window

        keys = self._keys()
        v = self.violations(ann).withColumn(
            "shard", shard_col(self.n_shards, keys[0])
        )
        w = Window.partitionBy("shard").orderBy(*keys, "field", "constraint_name")
        counts = Window.partitionBy("shard")
        return (
            v.withColumn("__rn", F.row_number().over(w))
            .withColumn(
                "shard_violation_count", F.count(F.lit(1)).over(counts)
            )
            .filter(F.col("__rn") <= per_shard_cap)
            .drop("__rn")
        )

    # --- profiling (per-field counters, src/satya/profiling.py:15-40) ----
    def profile_kernels(self, df: DataFrame) -> list:
        """Per-FIELD validation timing + error counts — the FieldStats
        analog (src/satya/profiling.py:15-40). Each field's combined
        kernel conjunction is timed as its own aggregation pass over
        the input (opt-in: costs one scan per field; counts come from
        the same pass). Expression-level timing inside one fused
        projection isn't observable from outside the JVM — isolated
        passes are the honest columnar equivalent of satya's per-field
        stopwatch, and relative cost between fields is what the
        numbers are for."""
        out = []
        by_field: Dict[str, list] = {}
        for r in self.compiled.rules:
            by_field.setdefault(r.field, []).append(r)
        for fname, rules in by_field.items():
            fails = None
            for r in rules:
                c = F.coalesce(r.fail, F.lit(False)).cast("long")
                fails = c if fails is None else fails + c
            t0 = time.monotonic()
            row = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(fails).alias("errors"),
                F.sum((fails > 0).cast("long")).alias("rows_with_errors"),
            ).collect()[0]
            wall_us = (time.monotonic() - t0) * 1e6
            n = int(row["n"] or 0)
            out.append(
                {
                    "field_name": fname,
                    "validation_count": n,
                    "errors": int(row["errors"] or 0),
                    "rows_with_errors": int(row["rows_with_errors"] or 0),
                    "n_kernels": len(rules),
                    "total_time_us": round(wall_us, 2),
                    "avg_time_us": round(wall_us / n, 4) if n else 0.0,
                }
            )
        return out

    def field_violation_counts(self, df: DataFrame) -> DataFrame:
        """(field, constraint_name, n) — the per-field error-counter
        profile, one scan."""
        return (
            self.violations(self.annotate(df))
            .groupBy("field", "constraint_name")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    # --- stage 4: drift ----------------------------------------------------
    def drift_check(
        self,
        ref_df: DataFrame,
        cur_df: DataFrame,
        metric: str = "text_len",
        width: float = 200.0,
        n_buckets: int = 20,
    ) -> Dict[str, DataFrame]:
        """PSI + binned KS between two transcript populations on a
        per-conversation metric ('text_len' avg chars or 'n_turns').
        The tiny paired histogram both read is materialized with
        ``localCheckpoint``: a ``persist`` would stay pinned in the
        session's cache, since no caller can tell when to release it."""
        def conv_metric(d: DataFrame) -> DataFrame:
            s = crossrow.conv_stats(d)
            col = "avg_text_len" if metric == "text_len" else "n_turns"
            return s.select(F.col(col).alias("m"))

        rh = drift.histogram(conv_metric(ref_df), "m", width, n_buckets)
        ch = drift.histogram(conv_metric(cur_df), "m", width, n_buckets)
        pair = drift.pair_from_hists(rh, ch, n_buckets).localCheckpoint()
        return {"psi": drift.psi_pair(pair), "ks": drift.ks_pair(pair)}

    def drift_check_split(
        self,
        df: DataFrame,
        half_col,
        metric: str = "text_len",
        width: float = 10.0,
        n_buckets: int = 16,
    ) -> Dict[str, DataFrame]:
        """Drift between two populations living in ONE table
        (``half_col`` = 0/1 evaluated on the per-conversation stats
        frame): per-conv stats once, both histograms in one
        aggregation pass, PSI + KS from the tiny checkpointed pair."""
        stats = crossrow.conv_stats(df)
        col = "avg_text_len" if metric == "text_len" else "n_turns"
        pair = drift.pair_from_split(stats, col, half_col, width, n_buckets)
        pair = pair.localCheckpoint()
        return {"psi": drift.psi_pair(pair), "ks": drift.ks_pair(pair)}
