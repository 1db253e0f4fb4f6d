"""ValidationEngine — the top-level orchestrator.

The Spark analog of satya's ``StreamValidator``
(``src/satya/validator.py:10-21``): compile once, evaluate over
arbitrarily many batches. Here a "batch" is a DataFrame (or a whole
Iceberg/parquet table) and evaluation is:

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

import time
from dataclasses import dataclass
from typing import Dict, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import crossrow, drift
from .compiler import CompiledSpec, compile_spec, explode_violations
from .manifest import Manifest, new_run_id, pending_shards, shard_col
from .spec import TableSpec


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
        self.compiled: CompiledSpec = compile_spec(spec, self.context)
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

    # --- stage 2: per-shard verdicts ------------------------------------
    def shard_verdicts(self, ann: DataFrame) -> DataFrame:
        """Per-shard pass/fail + counts of :meth:`annotate` output or
        of a written split (the shard is recomputed from
        ``shard_key``, so a split's missing ``shard`` column is no
        obstacle). Verdict = no invalid rows in the shard. Counts-only
        aggregation → fully map-side combinable, one tiny shuffle.

        Plan-shape note: the violation count is evaluated in its OWN
        projection and the aggregate consumes only attribute
        references. Inlining the (large) rule expression into
        aggregate update expressions knocks the stage out of
        whole-stage codegen (~40× slower, measured at 3.4M rows); this
        structure keeps the scan→project→partial-agg pipeline fused.
        """
        pre = ann.select(
            shard_col(self.n_shards, self.shard_key).alias("shard"),
            F.size("violations").alias("nv"),
        )
        return (
            pre.groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum((F.col("nv") == 0).cast("long")).alias("n_valid"),
                F.sum((F.col("nv") > 0).cast("long")).alias("n_invalid_rows"),
                F.sum(F.col("nv").cast("long")).alias("n_rule_violations"),
            )
            .withColumn("passed", F.col("n_invalid_rows") == 0)
        )

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

    # --- resumable driver -------------------------------------------------
    def run_resumable(
        self,
        df: DataFrame,
        manifest_path: str,
        catalogs: Optional[Dict[str, DataFrame]] = None,
        run_id: Optional[str] = None,
        fingerprint: str = "",
        profile: bool = False,
    ) -> DataFrame:
        """Validate only shards absent from the manifest; append their
        verdicts + metrics. Returns this run's shard verdicts.

        A killed job restarts and reprocesses only unrecorded shards
        (manifest writes are atomic per file). Idempotent: re-running
        a fully recorded input validates nothing. Resume is scoped to
        the EFFECTIVE fingerprint = caller's input fingerprint + a
        hash of the compiled spec, so pointing the same manifest path
        at different data or a changed spec re-validates instead of
        silently skipping (round-1 advice).
        """
        spark = df.sparkSession
        manifest = Manifest(spark, manifest_path)
        run_id = run_id or new_run_id()
        # context participates too: a non-SQL row rule's behavior can
        # depend solely on context, which spec_hash (built from the
        # SQL twins) cannot see
        ctx_part = ""
        if self.context:
            import hashlib
            import json as _json

            ctx_part = "|ctx:" + hashlib.md5(
                _json.dumps(self.context, sort_keys=True, default=repr).encode()
            ).hexdigest()[:12]
        fingerprint = f"{fingerprint}|spec:{self.compiled.spec_hash()}{ctx_part}"

        with_shard = df.withColumn("shard", shard_col(self.n_shards, self.shard_key))
        todo = pending_shards(with_shard, manifest, fingerprint).drop("shard")
        annotated = self.annotate(todo)
        t0 = time.monotonic()
        verdicts = self.shard_verdicts(annotated).collect()
        wall_ms = int((time.monotonic() - t0) * 1000)
        now_ms = int(time.time() * 1000)
        # run-scope profile: computed once over ALL pending shards and
        # stored on ONE manifest row (the stats are whole-run, not
        # per-shard — duplicating the blob n_shards times would both
        # bloat the manifest and misread as per-shard numbers)
        profile_json = None
        if profile and verdicts:
            import json as _json

            profile_json = _json.dumps(self.profile_kernels(todo))
        manifest.append(
            [
                {
                    "run_id": run_id,
                    "shard": int(r["shard"]),
                    "n_rows": int(r["n_rows"]),
                    "n_valid": int(r["n_valid"]),
                    "n_invalid_rows": int(r["n_invalid_rows"]),
                    "n_rule_violations": int(r["n_rule_violations"]),
                    "wall_ms": wall_ms,
                    "input_fingerprint": fingerprint,
                    "completed_at_ms": now_ms,
                    "profile": profile_json if i == 0 else None,
                }
                for i, r in enumerate(verdicts)
            ]
        )
        return manifest.read().filter(F.col("run_id") == run_id)

    def run_incremental(
        self,
        spark: SparkSession,
        input_path: str,
        file_manifest_path: str,
        run_id: Optional[str] = None,
    ) -> Dict[str, object]:
        """Append-only incremental validation: the unit of skip is a
        physical data FILE. List the input's parquet files,
        fingerprint each (name+size+mtime_ns+inode), read ONLY the
        files absent from the file manifest, validate them, and
        append their per-file verdicts. The spec hash scopes the skip
        set like run_resumable's fingerprint: a changed spec
        re-validates everything.

        This is the daily-drop operating mode at 10^12 turns: new
        partitions are validated as they land and the historical
        corpus is never re-read. On Iceberg the listing+diff is an
        incremental snapshot scan (``(file_path, snapshot_id)``
        lineage); the local directory listing stands in here.

        Returns a summary dict: run_id, files_total, files_skipped,
        files_validated, n_rows, n_invalid_rows, passed.
        """
        import os as _os

        from .manifest import FileManifest, file_fingerprint

        manifest = FileManifest(spark, file_manifest_path)
        run_id = run_id or new_run_id()
        spec_h = self.compiled.spec_hash()
        paths = sorted(
            _os.path.join(input_path, f)
            for f in _os.listdir(input_path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        fps = {p: f"{file_fingerprint(p)}|spec:{spec_h}" for p in paths}
        done = manifest.validated_fingerprints()
        todo = [p for p in paths if fps[p] not in done]
        summary: Dict[str, object] = {
            "run_id": run_id,
            "files_total": len(paths),
            "files_skipped": len(paths) - len(todo),
            "files_validated": len(todo),
            "n_rows": 0,
            "n_invalid_rows": 0,
            "passed": True,
        }
        if not todo:
            return summary
        df = spark.read.parquet(*todo)
        verdicts = self.file_verdicts(df).collect()
        # input_file_name() yields a URI (file:///...); key by realpath
        by_real = {_os.path.realpath(p): p for p in todo}

        def _local(uri: str) -> str:
            from urllib.parse import unquote, urlparse

            return _os.path.realpath(unquote(urlparse(uri).path))

        now_ms = int(time.time() * 1000)
        rows = []
        for r in verdicts:
            p = by_real[_local(r["file"])]
            rows.append(
                {
                    "run_id": run_id,
                    "file": p,
                    "file_fingerprint": fps[p],
                    "n_rows": int(r["n_rows"]),
                    "n_valid": int(r["n_valid"]),
                    "n_invalid_rows": int(r["n_invalid_rows"]),
                    "passed": bool(r["passed"]),
                    "completed_at_ms": now_ms,
                }
            )
        # zero-row files produce no verdict row; record them anyway or
        # they'd be re-listed (and re-read) on every subsequent run
        seen = {r["file"] for r in rows}
        for p in todo:
            if p not in seen:
                rows.append(
                    {
                        "run_id": run_id,
                        "file": p,
                        "file_fingerprint": fps[p],
                        "n_rows": 0,
                        "n_valid": 0,
                        "n_invalid_rows": 0,
                        "passed": True,
                        "completed_at_ms": now_ms,
                    }
                )
        manifest.append(rows)
        summary["n_rows"] = sum(r["n_rows"] for r in rows)
        summary["n_invalid_rows"] = sum(r["n_invalid_rows"] for r in rows)
        summary["passed"] = all(r["passed"] for r in rows)
        return summary

    def file_verdicts(self, df: DataFrame) -> DataFrame:
        """Per-input-file verdicts — physical lineage to complement
        the logical shard lineage (north rule: 'per-partition
        lineage'); on Iceberg the _file metadata column plays this
        role. Same fused plan shape as shard_verdicts."""
        pre = self.annotate(df).select(
            F.input_file_name().alias("file"), F.size("violations").alias("nv")
        )
        return (
            pre.groupBy("file")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum((F.col("nv") == 0).cast("long")).alias("n_valid"),
                F.sum((F.col("nv") > 0).cast("long")).alias("n_invalid_rows"),
            )
            .withColumn("passed", F.col("n_invalid_rows") == 0)
        )

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
        per-conversation metric ('text_len' avg chars or 'n_turns')."""
        def conv_metric(d: DataFrame) -> DataFrame:
            s = crossrow.conv_stats(d)
            col = "avg_text_len" if metric == "text_len" else "n_turns"
            return s.select(F.col(col).alias("m"))

        rh = drift.histogram(conv_metric(ref_df), "m", width, n_buckets)
        ch = drift.histogram(conv_metric(cur_df), "m", width, n_buckets)
        pair = drift.pair_from_hists(rh, ch, n_buckets).persist()
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
        aggregation pass, PSI + KS from the tiny cached pair."""
        stats = crossrow.conv_stats(df)
        col = "avg_text_len" if metric == "text_len" else "n_turns"
        pair = drift.pair_from_split(stats, col, half_col, width, n_buckets)
        pair = pair.persist()
        return {"psi": drift.psi_pair(pair), "ks": drift.ks_pair(pair)}
