"""CLI: the spark-submit-able product surface.

    python -m satya_spark validate \
        --input /data/transcripts.parquet [--format parquet|ndjson] \
        --schema schema.json            # JSON Schema (compiled to a spec)
        [--spec transcripts]            # or the built-in flagship spec
        --output /out                   # writes verdicts/ violations/
        [--quarantine]                  # + split/valid={true,false}/
        [--manifest /out/manifest]      # resume by shard
        [--file-manifest /out/files]    # or resume by input data file
        [--shards 64] [--sample-per-shard N]

On a cluster:  spark-submit --py-files satya_spark.zip -m ... is the
same entry point; locally it builds a session itself.

Both manifest flags validate only the units (shards, or parquet data
files) the manifest does not record as done, write their outputs under
``<output>/{verdicts,violations,split}/run_id=<id>/`` and then record
them; the summary adds run_id, units_total, units_skipped and the
manifest's recorded totals (see satya_spark.manifest: one writer per
manifest).

Exit code: 0 if every row validated by this run passed, 3 if
violations were found (pipeline-friendly), 2 on schema-policy errors,
for --file-manifest with --quarantine, --format ndjson or an input
with no data file, and for a manifest run into an --output that a run
without a manifest wrote.

    python -m satya_spark triage --input /data/t.parquet \
        [--sample-n 3] [--top-n 10] \
        [--drift-group role --drift-metric text]

prints one JSON report: per-constraint violation samples (two-phase
salted top-n), worst groups by violation count, optional per-group
PSI — every output driver-small by construction.
"""

from __future__ import annotations

import argparse
import json
import sys


def _build_spec(args):
    from .spec import transcript_spec
    from .spec_json import from_json_schema

    if args.schema:
        with open(args.schema) as f:
            return from_json_schema(json.load(f))
    if args.spec == "transcripts":
        return transcript_spec()
    raise SystemExit(f"unknown --spec {args.spec!r} and no --schema given")


def _input_fingerprint(path: str) -> str:
    """Cheap content identity for resume scoping. Local paths digest
    the sorted stat entries of their data files ONLY
    (``manifest.list_files``) — equivalent spellings (./data vs
    /abs/data) resume each other. Non-local URIs (s3a://, hdfs://,
    globs) have no cheap local stat, so the URI string itself is the
    identity — different remote datasets never share a fingerprint
    (same URI with mutated content is indistinguishable here; on
    Iceberg the snapshot id plays this role)."""
    import hashlib

    from .manifest import list_files

    entries = sorted(list_files(path).values()) or [f"uri:{path.rstrip('/')}"]
    return hashlib.md5("\n".join(entries).encode()).hexdigest()[:16]


def cmd_validate(args) -> int:
    import os

    from .coerce import coerce, spark_type
    from .engine import MixedOutputError, ValidationEngine
    from .io import read_ref
    from .manifest import list_files
    from .session import get_spark
    from .sources.json_source import read_ndjson

    spark = get_spark(app_name="satya-spark-cli")
    spec = _build_spec(args)
    spec.validate()
    eng = ValidationEngine(spec, n_shards=args.shards)

    if args.file_manifest:
        files = list_files(args.input)
        if args.quarantine or args.format != "parquet" or not files:
            # file verdicts need input_file_name() of the input scan,
            # which a split read back from disk has lost
            print(
                "validate --file-manifest needs a local parquet input with"
                " data files, and no --quarantine",
                file=sys.stderr,
            )
            return 2

    if args.format == "parquet":
        # read_ref: parquet path in the sandbox, Iceberg/catalog table
        # ref on a deployment with the runtime jar (io.iceberg_configs)
        df = read_ref(spark, args.input)
    else:
        from pyspark.sql import types as T

        fields = [
            T.StructField(f.name, T._parse_datatype_string(spark_type(f.dtype)))
            for f in spec.fields
            if "." not in f.name  # struct paths live inside parents
        ]
        df = read_ndjson(spark, args.input, T.StructType(fields)).drop("json_ok")

    schema_errors = eng.schema_violations(df)
    if schema_errors:
        print(json.dumps({"schema_violations": schema_errors}))
        if any(e["constraint"] == "extra_field" for e in schema_errors):
            return 2

    def prepare(d):
        d = eng.conform(d)
        return coerce(d, spec) if args.coerce else d

    write = dict(quarantine=args.quarantine, sample_per_shard=args.sample_per_shard)
    try:
        if args.file_manifest:
            # basePath keeps the partition columns of a hive-partitioned
            # input when only some of its files are read
            base = args.input if os.path.isdir(args.input) else os.path.dirname(args.input)
            reader = spark.read.option("basePath", base)
            summary = eng.run_resumable(
                lambda paths: prepare(reader.parquet(*paths)),
                args.file_manifest,
                args.output,
                files=files,
                **write,
            )
        elif args.manifest:
            summary = eng.run_resumable(
                prepare(df),
                args.manifest,
                args.output,
                fingerprint=_input_fingerprint(args.input),
                **write,
            )
        else:
            summary = eng.write_outputs(prepare(df), args.output, **write)
    except MixedOutputError as e:
        print(e, file=sys.stderr)
        return 2
    print(json.dumps(summary))
    return 0 if summary["invalid_rows"] == 0 else 3


def cmd_triage(args) -> int:
    """Bounded triage report over a validated table: per-constraint
    violation samples, worst conversations, per-group drift — the
    queries an operator runs when `validate` exits 3. Every output is
    driver-small by construction (samples are two-phase-salted
    top-n; drift is one grouped histogram).

    The kernels run once: the violation rows (as many as the
    corruption rate makes them, the rows `validate` writes to
    violations/) are materialized with ``localCheckpoint`` and both
    the samples and the worst groups read them. Driver-small results
    are sorted on the driver, not by a Spark sort."""
    from pyspark.sql import functions as F

    from .crossrow import top_violating_groups, violations_sample
    from .drift import psi_by_group
    from .io import read_ref
    from .session import get_spark

    spark = get_spark(app_name="satya-spark-triage")
    spec = _build_spec(args)
    spec.validate()
    from .engine import ValidationEngine

    eng = ValidationEngine(spec)
    df = read_ref(spark, args.input)
    keys = list(spec.unique_key or (spec.fields[0].name,))
    viol = eng.violations(eng.annotate(df)).localCheckpoint()

    sample = violations_sample(viol, keys, n=args.sample_n).collect()
    worst = top_violating_groups(viol, keys[0], n=args.top_n).collect()
    report: dict = {
        "violation_sample": [r.asDict() for r in sample],
        "worst_groups": [r.asDict() for r in worst],
    }
    conv_cols = {"conv_id", "turn_idx", "role", "tool"}
    if conv_cols.issubset(set(df.columns)):
        # transcripts-shaped input: sequence-level structure summary
        # (one conv_id window; counts only, driver-small)
        from .convcheck import conversation_structure_violations

        struct = (
            conversation_structure_violations(df)
            .groupBy("constraint_name")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        # at most one row per structure check
        report["structure_violations"] = dict(
            sorted((r["constraint_name"], r["n"]) for r in struct)
        )
    if args.drift_group and args.drift_metric:
        m = df.select(
            F.coalesce(F.col(args.drift_group).cast("string"), F.lit("<null>")).alias("g"),
            F.coalesce(
                F.length(args.drift_metric)
                if dict(df.dtypes).get(args.drift_metric) == "string"
                else F.col(args.drift_metric).cast("double"),
                F.lit(0),
            ).alias("m"),
        )
        psi = psi_by_group(m, "m", "g", args.drift_width, args.drift_buckets)
        report["group_psi"] = [r.asDict() for r in psi.collect()]
    print(json.dumps(report, default=str))
    return 0


def cmd_clean(args) -> int:
    """Training-data corpus hygiene, one job: PII redaction +
    quality/repetition filtering + optional exact dedup over a
    documents-shaped table. Kept rows (text REDACTED) go to
    <output>/kept, dropped rows with per-rule reasons to
    <output>/dropped, and one JSON summary line prints. Everything is
    JVM-side: regex kernels for PII, one shared n-gram aggregation
    for repetition and Gopher, a fingerprint window for dedup — no
    Python in the data plane.

    The per-document frame is one input scan plus that aggregation,
    left-joined back once: the text is tokenized once (NULL text as
    empty), and the C4 page verdict, the Gopher quality signals and
    every drop reason are row-local columns of it. With --near-dedup
    the duplicate clusters are labelled first (``dup_clusters`` labels
    small pair graphs on the driver) and left-joined on too; the
    near-duplicate survivor is a window over each cluster inside the
    frame. The frame is checkpointed once and both writes filter the
    checkpoint."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .functions import gopher as gp
    from .functions import text as tx
    from .functions.pii import with_pii
    from .io import read_ref, write_observed
    from .session import get_spark

    spark = get_spark(app_name="satya-spark-clean")
    idc, txt = args.id_col, args.text_col
    df = read_ref(spark, args.input)
    out_cols = [c for c in df.columns if c != idc]
    if args.c4_lines:
        # C4 line/page cleaning runs FIRST so every downstream signal
        # (repetition, PII, gopher) sees the cleaned text; pages the
        # C4 page rules drop keep their ORIGINAL text and surface in
        # <output>/dropped with a 'c4_page' reason (auditable drop,
        # same policy as --dedup)
        from .functions.lines import with_clean_lines

        df = with_clean_lines(df, text_col=txt)
        cleaned = F.array_join("c4_lines", "\n")
        df = df.withColumn(
            txt, F.when(F.col("c4_page_keep"), cleaned).otherwise(F.col(txt))
        )
    toks = tx.fresh_col(df, "__toks")
    d = df.withColumn(toks, tx.tokens_ws(F.coalesce(F.col(txt), F.lit(""))))
    # one n-gram aggregation: bigrams for repetition, plus the Gopher
    # sizes 3..10 with --gopher
    ns = gp.NGRAM_NS if args.gopher else (2,)
    # sort-merge, as the planner picks at scale: a broadcast of small
    # stats would keep the scan's partitioning and write one (often
    # empty) file per input split
    stats = tx.ngram_stats(d, toks, idc, ns).hint("merge")
    d = d.join(stats, idc, "left")
    d = with_pii(d, text_col=txt)
    rep = tx.repetition_cols(F.col(toks))

    empty = F.array().cast("array<string>")

    def _flag(cond, name):
        return F.when(cond, F.array(F.lit(name))).otherwise(empty)

    reasons = [
        _flag(rep["n_tokens"] < args.min_tokens, "too_short"),
        _flag(rep["n_tokens"] > args.max_tokens, "too_long"),
        _flag(F.coalesce(rep["ttr"], F.lit(1.0)) < args.min_ttr, "low_ttr"),
        _flag(
            F.coalesce(rep["top_bigram_frac"], F.lit(0.0)) > args.max_top_bigram,
            "repetitive",
        ),
    ]
    if args.c4_lines:
        reasons.append(_flag(~F.col("c4_page_keep"), "c4_page"))
    if args.gopher:
        # Gopher Table-A1 batteries (functions/gopher.py): doc-local
        # quality composite + within-doc n-gram repetition composite
        d = gp.with_gopher_quality(d, toks, text_col=txt)
        reasons.append(_flag(~F.col("gopher_keep"), "gopher_quality"))
        rep_keep = gp.ngram_repetition_cols(F.col(toks))["rep_keep"]
        reasons.append(_flag(~rep_keep, "gopher_repetition"))
    if args.drop_pii:
        reasons.append(_flag(F.col("pii_types") > 0, "pii"))
    if args.decontam_against:
        # benchmark decontamination: drop rows sharing >= min-hits
        # word-n-grams with the eval suite (functions/decontam.py);
        # the drop-list join key is the id column, the eval side is
        # broadcast inside contaminated_ids
        from .functions.decontam import contaminated_ids

        bench = spark.read.parquet(args.decontam_against)
        ids = contaminated_ids(
            df,
            bench,
            n=args.decontam_ngram,
            min_hits=args.decontam_min_hits,
            id_col=idc,
            text_col=txt,
            bench_text_col=args.decontam_text_col,
        ).withColumn("__contam", F.lit(True))
        d = d.join(ids, idc, "left")
        reasons.append(_flag(F.col("__contam"), "contaminated"))
    d = d.withColumn("drop_reasons", F.concat(*reasons))
    if args.dedup:
        # keep-first per normalized-text fingerprint; duplicates get a
        # reason instead of silently vanishing (auditable drop)
        w = Window.partitionBy(tx.fingerprint(F.col(txt))).orderBy(idc)
        d = d.withColumn(
            "drop_reasons",
            F.when(
                F.row_number().over(w) > 1,
                F.concat(F.col("drop_reasons"), F.array(F.lit("duplicate"))),
            ).otherwise(F.col("drop_reasons")),
        )
    if args.near_dedup:
        # MinHash-LSH pairs -> connected components, labelled before
        # the per-document checkpoint so the canon choice below is a
        # window inside that one frame, not a join back onto it. Pairs
        # scan the post-C4 (id, text) projection, NOT the annotated
        # frame: the hygiene signals are 1:1 per doc so the pair set is
        # identical, and the repetition/PII/gopher stages don't run
        # under dup_clusters' edge checkpoint. Banding stays the
        # library's recall-first default so --near-dedup-threshold
        # means what it says (the tight bands=2 config trades recall
        # for cost; see BENCH.md).
        from .functions.dedup import dup_clusters, minhash_dedup_pairs

        pairs = minhash_dedup_pairs(
            df.select(idc, txt),
            threshold=args.near_dedup_threshold,
            id_col=idc,
            text_col=txt,
        )
        cid = tx.fresh_col(d, "__cluster")
        # the verified pairs come from distinct LSH candidates, so
        # dup_clusters skips its own distinct (a repeated pair would
        # not change the components either)
        clusters = dup_clusters(pairs, assume_distinct=True).select(
            F.col("doc_id").alias(idc), F.col("cluster_id").alias(cid)
        )
        # the kept copy must be one the OTHER rules keep: blindly
        # taking the min id can hand the cluster to a row already
        # dropped (e.g. too_long), deleting every copy of the content.
        # The canon is the min id among a cluster's kept rows. The
        # window key is skew-free: a document in no pair partitions
        # alone, and its id is no cluster's id (a cluster id is a
        # member of a pair).
        ok = F.size("drop_reasons") == 0
        w = Window.partitionBy(F.coalesce(F.col(cid), F.col(idc)))
        canon = F.min(F.when(ok, F.col(idc))).over(w)
        d = d.join(clusters, idc, "left").withColumn(
            "drop_reasons",
            F.when(
                ok & (F.col(idc) != canon),
                F.concat(F.col("drop_reasons"), F.array(F.lit("near_duplicate"))),
            ).otherwise(F.col("drop_reasons")),
        )
    # the per-document frame, materialized ONCE: the output columns
    # plus text_redacted and drop_reasons (id column first). Both
    # writes are plain filters of this checkpoint, so the hygiene
    # subtree (PII regexes, n-gram aggregation, the dedup windows)
    # executes once per pass, not once per write.
    d = d.select(idc, *out_cols, "text_redacted", "drop_reasons").localCheckpoint()
    keep = F.size("drop_reasons") == 0
    kept = (
        d.filter(keep)
        .withColumn(txt, F.col("text_redacted"))  # redacted text ships
        .drop("drop_reasons", "text_redacted")
    )
    dropped = d.filter(~keep).drop("text_redacted")
    n = F.count(F.lit(1))
    n_kept = write_observed(kept, f"{args.output}/kept", n=n)["n"]
    n_dropped = write_observed(dropped, f"{args.output}/dropped", n=n)["n"]
    print(
        json.dumps(
            {
                "rows_in": n_kept + n_dropped,
                "rows_kept": n_kept,
                "rows_dropped": n_dropped,
                "kept_path": f"{args.output}/kept",
                "dropped_path": f"{args.output}/dropped",
            }
        )
    )
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="satya_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    v = sub.add_parser("validate", help="validate a table against a spec")
    v.add_argument("--input", required=True)
    v.add_argument("--format", choices=["parquet", "ndjson"], default="parquet")
    v.add_argument("--schema", help="JSON Schema file (compiled to a spec)")
    v.add_argument("--spec", default="transcripts", help="built-in spec name")
    v.add_argument("--output", required=True)
    v.add_argument(
        "--manifest",
        help="manifest dir: resume by shard, writing outputs under "
        "<output>/*/run_id=<id>/",
    )
    v.add_argument(
        "--file-manifest",
        help="file-manifest dir: append-only incremental mode — "
        "validate only new/changed parquet files, writing their outputs "
        "under <output>/*/run_id=<id>/",
    )
    v.add_argument("--shards", type=int, default=64)
    v.add_argument("--sample-per-shard", type=int, default=0)
    v.add_argument("--coerce", action="store_true", help="coercion mode")
    v.add_argument(
        "--quarantine",
        action="store_true",
        help="also write a one-pass verdict-partitioned split: clean rows "
        "to <output>/split/valid=true, invalid rows (violations attached) "
        "to <output>/split/valid=false",
    )
    t = sub.add_parser(
        "triage", help="bounded violation/drift report for a table"
    )
    t.add_argument("--input", required=True)
    t.add_argument("--schema", help="JSON Schema file (compiled to a spec)")
    t.add_argument("--spec", default="transcripts", help="built-in spec name")
    t.add_argument("--sample-n", type=int, default=3)
    t.add_argument("--top-n", type=int, default=10)
    t.add_argument("--drift-group", help="column to group drift by (e.g. role)")
    t.add_argument(
        "--drift-metric",
        help="metric column (string cols use their length)",
    )
    t.add_argument("--drift-width", type=float, default=200.0)
    t.add_argument("--drift-buckets", type=int, default=20)
    c = sub.add_parser(
        "clean",
        help="corpus hygiene: PII redaction + quality/repetition"
        " filter + optional exact dedup",
    )
    c.add_argument("--input", required=True)
    c.add_argument("--output", required=True)
    c.add_argument("--id-col", default="doc_id")
    c.add_argument("--text-col", default="text")
    c.add_argument("--min-tokens", type=int, default=5)
    c.add_argument("--max-tokens", type=int, default=1_000_000)
    c.add_argument("--min-ttr", type=float, default=0.1)
    c.add_argument("--max-top-bigram", type=float, default=0.5)
    c.add_argument(
        "--drop-pii",
        action="store_true",
        help="drop PII-bearing rows entirely instead of redacting",
    )
    c.add_argument(
        "--dedup",
        action="store_true",
        help="exact dedup on the normalized-text fingerprint (keep-first)",
    )
    c.add_argument(
        "--near-dedup",
        action="store_true",
        help="near dedup: MinHash-LSH pairs -> connected components,"
        " keep the min-id doc per cluster that passes the other rules"
        " ('near_duplicate' reason)",
    )
    c.add_argument(
        "--near-dedup-threshold",
        type=float,
        default=0.6,
        help="token-set Jaccard threshold for --near-dedup",
    )
    c.add_argument(
        "--c4-lines",
        action="store_true",
        help="C4 line/page cleaning first: per-line terminal-punct/"
        "min-words/javascript filter rewrites the text; pages failing "
        "the page rules drop with a 'c4_page' reason",
    )
    c.add_argument(
        "--gopher",
        action="store_true",
        help="Gopher Table-A1 filters: quality-signal composite "
        "('gopher_quality' reason) + n-gram repetition composite "
        "('gopher_repetition' reason)",
    )
    c.add_argument(
        "--decontam-against",
        help="parquet eval-suite path: drop rows sharing word n-grams "
        "with it (benchmark decontamination)",
    )
    c.add_argument("--decontam-ngram", type=int, default=8)
    c.add_argument("--decontam-min-hits", type=int, default=1)
    c.add_argument("--decontam-text-col", default="text")
    args = p.parse_args(argv)
    if args.cmd == "validate":
        return cmd_validate(args)
    if args.cmd == "triage":
        return cmd_triage(args)
    if args.cmd == "clean":
        return cmd_clean(args)
    return 1


if __name__ == "__main__":
    sys.exit(main())
