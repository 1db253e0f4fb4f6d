"""Physical-plan assertions — the 100 TB checklist: predicate
pushdown, column pruning, bucketed-agg shuffle elimination, broadcast
referential joins. These are the '.explain and iterate' guarantees
from the build brief, encoded as tests so they can't regress."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from satya_spark.engine import ValidationEngine
from satya_spark.io import write_bucketed
from satya_spark.spec import transcript_spec
from satya_spark.transcripts import synthesize


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "transcripts")
    synthesize(spark, 2000).write.mode("overwrite").parquet(path)
    return path


def test_filter_pushdown_reaches_scan(spark, staged):
    """A conv_id predicate must appear in PushedFilters at the
    parquet scan, not as a post-scan Filter only."""
    df = spark.read.parquet(staged).filter(F.col("conv_id") == "c42")
    eng = ValidationEngine(transcript_spec())
    plan = _executed_plan(eng.shard_verdicts(eng.annotate(df)))
    assert "PushedFilters: [IsNotNull(conv_id), EqualTo(conv_id,c42)]" in plan


def test_column_pruning_reaches_scan(spark, staged):
    """A projection needing 2 columns must read 2 columns."""
    df = spark.read.parquet(staged).select("conv_id", "turn_idx")
    plan = _executed_plan(df.groupBy("conv_id").agg(F.max("turn_idx")))
    assert "ReadSchema: struct<conv_id:string,turn_idx:int>" in plan


def test_bucketed_groupby_has_no_exchange(spark, staged):
    """groupBy on the bucket column of a bucketed table must not
    shuffle — the Iceberg-bucket-transform stand-in."""
    df = spark.read.parquet(staged)
    write_bucketed(df, "t_bucketed", "conv_id", n_buckets=8)
    try:
        agg = (
            spark.table("t_bucketed")
            .groupBy("conv_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = _executed_plan(agg)
        assert "Exchange hashpartitioning" not in plan
        # sanity: the same agg over the plain parquet DOES shuffle
        plan2 = _executed_plan(
            df.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
        )
        assert "Exchange hashpartitioning" in plan2
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bucketed")


def test_bucketed_self_join_has_no_exchange(spark, staged):
    """Self-join on the bucket column: both sides co-located, no
    shuffle (the referential/uniqueness join layout at scale)."""
    df = spark.read.parquet(staged)
    write_bucketed(df, "t_bucketed2", "conv_id", n_buckets=8)
    try:
        t = spark.table("t_bucketed2")
        a = t.groupBy("conv_id").agg(F.max("turn_idx").alias("mx"))
        b = t.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
        plan = _executed_plan(a.join(b, "conv_id"))
        assert "Exchange hashpartitioning" not in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bucketed2")


def test_jaccard_band_join_is_equi_join(spark):
    """The length-filter banding must reach the join as EQUI keys
    (lang, band) — a SortMergeJoin/ShuffledHashJoin with both keys,
    never a BroadcastNestedLoop/cartesian with a post-filter (which is
    what the round-1 OR'd band condition degraded to: an n² join
    within each language)."""
    from satya_spark.functions.dedup import jaccard_pairs

    df = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(5 + i % 7)), "en") for i in range(50)],
        ["doc_id", "text", "lang"],
    )
    out = jaccard_pairs(df, 0.6)
    plan = _executed_plan(out)
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    join_lines = [l for l in plan.splitlines() if "Join" in l and "lang" in l]
    assert join_lines and all("band" in l for l in join_lines)


def test_simhash_pairs_join_is_equi_join(spark):
    from satya_spark.functions.dedup import simhash_pairs

    df = spark.createDataFrame(
        [(i, " ".join(f"t{i}_{j}" for j in range(10)), "en") for i in range(30)],
        ["doc_id", "text", "lang"],
    )
    out = simhash_pairs(df, max_hamming=3, bits=32, chunks=4)
    plan = _executed_plan(out)
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    join_lines = [l for l in plan.splitlines() if "Join" in l and "ci" in l]
    assert join_lines and all("cv" in l for l in join_lines)


def test_embedding_near_dup_join_is_equi_join(spark):
    import math

    from satya_spark.functions.similarity import embedding_near_dup_pairs

    df = spark.createDataFrame(
        [(i, [float(math.sin(i * 0.7 + d)) for d in range(4)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    out = embedding_near_dup_pairs(df, threshold=0.95, n_planes=3, dims=4, bands=2)
    plan = _executed_plan(out)
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    join_lines = [l for l in plan.splitlines() if "Join" in l and "bucket" in l]
    assert join_lines and all("band" in l for l in join_lines)


def test_ivf_index_probe_prunes_partitions(spark, tmp_path):
    """VERDICT r3 #5: the persisted IVF layout must turn probing into
    PARTITION pruning — the probed list ids appear as PartitionFilters
    on the scan of the partitioned index (only ~nprobe/k of the bytes
    are read), and an un-probed full scan does NOT carry them."""
    import math

    from satya_spark.functions.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_indexed,
        train_centroids,
    )

    df = spark.createDataFrame(
        [(i, [float(math.sin(i * 0.31 + d)) for d in range(8)]) for i in range(120)],
        "vec_id long, embedding array<float>",
    )
    cents = train_centroids(df, k=4, iters=0)
    idx = str(tmp_path / "ivf_index")
    build_ivf_index(df, cents, idx)
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk_indexed(spark, idx, queries, cents, k=3, nprobe=1)
    plan = _executed_plan(out)
    scan_lines = [l for l in plan.splitlines() if "FileScan" in l and "ivf_index" in l]
    assert scan_lines, plan
    # the literal probe filter must be a PARTITION filter (directory
    # pruning), not a pushed data filter
    assert any(
        "PartitionFilters" in l and "__list" in l.split("PartitionFilters", 1)[1]
        for l in scan_lines
    ), scan_lines
    # and the probed ids are a strict subset: nprobe=1 over 3 queries
    # touches < k=4 lists in this fixture OR equals the probed set —
    # either way the filter is literal IN, no Python eval on the scan
    assert "dynamicpruning" not in plan  # static, not runtime, pruning

    # results match the per-job recompute path exactly
    base = ivf_topk(df, queries, cents, k=3, nprobe=1)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, base.collect()))


def test_text_queries_compute_stopword_hits_once(spark):
    """VERDICT r2 #3: the stopword-hit reuse must be STRUCTURAL, not
    CSE luck — each language's padded-stopword regexp_count appears
    exactly once in the physical plan of the gated text queries, and
    unused languages are pruned away entirely."""
    import __spark_entry__ as entrymod

    from satya_spark.functions.text import STOPWORDS

    sf = "/root/testdata/sf0.001"
    sig = {
        l: "(" + "|".join(STOPWORDS[l][:3]) + "|" for l in ("en", "de", "fr", "es")
    }
    # "once per row" structurally means: either once after the
    # fixture's split-cap repartition exchange (1 occurrence), or —
    # if Catalyst pushes the projection below the Union — once per
    # branch (== FileScan count). Anything else (a multiple of
    # either) is the duplicated-computation regression. AQE prints
    # final + initial plans; pin the final plan only.
    plan_langid = _executed_plan(entrymod.queries()["text_langid"](spark, sf))
    plan_langid = plan_langid.split("== Initial Plan ==")[0]
    branches = plan_langid.count("FileScan")
    assert branches >= 1
    once = plan_langid.count(sig["en"])
    assert once in (1, branches), (once, branches)
    for l, s in sig.items():
        assert plan_langid.count(s) == once, (l, plan_langid.count(s))

    plan_stats = _executed_plan(entrymod.queries()["text_stats"](spark, sf))
    plan_stats = plan_stats.split("== Initial Plan ==")[0]
    branches2 = plan_stats.count("FileScan")
    assert branches2 >= 1
    assert plan_stats.count(sig["en"]) in (1, branches2)
    # column pruning drops the three unused languages' hit columns
    for l in ("de", "fr", "es"):
        assert plan_stats.count(sig[l]) == 0
    # pure JVM: no Python eval anywhere in either plan
    for p in (plan_langid, plan_stats):
        assert "EvalPython" not in p and "MapInPandas" not in p


def test_violations_sample_salted_window_first(spark, staged):
    """The triage sample must fan out before it funnels: phase 1's
    window partitions on (field, constraint, SALT) — the hot
    constraint never converges on one task until candidates are
    capped — and phase 2's unsalted window runs over the capped
    candidate set."""
    from satya_spark.crossrow import violations_sample
    from satya_spark.compiler import compile_spec

    df = spark.read.parquet(staged)
    viol = compile_spec(transcript_spec()).violations_df(
        df, ["conv_id", "turn_idx"]
    )
    plan = _executed_plan(violations_sample(viol, ["conv_id", "turn_idx"], n=3))
    # two Window operators, and the FIRST executed one (deepest in
    # the plan = printed later) partitions on the salt
    final_plan = plan.split("== Initial Plan ==")[0]  # AQE prints both
    win_lines = [
        ln for ln in final_plan.splitlines() if "Window [row_number()" in ln
    ]
    assert len(win_lines) == 2, plan
    # plan prints top-down: line 0 is the final (unsalted) rank,
    # line 1 the salted pre-rank
    assert "__salt" not in win_lines[0]
    assert "__salt" in win_lines[1]


def test_column_quantiles_single_aggregate_pass(spark, staged):
    """All fields' quantiles must come from ONE aggregation over ONE
    scan — no per-field passes."""
    from satya_spark.crossrow import column_quantiles

    df = spark.read.parquet(staged).select(
        "turn_idx", F.coalesce(F.length("text"), F.lit(0)).alias("text_len")
    )
    plan = _executed_plan(
        column_quantiles(df, ["turn_idx", "text_len"], exact=False)
    )
    final_plan = plan.split("== Initial Plan ==")[0]
    assert final_plan.count("FileScan parquet") == 1, plan


def test_psi_by_group_single_scan(spark, staged):
    """Grouped drift must histogram the data ONCE: one groupBy(group)
    with per-bucket counts, and the reference histogram and totals
    come from that aggregate — the input is never re-scanned."""
    from satya_spark.drift import psi_by_group

    df = spark.read.parquet(staged).select(
        F.coalesce("role", F.lit("<null>")).alias("role"),
        F.coalesce(F.length("text"), F.lit(0)).alias("text_len"),
    )
    plan = _executed_plan(psi_by_group(df, "text_len", "role", 200.0, 20))
    final_plan = plan.split("== Initial Plan ==")[0]
    assert final_plan.count("FileScan parquet") == 1, plan


def test_hot_scan_paths_compile_under_64kb(spark, staged):
    """The FULL-SCAN paths — annotate, verdict counts, enforce's
    totals — must stay whole-stage compilable: at 10^12 rows a silent
    fusion loss there is the expensive kind. Pinned by disabling
    codegen fallback, which turns any >64 KB ``processNext()`` into a
    hard error. (The exploded-violations path is deliberately NOT
    pinned: its collapsed plan carries two copies of the array
    expression and trades whole-stage fusion for early row drop +
    per-operator codegen — measured faster than both 64 KB-safe
    rewrites; see compiler.violations_df docstring.)"""
    eng = ValidationEngine(transcript_spec())
    df = spark.read.parquet(staged)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        ann = eng.annotate(df)
        assert ann.count() > 0
        assert eng.shard_verdicts(ann).count() > 0
        ann.select((~F.col("valid")).cast("long").alias("bad")).agg(
            F.count(F.lit(1)), F.sum("bad")
        ).collect()  # enforce totals
    finally:
        spark.conf.set("spark.sql.codegen.fallback", "true")


def test_violations_filter_is_redundant_with_explode(spark, staged):
    """Semantic pin for the violations shape choice: ``explode``
    already drops empty arrays, so the pre-Generate ``size > 0``
    filter changes no rows — it exists purely so the scan stage drops
    valid rows early (see compiler.violations_df docstring). If this
    equivalence ever breaks, the filter became load-bearing."""
    eng = ValidationEngine(transcript_spec())
    df = spark.read.parquet(staged)
    keys = ["conv_id", "turn_idx"]
    filtered = eng.violations(eng.annotate(df))
    arr = eng.compiled.violations_array_col()
    unfiltered = (
        df.select(*keys, arr.alias("__viol"))
        .select(*keys, F.explode("__viol").alias("v"))
        .select(*keys, "v.field", "v.constraint_name", "v.offending_value")
    )
    assert filtered.count() == unfiltered.count()
    assert filtered.exceptAll(unfiltered).count() == 0


def test_ngram_lambdas_never_tokenize_per_element(spark):
    """Regression pin for the decontam quadratic (BENCH.md r4 leg 3):
    gram-building must never carry the tokenization expression
    (regexp_replace/split) INSIDE a lambda body — Catalyst's
    projection collapse will inline it there and every gram re-scans
    the whole text, O(grams × text_len). The zip-of-shifted-slices
    form keeps tokenization per-row (it may appear many times in the
    collapsed plan — that is the linear worst case and is fine)."""
    import re

    from satya_spark.docfix import (
        docs_from_testdata,
        eval_suite_from_testdata,
        gopher_docs_from_testdata,
    )
    from satya_spark.functions.decontam import contamination_report
    from satya_spark.functions.dedup import minhash_signatures
    from satya_spark.functions.gopher import gopher_ngram_repetition

    sf = "/root/testdata/sf0.001"
    docs = docs_from_testdata(spark, sf)
    for df in (
        contamination_report(docs, eval_suite_from_testdata(spark, sf)),
        minhash_signatures(docs),
        gopher_ngram_repetition(gopher_docs_from_testdata(spark, sf)),
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        for m in re.finditer(r"lambdafunction\(", plan):
            i, depth = m.end(), 1
            while depth and i < len(plan):
                depth += {"(": 1, ")": -1}.get(plan[i], 0)
                i += 1
            span = plan[m.start():i]
            assert "regexp_replace" not in span and "split(" not in span, (
                "tokenization inlined into a per-element lambda:\n" + span[:500]
            )


def test_clean_frame_one_scan_one_join(spark, tmp_path, monkeypatch):
    """``clean --gopher --c4-lines`` builds its per-document frame from
    one input scan plus the shared n-gram aggregation joined back once:
    the C4 verdict, the Gopher signals and every drop reason are
    row-local columns, not frames joined back by id."""
    import contextlib
    import io

    from satya_spark.__main__ import main

    src, out = str(tmp_path / "docs"), str(tmp_path / "out")
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog.\nclick here"), (2, None)],
        "doc_id long, text string",
    ).write.parquet(src)
    plans = []
    cls = type(spark.range(1))
    checkpoint = cls.localCheckpoint

    def record(self, *a, **k):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return checkpoint(self, *a, **k)

    monkeypatch.setattr(cls, "localCheckpoint", record)
    with contextlib.redirect_stdout(io.StringIO()):
        main(["clean", "--input", src, "--output", out, "--gopher", "--c4-lines"])
    plan = plans[0]
    assert plan.count("Relation [") <= 2, plan
    assert plan.count("Join ") <= 1, plan


def test_clean_near_dedup_writes_read_only_the_checkpoint(spark, tmp_path, monkeypatch):
    """``clean --gopher --dedup --near-dedup`` chooses the near-dup
    survivor inside the checkpointed per-document frame: both parquet
    writes are plain filters of the checkpoint, with no scan, join or
    window left in their plans. ``dup_clusters`` labels a pair graph
    that fits its driver bound in at most 2 jobs: the edge checkpoint
    and one bounded collect."""
    import contextlib
    import io

    from pyspark.sql.readwriter import DataFrameWriter

    from satya_spark.__main__ import main
    from satya_spark.functions.dedup import dup_clusters

    def doc(word):  # passes every Gopher rule: 66 words, no repeats
        words = " ".join(f"{word}{i}" for i in range(60))
        return f"the quick and {words} to the end of it"

    src, out = str(tmp_path / "docs"), str(tmp_path / "out")
    spark.createDataFrame(
        [
            (1, doc("alpha")),
            (2, doc("alpha") + " more"),  # near duplicate of 1
            (3, doc("alpha")),            # exact duplicate of 1
            (4, doc("beta")),
        ],
        "doc_id long, text string",
    ).write.parquet(src)
    plans = []
    parquet = DataFrameWriter.parquet

    def record(self, *a, **k):
        plans.append(self._df._jdf.queryExecution().optimizedPlan().toString())
        return parquet(self, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", record)
    with contextlib.redirect_stdout(io.StringIO()):
        main(["clean", "--input", src, "--output", out,
              "--gopher", "--dedup", "--near-dedup"])
    assert len(plans) == 2
    for plan in plans:
        for node in ("Relation [", "Join", "Window"):
            assert node not in plan, plan

    sc = spark.sparkContext
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    sc.setJobGroup("dup_clusters_small", "dup_clusters on a small graph")
    try:
        dup_clusters(pairs, assume_distinct=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("dup_clusters_small")) <= 2
    dropped = {
        r["doc_id"]: sorted(r["drop_reasons"])
        for r in spark.read.parquet(f"{out}/dropped").collect()
    }
    assert dropped == {3: ["duplicate"], 2: ["near_duplicate"]}


def _record_plans(spark, monkeypatch) -> list:
    """Optimized plans of every ``collect``, ``localCheckpoint`` and
    parquet write from now on, in order."""
    from pyspark.sql.readwriter import DataFrameWriter

    plans = []

    def recording(cls, name, df_of):
        orig = getattr(cls, name)

        def record(self, *a, **k):
            plans.append(df_of(self)._jdf.queryExecution().optimizedPlan().toString())
            return orig(self, *a, **k)

        monkeypatch.setattr(cls, name, record)

    for name in ("collect", "localCheckpoint"):
        recording(type(spark.range(1)), name, lambda df: df)
    for name in ("parquet", "save"):
        recording(DataFrameWriter, name, lambda w: w._df)
    return plans


def _kernel_plans(plans) -> list:
    # the kernel array builds one struct per failing rule
    return [p for p in plans if "struct(field, " in p]


def test_minhash_pairs_one_tokenization_no_cache_no_broadcast(spark, monkeypatch):
    """One ``minhash_dedup_pairs`` call tokenizes its input once (in
    the checkpoint of its token-set groups), caches nothing and
    leaves the join strategies to the planner."""
    from satya_spark.functions.dedup import minhash_dedup_pairs

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "e d c b a"), (3, "a b c d f"), (4, None)],
        "doc_id long, text string",
    )
    plans = _record_plans(spark, monkeypatch)
    assert len(minhash_dedup_pairs(df, 0.6).collect()) == 3
    joined = "\n".join(plans)
    assert joined.count("split(trim(regexp_replace(lower(") == 1, joined
    assert "InMemoryRelation" not in joined, joined
    assert "broadcast" not in joined.lower(), joined


def test_validate_kernel_passes_per_mode(spark, tmp_path, monkeypatch):
    """``validate`` evaluates the constraint kernels as often under a
    manifest flag as without one: once with ``--quarantine`` (the split
    write; verdicts and violations read the split back), twice without
    (the verdicts write and the violations write). Manifest reads and
    the verdict read-back behind the commit carry no kernel."""
    import contextlib
    import io

    from satya_spark.__main__ import main

    src = str(tmp_path / "in")
    synthesize(spark, 100).coalesce(2).write.parquet(src)
    plans = _record_plans(spark, monkeypatch)
    for mode in ("plain", "manifest", "file-manifest"):
        for extra in ([], ["--quarantine"]):
            if mode == "file-manifest" and extra:
                continue  # exits 2: file verdicts need the input scan
            run = f"{mode}{len(extra)}"
            flags = [] if mode == "plain" else [f"--{mode}", str(tmp_path / run)]
            plans.clear()
            out = str(tmp_path / f"out_{run}")
            with contextlib.redirect_stdout(io.StringIO()):
                rc = main(["validate", "--input", src, "--output", out, *flags, *extra])
            assert rc == 3, run
            assert len(_kernel_plans(plans)) == (1 if extra else 2), (mode, extra, plans)


def test_triage_kernel_once_structure_one_scan(spark, tmp_path, monkeypatch):
    """One ``triage`` run evaluates the constraint kernels in exactly
    one plan (the checkpoint of its violation rows, which the samples
    and the worst groups both read), and the structure check reads its
    input once, with no Union."""
    import contextlib
    import io
    import json

    from satya_spark.__main__ import main

    src = str(tmp_path / "in")
    synthesize(spark, 200).coalesce(2).write.parquet(src)
    plans = _record_plans(spark, monkeypatch)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["triage", "--input", src, "--drift-group", "role", "--drift-metric", "text"])
    assert rc == 0
    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert report["violation_sample"] and report["worst_groups"]
    assert len(_kernel_plans(plans)) == 1, plans
    structure = [p for p in plans if "turn_idx_null" in p]
    assert len(structure) == 1, plans
    assert structure[0].count("Relation [") == 1, structure[0]
    assert "Union" not in structure[0], structure[0]


def test_cap_per_group_windowgrouplimit_below_exchange(spark):
    """The per-domain cap's rank filters must compile to
    WindowGroupLimit nodes BELOW their exchanges — each map task
    pre-prunes to its local top-n per (group, salt) before anything
    ships (the property cap_per_group's docstring promises)."""
    from satya_spark.functions.mix import cap_per_group

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _executed_plan(cap_per_group(docs, group_col="source", n=5))
    final_plan = plan.split("== Initial Plan ==")[0]
    lines = final_plan.splitlines()
    wgl = [i for i, ln in enumerate(lines) if "WindowGroupLimit" in ln]
    exch = [i for i, ln in enumerate(lines) if "Exchange" in ln]
    assert len(exch) == 2, plan  # (group, salt) then (group)
    # plan prints top-down: a WindowGroupLimit BELOW an Exchange
    # (map-side partial) appears on a LATER line than that Exchange
    assert any(i > max(exch) for i in wgl), (
        "no map-side partial top-n below the deepest Exchange:\n" + plan
    )


def test_vector_violations_zero_exchange(spark):
    """The embedding validation battery is pure per-row expression
    work — its plan must contain NO Exchange (and no Python UDF)."""
    from satya_spark.functions.vectors import vector_violations

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _executed_plan(
        vector_violations(emb, dim=64, norm_min=0.5, norm_max=2.0)
    )
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan
