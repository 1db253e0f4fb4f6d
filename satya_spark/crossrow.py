"""Cross-row validation operators (north-rule extensions).

satya validates records independently; these lift its kernels to
table scope (SURVEY.md §2.9):

* :func:`duplicate_keys` — ``unique_items`` (``src/lib.rs:894-906``)
  lifted from list scope to a distributed uniqueness check on a key.
* :func:`referential_violations` — custom-type resolution
  (``src/lib.rs:919-935``) lifted to row↔row referential integrity.
* :func:`column_stats` — per-field error counters
  (``src/satya/profiling.py:15-40``) lifted to column profiles.
* :func:`conv_stats` — per-conversation stats (n_turns, max turn,
  text length).

Scale notes (100 TB design point):

* ``duplicate_keys`` groups on the FULL key ``(conv_id, turn_idx)`` —
  high cardinality, so hash aggregation with map-side partial
  aggregation spreads evenly even when one conv_id is hot; no salt
  needed (the skew unit is conv_id, and turn_idx fans it out).
* per-conversation aggregations group on ``conv_id`` alone, but
  their aggregates are algebraic (count/max/sum): map-side partial
  aggregation bounds a hot conversation's reduce load to one partial
  row per map task, so no salt is needed. Window-shaped per-group
  work has no partial form and uses :func:`salted_topn`.
* ``referential_violations`` broadcasts the catalog (tool catalogs
  are small by construction) — a shuffle-free map-side anti join.
"""

from __future__ import annotations

from typing import Iterable, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def duplicate_keys(df: DataFrame, key: Sequence[str]) -> DataFrame:
    """Rows of (key..., dup_count) for keys appearing more than once."""
    return (
        df.groupBy(*key)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def referential_violations(
    df: DataFrame,
    col: str,
    catalog: DataFrame,
    catalog_col: Optional[str] = None,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Rows whose non-null ``col`` has no match in ``catalog`` —
    broadcast left-anti join (no shuffle on the fact side)."""
    catalog_col = catalog_col or col
    cat = catalog.select(F.col(catalog_col).alias(col)).distinct()
    refs = df.filter(F.col(col).isNotNull()).select(*keys, col)
    return refs.join(F.broadcast(cat), on=col, how="left_anti").select(*keys, col)


def column_stats(
    df: DataFrame, fields: Iterable[str], exact_distinct: bool = False
) -> DataFrame:
    """One output row per field: (field, n_rows, n_null, null_rate,
    n_distinct). Single pass over the data: all per-field aggregates
    are computed in ONE aggregation (no per-field scans), then
    unpivoted driver-side (the aggregate result is a single row).

    ``exact_distinct=False`` uses HLL ``approx_count_distinct`` — at
    10^12 rows an exact distinct per column is a full shuffle per
    field; HLL is a map-side sketch. Exact mode exists for the
    differential oracle.
    """
    fields = list(fields)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for f in fields:
        aggs.append(F.sum(F.col(f).isNull().cast("long")).alias(f"__null_{f}"))
        if exact_distinct:
            aggs.append(F.count_distinct(F.col(f)).alias(f"__dist_{f}"))
        else:
            aggs.append(F.approx_count_distinct(F.col(f)).alias(f"__dist_{f}"))
    row = df.agg(*aggs)
    spark = df.sparkSession
    # one stack() over the single aggregate row — stays in SQL engine
    stack_args = []
    for f in fields:
        stack_args.append(f"'{f}', __null_{f}, __dist_{f}")
    stacked = row.select(
        F.col("__n").alias("n_rows"),
        F.expr(
            f"stack({len(fields)}, {', '.join(stack_args)}) AS (field, n_null, n_distinct)"
        ),
    )
    return stacked.select(
        "field",
        "n_rows",
        "n_null",
        (F.col("n_null").cast("double") / F.col("n_rows")).alias("null_rate"),
        "n_distinct",
    )


def null_rate_violations(
    df: DataFrame, field: str, max_null_rate: float
) -> DataFrame:
    """Table-level null-rate rule for one column → 0-or-1 row
    (field, null_rate, max_null_rate)."""
    return (
        df.agg(
            (F.sum(F.col(field).isNull().cast("long")) / F.count(F.lit(1))).alias(
                "null_rate"
            )
        )
        .select(
            F.lit(field).alias("field"),
            "null_rate",
            F.lit(max_null_rate).alias("max_null_rate"),
        )
        .filter(F.col("null_rate") > max_null_rate)
    )


def conv_stats(df: DataFrame) -> DataFrame:
    """Per-conversation stats for drift checks: n_turns, max_turn_idx,
    sum/avg text length. avg is computed as exact-integer sum / count
    (deterministic across partition orders — no float summation).

    ONE exchange: count/max/sum are algebraic, so Spark's map-side
    partial aggregation already bounds a hot conversation's
    reduce-side load to ≤ one partial row per map task (see the
    module notes)."""
    out = df.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.max("turn_idx").alias("max_turn_idx"),
        F.sum(F.coalesce(F.length("text"), F.lit(0))).alias("sum_text_len"),
    )
    return out.withColumn(
        "avg_text_len",
        F.round(F.col("sum_text_len").cast("double") / F.col("n_turns"), 4),
    )


def salted_topn(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_cols: Sequence[Column],
    n: int,
    salt: Column,
    salt_buckets: int = 32,
    rank_name: str = "rk",
) -> DataFrame:
    """Two-phase salted per-group top-n — the shared skew-defusing
    shape behind :func:`violations_sample`,
    :func:`satya_spark.functions.mix.cap_per_group` and the ANN
    top-k ranks in :mod:`satya_spark.functions.similarity`:

    * phase 1 ranks within (partition, salt): a hot group fans out
      over ``salt_buckets`` tasks, each emitting at most ``n``
      survivors. Any global top-n row is a per-salt top-n row, so
      the filter is lossless.
    * phase 2 re-ranks the ≤ n × salt_buckets candidates per group —
      a trivially small window.

    ``salt`` is any deterministic integer column (typically
    ``xxhash64`` of the order keys); it is reduced mod
    ``salt_buckets`` here. ``order_cols`` must be a total order for
    the ranks to be reproducible. Output: the input rows that
    survive, plus their in-group rank ``rank_name`` in 1..n."""
    w1 = Window.partitionBy(*partition_cols, "__salt").orderBy(*order_cols)
    phase1 = (
        df.withColumn("__salt", F.pmod(salt, F.lit(salt_buckets)))
        .withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= n)
        .drop("__salt", "__rn")
    )
    w2 = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return phase1.withColumn(rank_name, F.row_number().over(w2)).filter(
        F.col(rank_name) <= n
    )


def violations_sample(
    viol: DataFrame,
    key_cols: Sequence[str],
    n: int = 5,
    salt_buckets: int = 32,
) -> DataFrame:
    """Deterministic per-(field, constraint) violation sample: the
    first ``n`` violating rows of each constraint under the stable
    ``key_cols`` order, with their rank.

    Why it exists: satya's error accumulation keeps EVERY violation
    (``src/satya/validator.py:219-275``) — the right semantics per
    record, but at 10^12 turns a single mis-deployed constraint can
    emit 10^10 violation rows, and "show me a few examples per
    constraint" is the actual triage query. This is that query with a
    bounded output: ≤ n × |constraints| rows.

    Scale shape (100 TB design point): a single window over
    (field, constraint_name) funnels every violation of a hot
    constraint through ONE reduce task — exactly the skew the north
    rule calls out. So: two-phase top-n via :func:`salted_topn`:

    * phase 1 ranks within (field, constraint_name, salt) — a hot
      constraint fans out over ``salt_buckets`` tasks; each emits at
      most ``n`` survivors. Any global top-n row is a per-salt top-n
      row, so this is a lossless candidate filter.
    * phase 2 re-ranks the ≤ n × salt_buckets × |constraints|
      candidates globally — a trivially small window.

    Output: (*key_cols, field, constraint_name, offending_value, rk)
    with rk in 1..n.
    """
    order = [F.col(k) for k in key_cols]
    return salted_topn(
        viol,
        ["field", "constraint_name"],
        order,
        n,
        F.xxhash64(*[F.col(k) for k in key_cols]),
        salt_buckets,
    ).select(*key_cols, "field", "constraint_name", "offending_value", "rk")


def column_quantiles(
    df: DataFrame,
    fields: Iterable[str],
    probs: Sequence[float] = (0.25, 0.5, 0.75),
    exact: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """One output row per field: (field, p25, p50, ... one column per
    requested quantile, rounded to 6 places). All fields' quantiles
    come from ONE aggregation pass, unpivoted driver-side via a
    ``stack`` over the single aggregate row (same shape as
    :func:`column_stats`).

    ``exact=False`` (production default) uses ``approx_percentile``
    (Greenwald-Khanna sketch): a mergeable map-side summary whose
    size depends on ``accuracy``, not on row count — the only sane
    choice at 10^12 rows, with rank error ≤ 1/accuracy documented
    rather than silent. ``exact=True`` uses ``percentile`` (exact
    linear interpolation, same definition as SQL ``quantile_cont``)
    and exists for the DuckDB differential oracle and small tables.
    """
    fields = list(fields)
    probs = list(probs)
    parr = F.array(*[F.lit(float(p)) for p in probs])
    aggs = []
    for f in fields:
        c = F.col(f).cast("double")
        if exact:
            aggs.append(F.percentile(c, parr).alias(f"__q_{f}"))
        else:
            aggs.append(
                F.percentile_approx(c, parr, F.lit(accuracy)).alias(f"__q_{f}")
            )
    row = df.agg(*aggs)
    names = [f"q{int(round(p * 100)):02d}" for p in probs]
    stack_args = []
    for f in fields:
        qs = ", ".join(
            f"round(__q_{f}[{i}], 6)" for i in range(len(probs))
        )
        stack_args.append(f"'{f}', {qs}")
    return row.select(
        F.expr(
            f"stack({len(fields)}, {', '.join(stack_args)}) "
            f"AS (field, {', '.join(names)})"
        )
    )


def top_violating_groups(viol: DataFrame, group_col: str, n: int = 10) -> DataFrame:
    """The ``n`` groups (conversations) with the most violation rows:
    (group, n_violations), ordered worst-first — the "which
    conversations are broken" triage view.

    Scale shape: count per group in ONE exchange (a pure count is
    algebraic, so map-side partial aggregation bounds any hot group's
    reduce load by the map-task count), then a global top-n over
    the per-group counts. The final ordering window is over one row
    per group; for 10^9 groups the rank-by-count would itself need a
    two-phase top-n, so we take ``orderBy(...).limit(n)`` — Spark
    executes that as TakeOrderedAndProject: per-partition heap of n,
    driver merge of ≤ partitions × n rows. No full sort, no single
    hot reduce task.
    """
    counts = viol.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_violations")
    )
    return counts.orderBy(
        F.col("n_violations").desc(), F.col(group_col)
    ).limit(n)


def schema_drift(old_df: DataFrame, new_df: DataFrame) -> list:
    """Driver-side schema diff between two snapshots: list of dicts
    (field, change ∈ added|removed|type_changed, old_type, new_type).
    Metadata only — touches no data (like engine.schema_violations).
    The 'did the upstream producer change the contract' check that
    runs before any 10^12-row pass is paid for."""
    old_t = {f.name: f.dataType.simpleString() for f in old_df.schema.fields}
    new_t = {f.name: f.dataType.simpleString() for f in new_df.schema.fields}
    out = []
    for name in sorted(set(new_t) - set(old_t)):
        out.append(
            {"field": name, "change": "added", "old_type": None, "new_type": new_t[name]}
        )
    for name in sorted(set(old_t) - set(new_t)):
        out.append(
            {"field": name, "change": "removed", "old_type": old_t[name], "new_type": None}
        )
    for name in sorted(set(old_t) & set(new_t)):
        if old_t[name] != new_t[name]:
            out.append(
                {
                    "field": name,
                    "change": "type_changed",
                    "old_type": old_t[name],
                    "new_type": new_t[name],
                }
            )
    return out


def profile_drift(
    old_df: DataFrame,
    new_df: DataFrame,
    fields: Iterable[str],
    exact_distinct: bool = False,
) -> DataFrame:
    """Per-field profile delta between two snapshots: (field,
    null_rate_old, null_rate_new, null_rate_delta, n_distinct_old,
    n_distinct_new). One :func:`column_stats` aggregation pass per
    side (each is a single-row aggregate — no join skew possible; the
    final join is 1 row per field). The cheap always-on companion to
    the distribution-level PSI/KS checks: a column whose null rate
    jumped or whose cardinality collapsed is drifting even when its
    value histogram looks stable."""
    fields = list(fields)
    o = column_stats(old_df, fields, exact_distinct=exact_distinct).select(
        "field",
        F.col("null_rate").alias("null_rate_old"),
        F.col("n_distinct").alias("n_distinct_old"),
    )
    n = column_stats(new_df, fields, exact_distinct=exact_distinct).select(
        "field",
        F.col("null_rate").alias("null_rate_new"),
        F.col("n_distinct").alias("n_distinct_new"),
    )
    return o.join(n, "field").select(
        "field",
        F.round("null_rate_old", 6).alias("null_rate_old"),
        F.round("null_rate_new", 6).alias("null_rate_new"),
        F.round(F.col("null_rate_new") - F.col("null_rate_old"), 6).alias(
            "null_rate_delta"
        ),
        "n_distinct_old",
        "n_distinct_new",
    )


def quantile_drift(
    old_df: DataFrame,
    new_df: DataFrame,
    fields: Iterable[str],
    probs: Sequence[float] = (0.25, 0.5, 0.75),
    exact: bool = False,
) -> DataFrame:
    """Grid-free drift: per-field quantile deltas between snapshots —
    (field, q50_old, q50_new, q50_delta, ...) one row per field. The
    companion to PSI for metrics whose histogram grid you don't want
    to choose: a shifted median is drift no matter how it's binned.
    One :func:`column_quantiles` aggregation per side (GK sketch in
    production, exact for the oracle); the join is 1 row per field.
    """
    probs = list(probs)
    names = [f"q{int(round(p * 100)):02d}" for p in probs]
    o = column_quantiles(old_df, fields, probs, exact=exact)
    n = column_quantiles(new_df, fields, probs, exact=exact)
    o = o.select("field", *[F.col(c).alias(f"{c}_old") for c in names])
    n = n.select("field", *[F.col(c).alias(f"{c}_new") for c in names])
    out = o.join(n, "field")
    cols = ["field"]
    for c in names:
        cols += [
            f"{c}_old",
            f"{c}_new",
        ]
        out = out.withColumn(
            f"{c}_delta", F.round(F.col(f"{c}_new") - F.col(f"{c}_old"), 6)
        )
        cols.append(f"{c}_delta")
    return out.select(*cols)


def conv_fingerprints(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Conversation-level content fingerprint: md5 over the turn
    texts in stable (turn_idx, text) order, unit-separator-joined —
    the per-turn-text-equality invariant (north rule) collapsed to
    one comparable value per conversation. NULL turn texts are
    skipped by the join on BOTH engines (concat_ws / string_agg), so
    a null turn equals a missing one — documented collision, fine
    for dedup. One groupBy(conv_col); conversations are bounded, so
    the collect_list is bounded (contrast corpus-wide collect)."""
    texts = F.transform(
        F.array_sort(F.collect_list(F.struct(order_col, text_col))),
        lambda s: s[text_col],
    )
    return df.groupBy(conv_col).agg(
        F.md5(F.concat_ws("\x1e", texts)).alias("conv_fp"),
        F.count(F.lit(1)).alias("n_turns"),
    )


def conv_dup_groups(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Exact-duplicate conversations (identical turn-text sequences):
    (conv_fp, n_convs, canonical id = min conv id, n_turns) for every
    duplicated fingerprint — exact_dup_groups at conversation
    granularity, the transcript-payload analog of document dedup."""
    fps = conv_fingerprints(df, conv_col, order_col, text_col)
    return (
        fps.groupBy("conv_fp")
        .agg(
            F.count(F.lit(1)).alias("n_convs"),
            F.min(conv_col).alias("canonical_conv"),
            F.max("n_turns").alias("n_turns"),
        )
        .filter(F.col("n_convs") > 1)
    )
