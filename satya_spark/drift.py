"""Distribution-drift kernels: PSI and binned two-sample KS.

The reference has no drift analog (SURVEY.md §2.9) — these are the
north-rule extensions over per-conversation stats (turn count, text
length). Design for 10^12 rows:

* Exact KS needs a global sort; instead both kernels work on a FIXED
  bucket grid (edges shipped with the reference snapshot), so each
  side reduces to a tiny histogram via one map-side-combinable
  ``groupBy(bucket).count()``. Approximation error is bounded by the
  bucket width (documented, not silent).
* When both populations live in one table (A/B halves, old/new
  snapshot column), :func:`pair_from_split` histograms BOTH in a
  single aggregation pass — one shuffle of ≤ n_buckets×2 groups.
* The statistic itself is computed on the tiny paired frame (window
  cumsum for KS, log-ratio for PSI) — effectively free.
* Bucketing is plain integer arithmetic (``least(floor(x/w), n-1)``)
  — portable to the DuckDB oracle, unlike ``width_bucket``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

PSI_EPS = 1e-6


def bucketize(col: Column, width: float, n_buckets: int) -> Column:
    """Fixed-grid bucket id: least(floor(col / width), n_buckets-1),
    clamped at 0 for negatives."""
    b = F.floor(col.cast("double") / F.lit(float(width))).cast("int")
    return F.greatest(F.least(b, F.lit(n_buckets - 1)), F.lit(0))


def histogram(
    df: DataFrame, value_col: str, width: float, n_buckets: int
) -> DataFrame:
    """(bucket, n) histogram over the fixed grid. One shuffle of at
    most n_buckets groups; partial aggregation makes the map side do
    nearly all the work."""
    return (
        df.select(bucketize(F.col(value_col), width, n_buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _full_grid(spark, n_buckets: int) -> DataFrame:
    return spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))


def pair_from_hists(
    ref_hist: DataFrame, cur_hist: DataFrame, n_buckets: int
) -> DataFrame:
    """Grid-complete (bucket, n_ref, n_cur) from two histograms."""
    spark = ref_hist.sparkSession
    r = _full_grid(spark, n_buckets)
    r = r.join(ref_hist.withColumnRenamed("n", "n_ref"), "bucket", "left")
    r = r.join(cur_hist.withColumnRenamed("n", "n_cur"), "bucket", "left")
    return r.fillna(0, subset=["n_ref", "n_cur"])


def pair_from_split(
    df: DataFrame,
    value_col: str,
    half_col: Column,
    width: float,
    n_buckets: int,
) -> DataFrame:
    """Both populations histogrammed in ONE aggregation pass:
    half==0 → ref, half==1 → cur."""
    spark = df.sparkSession
    h = (
        df.select(
            bucketize(F.col(value_col), width, n_buckets).alias("bucket"),
            half_col.alias("__half"),
        )
        .groupBy("bucket")
        .agg(
            F.sum((F.col("__half") == 0).cast("long")).alias("n_ref"),
            F.sum((F.col("__half") == 1).cast("long")).alias("n_cur"),
        )
    )
    grid = _full_grid(spark, n_buckets)
    return grid.join(h, "bucket", "left").fillna(0, subset=["n_ref", "n_cur"])


def psi_pair(pair: DataFrame, eps: float = PSI_EPS) -> DataFrame:
    """Population Stability Index per bucket: (bucket, p, q,
    psi_contrib) with ε-smoothed proportions. Tiny frame in, tiny
    frame out."""
    tot = pair.agg(F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur"))
    r = pair.crossJoin(F.broadcast(tot))
    p = F.col("n_ref").cast("double") / F.col("t_ref") + F.lit(eps)
    q = F.col("n_cur").cast("double") / F.col("t_cur") + F.lit(eps)
    return r.select(
        "bucket",
        F.round(p, 8).alias("p"),
        F.round(q, 8).alias("q"),
        F.round((p - q) * F.log(p / q), 6).alias("psi_contrib"),
    ).orderBy("bucket")


def ks_pair(pair: DataFrame) -> DataFrame:
    """Binned two-sample Kolmogorov–Smirnov on the paired histogram:
    max |ECDF_ref − ECDF_cur| over bucket edges (exact up to bucket
    width). Single row (ks_stat). The unpartitioned window is over
    ≤ n_buckets rows — intentionally tiny."""
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    tot = pair.agg(F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur"))
    r = pair.crossJoin(F.broadcast(tot))
    cdf_ref = F.sum("n_ref").over(w).cast("double") / F.col("t_ref")
    cdf_cur = F.sum("n_cur").over(w).cast("double") / F.col("t_cur")
    return r.select(F.abs(cdf_ref - cdf_cur).alias("gap")).agg(
        F.round(F.max("gap"), 6).alias("ks_stat")
    )


# --- legacy two-histogram API (kept for external ref snapshots) ----------


def psi(
    ref_hist: DataFrame,
    cur_hist: DataFrame,
    n_buckets: int,
    eps: float = PSI_EPS,
) -> DataFrame:
    return psi_pair(pair_from_hists(ref_hist, cur_hist, n_buckets), eps)


def psi_total(psi_df: DataFrame) -> float:
    row = psi_df.agg(F.sum("psi_contrib").alias("psi")).collect()[0]
    return float(row["psi"])


def ks_binned(
    ref_hist: DataFrame, cur_hist: DataFrame, n_buckets: int
) -> DataFrame:
    return ks_pair(pair_from_hists(ref_hist, cur_hist, n_buckets))


# --- grouped drift -------------------------------------------------------


def psi_by_group(
    df: DataFrame,
    value_col: str,
    group_col: str,
    width: float,
    n_buckets: int,
    eps: float = PSI_EPS,
) -> DataFrame:
    """Per-group PSI against the whole population: (grp, psi, n_rows),
    one row per group, ordered by group. A group tracking the global
    distribution scores ~0; a segment whose metric distribution
    diverged scores high — run it on (role, text_len) or
    (day, turn_count) to localize drift that a whole-table PSI
    averages away.

    Scale shape: ONE ``groupBy(group)`` over the data with
    ``n_buckets`` conditional bucket counts — map-side partial
    aggregation reduces each task to ≤ |groups| rows before the
    shuffle, and every group row is grid-complete by construction
    (an empty bucket counts 0). The reference histogram is the
    column sums over those ≤ |groups| rows (an unpartitioned window —
    intentionally tiny), and PSI is a fixed-order sum of the
    ``n_buckets`` ε-smoothed terms.
    """
    bucket = bucketize(F.col(value_col), width, n_buckets)
    counts = [f"__n{i}" for i in range(n_buckets)]
    h = (
        df.select(F.col(group_col).alias("grp"), bucket.alias("bucket"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[
                F.count(F.when(F.col("bucket") == i, 1)).alias(c)
                for i, c in enumerate(counts)
            ],
        )
    )
    everyone = Window.partitionBy()
    t_ref = F.sum("n_rows").over(everyone)
    psi = F.lit(0.0)
    for c in counts:
        p = F.sum(c).over(everyone).cast("double") / t_ref + F.lit(eps)
        q = F.col(c).cast("double") / F.col("n_rows") + F.lit(eps)
        psi = psi + (p - q) * F.log(p / q)
    return h.select("grp", F.round(psi, 6).alias("psi"), "n_rows").orderBy("grp")
