"""Driver-contract sanity: entry() runs, queries()/oracle_sql() keys
line up, and a fast DuckDB differential check passes at sf0.001 (the
full sf0.01 gate runs via scripts/check_correctness.py)."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) == {"field", "constraint_name", "n"}


def test_query_oracle_keys_align():
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    # round 2: every query is fully oracled — approximate search via
    # embedded plane/centroid constants, the multimodal featurizer
    # reconstructed in SQL. Keep it that way.
    assert set(qs) - set(os_) == set()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


@pytest.mark.parametrize(
    "name",
    ["row_violations", "row_verdicts", "unique_key", "referential",
     "conv_stats", "drift_psi", "coercions"],
)
def test_differential_oracle_sf0001(spark, duck, name):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from scripts.check_correctness import normalize

    sdf = entrymod.queries()[name](spark, SF)
    scols, srows = normalize(sdf.columns, [tuple(r) for r in sdf.collect()])
    cur = duck.execute(entrymod.oracle_sql()[name])
    dcols, drows = normalize([d[0] for d in cur.description], cur.fetchall())
    assert scols == dcols
    assert srows == drows


def test_arrow_gates_actually_run_arrow(spark):
    """Every ANN / embedding-dedup gate runs its vector arithmetic in
    numpy over Arrow batches: a MapInArrow node is in each executed
    plan."""

    def plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    for name in [
        "ann_lsh_topk",
        "ann_lsh_multiprobe",
        "ann_ivf_topk",
        "ann_ivf_pruned",
        "ann_ivf_indexed",
        "dedup_embedding",
        "dedup_semantic",
    ]:
        assert "MapInArrow" in plan(entrymod.queries()[name](spark, SF)), name
