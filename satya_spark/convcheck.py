"""Conversation-structure validation for multi-turn transcripts.

The scalar kernels (compiler.py) validate each turn in isolation;
this module validates the *sequence* — the checks that only make
sense on an ordered conversation and that satya's per-record
StreamValidator cannot express (reference scope: per-record rules,
src/satya/validator.py; the reference's own test corpus still
encodes ordering assumptions — tests/test_edge_cases.py builds
multi-record conversations with monotone indices — so these are the
transcript-native extension of the same contract):

* ``first_turn_nonzero`` — a conversation must start at turn 0.
* ``duplicate_turn_idx`` — (conv_id, turn_idx) repeated (the
  row-level twin of the distributed uniqueness check; this one also
  tells you *where* inside the conversation).
* ``turn_gap`` — turn_idx jumps by more than 1 (dropped turns).
* ``system_not_first`` — a 'system' turn anywhere but position 0.
* ``repeated_role`` — two consecutive turns by the same
  user/assistant speaker (broken alternation).
* ``tool_on_invalid_role`` — a tool reference on a turn whose role
  cannot carry one (only assistant calls and tool results may).
* ``role_unknown`` — role outside the declared set (sequence-level
  duplicate of the enum kernel, kept so this report is
  self-contained for standalone use).
* ``turn_idx_null`` — rows that cannot participate in ordering at
  all (a window partition of their own, so NULL-ordering dialect
  differences can never skew the sequence checks).

Scale notes (10^12 turns): ONE shuffle — the window partitions by
conv_id; every check is a lag/row_number over that single sort, then
narrow codegen'd projections. Conversations are short relative to a
partition (the hot-conversation skew that conv_stats salts away is
bounded here by the longest single conversation, which a window
*requires* to be co-located — you cannot salt a sequence check), so
the right lever at scale is `spark.sql.shuffle.partitions`, not
salting. Output is one row per (turn, violated rule): bounded by the
corruption rate, not the corpus.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ROLES = ("system", "user", "assistant", "tool")
ALTERNATING_ROLES = ("user", "assistant")
TOOL_ROLES = ("assistant", "tool")


def conversation_structure_violations(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    tool_col: str = "tool",
    roles: Sequence[str] = ROLES,
    alternating_roles: Sequence[str] = ALTERNATING_ROLES,
    tool_roles: Sequence[str] = TOOL_ROLES,
) -> DataFrame:
    """(conv_id, turn_idx, role, constraint_name) for every
    sequence-level violation. One scan and one window shuffle; all
    checks are lag/row_number projections over the same sort.

    Rows with NULL ``idx_col`` are reported as ``turn_idx_null`` and
    kept out of the lag chain — Spark sorts NULLS FIRST, DuckDB NULLS
    LAST, so letting them in would make the report engine-dependent.
    They sit in a window partition of their own
    (``partitionBy(conv, idx IS NULL)``) and get only that flag, in
    the same projection as the sequence checks.
    """
    conv, idx, role, tool = (
        F.col(conv_col), F.col(idx_col), F.col(role_col), F.col(tool_col)
    )
    w = Window.partitionBy(conv, idx.isNull()).orderBy(idx)
    lagged = df.select(
        conv.alias("conv_id"),
        idx.alias("turn_idx"),
        role.alias("role"),
        tool.alias("tool"),
        F.lag(idx).over(w).alias("prev_idx"),
        F.lag(role).over(w).alias("prev_role"),
        F.row_number().over(w).alias("rn"),
    )
    p_idx, p_role, rn = F.col("prev_idx"), F.col("prev_role"), F.col("rn")
    t_idx, t_role, t_tool = F.col("turn_idx"), F.col("role"), F.col("tool")

    checks = [
        ("first_turn_nonzero", (rn == 1) & (t_idx != 0)),
        ("duplicate_turn_idx", t_idx == p_idx),
        ("turn_gap", p_idx.isNotNull() & (t_idx > p_idx + 1)),
        ("system_not_first", (t_role == "system") & (rn > 1)),
        (
            "repeated_role",
            (t_role == p_role) & t_role.isin(*alternating_roles),
        ),
        (
            "tool_on_invalid_role",
            t_tool.isNotNull()
            & (t_role.isNull() | ~t_role.isin(*tool_roles)),
        ),
        ("role_unknown", t_role.isNotNull() & ~t_role.isin(*roles)),
    ]
    empty = F.array().cast("array<string>")
    flags = F.when(t_idx.isNull(), F.array(F.lit("turn_idx_null"))).otherwise(
        F.concat(
            *[
                F.when(cond, F.array(F.lit(name))).otherwise(empty)
                for name, cond in checks
            ]
        )
    )
    return (
        lagged.withColumn("__v", flags)
        .filter(F.size("__v") > 0)
        .select(
            "conv_id",
            "turn_idx",
            "role",
            F.explode("__v").alias("constraint_name"),
        )
    )


def conversation_structure_sql(
    table: str = "transcripts",
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    tool_col: str = "tool",
    roles: Sequence[str] = ROLES,
    alternating_roles: Sequence[str] = ALTERNATING_ROLES,
    tool_roles: Sequence[str] = TOOL_ROLES,
) -> str:
    """ANSI-SQL twin of :func:`conversation_structure_violations`
    (runs unchanged in DuckDB). UNION ALL of per-check selects over
    one lagged CTE — same single window, same semantics."""

    def _in(vals: Sequence[str]) -> str:
        return "(" + ", ".join(f"'{v}'" for v in vals) + ")"

    lagged = (
        f"SELECT {conv_col} AS conv_id, {idx_col} AS turn_idx, "
        f"{role_col} AS role, {tool_col} AS tool, "
        f"lag({idx_col}) OVER w AS prev_idx, "
        f"lag({role_col}) OVER w AS prev_role, "
        f"row_number() OVER w AS rn "
        f"FROM {table} WHERE {idx_col} IS NOT NULL "
        f"WINDOW w AS (PARTITION BY {conv_col} ORDER BY {idx_col})"
    )
    sel = "SELECT conv_id, turn_idx, role, '{name}' AS constraint_name FROM __lagged WHERE {cond}"
    parts = [
        sel.format(name="first_turn_nonzero", cond="rn = 1 AND turn_idx <> 0"),
        sel.format(name="duplicate_turn_idx", cond="turn_idx = prev_idx"),
        sel.format(
            name="turn_gap",
            cond="prev_idx IS NOT NULL AND turn_idx > prev_idx + 1",
        ),
        sel.format(name="system_not_first", cond="role = 'system' AND rn > 1"),
        sel.format(
            name="repeated_role",
            cond=f"role = prev_role AND role IN {_in(alternating_roles)}",
        ),
        sel.format(
            name="tool_on_invalid_role",
            cond=(
                "tool IS NOT NULL AND "
                f"(role IS NULL OR role NOT IN {_in(tool_roles)})"
            ),
        ),
        sel.format(
            name="role_unknown",
            cond=f"role IS NOT NULL AND role NOT IN {_in(roles)}",
        ),
    ]
    null_sel = (
        f"SELECT {conv_col} AS conv_id, {idx_col} AS turn_idx, "
        f"{role_col} AS role, 'turn_idx_null' AS constraint_name "
        f"FROM {table} WHERE {idx_col} IS NULL"
    )
    body = "\nUNION ALL\n".join(parts + [null_sel])
    return f"SELECT * FROM (\nWITH __lagged AS ({lagged})\n{body}\n) __conv_v"


def repeated_turn_groups(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Within-conversation repeated turn TEXT — the stuck-agent /
    degenerate-loop signal for agent transcripts: one row per
    (conversation, text) group occurring more than once, with the
    first/last turn index and the occurrence count. NULL texts are
    excluded (a missing turn body is a presence violation, not a
    loop). Exact same-index duplicate rows count as repeats too (the
    count is over occurrences, not distinct indices).

    Shape: one map-side-combining groupBy on (conv, 8-byte text
    hash) — never a per-conversation window over texts, so a hot
    conversation's repeats partial-aggregate before the shuffle.
    """
    from .functions.dedup import portable_hash64

    t = df.filter(F.col(text_col).isNotNull()).select(
        F.col(conv_col),
        F.col(order_col),
        portable_hash64(F.col(text_col), "rt").alias("__h"),
    )
    return (
        t.groupBy(conv_col, "__h")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(order_col).alias("first_turn_idx"),
            F.max(order_col).alias("last_turn_idx"),
        )
        .filter(F.col("n_occurrences") > 1)
        .drop("__h")
    )


def repeated_turn_groups_sql(
    table: str,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`repeated_turn_groups`."""
    from .functions.dedup import portable_hash64_sql

    h = portable_hash64_sql(text_col, "rt")
    return (
        f"SELECT {conv_col}, CAST(count(*) AS BIGINT) AS n_occurrences,"
        f" min({order_col}) AS first_turn_idx,"
        f" max({order_col}) AS last_turn_idx"
        f" FROM {table} WHERE {text_col} IS NOT NULL"
        f" GROUP BY {conv_col}, {h} HAVING count(*) > 1"
    )
