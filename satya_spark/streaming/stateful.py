"""Custom stateful streaming validation via applyInPandasWithState.

The batch engine checks (conv_id, turn_idx) uniqueness with a
groupBy; on an unbounded stream that requires per-conversation STATE:
each conversation remembers the turn_idx values it has seen (and the
max), across micro-batches, so late/duplicate/regressing turns are
flagged the moment they arrive. This is the operator Spark's built-in
streaming aggregations can't express (they can count, but can't emit
per-row verdicts against accumulated per-key history) — hence
``applyInPandasWithState`` (Arrow-batched, GroupState-backed), per
the build brief's custom-operator ladder.

State per conv_id: (max_turn_idx, seen-set as a sorted tuple capped
at STATE_CAP). The cap bounds state size for hot conversations — a
10^9-turn conversation keeps only a bounded recent window plus the
max; duplicate detection degrades gracefully to monotonicity checking
(documented, not silent: the emitted row carries ``state_capped``).
A processing-time timeout expires idle conversations so total state
is bounded by the active-conversation working set.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_CAP = 10_000

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("anomaly", T.StringType()),  # duplicate_turn | regressed_turn
        T.StructField("max_seen", T.IntegerType()),
        T.StructField("state_capped", T.BooleanType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("max_turn", T.IntegerType()),
        T.StructField("seen", T.ArrayType(T.IntegerType())),
        T.StructField("capped", T.BooleanType()),
    ]
)


_OUT_COLUMNS = ["conv_id", "turn_idx", "anomaly", "max_seen", "state_capped"]


def _check_turns(conv_id, turns, max_turn, seen, capped, out_rows):
    """The per-turn verdict kernel shared by both state layouts:
    appends one row per duplicate/regressed turn to ``out_rows`` and
    returns the updated (max_turn, seen, capped). Once the seen-set
    is capped, a late turn below the kept window is reported as
    regressed (duplicate and late-but-new are indistinguishable)."""
    for t in turns:
        t = int(t)
        if t in seen:
            out_rows.append((conv_id, t, "duplicate_turn", max_turn, capped))
        elif t < max_turn:
            out_rows.append((conv_id, t, "regressed_turn", max_turn, capped))
        max_turn = max(max_turn, t)
        seen.add(t)
        if len(seen) > STATE_CAP:
            # keep the most recent window; flag the cap
            seen = set(sorted(seen)[-STATE_CAP:])
            capped = True
    return max_turn, seen, capped


def _make_validator(impl, idle_timeout_ms: int):
    def _validate(key, pdfs, state):
        return impl(key, pdfs, state, idle_timeout_ms)

    return _validate


def _emit(state: GroupState, out_rows: list, idle_timeout_ms: int):
    if idle_timeout_ms > 0:
        state.setTimeoutDuration(idle_timeout_ms)
    if out_rows:
        yield pd.DataFrame(out_rows, columns=_OUT_COLUMNS)


def _validate_conv_impl(
    key: Tuple[str],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    idle_timeout_ms: int,
) -> Iterator[pd.DataFrame]:
    """Per-conversation stateful check: emits one row per anomalous
    turn (duplicate or out-of-order arrival below current max)."""
    conv_id = key[0]
    if state.hasTimedOut:
        state.remove()
        return
    if state.exists:
        max_turn, seen_list, capped = state.get
        seen = set(seen_list)
    else:
        max_turn, seen, capped = -1, set(), False

    out_rows = []
    for pdf in pdfs:
        max_turn, seen, capped = _check_turns(
            conv_id, pdf["turn_idx"].to_numpy(), max_turn, seen, capped, out_rows
        )
    state.update((max_turn, sorted(seen), capped))
    yield from _emit(state, out_rows, idle_timeout_ms)


BUCKET_STATE_SCHEMA = T.StructType(
    [
        T.StructField("conv_ids", T.ArrayType(T.StringType())),
        T.StructField("max_turns", T.ArrayType(T.IntegerType())),
        T.StructField("seens", T.ArrayType(T.ArrayType(T.IntegerType()))),
        T.StructField("caps", T.ArrayType(T.BooleanType())),
    ]
)


def _validate_bucket_impl(
    key: Tuple[int],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    idle_timeout_ms: int,
) -> Iterator[pd.DataFrame]:
    """Bucketed variant of :func:`_validate_conv_impl`: one state group
    holds MANY conversations (a dict keyed by conv_id, serialized as
    parallel arrays). Identical per-conversation verdict semantics."""
    if state.hasTimedOut:
        state.remove()
        return
    if state.exists:
        conv_ids, max_turns, seens, caps = state.get
        st = {
            c: (m, set(s), cp)
            for c, m, s, cp in zip(conv_ids, max_turns, seens, caps)
        }
    else:
        st = {}

    out_rows = []
    for pdf in pdfs:
        for conv_id, sub in pdf.groupby("conv_id", sort=False):
            max_turn, seen, capped = st.get(conv_id, (-1, set(), False))
            st[conv_id] = _check_turns(
                conv_id, sub["turn_idx"].to_numpy(), max_turn, seen, capped, out_rows
            )

    items = sorted(st.items())
    state.update(
        (
            [c for c, _ in items],
            [v[0] for _, v in items],
            [sorted(v[1]) for _, v in items],
            [v[2] for _, v in items],
        )
    )
    yield from _emit(state, out_rows, idle_timeout_ms)


def stateful_turn_checks(
    stream_df: DataFrame, idle_timeout_ms: int = 0, bucket_by: int = 0
) -> DataFrame:
    """conv-keyed stateful anomaly stream: input needs (conv_id,
    turn_idx); output one row per duplicate/regressed turn.

    ``idle_timeout_ms > 0`` enables ProcessingTimeTimeout eviction of
    idle conversations — required for run-forever streams (bounded
    state) but it keeps availableNow/batch-drain triggers alive until
    every timeout fires ('No new data but cleaning up state'), so
    leave it 0 for drain-style runs and tests.

    ``bucket_by > 0`` is the THROUGHPUT configuration — state
    key-space compaction: conversations are grouped into
    ``bucket_by`` hash buckets and one state group carries all of a
    bucket's conversations (per-conv semantics unchanged, parity
    test-pinned). Measured on this box the per-group dispatch of
    applyInPandasWithState costs ~the whole stateful wall at 60k
    conversation keys (a NO-OP state function runs as slow as the
    real one — BENCH.md r4); bucketing to a few thousand groups
    amortizes the dispatch ~15×. Trade-offs: idle-timeout eviction
    becomes per-bucket (a bucket survives while ANY of its convs is
    active) and per-bucket state must fit an Arrow batch — size
    ``bucket_by`` to ~active_convs/16 at 10^12 turns."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms > 0
        else GroupStateTimeout.NoTimeout
    )
    base = stream_df.select("conv_id", "turn_idx")
    if bucket_by > 0:
        from pyspark.sql import functions as F

        return (
            base.withColumn(
                "__bucket", F.pmod(F.xxhash64("conv_id"), F.lit(bucket_by))
            )
            .groupBy("__bucket")
            .applyInPandasWithState(
                _make_validator(_validate_bucket_impl, idle_timeout_ms),
                outputStructType=OUTPUT_SCHEMA,
                stateStructType=BUCKET_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=timeout,
            )
        )
    return base.groupBy("conv_id").applyInPandasWithState(
        _make_validator(_validate_conv_impl, idle_timeout_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )
