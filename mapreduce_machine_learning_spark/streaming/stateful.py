"""Custom stateful streaming operator: sessionization via
``applyInPandasWithState`` (SURVEY §2.7 "custom stateful operators").

Spark's built-in ``session_window`` covers the declared contract; this module
is the escape hatch the reference's imperative reducers would need for
session logic the built-in can't express (per-session custom payloads,
conditional resets, side outputs). State is one (start, end, count) triple
per user — microbatches arrive, each group's rows are merged into the open
session, closed sessions are emitted downstream.

Scale notes: state lives in the state store keyed by user_id — bounded by
active users, not history; emitted sessions leave state immediately. The
pandas function sees one Arrow batch per (user, microbatch), so per-call cost
is vectorized. In production add a timeout (GroupStateTimeout) to evict idle
users; the bounded-replay tests use NoTimeout and assert against the batch
gaps-and-islands result.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mapreduce_machine_learning_spark.io import worker_prelude

OUTPUT_SCHEMA = (
    "user_id bigint, session_start_us bigint, session_end_us bigint, events bigint"
)
STATE_SCHEMA = "start bigint, end bigint, cnt bigint"


def sessionize_stateful(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """events (user_id, ts) stream → closed sessions as epoch-microsecond
    bounds. A session still open when the stream ends stays in state (the
    caller decides whether to flush — the bounded-replay test accounts for
    exactly the per-user final session)."""
    gap_us = gap_minutes * 60 * 1_000_000

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        worker_prelude()
        rows = pd.concat(list(pdfs), ignore_index=True)
        # pandas datetime64[ns] → epoch microseconds
        ts_us = (rows["ts"].astype("int64") // 1000).sort_values().to_list()
        if state.exists:
            start, end, cnt = state.get
        else:
            start = end = cnt = None
        closed: list[tuple[int, int, int, int]] = []
        uid = key[0]
        for t in ts_us:
            if cnt is None:
                start, end, cnt = t, t, 1
            elif t - end > gap_us:
                closed.append((uid, start, end, cnt))
                start, end, cnt = t, t, 1
            else:
                end, cnt = t, cnt + 1
        state.update((start, end, cnt))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "session_start_us", "session_end_us", "events"],
            )

    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


EWMA_OUTPUT_SCHEMA = "event_type string, day_us bigint, ewma double"
EWMA_STATE_SCHEMA = "s double"


def ewma_stateful(daily: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Streaming EWMA over a per-key daily series: state is ONE double per
    key (the running smoothed value s), updated s ← α·x + (1−α)·s as each
    day's mean arrives, emitting the post-update EWMA per day. This is the
    live twin of the batch closed form in
    operators/streaming_batch.q_stream_ewma — the telescoped weighted sum
    and this recursion are algebraically identical, and the equivalence
    test pins them to 1e-9. Rows within a microbatch are applied in day
    order; day ordering ACROSS batches is the caller's replay contract
    (time-ranged file staging in the test, ordered Kafka partitions in
    production). O(1) state per key — the smallest possible stateful
    operator, and the shape (tiny numeric state, order-sensitive update)
    that Spark's built-in windowed aggs cannot express."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        worker_prelude()
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("day_us")
        s = state.get[0] if state.exists else None
        out = []
        for day_us, m in zip(rows["day_us"], rows["m"]):
            s = float(m) if s is None else alpha * float(m) + (1 - alpha) * s
            out.append((key[0], int(day_us), s))
        state.update((s,))
        yield pd.DataFrame(out, columns=["event_type", "day_us", "ewma"])

    return daily.groupBy("event_type").applyInPandasWithState(
        fn,
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
