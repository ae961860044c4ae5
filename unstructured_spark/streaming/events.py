"""Streaming event analytics: watermarked windowed aggregation and a
custom stateful sessionizer (SURVEY §2.10 streaming row: "watermarks +
windowed aggs for late data; applyInPandasWithState for custom
stateful operators").

These operate on an event stream with (ts timestamp, user_id, value):
the batch twins live in the driver contract (q_events_daily,
q_events_sessionize); the streaming forms handle unbounded input with
bounded state — the watermark ages out window state, and the
sessionizer's processing-time timeout flushes idle sessions.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("closed", T.BooleanType()),
    ]
)

_STATE_SCHEMA = "start timestamp, end timestamp, n bigint, total double"


def windowed_event_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts/sums with a watermark: late events inside
    the watermark still update their window; older state is dropped
    (bounded state on an unbounded stream)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionize_stream(
    events: DataFrame,
    *,
    gap_seconds: int = 1800,
    idle_timeout_ms: int = 60_000,
) -> DataFrame:
    """Custom stateful session windows via ``applyInPandasWithState``:
    per-user running session carried in GroupState; a new event beyond
    ``gap_seconds`` closes the open session and starts a new one; the
    processing-time timeout flushes sessions with no traffic.

    This is the operator Structured Streaming's built-in windows can't
    express (data-driven window boundaries)."""

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        rows = []
        if state.hasTimedOut:
            if state.exists:
                start, end, n, total = state.get
                rows.append((user_id, start, end, n, float(total), True))
                state.remove()
        else:
            events_pdf = pd.concat(list(pdfs)).sort_values("ts")
            if state.exists:
                start, end, n, total = state.get
            else:
                start = end = None
                n, total = 0, 0.0
            for ev in events_pdf.itertuples(index=False):
                ts = ev.ts
                if start is not None and (ts - end).total_seconds() > gap_seconds:
                    rows.append((user_id, start, end, n, float(total), True))
                    start = end = None
                    n, total = 0, 0.0
                # min/max, not overwrite: sort_values only orders WITHIN
                # a batch, so a late cross-batch event must extend the
                # session backwards instead of regressing its end (which
                # would both corrupt session_end and inflate the next
                # gap measurement)
                start = ts if start is None else min(start, ts)
                end = ts if end is None else max(end, ts)
                n += 1
                total += float(ev.value)
            state.update((start, end, n, float(total)))
            state.setTimeoutDuration(idle_timeout_ms)
            # also emit the open session's running shape (closed=False)
            rows.append((user_id, start, end, n, float(total), False))
        yield pd.DataFrame(
            rows,
            columns=[
                "user_id", "session_start", "session_end",
                "n_events", "total_value", "closed",
            ],
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def _funnel_fold(
    state: tuple | None,
    events: list[tuple[int, str]],
    steps: list[str],
    w_us: int,
) -> tuple:
    """One batch of the streaming-funnel state fold, pure and
    property-testable: merge ``events`` (epoch-micros, event_type)
    into ``state`` = (t1, candidates_step2, ..., candidates_stepk),
    pruning step candidates above the only-ever-decreasing deadline
    ``t1 + w_us``. The invariant the property test pins: folding any
    partition of an event sequence through this function yields the
    same chain as one batch over all events."""
    k = len(steps)
    if state is None:
        t1, cands = None, [[] for _ in range(k - 1)]
    else:
        t1, *cands = state
        cands = [list(c or []) for c in cands]
    for u, et in events:
        u = int(u)
        if et == steps[0]:
            t1 = u if t1 is None else min(t1, u)
        else:
            for i, s in enumerate(steps[1:]):
                if et == s:
                    cands[i].append(u)
    if t1 is not None:
        deadline = t1 + w_us
        cands = [sorted(u for u in set(c) if u <= deadline) for c in cands]
    else:
        cands = [sorted(set(c)) for c in cands]
    return (t1, *cands)


def _funnel_chain(state: tuple, w_us: int) -> list:
    """Recompute (t1..tk) from folded state: t_i = min step-i candidate
    in [t_{i-1}, t1 + w_us] — identical to the batch conditional-min
    window chain (operators/funnel.funnel)."""
    t1, *cands = state
    ts = [t1]
    deadline = None if t1 is None else t1 + w_us
    prev = t1
    for c in cands:
        nxt = None
        if prev is not None:
            ok = [u for u in c if prev <= u <= deadline]
            nxt = min(ok) if ok else None
        ts.append(nxt)
        prev = nxt
    return ts


def funnel_stream(
    events: DataFrame,
    steps: list[str],
    *,
    within_seconds: int,
    idle_timeout_ms: int = 60_000,
) -> DataFrame:
    """Streaming twin of ``operators.funnel.funnel`` (the windowed
    conditional-min chain: t1 = min step-1 time; t_i = min step-i time
    in ``[t_{i-1}, t1 + within]``) via ``applyInPandasWithState``.

    Exactness under out-of-order arrival: a later batch can lower t1,
    which lowers every downstream bound, so per-user state keeps, for
    each step i >= 2, ALL candidate times <= the current deadline
    ``t1 + within`` — times above it are discarded permanently (the
    deadline only decreases as t1 decreases), which is what bounds the
    state: once a user's t1 arrives, per-step state holds at most the
    step's events inside the funnel window. t1 itself is a plain
    monotone min. Every update emits the user's current chain
    (closed=false); the processing-time timeout emits the final chain
    (closed=true) and drops the state.

    Column-identical to the batch operator (t1..tk epoch-micros, stage)
    plus ``closed`` — ``tests/test_embed_multimodal_streaming.py`` pins
    stream/batch agreement on a shared fixture.
    """
    if len(steps) < 2:
        raise ValueError("a funnel needs at least two steps")
    k = len(steps)
    w_us = int(within_seconds) * 1_000_000

    # epoch conversion happens JVM-side (unix_micros) BEFORE the
    # stateful operator: pandas inside applyInPandasWithState sees
    # session-timezone-naive datetimes, so converting there would skew
    # t1..tk by the tz offset vs the batch operator's unix_micros
    # whenever the session timezone is not UTC
    if "us" not in events.columns:
        events = events.select(
            "user_id",
            F.unix_micros(F.col("ts")).alias("us"),
            "event_type",
        )

    out_fields = [T.StructField("user_id", T.LongType())]
    out_fields += [T.StructField(f"t{i}", T.LongType()) for i in range(1, k + 1)]
    out_fields += [
        T.StructField("stage", T.LongType()),
        T.StructField("closed", T.BooleanType()),
    ]
    out_schema = T.StructType(out_fields)
    state_schema = T.StructType(
        [T.StructField("t1", T.LongType())]
        + [
            T.StructField(f"c{i}", T.ArrayType(T.LongType()))
            for i in range(2, k + 1)
        ]
    )
    out_cols = [f.name for f in out_fields]

    def row(user_id, ts, closed):
        stage = 1
        for v in ts[1:]:
            stage += 1 if v is not None else 0
        return (user_id, *ts, stage, closed)

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        rows = []
        if state.hasTimedOut:
            if state.exists:
                ts = _funnel_chain(tuple(state.get), w_us)
                if ts[0] is not None:
                    rows.append(row(user_id, ts, True))
                state.remove()
        else:
            pdf = pd.concat(list(pdfs))
            st = _funnel_fold(
                tuple(state.get) if state.exists else None,
                list(zip(pdf["us"], pdf["event_type"])),
                steps,
                w_us,
            )
            state.update(st)
            state.setTimeoutDuration(idle_timeout_ms)
            ts = _funnel_chain(st, w_us)
            if ts[0] is not None:
                rows.append(row(user_id, ts, False))
        yield pd.DataFrame(rows, columns=out_cols)

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
