"""Custom stateful streaming operator: incremental sessionization with
``applyInPandasWithState``.

The batch sessionizer (operators/sessionize.py) needs the whole history
of a conversation; on an unbounded stream that state must live in the
engine.  This operator keeps ONE open session per conversation in Spark's
keyed state store and emits a session row exactly when it closes — either
because a turn arrives after more than ``gap`` of inactivity (the next
session opens), or because the group times out without new data
(processing-time timeout ≈ the inactivity gap, the
``applyInPandasWithState`` idiom for flush-on-idle).

State per key: (session_start_us, last_ts_us, n_turns) — three int64s, so
state size is O(active conversations), not O(turns): the bounded-state
property the reference gets from its prefetch window (SURVEY.md §2 A15).

Semantics match the batch islands for in-order delivery; out-of-order
turns within a batch are sorted before folding, late turns across batches
(earlier than the open session's last ts) count into the open session —
the documented stream-vs-batch divergence (same family as the watermark
drop of streaming/stream.py ``streaming_sliding_rollup``).

Durations (``gap``, ``for_duration``) are the engine's fixed-width
``"<n> <unit>"`` strings, parsed by ``timegrid.duration_us``.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import col as F_col
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mq_to_db_spark.operators.timegrid import duration_us

SESSION_SCHEMA = (
    "conv_id string, session_start timestamp, session_end timestamp, "
    "n_turns long, closed_by string"
)

_STATE_SCHEMA = "start_us long, last_us long, n long"


def _fold_sessions(
    key: Tuple[str],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    gap_us: int,
    idle_timeout: bool = False,
):
    conv_id = key[0]
    if state.hasTimedOut:
        start_us, last_us, n = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "conv_id": [conv_id],
                "session_start": pd.to_datetime([start_us], unit="us"),
                "session_end": pd.to_datetime([last_us], unit="us"),
                "n_turns": [n],
                "closed_by": ["timeout"],
            }
        )
        return

    ts_all = pd.concat([p["ts"] for p in pdfs]).sort_values()
    us = ts_all.astype("datetime64[us]").astype("int64").to_numpy()
    if state.exists:
        start_us, last_us, n = state.get
    else:
        start_us, last_us, n = int(us[0]), int(us[0]) - 1, 0

    out_start, out_end, out_n = [], [], []
    for t in us.tolist():
        if n > 0 and t - last_us > gap_us:
            out_start.append(start_us)
            out_end.append(last_us)
            out_n.append(n)
            start_us, n = t, 0
        last_us = max(last_us, t)
        n += 1
    state.update((start_us, last_us, n))
    if idle_timeout:
        # flush-on-idle: close the open session if no new turn arrives
        # within the inactivity gap (processing-time approximation).
        # NOTE: a query with registered processing-time timeouts does not
        # self-terminate under trigger(availableNow) — use only with
        # continuous triggers.
        state.setTimeoutDuration(max(gap_us // 1000, 1))

    if out_n:
        yield pd.DataFrame(
            {
                "conv_id": [conv_id] * len(out_n),
                "session_start": pd.to_datetime(out_start, unit="us"),
                "session_end": pd.to_datetime(out_end, unit="us"),
                "n_turns": out_n,
                "closed_by": ["gap"] * len(out_n),
            }
        )


def streaming_sessionize(
    stream: DataFrame,
    gap: str = "30 minutes",
    key: str = "conv_id",
    idle_timeout: bool = False,
) -> DataFrame:
    """Unbounded-stream sessionization: one output row per CLOSED session
    (append-mode friendly), state bounded by active conversations."""
    try:
        gap_us = duration_us(gap)
    except ValueError as exc:
        raise ValueError(f"unparseable gap interval {gap!r}") from exc

    def fold(key_, pdfs, state):
        yield from _fold_sessions(key_, pdfs, state, gap_us, idle_timeout)

    return (
        stream.select(key, "ts")
        .withColumnRenamed(key, "conv_id")
        .groupBy("conv_id")
        .applyInPandasWithState(
            fold,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if idle_timeout
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


# -- streaming alert lifecycle (pending → firing → resolved) ------------------

ALERT_SCHEMA = (
    "series string, event string, run_start timestamp, event_ts timestamp, "
    "n_samples long, peak long"
)

_ALERT_STATE_SCHEMA = "start_us long, last_us long, peak long, n long, fired boolean"


def _fold_alerts(
    key: Tuple[str],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    threshold: int,
    for_us: int,
):
    series = key[0]
    if state.hasTimedOut:  # pragma: no cover - no timeout conf registered
        state.remove()
        return

    pdf = pd.concat(list(pdfs)).sort_values("ts")
    ts_us = pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy()
    vals = pdf["v"].to_numpy()

    if state.exists:
        start_us, last_us, peak, n, fired = state.get
        has_run = True
    else:
        start_us = last_us = peak = n = 0
        fired = False
        has_run = False

    ev_name, ev_start, ev_ts, ev_n, ev_peak = [], [], [], [], []
    for t, v in zip(ts_us.tolist(), vals.tolist()):
        if v > threshold:
            if not has_run:
                start_us, last_us, peak, n, fired = t, t, v, 1, False
                has_run = True
            else:
                last_us, peak, n = t, max(peak, int(v)), n + 1
            if not fired and last_us - start_us >= for_us:
                fired = True
                ev_name.append("firing")
                ev_start.append(start_us)
                ev_ts.append(t)
                ev_n.append(n)
                ev_peak.append(peak)
        elif has_run:
            if fired:
                ev_name.append("resolved")
                ev_start.append(start_us)
                ev_ts.append(last_us)
                ev_n.append(n)
                ev_peak.append(peak)
            # a pending (never-fired) run is dropped silently — exactly
            # Prometheus' alert lifecycle: pending alerts never notify
            has_run = False

    if has_run:
        state.update((int(start_us), int(last_us), int(peak), int(n), bool(fired)))
    elif state.exists:
        state.remove()

    if ev_name:
        yield pd.DataFrame(
            {
                "series": [series] * len(ev_name),
                "event": ev_name,
                "run_start": pd.to_datetime(ev_start, unit="us"),
                "event_ts": pd.to_datetime(ev_ts, unit="us"),
                "n_samples": ev_n,
                "peak": ev_peak,
            }
        )


def streaming_alerts(
    stream: DataFrame,
    threshold: int,
    for_duration: str = "5 minutes",
    key: str = "series",
    ts_col: str = "ts",
    value_col: str = "v",
) -> DataFrame:
    """Prometheus alert lifecycle over an unbounded stream: a series
    whose value HOLDS above ``threshold`` for at least ``for_duration``
    emits one ``firing`` row (at the sample that completed the hold);
    when it drops back, one ``resolved`` row (stamped at the last
    above-threshold sample).  Runs that never reach the hold duration
    (Prometheus "pending") emit nothing — the batch mirror is
    operators/changepoint.py ``threshold_episodes``.

    State per series: (run_start, last, peak, n, fired) — five scalars,
    O(active series), the same bounded-state discipline as
    :func:`streaming_sessionize`.  Values must be integer (micro-unit
    convention); samples are folded in ts order within each batch, and
    per-series ts is assumed non-decreasing across batches (the
    transcript/metrics delivery order)."""
    try:
        for_us = duration_us(for_duration)
    except ValueError as exc:
        raise ValueError(f"unparseable for_duration {for_duration!r}") from exc

    def fold(key_, pdfs, state):
        yield from _fold_alerts(key_, pdfs, state, int(threshold), for_us)

    return (
        stream.select(
            F_col(key).alias("series"),
            F_col(ts_col).alias("ts"),
            F_col(value_col).alias("v"),
        )
        .groupBy("series")
        .applyInPandasWithState(
            fold,
            outputStructType=ALERT_SCHEMA,
            stateStructType=_ALERT_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
