"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference keeps no per-key running state (its tables ARE the
state); this covers the engine's extended streaming scope: an exact
per-user running aggregate whose state is explicitly bounded — keys
idle past an event-time horizon are evicted and emit a terminal row.
That eviction contract is what makes per-key state survive 100 TB /
unbounded key cardinality: state size tracks *active* users, not
all-time users.

Arithmetic is integer cents (``round(value * 100)``) so totals are
exact and engine-portable — the batch analog
(:func:`..plans.analytics.q_running_user_value`) is decimal-exact the
same way.
"""

from __future__ import annotations

from functools import partial
from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _half_up(x, scale: float):
    """Snap ``x * scale`` to int with HALF_UP away from zero — the
    rounding Spark's ``F.round`` uses. Python/pandas ``round()`` is
    banker's (half-even): a value landing exactly on a .5 boundary
    (e.g. 0.0000005 at scale 1e6) would differ stream-vs-batch and
    break the documented batch==stream equivalence."""
    v = np.asarray(x, dtype="float64") * scale
    return np.sign(v) * np.floor(np.abs(v) + 0.5)


def _with_ts_ms(events: DataFrame) -> DataFrame:
    """Epoch millis computed Spark-side (``unix_millis``) so the
    event-time timeout is timezone-invariant: Arrow hands the pandas
    step tz-NAIVE wall-clock timestamps in the session timezone, and
    naive ``Timestamp.timestamp()`` assumes UTC — with a non-UTC
    ``spark.sql.session.timeZone`` that shifted idle-state eviction
    by the tz offset."""
    return events.withColumn("ts_ms", F.expr("unix_millis(ts)"))


def _per_user_state(
    events: DataFrame, fn, output: str, state: str, mode: str, watermark: str
) -> DataFrame:
    """The one ``applyInPandasWithState`` call site: per-user state on
    ``ts_ms``-tagged events, evicted by event-time timeout."""
    return (
        _with_ts_ms(events).withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=output,
            stateStructType=state,
            outputMode=mode,
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


OUTPUT_SCHEMA = (
    "user_id bigint, total_cents bigint, n_events bigint, finalized boolean"
)
STATE_SCHEMA = "total_cents bigint, n_events bigint"


def _accumulate(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    idle_ms: int,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.hasTimedOut:
        # idle past the horizon: emit the terminal row and free state
        total, n = state.get
        state.remove()
        yield pd.DataFrame(
            [{"user_id": user_id, "total_cents": total, "n_events": n,
              "finalized": True}]
        )
        return

    total, n = state.get if state.exists else (0, 0)
    max_ts_ms = None
    for pdf in pdfs:
        cents = _half_up(pdf["value"], 100).astype("int64")
        total += int(cents.sum())
        n += len(pdf)
        ms = int(pdf["ts_ms"].max())
        max_ts_ms = ms if max_ts_ms is None else max(max_ts_ms, ms)
    state.update((total, n))
    if max_ts_ms is not None:
        # event-time eviction: fires once the watermark passes
        # last-seen + idle_ms (state bound = active keys only)
        state.setTimeoutTimestamp(max_ts_ms + idle_ms)
    yield pd.DataFrame(
        [{"user_id": user_id, "total_cents": total, "n_events": n,
          "finalized": False}]
    )


def user_running_totals(
    events: DataFrame,
    watermark: str = "1 hour",
    idle_minutes: int = 10,
) -> DataFrame:
    """Per-user exact running totals with bounded state.

    Emits ``(user_id, total_cents, n_events, finalized=false)`` every
    micro-batch a user is active in, and a single
    ``finalized=true`` terminal row when the watermark passes the
    user's last event + ``idle_minutes`` (state evicted). Requires an
    event-time column ``ts`` and a numeric ``value``.
    """
    fn = partial(_accumulate, idle_ms=idle_minutes * 60_000)
    return _per_user_state(
        events, fn, OUTPUT_SCHEMA, STATE_SCHEMA, "update", watermark
    )


# ---------------------------------------------------------------------------
# streaming twin of the batch decayed score (applyInPandasWithState)
# ---------------------------------------------------------------------------
#
# NOTE on API choice: Spark 4's transformWithStateInPandas would be
# the natural fit (ListState + TTL), but its state server requires
# google.protobuf, absent from this container; applyInPandasWithState
# expresses the same per-key bounded state (the last lookback-1 terms
# ride in an array<bigint> state column) with no extra dependency.

DECAY_OUTPUT_SCHEMA = "event_id bigint, user_id bigint, score_e6 bigint"
DECAY_STATE_SCHEMA = "recent array<bigint>, last_ts_ms bigint"


def _decay_step(
    key, pdfs, state: GroupState, lookback: int, num: int, den: int,
    idle_ms: int,
):
    (user,) = key
    if state.hasTimedOut:
        state.remove()  # idle key: free the (tiny) window state
        yield pd.DataFrame(
            {"event_id": [], "user_id": [], "score_e6": []}
        ).astype({"event_id": "int64", "user_id": "int64", "score_e6": "int64"})
        return
    recent, _ = state.get if state.exists else ([], 0)
    prior = list(recent or [])
    out_ids, out_scores = [], []
    max_ts_ms = 0
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for _, row in pdf.iterrows():
            v = int(_half_up(float(row["value"]), 1e6))
            window = (prior + [v])[-lookback:]
            n = len(window)
            out_ids.append(int(row["event_id"]))
            out_scores.append(
                sum(
                    x * num ** (n - 1 - i) // den ** (n - 1 - i)
                    for i, x in enumerate(window)
                )
            )
            prior = window
        ms = int(pdf["ts_ms"].max())
        max_ts_ms = max(max_ts_ms, ms)
    keep = prior[-(lookback - 1):] if lookback > 1 else []
    state.update((keep, max_ts_ms))
    state.setTimeoutTimestamp(max_ts_ms + idle_ms)
    yield pd.DataFrame(
        {
            "event_id": out_ids,
            "user_id": [int(user)] * len(out_ids),
            "score_e6": out_scores,
        }
    )


def stream_decayed_scores(
    events: DataFrame,
    lookback: int = 8,
    decay_num: int = 9,
    decay_den: int = 10,
    watermark: str = "1 hour",
    idle_minutes: int = 30,
) -> DataFrame:
    """Streaming twin of
    :func:`..operators.temporal.time_decayed_score`: per user, the
    state is just the last ``lookback - 1`` value_e6 terms (an
    array<bigint>), evicted after ``idle_minutes`` past the watermark
    — O(lookback) longs per ACTIVE key, so unbounded key cardinality
    never grows state. Emits the identical exact-integer score the
    batch window computes (asserted by the batch==stream e2e test).

    Ordering contract: per-key event-time order must hold across
    micro-batches (time-split triggers / sorted replay); within a
    batch rows are sorted here.
    """
    fn = partial(
        _decay_step, lookback=lookback, num=decay_num, den=decay_den,
        idle_ms=idle_minutes * 60_000,
    )
    return _per_user_state(
        events, fn, DECAY_OUTPUT_SCHEMA, DECAY_STATE_SCHEMA, "append", watermark
    )


# ---------------------------------------------------------------------------
# streaming twin of the batch Markov transition extraction
# ---------------------------------------------------------------------------

TRANSITION_OUTPUT_SCHEMA = "user_id bigint, prev_type string, next_type string"
TRANSITION_STATE_SCHEMA = "last_type string, last_ts_ms bigint"


def _transition_step(key, pdfs, state: GroupState, idle_ms: int):
    (user,) = key
    if state.hasTimedOut:
        state.remove()
        yield pd.DataFrame(
            {"user_id": [], "prev_type": [], "next_type": []}
        ).astype({"user_id": "int64", "prev_type": "str", "next_type": "str"})
        return
    last, _ = state.get if state.exists else (None, 0)
    prevs, nexts = [], []
    max_ts_ms = 0
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for _, row in pdf.iterrows():
            cur = str(row["event_type"])
            if last is not None:
                prevs.append(last)
                nexts.append(cur)
            last = cur
        ms = int(pdf["ts_ms"].max())
        max_ts_ms = max(max_ts_ms, ms)
    state.update((last, max_ts_ms))
    state.setTimeoutTimestamp(max_ts_ms + idle_ms)
    yield pd.DataFrame(
        {
            "user_id": [int(user)] * len(prevs),
            "prev_type": prevs,
            "next_type": nexts,
        }
    )


def stream_event_transitions(
    events: DataFrame,
    watermark: str = "1 hour",
    idle_minutes: int = 60,
) -> DataFrame:
    """Per-user (prev_type, next_type) steps over a stream — the
    state is ONE string per active user (the last event type seen),
    TTL-evicted, so unbounded user cardinality never grows it. The
    emitted step multiset equals the batch ``lag`` extraction of
    `q_event_transitions` when batches respect per-key time order
    (asserted by the batch==stream e2e test); aggregate downstream
    for the transition matrix."""
    fn = partial(_transition_step, idle_ms=idle_minutes * 60_000)
    return _per_user_state(
        events, fn, TRANSITION_OUTPUT_SCHEMA, TRANSITION_STATE_SCHEMA,
        "append", watermark,
    )


# ---------------------------------------------------------------------------
# streaming twin of the batch session-path extraction
# ---------------------------------------------------------------------------

PATHS_OUTPUT_SCHEMA = "user_id bigint, path string"
PATHS_STATE_SCHEMA = "t1 string, t2 string, last_sec bigint"


def _paths_step(key, pdfs, state: GroupState, gap_s: int, idle_ms: int):
    (user,) = key
    if state.hasTimedOut:
        state.remove()
        yield pd.DataFrame({"user_id": [], "path": []}).astype(
            {"user_id": "int64", "path": "str"}
        )
        return
    t1, t2, last_sec = state.get if state.exists else (None, None, 0)
    out = []
    max_ms = 0
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for _, row in pdf.iterrows():
            ms = int(row["ts_ms"])
            sec = ms // 1000  # batch twin truncates to seconds first
            if last_sec and sec - last_sec > gap_s:
                t1, t2 = None, None  # session border: trigram buffer resets
            cur = str(row["event_type"])
            if t1 is not None and t2 is not None:
                out.append(f"{t1}>{t2}>{cur}")
            t1, t2 = t2, cur
            last_sec = sec
            max_ms = max(max_ms, ms)
    state.update((t1, t2, last_sec))
    state.setTimeoutTimestamp(max_ms + idle_ms)
    yield pd.DataFrame(
        {"user_id": [int(user)] * len(out), "path": out}
    )


def stream_session_paths(
    events: DataFrame,
    gap_minutes: int = 10,
    watermark: str = "1 hour",
    idle_minutes: int = 30,
) -> DataFrame:
    """Streaming twin of the batch `session_paths` trigram walk: per
    user the state is just the last TWO event types of the current
    session plus the last event second — O(1) per ACTIVE key, gap
    splits identical to the batch query's truncated-seconds test,
    TTL-evicted past the watermark. Emits one ``(user_id, path)`` row
    per completed trigram; aggregate downstream for the path counts
    (asserted equal to the batch multiset by the e2e test).

    Ordering contract: same as :func:`stream_decayed_scores` — per-key
    event-time order across micro-batches; in-batch rows sorted here.
    """
    fn = partial(
        _paths_step, gap_s=gap_minutes * 60, idle_ms=idle_minutes * 60_000
    )
    return _per_user_state(
        events, fn, PATHS_OUTPUT_SCHEMA, PATHS_STATE_SCHEMA, "append", watermark
    )
