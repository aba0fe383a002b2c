"""Custom stateful streaming operators (applyInPandasWithState).

The reference's funnel is stage *counts* (snowflake_refresh.py:30-39) —
that parity lives in windows.tumbling_event_counts. This module adds
the operator class Spark's built-ins can't express: an ORDERED per-user
funnel tracker ("view → cart → purchase, in that order, millisecond
latency" is the reference README's aspiration, README.md:5) as
arbitrary per-key state over a stream.

Semantics (strict, tie-robust): a conversion is the greedy sequential
match v < c < p with v = the earliest stage-0 event strictly after the
previous conversion's completion, c = the earliest stage-1 event
strictly after v, and p = the earliest stage-2 event strictly after c.
Strict inequalities make the result independent of how equal-timestamp
events are ordered, so the operator is deterministic under any
partitioning — and expressible as a recursive SQL oracle (the
registered batch query is hash-checked against a DuckDB recursive CTE).

Design:
- keyed by user; state = (furthest funnel stage reached, its event
  time, first-seen time);
- the replay is vectorized: per (user, stage) sorted timestamp arrays
  + numpy searchsorted per machine step — O(conversions · log n) per
  user, no per-event Python loop;
- completed funnels emit one row (user, started_at, completed_at,
  seconds_to_convert) and reset — the operator's output stream is the
  conversion log;
- state is bounded by an event-time timeout under a watermark on
  ``ts``: a user is evicted (emitting nothing) once the stream's event
  time has moved ``timeout_minutes`` past their last event, which is
  what keeps 100 TB of users from accumulating state forever. Event
  time, not wall-clock time, so a bounded ``availableNow`` backfill
  drains and stops.

The same machine doubles as a batch operator — partition-wise
``mapInPandas`` over user-sorted partitions (no per-group pandas
overhead; see funnel_conversions_batch) — used by the batch parity
test and the registry's oracle-checked query.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

FUNNEL_STAGES = ("view", "cart", "purchase")

CONVERSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("started_at", T.TimestampType()),
        T.StructField("completed_at", T.TimestampType()),
        T.StructField("seconds_to_convert", T.DoubleType()),
    ]
)

_STATE_SCHEMA = "stage INT, stage_ts BIGINT, started BIGINT"


def _advance(events: pd.DataFrame, stage: int, stage_ts: int, started: int, stages):
    """Advance the strict greedy stage machine over a batch of events.

    Times are integer epoch-MICROseconds throughout — float seconds
    round-trip with sub-microsecond noise that Arrow then (rightly)
    refuses to cast back into a timestamp[us] column.

    Vectorized: one sorted int64 array per stage, each machine step a
    numpy searchsorted (first event of the wanted stage strictly after
    the current stage's timestamp). Equivalent to an event-at-a-time
    replay in timestamp order, but O(conversions · log n) instead of
    O(n) Python-loop iterations.
    """
    # normalize to ns first: the series unit varies by Arrow/pandas version
    ts_us = events["ts"].to_numpy(dtype="datetime64[ns]").astype("int64") // 1000
    et = events["event_type"].to_numpy()
    by_stage = [np.sort(ts_us[et == s]) for s in stages]
    return _replay(by_stage, stage, stage_ts, started)


def _replay(by_stage: list, stage: int, stage_ts: int, started: int):
    """The machine core over pre-sorted per-stage timestamp arrays."""
    conversions = []
    n_stages = len(by_stage)
    while True:
        if stage == 0:
            views = by_stage[0]
            i = int(np.searchsorted(views, stage_ts, side="right"))
            if i >= len(views):
                break
            started = stage_ts = int(views[i])
            stage = 1
        stalled = False
        while 0 < stage < n_stages:
            arr = by_stage[stage]
            j = int(np.searchsorted(arr, stage_ts, side="right"))
            if j >= len(arr):
                stalled = True
                break
            stage_ts = int(arr[j])
            stage += 1
        if stalled:
            break
        conversions.append((started, stage_ts, (stage_ts - started) / 1_000_000.0))
        stage = 0  # stage_ts keeps the purchase ts: next view must be later
    return conversions, stage, stage_ts, started


def funnel_conversions_stateful(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    stages: tuple[str, ...] = FUNNEL_STAGES,
    timeout_minutes: int = 60,
) -> DataFrame:
    """Streaming ordered-funnel tracker. Input must be a streaming
    frame; output appends one row per completed funnel.

    The watermark on ``ts`` trails the newest event time seen by
    ``timeout_minutes``. A user's state expires once the watermark
    passes their last event; a user whose new events all lie behind
    the watermark expires at its next advance."""

    def track(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        stage, stage_ts, started = state.get if state.exists else (0, 0, 0)
        out = []
        last_ms = 0
        for pdf in pdf_iter:
            convs, stage, stage_ts, started = _advance(
                pdf, stage, stage_ts, started, stages
            )
            out.extend(convs)
            last_ms = max(last_ms, int(pdf["ts"].max().value // 1_000_000))
        state.update((stage, stage_ts, started))
        # the operator does not drop late rows, and a timeout may not
        # lie behind the watermark
        state.setTimeoutTimestamp(max(last_ms, state.getCurrentWatermarkMs()))
        if out:
            yield pd.DataFrame(
                {
                    "user_id": user_id,
                    "started_at": [pd.Timestamp(s * 1000) for s, _, _ in out],
                    "completed_at": [pd.Timestamp(c * 1000) for _, c, _ in out],
                    "seconds_to_convert": [d for _, _, d in out],
                }
            )

    renamed = (
        events.filter(F.col("event_type").isin(list(stages)))
        .selectExpr(f"{user_col} AS user_id", f"{ts_col} AS ts", "event_type")
        .withWatermark("ts", f"{timeout_minutes} minutes")
    )
    return renamed.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType=CONVERSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def funnel_conversions_batch(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    stages: tuple[str, ...] = FUNNEL_STAGES,
) -> DataFrame:
    """Batch twin of the stateful tracker: same strict stage machine,
    partition-wise.

    NOT ``groupBy(user).applyInPandas``: that pays a per-GROUP pandas
    DataFrame construction (~ms each), which at millions of users is
    hours of pure overhead. Instead: hash-repartition by user (AQE free
    to size the shuffle), sort each partition by (user, ts), and run ONE
    ``mapInPandas`` over whole partitions — per-user slices come from
    numpy boundary detection on the sorted user column, per-user cost is
    a few searchsorteds, and Arrow moves data in big batches. Non-stage
    events are filtered BEFORE the shuffle, so only funnel rows move.
    """

    def run(batches):
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            # the partition's last user may continue in the next Arrow
            # batch — hold its rows back until the user is complete
            uid = pdf["user_id"].to_numpy()
            cut = int(np.searchsorted(uid, uid[-1], side="left"))
            carry = pdf.iloc[cut:]
            body = pdf.iloc[:cut]
            if len(body):
                yield _process_sorted(body, stages)
        if carry is not None and len(carry):
            yield _process_sorted(carry, stages)

    renamed = (
        events.filter(F.col("event_type").isin(list(stages)))
        .selectExpr(f"{user_col} AS user_id", f"{ts_col} AS ts", "event_type")
        .repartition("user_id")
        .sortWithinPartitions("user_id", "ts")
    )
    return renamed.mapInPandas(run, schema=CONVERSION_SCHEMA)


def _process_sorted(pdf: pd.DataFrame, stages) -> pd.DataFrame:
    """Run the machine over a (user_id, ts)-sorted frame; one output row
    per completed conversion."""
    uid = pdf["user_id"].to_numpy()
    ts_us = pdf["ts"].to_numpy(dtype="datetime64[ns]").astype("int64") // 1000
    et = pdf["event_type"].to_numpy()
    stage_idx = {s: i for i, s in enumerate(stages)}
    si = np.array([stage_idx[e] for e in et], dtype=np.int8)
    starts = np.flatnonzero(np.r_[True, uid[1:] != uid[:-1]])
    ends = np.r_[starts[1:], len(uid)]
    out_uid: list[int] = []
    out_started: list[int] = []
    out_completed: list[int] = []
    for s, e in zip(starts, ends):
        # per-stage slices are already ts-sorted (partition sort order)
        seg_si, seg_ts = si[s:e], ts_us[s:e]
        by_stage = [seg_ts[seg_si == k] for k in range(len(stages))]
        convs, *_ = _replay(by_stage, 0, 0, 0)
        for st, cp, _ in convs:
            out_uid.append(int(uid[s]))
            out_started.append(st)
            out_completed.append(cp)
    started_arr = np.array(out_started, dtype="int64")
    completed_arr = np.array(out_completed, dtype="int64")
    return pd.DataFrame(
        {
            "user_id": pd.Series(out_uid, dtype="int64"),
            "started_at": pd.Series((started_arr * 1000).astype("datetime64[ns]")),
            "completed_at": pd.Series((completed_arr * 1000).astype("datetime64[ns]")),
            "seconds_to_convert": pd.Series(
                (completed_arr - started_arr) / 1_000_000.0, dtype="float64"
            ),
        }
    )
