"""Ordered per-user funnel: a strict stage machine over events.

The reference's funnel is stage *counts* (snowflake_refresh.py:30-39) —
that parity lives in windows.tumbling_event_counts, and the streaming
views keep counts only. This module adds the ordered form ("view →
cart → purchase, in that order" is the reference README's aspiration,
README.md:5) as a batch operator, registered as ``funnel_conversions``
and hash-checked against a DuckDB recursive CTE.

Semantics (strict, tie-robust): a conversion is the greedy sequential
match v < c < p with v = the earliest stage-0 event strictly after the
previous conversion's completion, c = the earliest stage-1 event
strictly after v, and p = the earliest stage-2 event strictly after c.
Strict inequalities make the result independent of how equal-timestamp
events are ordered, so the operator is deterministic under any
partitioning.

Design: partition-wise ``mapInPandas`` over user-sorted partitions (no
per-group pandas overhead; see funnel_conversions_batch). Per user, the
replay runs on per-stage sorted timestamp arrays with one numpy
searchsorted per machine step — O(conversions · log n) per user, no
per-event Python loop. Each completed funnel emits one row (user,
started_at, completed_at, seconds_to_convert).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FUNNEL_STAGES = ("view", "cart", "purchase")

CONVERSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("started_at", T.TimestampType()),
        T.StructField("completed_at", T.TimestampType()),
        T.StructField("seconds_to_convert", T.DoubleType()),
    ]
)


def _replay(by_stage: list) -> list[tuple[int, int]]:
    """The machine core over pre-sorted per-stage timestamp arrays:
    one (started, completed) pair per conversion.

    Times are integer epoch-MICROseconds throughout — float seconds
    round-trip with sub-microsecond noise that Arrow then (rightly)
    refuses to cast back into a timestamp[us] column."""
    views, *later = by_stage
    conversions = []
    ts = 0
    while True:
        i = int(np.searchsorted(views, ts, side="right"))
        if i >= len(views):
            return conversions
        started = ts = int(views[i])
        for arr in later:
            j = int(np.searchsorted(arr, ts, side="right"))
            if j >= len(arr):
                return conversions  # stalled mid-funnel
            ts = int(arr[j])
        # ts keeps the purchase ts: the next view must be later
        conversions.append((started, ts))


def funnel_conversions_batch(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    stages: tuple[str, ...] = FUNNEL_STAGES,
) -> DataFrame:
    """The strict stage machine, run partition-wise.

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
        for st, cp in _replay(by_stage):
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
