"""Pure helpers: percentiles, the tail-percentile rule, and the mapping
from streaming progress records to per-file freshness. No Spark here,
so the self-tests exercise them directly."""

from __future__ import annotations

import math
from datetime import datetime
from itertools import accumulate

import numpy as np

# Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 90.0, 75.0, 50.0)


def percentile(samples: list[float], p: float) -> float:
    """Linearly interpolated ``p``-th percentile (numpy's default rule)."""
    return float(np.percentile(samples, p)) if samples else math.nan


def tail(samples: list[float]) -> dict:
    """The highest percentile in ``TAIL_PERCENTILES`` that has at least
    ten samples beyond it, its value, and the sample count. With fewer
    than 20 samples no candidate qualifies and ``p`` is None."""
    n = len(samples)
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= 10:
            return {"p": p, "value": percentile(samples, p), "n": n}
    return {"p": None, "value": None, "n": n}


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def progress_batches(progress: list[dict]) -> list[dict]:
    """Data-carrying micro-batches from a query's ``recentProgress``:
    input rows, start and end (epoch seconds) and the duration split."""
    out = []
    for pr in progress:
        rows = int(pr.get("numInputRows") or 0)
        if rows == 0:
            continue
        start = datetime.fromisoformat(pr["timestamp"].replace("Z", "+00:00")).timestamp()
        dur = pr.get("durationMs") or {}
        out.append({
            "batch_id": pr["batchId"],
            "rows": rows,
            "start": start,
            "end": start + dur.get("triggerExecution", 0) / 1000.0,
            "duration_ms": dur,
            "state": pr.get("stateOperators") or [],
        })
    return out


def file_batches(file_rows: list[int], batches: list[dict]) -> list[dict | None]:
    """For each landed file (in landing order), the micro-batch whose
    cumulative ``rows`` first covers the file's last row — the batch that
    made the file visible. A batch that consumes several files maps to
    each of them; a file not yet covered maps to None."""
    ends = list(accumulate(file_rows))
    out: list[dict | None] = []
    seen = 0
    for b in batches:
        seen += b["rows"]
        while len(out) < len(ends) and ends[len(out)] <= seen:
            out.append(b)
    return out + [None] * (len(ends) - len(out))


def backlog_at_starts(file_rows: list[int], landed: list[float], batches: list[dict]) -> list[int]:
    """Files landed but not yet consumed when each micro-batch starts."""
    ends = list(accumulate(file_rows))
    out, seen = [], 0
    for b in batches:
        done = sum(1 for e in ends if e <= seen)
        out.append(sum(1 for t in landed if t <= b["start"]) - done)
        seen += b["rows"]
    return out
