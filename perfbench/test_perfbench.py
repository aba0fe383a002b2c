"""Self-tests for the benchmark's pure parts (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
from stats import backlog_at_starts, file_batches, percentile, progress_batches, tail  # noqa: E402


def _csv_bytes(tmp_path, seed: int) -> bytes:
    path = tmp_path / f"events-{seed}.csv"
    datagen.write_reference_csv(str(path), seed, n_days=3, rows_per_day=500)
    return path.read_bytes()


def test_csv_generator_is_a_function_of_the_seed(tmp_path):
    assert _csv_bytes(tmp_path, 7) == _csv_bytes(tmp_path, 7)
    assert _csv_bytes(tmp_path, 7) != _csv_bytes(tmp_path, 8)


def test_csv_has_the_reference_columns_and_event_mix(tmp_path):
    lines = _csv_bytes(tmp_path, 1).decode().splitlines()
    assert lines[0] == (
        "event_time,event_type,product_id,category_id,category_code,brand,price,user_id,user_session"
    )
    rows = [line.split(",") for line in lines[1:]]
    assert all(len(r) == 9 for r in rows)
    assert rows[0][0].endswith(" UTC")
    share = {t: sum(r[1] == t for r in rows) / len(rows) for t in ("view", "cart", "purchase")}
    assert share["view"] > 0.8 and 0.03 < share["cart"] < 0.12 and 0.005 < share["purchase"] < 0.06
    assert any(r[4] == "" for r in rows) and any(r[5] == "" for r in rows)  # nullable columns


def test_stream_day_tables_hold_a_full_day_each():
    tables = datagen.day_event_tables(seed=3, n_days=6, rows_per_day=3_333, users=1_500)
    assert len(tables) == 6
    for t in tables:
        assert 0.9 * 3_333 < t.num_rows < 1.1 * 3_333
    ids = [i for t in tables for i in t.column("event_id").to_pylist()]
    assert len(ids) == len(set(ids))


def _progress(batch_id, rows, start_iso, trigger_ms):
    return {
        "batchId": batch_id,
        "numInputRows": rows,
        "timestamp": start_iso,
        "durationMs": {"triggerExecution": trigger_ms, "addBatch": trigger_ms // 2},
    }


def test_freshness_mapping_with_a_batch_that_consumes_two_files():
    # files of 10, 20 and 5 rows; batch 1 consumes files 1 and 2 at once;
    # the no-data batch in between is ignored
    progress = [
        _progress(0, 10, "2026-01-01T00:00:00.000Z", 500),
        _progress(1, 0, "2026-01-01T00:00:01.000Z", 10),
        _progress(2, 25, "2026-01-01T00:00:02.000Z", 1500),
    ]
    batches = progress_batches(progress)
    assert [b["batch_id"] for b in batches] == [0, 2]
    t0 = batches[0]["start"]
    assert batches[0]["end"] == pytest.approx(t0 + 0.5)
    assert batches[1]["end"] == pytest.approx(t0 + 3.5)

    mapped = file_batches([10, 20, 5], batches)
    assert [b["batch_id"] for b in mapped] == [0, 2, 2]
    # a file not yet covered by any batch maps to None
    assert file_batches([10, 20, 5, 7], batches)[3] is None

    landed = [t0 - 0.1, t0 + 0.5, t0 + 1.5]
    # at batch 0's start one file had landed; at batch 2's start two more
    assert backlog_at_starts([10, 20, 5], landed, batches) == [1, 2]


def test_tail_picks_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 1001)]
    assert tail(xs)["p"] == 99.0 and tail(xs)["n"] == 1000  # 10 beyond p99, 1 beyond p99.9
    assert tail(xs[:100])["p"] == 90.0
    assert tail(xs[:99])["p"] == 75.0  # 9.9 beyond p90 is not enough
    assert tail(xs[:40])["p"] == 75.0
    assert tail(xs[:20]) == {"p": 50.0, "value": percentile(xs[:20], 50), "n": 20}
    assert tail(xs[:19]) == {"p": None, "value": None, "n": 19}


def test_percentile_interpolates():
    assert percentile([4.0, 1.0, 3.0, 2.0], 50) == 2.5
    assert percentile([1.0, 2.0, 3.0, 4.0, 5.0], 90) == pytest.approx(4.6)
