"""Structured Streaming tests: the window plans run incrementally via
readStream (file source, availableNow), watermarks drop late data,
the foreachBatch materializer refreshes parquet views, and checkpoints
resume without reprocessing."""

from __future__ import annotations

import datetime as dt
import functools
import importlib.util
import json
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from streaming_ecom_analytics_spark.streaming import windows
from streaming_ecom_analytics_spark.streaming.materialize import start_materialized_view
from streaming_ecom_analytics_spark.streaming.pipeline import StreamingPipeline

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def _t(minute: int, second: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 10, minute, second)


@pytest.fixture(scope="session")
def events_dir(spark, tmp_path_factory):
    """Three parquet files = three micro-batches, event-time ordered
    with one late row in the last file. Session-scoped (round 12): every
    consumer treats the directory as read-only input — tests that need
    their own batch layout build a private dir — and the per-test write
    of 4 tiny parquet jobs was ~15 repeated Spark-job setups across the
    module (the suite must fit the driver's pytest window, round-11
    verdict #2)."""
    batches = [
        [(1, _t(0), 1, "view", 10.0, "{}"), (2, _t(1), 2, "purchase", 20.0, "{}")],
        [(3, _t(6), 1, "view", 5.0, "{}"), (4, _t(7), 3, "purchase", 7.5, "{}")],
        [(5, _t(12), 2, "view", 1.0, "{}")],
        # a very late row (10:03, two batches behind the watermark — the
        # global watermark propagates with a one-batch lag) + a fresh row
        [(6, _t(3), 9, "view", 2.0, "{}"), (7, _t(13), 3, "view", 3.0, "{}")],
    ]
    d = tmp_path_factory.mktemp("stream_events") / "events"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            str(d / f"batch_{i}"), mode="overwrite"
        )
    return str(d)


def _stream(spark, events_dir: str):
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir + "/*")
    )


def test_streaming_tumbling_matches_batch(spark, events_dir):
    stream = _stream(spark, events_dir)
    agg = windows.tumbling_event_counts(stream, watermark="1 hour")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tumbling_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.event_type): r.event_count
        for r in spark.sql("SELECT * FROM tumbling_out").collect()
    }
    batch = spark.read.parquet(events_dir + "/*")
    want = {
        (r.window_start, r.event_type): r.event_count
        for r in windows.tumbling_event_counts(batch, watermark=None).collect()
    }
    assert got == want and len(got) > 0


def test_watermark_drops_late_rows(spark, events_dir):
    """With a tight watermark in append mode, the very-late row (event 6,
    10:03, arriving two batches after 10:12 advanced the watermark past
    its window) is dropped."""
    stream = _stream(spark, events_dir)
    agg = windows.tumbling_event_counts(stream, watermark="1 minute")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM late_out").collect()
    emitted = {(r.window_start.minute, r.event_type): r.event_count for r in rows}
    # the 10:00 view window closed before the late row arrived → count
    # stays 1 (late row dropped), and the late row's 10:03 is not re-opened
    assert emitted.get((0, "view")) == 1


def test_materialized_view_refresh(spark, events_dir, tmp_path):
    stream = _stream(spark, events_dir)
    agg = windows.sliding_revenue(stream, watermark="1 hour")
    q = start_materialized_view(
        agg,
        target_path={str(tmp_path / "view"): None},
        checkpoint=str(tmp_path / "ckpt"),
        output_mode="complete",
        available_now=True,
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "view"))
    batch = spark.read.parquet(events_dir + "/*")
    want = windows.sliding_revenue(batch, watermark=None).collect()
    got = out.collect()
    assert sorted((r.window_start, r.revenue) for r in got) == sorted(
        (r.window_start, r.revenue) for r in want
    )


def test_checkpoint_resume_no_reprocess(spark, events_dir, tmp_path):
    """Restarting with the same checkpoint must not change results
    (exactly-once materialization, S9/ST8)."""
    stream = _stream(spark, events_dir)
    agg = windows.tumbling_event_counts(stream, watermark="1 hour")
    for _ in range(2):  # run, then restart with same checkpoint
        q = start_materialized_view(
            agg,
            target_path={str(tmp_path / "view"): None},
            checkpoint=str(tmp_path / "ckpt"),
            output_mode="complete",
            available_now=True,
        )
        q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "view"))
    total = out.agg(F.sum("event_count")).first()[0]
    assert total == 7  # every input row counted exactly once


def test_pipeline_end_to_end(spark, events_dir, tmp_path):
    pipe = StreamingPipeline(
        spark,
        warehouse_dir=str(tmp_path / "wh"),
        checkpoint_dir=str(tmp_path / "ck"),
    )
    events = pipe.file_events_source(events_dir + "/*")
    pipe.start_views(events, available_now=True)
    pipe.await_all()
    funnel = spark.read.parquet(str(tmp_path / "wh" / "funnel_5m"))
    assert funnel.agg(F.sum("event_count")).first()[0] == 7
    active = spark.read.parquet(str(tmp_path / "wh" / "active_users_daily"))
    assert active.count() > 0


def _at(day: int, hour: int, minute: int, second: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, day, hour, minute, second)


# Four files = four micro-batches for the processed-view tests: events on
# 5-minute and day boundaries, purchases whose sliding windows overlap
# (10:05 / 10:07:30 / 10:12 share 10:05–10:15; 23:59:59 / 00:00 share
# 23:55–00:05), several users per (day, event type), and one event with
# no event type.
VIEW_BATCHES = [
    [(1, _at(1, 0, 0), 1, "view", 1.0, "{}"), (2, _at(1, 10, 5), 2, "purchase", 20.0, "{}"),
     (3, _at(1, 10, 7, 30), 3, "purchase", 7.25, "{}"), (4, _at(1, 10, 9, 59), 1, "view", 2.0, "{}")],
    [(5, _at(1, 23, 59, 59), 2, "purchase", 3.1, "{}"), (6, _at(2, 0, 0), 4, "purchase", 4.2, "{}"),
     (7, _at(1, 10, 12), 2, "purchase", 0.1, "{}")],
    [(8, _at(1, 12, 0), 5, "view", 1.0, "{}"), (9, _at(1, 13, 0), 6, "view", 1.0, "{}"),
     (10, _at(1, 10, 10), 3, "cart", 5.0, "{}")],
    [(11, _at(2, 8, 0), 4, "view", 1.0, "{}"), (12, _at(2, 9, 0), 7, "view", 1.0, "{}"),
     (13, _at(2, 9, 30), 7, None, 1.0, "{}"), (14, _at(2, 0, 5), 5, "purchase", 9.99, "{}")],
]


def _land(spark, src, batches, first: int = 0) -> None:
    for i, rows in enumerate(batches, start=first):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(str(src / f"batch_{i}"))


@functools.cache
def _driver_sim():
    spec = importlib.util.spec_from_file_location(
        "driver_sim", Path(__file__).resolve().parents[1] / "scripts" / "driver_sim.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _assert_views_match_batch_twins(spark, src, wh) -> None:
    batch = spark.read.schema(SCHEMA).parquet(str(src / "*"))
    twins = {
        "funnel_5m": windows.tumbling_event_counts(batch, watermark=None),
        "sliding_revenue": windows.sliding_revenue(batch, watermark=None),
        "active_users_daily": windows.windowed_active_users(batch, watermark=None),
    }
    assert list(twins) == list(windows.PROCESSED_VIEWS)
    for name, twin in twins.items():
        got = spark.read.parquet(str(wh / name)).toPandas()
        want = twin.toPandas()
        assert len(got) == len(want) > 0, name
        value_hash = _driver_sim().value_hash
        assert value_hash(got) == value_hash(want), name


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def test_pipeline_views_are_one_query_equal_to_batch_twins(spark, tmp_path):
    """The three processed views run as ONE query with one checkpoint
    that reads each file once, and each view table equals its batch
    twin."""
    src, wh, ck = tmp_path / "src", tmp_path / "wh", tmp_path / "ck"
    _land(spark, src, VIEW_BATCHES)
    shuffle_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    pipe = StreamingPipeline(spark, warehouse_dir=str(wh), checkpoint_dir=str(ck))
    handles = pipe.start_views(pipe.file_events_source(str(src / "*")), available_now=True)
    pipe.await_all()

    assert len(handles) == len(windows.PROCESSED_VIEWS)
    assert len(pipe.queries) == 1 and {h.id for h in handles} == {pipe.queries[0].id}
    # one checkpoint, at the directory's root, with one stateful operator
    # and one state store, whatever the session's shuffle partitions
    assert (ck / "metadata").is_file() and os.listdir(ck / "state") == ["0"]
    assert sorted(p.name for p in (ck / "state" / "0").iterdir() if p.name.isdigit()) == ["0"]
    assert spark.conf.get("spark.sql.shuffle.partitions") == shuffle_partitions != "1"
    # one source scan per batch: numInputRows is the file's rows, not a
    # multiple of them
    rows = [p["numInputRows"] for p in _progress(handles[0]) if p["numInputRows"]]
    assert rows == [len(b) for b in VIEW_BATCHES]
    _assert_views_match_batch_twins(spark, src, wh)
    # one file per view table
    for name in windows.PROCESSED_VIEWS:
        assert len(list((wh / name).glob("*.parquet"))) == 1, name


def test_pipeline_restart_from_checkpoint_is_exactly_once(spark, tmp_path):
    """Run over half the files, land the rest, restart on the same
    checkpoint: every input row counted once, and every view equals its
    batch twin over all files."""
    src, wh, ck = tmp_path / "src", tmp_path / "wh", tmp_path / "ck"
    half = len(VIEW_BATCHES) // 2

    def run() -> int:
        pipe = StreamingPipeline(spark, warehouse_dir=str(wh), checkpoint_dir=str(ck))
        pipe.start_views(pipe.file_events_source(str(src / "*")), available_now=True)
        pipe.await_all()
        return sum(p["numInputRows"] for p in _progress(pipe.queries[0]))

    _land(spark, src, VIEW_BATCHES[:half])
    assert run() == sum(map(len, VIEW_BATCHES[:half]))
    _land(spark, src, VIEW_BATCHES[half:], first=half)
    assert run() == sum(map(len, VIEW_BATCHES[half:]))  # the restart reads only new files

    funnel = spark.read.parquet(str(wh / "funnel_5m"))
    assert funnel.agg(F.sum("event_count")).first()[0] == sum(map(len, VIEW_BATCHES))
    _assert_views_match_batch_twins(spark, src, wh)


def test_session_window_streaming(spark, events_dir):
    stream = _stream(spark, events_dir)
    agg = windows.session_windows(stream, gap="10 minutes", watermark="1 hour")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sessions_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM sessions_out").collect()
    # user 1: events at 10:00 and 10:06 (< 10 min gap) merge into one session
    u1 = [r for r in got if r.user_id == 1]
    assert len(u1) == 1 and u1[0].n_events == 2
    assert u1[0].session_start == _t(0)
    assert u1[0].session_end == _t(16)  # last event 10:06 + 10 min gap


def test_windowed_count_min_streaming_matches_batch(spark, events_dir):
    """The streaming windowed CMS grid must equal the batch twin's —
    the sketch is deterministic, so micro-batching can't change it."""
    from streaming_ecom_analytics_spark.functions import sketch as cms

    stream = _stream(spark, events_dir)
    agg = cms.windowed_count_min(
        stream, col="event_type", window="15 minutes", watermark="1 hour", width=256
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("cms_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.d, r.idx): r.c
        for r in spark.sql("SELECT * FROM cms_out").collect()
    }
    batch = spark.read.parquet(events_dir + "/*")
    want = {
        (r.window_start, r.d, r.idx): r.c
        for r in cms.windowed_count_min(
            batch, col="event_type", window="15 minutes", watermark=None, width=256
        ).collect()
    }
    assert got == want and len(got) > 0


def test_stream_stream_attribution_join_matches_batch(spark, tmp_path):
    from streaming_ecom_analytics_spark.streaming import joins

    # own fixture: the shared one has no view→later-purchase pair.
    # user 1: views t0,t2 → purchase t5 (2 pairs, purchase in a LATER
    # micro-batch than the clicks — exercises buffered join state);
    # user 2: purchase t1 precedes its view t3 → no pair from t1, but
    # view t3 → purchase t10 pairs across batches 1→2.
    batches = [
        [(1, _t(0), 1, "view", 1.0, "{}"), (2, _t(1), 2, "purchase", 9.0, "{}")],
        [(3, _t(2), 1, "view", 1.0, "{}"), (4, _t(3), 2, "view", 1.0, "{}")],
        [(5, _t(5), 1, "purchase", 30.0, "{}"), (6, _t(10), 2, "purchase", 40.0, "{}")],
    ]
    d = tmp_path / "attr_events"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            str(d / f"batch_{i}"), mode="overwrite"
        )
    events_dir = str(d)
    stream = _stream(spark, events_dir)
    pairs = joins.attribute_purchases_to_clicks(
        stream, within="30 minutes", watermark="1 hour", click_type="view"
    )
    q = (
        pairs.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_attr_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM ss_attr_out").collect()
    }
    batch = spark.read.parquet(events_dir + "/*")
    want = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in joins.attribute_purchases_to_clicks(
            batch, within="30 minutes", watermark=None, click_type="view"
        ).collect()
    }
    # streaming may drop pairs whose click arrived later than the
    # watermark allows; with this fixture nothing qualifying is late,
    # so the sets must be equal and non-empty
    assert got == want and len(got) > 0


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """user 1's view converts (purchase 10 min later); user 2's view
    never converts — its NULL row may only be emitted once the
    watermark (driven by the far-future batch-2 event) passes the end
    of its join window."""
    from streaming_ecom_analytics_spark.streaming import joins

    batches = [
        [
            (1, _t(0), 1, "view", 1.0, "{}"),
            (2, _t(1), 2, "view", 1.0, "{}"),
            (3, _t(10), 1, "purchase", 30.0, "{}"),
        ],
        # watermark pushers: far beyond window end + delay, and they
        # must be click/purchase-typed — anything else is filtered out
        # BEFORE the withWatermark node and would never advance it. TWO
        # trailing batches: the watermark computed from batch N only
        # evicts outer-join state during batch N+1, so a single
        # trailing batch would terminate the availableNow query before
        # the NULL row flushes.
        [
            (4, dt.datetime(2024, 1, 2, 10, 0), 3, "view", 0.0, "{}"),
            (5, dt.datetime(2024, 1, 2, 10, 0), 3, "purchase", 0.0, "{}"),
        ],
        [
            (6, dt.datetime(2024, 1, 3, 10, 0), 3, "view", 0.0, "{}"),
            (7, dt.datetime(2024, 1, 3, 10, 0), 3, "purchase", 0.0, "{}"),
        ],
    ]
    d = tmp_path / "outer_events"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            str(d / f"batch_{i}"), mode="overwrite"
        )
    stream = _stream(spark, str(d))
    out = joins.clicks_with_conversion_outcome(
        stream, within="30 minutes", watermark="10 minutes", click_type="view"
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_outer_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.click_id: (r.converted, r.purchase_id)
        for r in spark.sql("SELECT * FROM ss_outer_out").collect()
    }
    assert got[1] == (True, 3)
    assert got[2] == (False, None)  # emitted ONLY because watermark advanced
    # batch twin agrees on the settled user (pusher clicks at the tail
    # are still in streaming state at termination — batch sees them all)
    batch = spark.read.parquet(str(d) + "/*")
    want = {
        r.click_id: (r.converted, r.purchase_id)
        for r in joins.clicks_with_conversion_outcome(
            batch, within="30 minutes", watermark=None, click_type="view"
        ).collect()
    }
    assert {k: got[k] for k in (1, 2)} == {k: want[k] for k in (1, 2)}


def test_stream_stream_left_outer_drops_late_purchase(spark, tmp_path):
    """Late-data semantics of the LEFT OUTER stream-stream join: a
    purchase whose event time matched a click's window but which ARRIVES
    after the watermark has passed that window must be dropped — the
    click flushes as unconverted (NULL), and the row never flips. The
    batch twin, which sees all data at once, says converted=True for the
    same input: this divergence IS the documented watermark contract,
    so the test pins both sides of it.
    """
    from streaming_ecom_analytics_spark.streaming import joins

    batches = [
        # the click, alone in its micro-batch
        [(1, _t(0), 1, "view", 1.0, "{}")],
        # watermark pushers one day ahead: watermark leaps past the
        # click's whole join window (t0 + 30min + 10min delay)
        [
            (2, dt.datetime(2024, 1, 2, 10, 0), 3, "view", 0.0, "{}"),
            (3, dt.datetime(2024, 1, 2, 10, 0), 3, "purchase", 0.0, "{}"),
        ],
        # batch 2: the batch-1 watermark takes effect HERE — click 1's
        # state is evicted and its NULL row emitted at this batch's end
        # (within a batch, new input joins BEFORE eviction, so the late
        # purchase must arrive strictly after this batch)
        [
            (4, dt.datetime(2024, 1, 3, 10, 0), 3, "view", 0.0, "{}"),
            (5, dt.datetime(2024, 1, 3, 10, 0), 3, "purchase", 0.0, "{}"),
        ],
        # batch 3: the LATE purchase — event time t5 (inside the
        # click's window) but the click's state is already flushed and
        # the row is far below the watermark: it must not produce a
        # match, and the click must not flip to converted
        [
            (6, _t(5), 1, "purchase", 30.0, "{}"),
            (7, dt.datetime(2024, 1, 4, 10, 0), 3, "view", 0.0, "{}"),
            (8, dt.datetime(2024, 1, 4, 10, 0), 3, "purchase", 0.0, "{}"),
        ],
        # trailing pusher batch so batch 3's watermark has a batch in
        # which to settle remaining state
        [
            (9, dt.datetime(2024, 1, 5, 10, 0), 3, "view", 0.0, "{}"),
            (10, dt.datetime(2024, 1, 5, 10, 0), 3, "purchase", 0.0, "{}"),
        ],
    ]
    d = tmp_path / "late_events"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            str(d / f"batch_{i}"), mode="overwrite"
        )
    stream = _stream(spark, str(d))
    out = joins.clicks_with_conversion_outcome(
        stream, within="30 minutes", watermark="10 minutes", click_type="view"
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_late_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.click_id: (r.converted, r.purchase_id)
        for r in spark.sql("SELECT * FROM ss_late_out").collect()
    }
    # the click surfaced exactly once, as a non-conversion
    assert got[1] == (False, None)
    # batch twin (no watermark) sees the late purchase and attributes it
    batch = spark.read.parquet(str(d) + "/*")
    want = {
        r.click_id: (r.converted, r.purchase_id)
        for r in joins.clicks_with_conversion_outcome(
            batch, within="30 minutes", watermark=None, click_type="view"
        ).collect()
    }
    assert want[1] == (True, 6)


def test_stream_dedup_drops_cross_batch_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark keyed on event_id: a redelivered
    event arriving in a LATER micro-batch (within the watermark
    horizon) must be dropped; each id surfaces exactly once."""
    from streaming_ecom_analytics_spark.streaming import windows as w

    batches = [
        [(1, _t(0), 1, "view", 1.0, "{}"), (2, _t(1), 2, "view", 1.0, "{}")],
        # event 1 redelivered bit-identically + a new event
        [(1, _t(0), 1, "view", 1.0, "{}"), (3, _t(2), 1, "cart", 2.0, "{}")],
        # watermark pusher
        [(4, dt.datetime(2024, 1, 2, 10, 0), 3, "view", 0.0, "{}")],
    ]
    d = tmp_path / "dedup_events"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            str(d / f"batch_{i}"), mode="overwrite"
        )
    stream = _stream(spark, str(d))
    out = w.dedup_events(stream, watermark="1 hour")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [r.event_id for r in spark.sql("SELECT * FROM ss_dedup_out").collect()]
    assert sorted(got) == [1, 2, 3, 4]  # each exactly once, dup dropped


def test_windowed_leaderboard_streaming_matches_batch(spark, events_dir, tmp_path):
    """The windowed top-k leaderboard deployed the streaming way —
    stateful counts + per-refresh rank in the foreachBatch
    materializer — must equal the one-plan batch twin."""
    from streaming_ecom_analytics_spark.streaming.materialize import (
        start_materialized_view,
    )

    stream = _stream(spark, events_dir)
    counts = windows.tumbling_event_counts(
        stream, window_size="15 minutes", watermark="1 hour"
    )
    q = (
        counts.writeStream.outputMode("complete")
        .foreachBatch(
            __import__(
                "streaming_ecom_analytics_spark.streaming.materialize",
                fromlist=["overwrite_materializer"],
            ).overwrite_materializer(
                {
                    str(tmp_path / "view"): lambda df: windows.rank_topk_per_window(
                        df, k=2
                    )
                }
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "view")).collect())
    )
    batch = spark.read.parquet(events_dir + "/*")
    want = sorted(
        map(
            tuple,
            windows.windowed_top_event_types(
                batch, window_size="15 minutes", k=2, watermark=None
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_stream_static_enrichment_matches_batch(spark, events_dir):
    """Stream-static join (online feature serving): purchases streamed
    over micro-batches, scored against the static item baseline — the
    streamed result must equal the batch twin exactly (the static side
    is re-evaluated per micro-batch but identical here)."""
    from streaming_ecom_analytics_spark.streaming import joins as sjoins

    batch = spark.read.parquet(events_dir + "/*")
    # give the fixture purchases an item payload so the join has keys
    keyed_batch = batch.withColumn(
        "props", F.format_string('{"k": %d}', F.col("user_id") % 2)
    )
    baseline = sjoins.item_value_baseline(keyed_batch)
    stream = _stream(spark, events_dir).withColumn(
        "props", F.format_string('{"k": %d}', F.col("user_id") % 2)
    )
    out = sjoins.enrich_purchases_with_baseline(stream, baseline)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("enriched_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.event_id: (r.item, r.n_item, r.baseline_sum, r.above_avg)
        for r in spark.sql("SELECT * FROM enriched_out").collect()
    }
    want = {
        r.event_id: (r.item, r.n_item, r.baseline_sum, r.above_avg)
        for r in sjoins.enrich_purchases_with_baseline(
            keyed_batch, baseline
        ).collect()
    }
    assert got == want and len(got) > 0


def test_windowed_ddsketch_streaming_matches_batch(spark, events_dir):
    """The streaming windowed DDSketch grid must equal the batch
    twin's bit-for-bit: bucket placement and merge (counter sum) are
    deterministic, so micro-batch boundaries cannot change the grid —
    the property that makes per-window quantile SLOs replayable."""
    from streaming_ecom_analytics_spark.functions import sketch as sk

    stream = _stream(spark, events_dir)
    agg = sk.windowed_ddsketch(
        stream, col="value", window="15 minutes", watermark="1 hour"
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("dd_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.bucket): r.c
        for r in spark.sql("SELECT * FROM dd_out").collect()
    }
    batch = spark.read.parquet(events_dir + "/*")
    want = {
        (r.window_start, r.bucket): r.c
        for r in sk.windowed_ddsketch(
            batch, col="value", window="15 minutes", watermark=None
        ).collect()
    }
    assert got == want and len(got) > 0
