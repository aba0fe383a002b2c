"""As-of and interval join semantics, the NOT IN null trap, and AQE
skew-join splitting."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from streaming_ecom_analytics_spark.operators.asof import asof_join

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def _t(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 10, minute)


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        (1, _t(0), 1, "purchase", 10.0, "{}"),
        (2, _t(5), 1, "view", 0.0, "{}"),      # matches purchase @0
        (3, _t(10), 1, "purchase", 20.0, "{}"),  # matches itself (ties right-first)
        (4, _t(15), 1, "view", 0.0, "{}"),     # matches purchase @10
        (5, _t(3), 2, "view", 0.0, "{}"),      # user 2 never purchased → NULL
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_asof_join_semantics(events):
    purchases = events.filter("event_type = 'purchase'").select("user_id", "ts", "value")
    out = asof_join(
        events, purchases, on="user_id", value_cols=("value",), prefix="last_purchase_"
    )
    got = {r.event_id: (r.last_purchase_ts, r.last_purchase_value) for r in out.collect()}
    assert got[2] == (_t(0), 10.0)
    assert got[3] == (_t(10), 20.0)  # same-timestamp right row matches
    assert got[4] == (_t(10), 20.0)
    assert got[5] == (None, None)
    assert got[1] == (_t(0), 10.0)


def test_asof_join_single_shuffle(events):
    purchases = events.filter("event_type = 'purchase'").select("user_id", "ts", "value")
    out = asof_join(events, purchases, on="user_id", value_cols=("value",))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1  # one shuffle on the key
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_not_in_null_trap_vs_left_anti(spark):
    """The J1 semantic decision, demonstrated: SQL NOT IN returns ZERO
    rows when the subquery contains a NULL; left_anti keeps non-matching
    rows. The engine authors the abandoned-cart query as left_anti and
    documents the non-null-key precondition (enforced by cleaning)."""
    left = spark.createDataFrame([(1,), (2,)], "k long")
    right = spark.createDataFrame([(2,), (None,)], "k long")
    left.createOrReplaceTempView("l_t")
    right.createOrReplaceTempView("r_t")
    not_in = spark.sql("SELECT k FROM l_t WHERE k NOT IN (SELECT k FROM r_t)")
    assert not_in.count() == 0  # NULL poisons NOT IN
    anti = left.join(right, on="k", how="left_anti")
    assert [r.k for r in anti.collect()] == [1]  # left_anti keeps row 1


def test_asof_join_tie_deterministic(spark):
    """Multiple right rows at the same (key, ts): the greatest value
    tuple must win, under any partitioning."""
    left = spark.createDataFrame([(1, _t(5))], "user_id long, ts timestamp")
    right_rows = [(1, _t(1), v) for v in (30.0, 10.0, 20.0)]
    for n_parts in (1, 3):
        right = spark.createDataFrame(
            right_rows, "user_id long, ts timestamp, value double"
        ).repartition(n_parts)
        out = asof_join(left, right, on="user_id", value_cols=("value",)).collect()
        assert [r.asof_value for r in out] == [30.0]


def test_aqe_skew_join_splits_injected_hot_partition(spark):
    """AQE's skew-join path (on by default in session.py) is the
    engine's skew mitigation — lock it the way broadcast gating is
    locked: with thresholds tuned down and broadcast off, a
    join against an injected hot key must execute as a SortMergeJoin
    the adaptive planner marks skew=true (i.e. the oversized shuffle
    partition was actually split), and the answer must match the
    same join with skew handling off."""
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    ]
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")

        def skew_join():
            big = spark.range(200_000).select(
                F.when(F.col("id") % 10 < 9, F.lit(0))
                .otherwise(F.col("id"))
                .alias("k"),
                F.col("id").alias("v"),
            )
            small = spark.range(4_000).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("w")
            )
            return big.join(small, on="k")

        j = skew_join()
        with_skew = j.agg(
            F.count("*").alias("c"), F.sum(F.col("v") + F.col("w")).alias("s")
        ).collect()[0]
        # execute THIS DataFrame's own query execution so AQE finalizes
        # its plan (a .write spawns a separate execution whose final
        # plan isn't visible on j)
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin" in plan
        assert "skew=true" in plan, plan[:2000]

        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        no_skew = (
            skew_join()
            .agg(F.count("*").alias("c"), F.sum(F.col("v") + F.col("w")).alias("s"))
            .collect()[0]
        )
        assert (with_skew.c, with_skew.s) == (no_skew.c, no_skew.s)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_interval_join_basic(spark):
    from datetime import datetime

    from streaming_ecom_analytics_spark.operators.interval import interval_join

    T = datetime
    points = spark.createDataFrame(
        [
            (1, 10, T(2024, 1, 1, 10, 15)),   # inside iv A
            (2, 10, T(2024, 1, 1, 11, 0)),    # == iv A end (half-open -> no match)
            (3, 10, T(2024, 1, 3, 9, 59)),    # before iv B
            (4, 20, T(2024, 1, 1, 10, 30)),   # other key, inside C
            (5, 10, T(2024, 1, 1, 10, 0)),    # == iv A start (inclusive)
        ],
        "pid long, k long, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [
            (10, "A", T(2024, 1, 1, 10, 0), T(2024, 1, 1, 11, 0)),
            (10, "B", T(2024, 1, 3, 10, 0), T(2024, 1, 3, 12, 0)),
            (20, "C", T(2024, 1, 1, 10, 0), T(2024, 1, 1, 11, 0)),
        ],
        "k long, name string, start timestamp, end timestamp",
    )
    out = {
        (r.pid, r.name)
        for r in interval_join(
            points, intervals, on="k", ts_col="ts", bucket_seconds=900
        ).collect()
    }
    assert out == {(1, "A"), (5, "A"), (4, "C")}


def test_interval_join_overlapping_intervals_no_dup(spark):
    """Overlapping intervals each match once; a long interval spanning
    many buckets still produces exactly one row per contained point."""
    from datetime import datetime

    from streaming_ecom_analytics_spark.operators.interval import interval_join

    T = datetime
    points = spark.createDataFrame(
        [(1, 1, T(2024, 1, 1, 12, 0))], "pid long, k long, ts timestamp"
    )
    intervals = spark.createDataFrame(
        [
            (1, "short", T(2024, 1, 1, 11, 0), T(2024, 1, 1, 13, 0)),
            (1, "long", T(2024, 1, 1, 0, 0), T(2024, 1, 2, 0, 0)),
        ],
        "k long, name string, start timestamp, end timestamp",
    )
    rows = interval_join(
        points, intervals, on="k", ts_col="ts", bucket_seconds=3600
    ).collect()
    assert sorted(r.name for r in rows) == ["long", "short"]


def test_interval_join_on_ntz_parquet(spark, tmp_path):
    """Regression (round-2 verdict #1): driver testdata stores parquet
    timestamp[us] WITHOUT timezone, which Spark reads as TIMESTAMP_NTZ and
    every unix_micros() call site then fails analysis. catalog.load_table
    must hand downstream operators an LTZ timestamp so epoch arithmetic
    works regardless of how the lake writer stamped the column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from streaming_ecom_analytics_spark import catalog
    from streaming_ecom_analytics_spark.operators.interval import interval_join

    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(
                [dt.datetime(2024, 1, 1, 10, 15), dt.datetime(2024, 1, 1, 12, 0)],
                pa.timestamp("us"),  # no tz -> TIMESTAMP_NTZ unless normalized
            ),
            "user_id": pa.array([10, 10], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "tsntz.parquet"))
    points = catalog.load_table(spark, "tsntz", str(tmp_path))
    assert points.schema["ts"].dataType.typeName() == "timestamp", (
        "load_table must normalize TIMESTAMP_NTZ to LTZ"
    )
    intervals = spark.createDataFrame(
        [(10, "A", dt.datetime(2024, 1, 1, 10, 0), dt.datetime(2024, 1, 1, 11, 0))],
        "user_id long, name string, start timestamp, end timestamp",
    )
    out = interval_join(
        points, intervals, on="user_id", ts_col="ts", bucket_seconds=900
    ).collect()
    assert {(r.event_id, r.name) for r in out} == {(1, "A")}
