"""End-to-end batch cycle test — the full reference DAG parity path on
a crafted ecom CSV: extract → publish → validate → materialize."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from streaming_ecom_analytics_spark.runner import REPORTING_VIEWS, run_batch_cycle
from streaming_ecom_analytics_spark.schema import ECOM_EVENT_LAKE_SCHEMA
from streaming_ecom_analytics_spark.sources.lake import Lake

CSV_HEADER = "event_time,event_type,product_id,category_id,category_code,brand,price,user_id,user_session"
CSV_ROWS = [
    "2019-11-01 09:00:00,view,101,c1,electronics.phone,acme,9.99,u1,s1",
    "2019-11-01 09:05:00,cart,101,c1,electronics.phone,acme,9.99,u1,s1",
    "2019-11-01 09:10:00,purchase,101,c1,electronics.phone,acme,9.99,u1,s1",
    "2019-11-01 10:00:00,view,102,c2,apparel.shoes,zeta,25.50,u2,s2",
    "2019-11-01 10:05:00,cart,102,c2,apparel.shoes,zeta,25.50,u2,s2",  # abandoned
    "2019-11-02 11:00:00,purchase,103,c3,apparel.shoes,zeta,40.00,u3,s3",
    "2019-11-02 12:00:00,view,104,c4,,,,u4,s4",  # null category/brand/price
]


def _cycle_on(spark, root, rows, **kwargs):
    csv = root / "events.csv"
    csv.write_text(CSV_HEADER + "\n" + "".join(r + "\n" for r in rows))
    lake = Lake(str(root / "warehouse"))
    return lake, run_batch_cycle(spark, lake, csv_path=str(csv), daily_sample_n=100, **kwargs)


@pytest.fixture(scope="module")
def cycle(spark, tmp_path_factory):
    lake, result = _cycle_on(spark, tmp_path_factory.mktemp("lake"), CSV_ROWS)
    return spark, lake, result


def test_cycle_reports(cycle):
    spark, lake, result = cycle
    assert result["failed"] == []
    assert sorted(result["refreshed"]) == sorted(REPORTING_VIEWS)
    assert result["ingest"].total_events == 7
    assert result["quality"]["total_rows"] == 7
    assert result["quality"]["null_key_rows"] == 0
    assert str(result["quality"]["max_event_date"]).startswith("2019-11-02")


def test_daily_revenue_view(cycle):
    spark, lake, _ = cycle
    out = {
        str(r.event_date)[:10]: r.total_revenue
        for r in lake.read(spark, "reporting", "daily_revenue").collect()
    }
    assert out == {"2019-11-01": 9.99, "2019-11-02": 40.0}


def test_abandoned_cart_view(cycle):
    spark, lake, _ = cycle
    rows = lake.read(spark, "reporting", "abandoned_cart_users").collect()
    assert [(r.user_id, r.cart_events) for r in rows] == [("u2", 1)]


def test_top_brands_view(cycle):
    spark, lake, _ = cycle
    rows = lake.read(spark, "reporting", "top_selling_brands").collect()
    assert [(r.brand, r.revenue) for r in rows] == [("zeta", 40.0), ("acme", 9.99)]


def test_wire_publish(cycle):
    spark, lake, _ = cycle
    wire = lake.read(spark, "processed", "events_wire")
    assert wire.columns == ["key", "value"]
    assert wire.count() == 7
    assert wire.filter(F.col("value").contains('"price":0.0')).count() == 1  # null→0.0


def test_aov_uses_sessions(cycle):
    spark, lake, _ = cycle
    out = {
        str(r.event_date)[:10]: r.average_order_value
        for r in lake.read(spark, "reporting", "average_order_value_daily").collect()
    }
    # day 1: one purchase session s1 → 9.99; day 2: s3 → 40.0
    assert out == {"2019-11-01": 9.99, "2019-11-02": 40.0}


def test_daily_revenue_follows_the_oracle_money_rule(spark, tmp_path):
    # each price is cast to DECIMAL(18,2) before the sum: 0.13 + 0.13 =
    # 0.26, where a float sum gives round(0.25, 2) = 0.25
    rows = [
        "2019-11-03 09:00:00,purchase,201,c1,electronics.phone,acme,0.125,u5,s5",
        "2019-11-03 09:10:00,purchase,202,c1,electronics.phone,acme,0.125,u6,s6",
    ]
    lake, _ = _cycle_on(spark, tmp_path, rows)
    got = [r.total_revenue for r in lake.read(spark, "reporting", "daily_revenue").collect()]
    want = duckdb.sql(
        "SELECT ROUND(CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) "
        f"FROM read_parquet('{tmp_path}/warehouse/raw/events/*/*.parquet')"
    ).fetchone()[0]
    assert got == [want] == [0.26]


def test_no_reporting_view_sorts_its_whole_table(cycle):
    # a refresh is a parquet overwrite with no row order to keep; only
    # top-K may order (TakeOrderedAndProject, no range shuffle)
    spark, lake, _ = cycle
    events = lake.read(spark, "raw", "events", schema=ECOM_EVENT_LAKE_SCHEMA)
    for name, build in REPORTING_VIEWS.items():
        plan = build(events)._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" not in plan, name


def test_header_only_csv_is_an_empty_cycle(spark, tmp_path):
    # the ingest writes only _SUCCESS; the declared lake schema reads it
    published = []
    _, result = _cycle_on(spark, tmp_path, [], publish=published.append)
    assert result["ingest"].total_events == 0
    assert result["quality"]["total_rows"] == 0
    assert result["failed"] == []
    assert result["refreshed"] == list(REPORTING_VIEWS)
    assert published == []


def test_failing_view_is_isolated_in_registry_order(spark, tmp_path, monkeypatch):
    def boom(ev):
        raise RuntimeError("view build failed")

    monkeypatch.setitem(REPORTING_VIEWS, "conversion_funnel", boom)
    lake, result = _cycle_on(spark, tmp_path, CSV_ROWS)
    assert result["failed"] == ["conversion_funnel"]
    assert result["refreshed"] == [v for v in REPORTING_VIEWS if v != "conversion_funnel"]
    assert lake.read(spark, "reporting", "daily_revenue").count() == 2


def test_publish_callback_error_propagates(spark, tmp_path):
    def publish(wire):
        raise RuntimeError("broker down")

    with pytest.raises(RuntimeError, match="broker down"):
        _cycle_on(spark, tmp_path, CSV_ROWS, publish=publish)


def test_cycle_jobs_inherit_the_callers_job_group(spark, tmp_path):
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("batch-cycle-under-test", "runner job group test")
    try:
        _cycle_on(spark, tmp_path, CSV_ROWS)
    finally:
        sc._jsc.clearJobGroup()
    bus.waitUntilEmpty()
    # ingest, publish, validation and 7 refreshes: at least one job each
    assert len(tracker.getJobIdsForGroup("batch-cycle-under-test")) >= 10
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
