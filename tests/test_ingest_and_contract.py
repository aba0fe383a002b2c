"""Ingest pipeline (extractor parity) + Kafka event-contract tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streaming_ecom_analytics_spark.operators.cleaning import clean_events
from streaming_ecom_analytics_spark.operators.ingest import ingest_events, read_raw_csv
from streaming_ecom_analytics_spark.schema import ECOM_EVENT_SCHEMA
from streaming_ecom_analytics_spark.sources.kafka_contract import (
    parse_events,
    serialize_events,
)
from streaming_ecom_analytics_spark.sources.lake import Lake

DIRTY_ROWS = [
    # event_time, type, product, category, category_code, brand, price, user, session
    ("2019-11-01 09:00:00", "view", "101", "c1", "electronics.phone", "acme", "9.99", "u1", "s1"),
    ("2019-11-01 09:00:01", "cart", "101", "c1", None, None, None, "u1", "s1"),  # null brand+price
    ("2019-11-01 09:00:02", "purchase", "102", "c2", "apparel", "zeta", "25.50", "u2", "s2"),
    ("2019-11-02 10:00:00", "view", "103", "c3", None, "acme", "5.00", "u3", "s3"),
    ("not-a-timestamp", "view", "104", "c4", None, None, "1.00", "u4", "s4"),  # bad ts
]


@pytest.fixture(scope="module")
def raw(spark):
    cols = [f.name for f in ECOM_EVENT_SCHEMA.fields]
    return spark.createDataFrame(DIRTY_ROWS, ", ".join(f"{c} string" for c in cols))


def test_clean_events_types_and_nulls(raw):
    out = clean_events(raw)
    rows = out.collect()
    u1_view = [r for r in rows if r.user_id == "u1" and r.event_type == "view"][0]
    assert u1_view.price == 9.99
    assert u1_view.event_date.isoformat() == "2019-11-01"
    # null price → 0.0 (extractor.py:114 coalesce)
    u1_cart = [r for r in rows if r.event_type == "cart"][0]
    assert u1_cart.price == 0.0 and u1_cart.brand is None
    # unparseable timestamp → null ts, null date (dropped downstream)
    u4 = [r for r in rows if r.user_id == "u4"][0]
    assert u4.event_time is None
    types = dict(out.dtypes)
    assert types["event_time"] == "timestamp" and types["price"] == "double"


def test_ingest_pipeline_end_to_end(spark, raw, tmp_path):
    lake = Lake(str(tmp_path))
    stats = ingest_events(spark, raw, lake, daily_sample_n=2)
    # day 1 has 3 valid rows → sampled to 2; day 2 has 1; the bad-ts row
    # lands in a null-date partition (not counted by countDistinct)
    assert stats.distinct_dates == 2 and stats.total_events == 4
    out = lake.read(spark, "raw", "events")
    assert out.filter(F.col("event_date") == "2019-11-01").count() == 2
    # date partitioning materialized on disk
    assert (tmp_path / "raw" / "events").glob("event_date=*")


def test_read_raw_csv_roundtrip(spark, raw, tmp_path):
    p = str(tmp_path / "events_csv")
    raw.write.option("header", True).mode("overwrite").csv(p)
    back = read_raw_csv(spark, p)
    assert back.count() == len(DIRTY_ROWS)
    assert all(t == "string" for _, t in back.dtypes)


def test_kafka_contract_roundtrip(spark, raw):
    events = clean_events(raw).filter(F.col("event_time").isNotNull()).drop("event_date")
    wire = serialize_events(events)
    assert wire.columns == ["key", "value"]
    sample = wire.filter(F.col("key") == "u1").first()
    assert '"event_time":"2019-11-01T09:00:00.000"' in sample.value
    parsed = parse_events(wire)
    prows = parsed.collect()
    assert len(prows) == 4  # both u1 rows survive the round-trip
    back = {r.user_id: r for r in prows}
    assert back["u2"].price == 25.5
    assert back["u2"].event_time.isoformat().startswith("2019-11-01T09:00:02")
    u1_brands = {r.brand for r in prows if r.user_id == "u1"}
    assert u1_brands == {"acme", None}  # null brand survives serialization


def test_parse_events_drops_malformed_timestamps(spark):
    bad = spark.createDataFrame(
        [
            ("k", '{"event_time":"2019-11-01T09:00:00.000","event_type":"view","user_id":"u1"}'),
            ("k", '{"event_time":"garbage","event_type":"view","user_id":"u2"}'),
            ("k", "not json at all"),
        ],
        "key string, value string",
    )
    out = parse_events(bad)
    assert [r.user_id for r in out.collect()] == ["u1"]
