"""Dormant environment-gated integration test (round-7 verdict #6).

KAFKA.md documents, with captured errors, that the real Kafka broker
round-trip is environment-impossible in this sandbox (no network, no
connector jar, no broker). This test makes that boundary
SELF-VERIFYING, the same way tests/test_stateful.py's
transformWithState test does for protobuf: it constructs the real
`format("kafka")` stream, and auto-activates the day the environment
gains the jar and a broker — until then it skips with the documented
reason.

Gate: the spark-sql-kafka connector jar on the classpath AND a
reachable broker (KAFKA_BOOTSTRAP env or localhost:9092). KAFKA.md's
captured failure: `[unresolved dependency:
org.apache.spark#spark-sql-kafka-0-10_2.13;4.1.2: not found]` — "No
network. DNS resolution fails outright (curl rc=6)";
`$SITE_PACKAGES/pyspark/jars` contains zero kafka artifacts.
"""

from __future__ import annotations

import os
import socket
from pathlib import Path

import pytest


def _pyspark_jars() -> Path:
    import pyspark

    return Path(pyspark.__file__).resolve().parent / "jars"


def _kafka_jar_present() -> bool:
    return bool(list(_pyspark_jars().glob("*spark-sql-kafka*")))


def _kafka_broker() -> str | None:
    target = os.environ.get("KAFKA_BOOTSTRAP", "localhost:9092")
    host, _, port = target.rpartition(":")
    try:
        with socket.create_connection((host or "localhost", int(port)), timeout=1):
            return target
    except OSError:
        return None


@pytest.mark.skipif(
    not (_kafka_jar_present() and _kafka_broker()),
    reason=(
        "real Kafka round-trip needs the spark-sql-kafka jar and a broker; "
        "KAFKA.md boundary (captured 2026-08-13): '[unresolved dependency: "
        "org.apache.spark#spark-sql-kafka-0-10_2.13;4.1.2: not found]' — "
        "no network (curl rc=6, 'Could not resolve host: repo1.maven.org'), "
        "zero kafka artifacts in pyspark/jars, no broker. Test "
        "self-activates when the environment gains them."
    ),
)
def test_kafka_broker_round_trip(spark, tmp_path):
    """S5/S6 end-to-end: serialize events through the REAL
    format('kafka') sink, read them back through the REAL
    format('kafka') source, and assert the wire contract (keyed JSON,
    ms-ISO-8601 ts) survives the broker round-trip — the one check the
    brokerless file-source twin cannot perform."""
    from streaming_ecom_analytics_spark import catalog
    from streaming_ecom_analytics_spark.sources import kafka_contract as kc

    brokers = _kafka_broker()
    topic = f"spark_graft_it_{os.getpid()}"
    events = catalog.events(spark, "/root/testdata/sf0.001").limit(100)
    wire = kc.serialize_events(events)

    # real kafka batch sink (the streaming sink shares the format path)
    (
        wire.write.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .save()
    )
    # real kafka batch source + the production decoder
    raw = kc.kafka_source(
        spark, brokers=brokers, topic=topic, streaming=False
    )
    decoded = kc.parse_events(raw.selectExpr("CAST(value AS STRING) AS value"))
    assert decoded.count() == 100
    assert decoded.filter("event_id IS NULL").count() == 0
