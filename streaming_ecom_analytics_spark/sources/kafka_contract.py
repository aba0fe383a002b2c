"""The Kafka event-bus contract, as engine expressions.

The reference serializes events row-at-a-time in driver Python —
``collect()`` then Event→dict→json.dumps per row with a regex timestamp
gate (reference producer.py:18-20,34-45,47-71; key=user_id at :60).
That collect() is the reference's scalability cliff: every row crosses
the JVM→Python boundary into one driver process.

Here the whole contract is four column expressions — to_json(struct),
date_format for the ms-precision ISO-8601 timestamp, rlike for the
gate, from_json for the read side — so serialization runs distributed,
inside whole-stage codegen, at any scale. The same expressions work in
batch and streaming (same logical plan, different engine).

Kafka itself is an option bundle on the standard ``format("kafka")``
source (S6, ``kafka_source``); the publish side (S5) is
``serialize_events`` plus a batch write. Tests run brokerless against
files with the same serialize/parse expressions, which is exactly what
makes the contract an engine surface rather than connector glue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from streaming_ecom_analytics_spark.schema import (
    ECOM_EVENT_SCHEMA,
    EVENT_TIME_FORMAT,
    EVENT_TIME_PATTERN,
)

# Fields in producer wire order (producer.py:34-45).
_WIRE_FIELDS = (
    "event_time",
    "event_type",
    "product_id",
    "category_id",
    "category_code",
    "brand",
    "price",
    "user_id",
    "user_session",
)

# The read side's from_json schema: the declared event schema with
# event_time still a string, so the producer's regex gate can run on it
# before the timestamp cast.
_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("event_time", T.StringType(), True),
        *[f for f in ECOM_EVENT_SCHEMA.fields if f.name != "event_time"],
    ]
)


def serialize_events(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "event_time",
) -> DataFrame:
    """Events → Kafka-shaped (key, value) frame.

    value = JSON object with the 9 wire fields, event_time formatted
    ISO-8601 with millisecond precision (producer.py:36); key = user_id
    (producer.py:60). Ready for ``.write.format("kafka")`` or any
    byte sink.
    """
    cols = [
        F.date_format(F.col(f), EVENT_TIME_FORMAT).alias(f) if f == ts_col else F.col(f)
        for f in _WIRE_FIELDS
        if f in events.columns
    ]
    return events.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*cols)).alias("value"),
    )


def parse_events(raw: DataFrame) -> DataFrame:
    """Kafka-shaped frame → typed events.

    from_json with the declared schema (never inference — a 100 TB
    stream cannot afford a schema pass), then the producer's regex
    timestamp gate (producer.py:18-20) as a pushed-down rlike filter.
    Unparseable JSON yields nulls, dropped by the gate.
    """
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), _WIRE_SCHEMA).alias("e")
    ).select("e.*")
    return parsed.filter(F.col("event_time").rlike(EVENT_TIME_PATTERN)).withColumn(
        "event_time", F.to_timestamp("event_time")
    )


def serialize_events_avro(events: DataFrame, *, key_col: str = "user_id") -> DataFrame:
    """AVRO wire variant of serialize_events (the reference's processed
    topic uses AVRO for schema evolution, README.md:81,87). Delegates to
    :mod:`avro_wire`: JVM ``to_avro`` when the spark-avro jar is on the
    classpath, spec-conformant Python codec otherwise — runnable either
    way, same bytes (golden-bytes test in test_avro_wire.py).
    """
    from streaming_ecom_analytics_spark.sources import avro_wire

    return avro_wire.serialize_events_avro(events, key_col=key_col)


def kafka_packages_hint(spark) -> str:
    """The exact ``--packages`` line that lights up the Kafka + AVRO
    connectors for this Spark build (Scala 2.13 artifacts, versioned to
    the running session). The connectors are option bundles on the
    standard source/sink API, so no engine code changes when added."""
    v = spark.version
    return (
        f"--packages org.apache.spark:spark-sql-kafka-0-10_2.13:{v},"
        f"org.apache.spark:spark-avro_2.13:{v}"
    )


def kafka_source(
    spark,
    *,
    brokers: str,
    topic: str,
    starting_offsets: str = "earliest",
    streaming: bool = True,
) -> DataFrame:
    """Kafka source (S6). Requires the spark-sql-kafka package on the
    classpath; tests use the file-based fallback instead."""
    reader = spark.readStream if streaming else spark.read
    return (
        reader.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )

