"""Canonical schemas.

``ECOM_EVENT_SCHEMA`` is the reference's single fact record: the 9-column
clickstream event whose types the reference imposes by explicit casts
(reference: airflow_docker/dags/ecomm_pipeline/extractor.py:106-114) and
whose wire contract the producer serializes
(reference: airflow_docker/dags/ecomm_pipeline/producer.py:34-45).
We declare it up front and pass it to every reader — no schema inference
anywhere (inference is a full extra pass over 100 TB).

``TESTDATA_EVENT_SCHEMA`` etc. describe the driver-provided synthetic
lake at /root/testdata/sf*/ (see TESTDATA.md).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Reference event record (extractor.py:106-114, producer.py:34-45).
ECOM_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_time", T.TimestampType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("product_id", T.StringType(), False),
        T.StructField("category_id", T.StringType(), False),
        T.StructField("category_code", T.StringType(), True),
        T.StructField("brand", T.StringType(), True),
        T.StructField("price", T.DoubleType(), False),
        T.StructField("user_id", T.StringType(), False),
        T.StructField("user_session", T.StringType(), False),
    ]
)

# Raw CSV layer: all columns arrive as strings (extractor.py:102 reads the
# CSV with header only); the cleaning operator imposes the types above.
ECOM_EVENT_RAW_SCHEMA = T.StructType(
    [T.StructField(f.name, T.StringType(), True) for f in ECOM_EVENT_SCHEMA.fields]
)

# Raw lake events table: what ingest writes, date-partitioned. Every
# column is nullable (unparseable timestamps land in the null-date
# partition) and event_date, the partition column, comes last. Readers
# declare it, so an empty extract (no data files) still has a schema.
ECOM_EVENT_LAKE_SCHEMA = T.StructType(
    [T.StructField(f.name, f.dataType, True) for f in ECOM_EVENT_SCHEMA.fields]
    + [T.StructField("event_date", T.DateType(), True)]
)

# ISO-8601 millisecond timestamp contract of the Kafka producer
# (producer.py:36 truncates %f to milliseconds; regex gate producer.py:18-20).
EVENT_TIME_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSS"
EVENT_TIME_PATTERN = r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?([+-]\d{2}:\d{2}|Z)?$"

# Driver-provided synthetic lake (TESTDATA.md).
TESTDATA_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
