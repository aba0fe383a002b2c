"""Ingest cleaning operators — the reference extractor's projection chain.

Reference: airflow_docker/dags/ecomm_pipeline/extractor.py:105-115 imposes
types on a schemaless CSV read by explicit per-column expressions:
timestamp parse, date derivation, string casts, identity null
normalization on nullable columns, and price null→0.0 coalesce. The
producer adds a regex timestamp gate (producer.py:18-20) applied
row-at-a-time in the driver; here it is a pushed-down ``rlike`` filter
in ``sources/kafka_contract.parse_events``.

Everything is a built-in column expression — whole-stage codegen'd,
zero Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def clean_events(raw: DataFrame) -> DataFrame:
    """Impose the canonical event schema on a raw (all-string) frame.

    Mirrors extractor.py:105-115 semantically:
    - event_time: string → timestamp (P1), event_date derived (P2)
    - product_id/category_id/user_id/user_session → string casts (P3)
    - brand/category_code: identity when/otherwise keeping nulls (P4)
    - price: coalesce(cast double, 0.0) (P5)
    """
    # try_to_timestamp / try_cast: unparseable input → NULL, the
    # reference's legacy-mode semantics (Spark 4's default ANSI mode
    # would throw on the first dirty row of a 100 TB backfill).
    ts = F.try_to_timestamp(F.col("event_time"))
    return raw.select(
        ts.alias("event_time"),
        F.to_date(ts).alias("event_date"),
        F.col("event_type").cast("string").alias("event_type"),
        F.col("product_id").cast("string").alias("product_id"),
        F.col("category_id").cast("string").alias("category_id"),
        F.when(F.col("category_code").isNotNull(), F.col("category_code"))
        .otherwise(F.lit(None).cast("string"))
        .alias("category_code"),
        F.when(F.col("brand").isNotNull(), F.col("brand"))
        .otherwise(F.lit(None).cast("string"))
        .alias("brand"),
        F.coalesce(F.expr("try_cast(price AS double)"), F.lit(0.0)).alias("price"),
        F.col("user_id").cast("string").alias("user_id"),
        F.col("user_session").cast("string").alias("user_session"),
    )

