"""Three-layer parquet lakehouse: raw / processed / reporting.

The reference lands data in three Snowflake namespaces — RAW (connector
dumps), PROCESSED (Flink aggregates), REPORTING (batch TRUNCATE+INSERT
refreshes) — per reference README.md:40,159. Here each layer is a
directory namespace of date-partitioned parquet tables.

Scale posture:
- every fact write is ``partitionBy(date_col)`` → static & dynamic
  partition pruning for the daily aggregates (the 100 TB win: a day's
  query reads a day's files);
- refreshes are atomic overwrites, partition-scoped when keyed by date;
- readers go through the catalog (explicit schema, no inference).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class Lake:
    """A tiny table namespace over a root directory."""

    LAYERS = ("raw", "processed", "reporting")

    def __init__(self, root: str):
        self.root = root

    def path(self, layer: str, table: str) -> str:
        assert layer in self.LAYERS, f"unknown layer {layer}"
        return os.path.join(self.root, layer, table)

    def write(
        self,
        df: DataFrame,
        layer: str,
        table: str,
        *,
        partition_by: tuple[str, ...] = (),
        mode: str = "overwrite",
    ) -> str:
        """Write a table; date-partition fact tables
        (reference README.md:40 'partitioned based on event timestamps')."""
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        target = self.path(layer, table)
        writer.parquet(target)
        return target

    def refresh(self, df: DataFrame, table: str) -> str:
        """TRUNCATE+INSERT refresh of a reporting table
        (reference snowflake_refresh.py:5-80) — an atomic overwrite here."""
        return self.write(df, "reporting", table, mode="overwrite")

    def read(
        self, spark: SparkSession, layer: str, table: str, *, schema: StructType | None = None
    ) -> DataFrame:
        """Read a table; with ``schema`` there is no inference, so a table
        written from an empty frame (``_SUCCESS`` only) still reads."""
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(self.path(layer, table))
