"""The end-to-end streaming pipeline — the reference's whole
architecture (Airflow DAG → Kafka → Flink → Snowflake →
dashboards, reference ecommerce_pipeline_dag.py:50-85, README.md:30-51)
collapsed into one Spark program:

    source (kafka or file lake) → parse/clean → windowed aggregates
      → materialized parquet views (processed layer)

Replay & checkpointing (S9/ST8): the reference hand-rolls a JSON
checkpoint {current_month, global_offset} to replay months without
overlap (extractor.py:25-41,143-154). Structured Streaming's
checkpointLocation subsumes it: source offsets, aggregate state, and
sink epochs all resume exactly-once after restart; a file-lake source
replays deterministically with Trigger.AvailableNow.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from streaming_ecom_analytics_spark.schema import TESTDATA_EVENT_SCHEMA
from streaming_ecom_analytics_spark.streaming import windows
from streaming_ecom_analytics_spark.streaming.materialize import start_materialized_view


# The views' aggregate is keyed by (view, window, event type): a few
# thousand groups per day of events whatever the event volume, and the
# map side pre-aggregates each micro-batch before the shuffle. One state
# partition holds it. Each further partition adds a state store and, per
# batch, a reduce task with three hash-aggregation maps (one Tungsten
# memory page each), with no parallel work to share: the three tables
# are written one file each, by one task, anyway.
STATE_PARTITIONS = 1


@dataclass
class StreamingPipeline:
    """Wires a streaming events source to the processed-layer views.

    The three views (``windows.PROCESSED_VIEWS``) are one streaming
    query with one checkpoint: each micro-batch scans the source once,
    updates one aggregate state store (``STATE_PARTITIONS``), and
    writes the three view tables from that one aggregate. A failing
    view write fails the whole epoch; a restart on the checkpoint
    replays it, and the overwrite refresh makes the replay idempotent.
    A checkpoint written by the older one-query-per-view layout (a
    subdirectory per view) is not resumed: the query starts over and
    rewrites the views.
    """

    spark: SparkSession
    warehouse_dir: str
    checkpoint_dir: str
    watermark: str = "1 hour"
    queries: list = field(default_factory=list)

    def file_events_source(self, path: str, *, max_files_per_trigger: int = 1) -> DataFrame:
        """File-lake streaming source (brokerless dev/test path; swap
        for kafka_contract.kafka_source in production). One file per
        trigger ≈ one micro-batch per day-partition — the reference's
        month-rotation replay, minus the bespoke state file."""
        return (
            self.spark.readStream.schema(TESTDATA_EVENT_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path)
        )

    def start_views(self, events: DataFrame, *, available_now: bool = True) -> list:
        """Start the processed-layer views over an events stream, as one
        query. Returns that query once per view, in ``PROCESSED_VIEWS``
        order, so a caller can read each view's progress by name."""
        targets = {
            f"{self.warehouse_dir}/{name}": partial(windows.processed_view, name=name)
            for name in windows.PROCESSED_VIEWS
        }
        # A stateful query takes its state partition count from its
        # session's conf when it starts: the query runs on its own clone
        # of the session, and the checkpoint pins the count for restarts.
        # So the conf is set only around the start (a query started on
        # the same session from another thread meanwhile would see it).
        conf = events.sparkSession.conf
        shuffle_partitions = conf.get("spark.sql.shuffle.partitions")
        conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
        try:
            q = start_materialized_view(
                windows.processed_view_aggregate(events, watermark=self.watermark),
                target_path=targets,
                checkpoint=self.checkpoint_dir,
                output_mode="complete",
                available_now=available_now,
            )
        finally:
            conf.set("spark.sql.shuffle.partitions", shuffle_partitions)
        self.queries.append(q)
        return [q] * len(targets)

    def await_all(self) -> None:
        for q in self.queries:
            q.awaitTermination()
