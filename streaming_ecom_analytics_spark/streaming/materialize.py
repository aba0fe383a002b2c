"""Materialized-view refresh for streaming aggregates.

The reference refreshes its reporting tables by TRUNCATE+INSERT per
cycle with per-table error isolation (reference snowflake_refresh.py
pattern, snowflake.py:49-63). The Spark-native equivalent is a
``foreachBatch`` sink: each micro-batch overwrites (or upserts into)
the target parquet table — idempotent under micro-batch
replay, which together with the checkpoint gives the exactly-once
materialization the reference only approximates.

The overwrite is table-wide: a complete-mode aggregate's batch frame
is the whole view, so each refresh rewrites the whole target.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def overwrite_materializer(
    target_path: str,
    *,
    partition_by: tuple[str, ...] = (),
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: full-overwrite refresh (TRUNCATE+INSERT
    semantics). For complete-mode windowed aggregates the batch frame
    *is* the whole view, so overwrite is the correct refresh."""

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        df = transform(batch_df) if transform else batch_df
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(target_path)

    return _write


def start_materialized_view(
    agg: DataFrame,
    *,
    target_path: str,
    checkpoint: str,
    output_mode: str = "complete",
    trigger_seconds: int | None = None,
    partition_by: tuple[str, ...] = (),
    available_now: bool = False,
):
    """Run a streaming aggregate as a continuously-refreshed parquet
    view (ST4's 5-minute-freshness dashboard feed; set
    trigger_seconds=300 for the reference's SLO)."""
    writer = (
        agg.writeStream.outputMode(output_mode)
        .foreachBatch(overwrite_materializer(target_path, partition_by=partition_by))
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def versioned_materializer(
    table_path: str,
    *,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function committing each refresh as a SNAPSHOT of a
    VersionedTable (sources/versioned_lake.py): readers mid-refresh
    keep the previous consistent version (a plain parquet overwrite can
    tear a concurrent read), every refresh stays time-travelable, and
    micro-batch replay after a crash just re-commits — idempotent in
    content, with the epoch recorded in the commit message for audit."""
    from streaming_ecom_analytics_spark.sources.versioned_lake import VersionedTable

    table = VersionedTable(table_path)

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        df = transform(batch_df) if transform else batch_df
        table.commit(df, mode="overwrite", message=f"epoch={epoch_id}")

    return _write


def cdc_upsert_materializer(
    table_path: str,
    *,
    key_cols: tuple[str, ...],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
    base_columns: list[str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function turning a CHANGE STREAM into a maintained
    snapshot table: each micro-batch MERGEs (operators/cdc.py::
    apply_changes — latest-per-key upserts + deletes) into the current
    VersionedTable snapshot and commits the result as the next version.
    The streaming half of the reference's staging→MERGE warehouse flow,
    with snapshot isolation (readers never see a half-applied batch)
    and per-batch time travel for free.

    First batch bootstraps the table from the change rows themselves
    (non-delete upserts). ``base_columns`` pins the snapshot schema
    (defaults to the change frame minus op/seq columns).
    """
    from streaming_ecom_analytics_spark.operators.cdc import apply_changes
    from streaming_ecom_analytics_spark.sources.versioned_lake import VersionedTable

    table = VersionedTable(table_path)

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        cols = base_columns or [
            c for c in batch_df.columns if c not in (op_col, seq_col)
        ]
        if table.latest_version() is None:
            base = batch_df.sparkSession.createDataFrame(
                [], batch_df.select(*cols).schema
            )
        else:
            base = table.read(batch_df.sparkSession)
        merged = apply_changes(
            base,
            batch_df,
            key_cols=list(key_cols),
            seq_col=seq_col,
            op_col=op_col,
            delete_op=delete_op,
        )
        table.commit(merged, mode="overwrite", message=f"cdc epoch={epoch_id}")

    return _write
