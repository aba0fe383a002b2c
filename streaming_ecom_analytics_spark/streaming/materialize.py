"""Materialized-view refresh for streaming aggregates.

The reference refreshes its reporting tables by TRUNCATE+INSERT per
cycle (reference snowflake_refresh.py pattern, snowflake.py:49-63).
The Spark-native equivalent is a ``foreachBatch`` sink: each
micro-batch overwrites the target parquet tables — idempotent under
micro-batch replay, which together with the checkpoint gives the
exactly-once materialization the reference only approximates.

One writer, ``overwrite_materializer``, refreshes one or more tables
from one batch; each table is a projection of the batch. The
overwrite is table-wide: a complete-mode aggregate's batch frame is
the whole view, so each refresh rewrites every target. The batch is
persisted and computed once, and the tables are written concurrently,
one file each. A target write that raises fails the whole epoch: the
query stops, and a restart on the same checkpoint replays that epoch
and rewrites every target.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame

Transform = Callable[[DataFrame], DataFrame]


def overwrite_materializer(
    targets: Mapping[str, Transform | None],
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: full-overwrite refresh (TRUNCATE+INSERT
    semantics). For complete-mode windowed aggregates the batch frame
    *is* the whole view, so overwrite is the correct refresh.

    ``targets`` maps each table path to the transform that projects it
    from the batch (``None`` writes the batch itself). The tables read
    one persisted copy of the batch: it is computed once, each table is
    written as one file on its own thread, and it is released when all
    have finished.
    """
    targets = dict(targets)

    def _overwrite(df: DataFrame, path: str, fn: Transform | None) -> None:
        out = fn(df) if fn else df
        out.coalesce(1).write.mode("overwrite").parquet(path)

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            batch_df.count()
            # each thread keeps the batch's job group, so stopping the
            # query cancels its writes too
            inherit = inheritable_thread_target(batch_df.sparkSession)
            with ThreadPoolExecutor(len(targets)) as pool:
                writes = [
                    pool.submit(inherit(_overwrite), batch_df, path, fn)
                    for path, fn in targets.items()
                ]
            for w in writes:
                w.result()
        finally:
            batch_df.unpersist()

    return _write


def start_materialized_view(
    agg: DataFrame,
    *,
    target_path: Mapping[str, Transform | None],
    checkpoint: str,
    output_mode: str = "complete",
    trigger_seconds: int | None = None,
    available_now: bool = False,
):
    """Run a streaming aggregate as continuously-refreshed parquet
    view(s) (ST4's 5-minute-freshness dashboard feed; set
    trigger_seconds=300 for the reference's SLO). ``target_path``
    takes what ``overwrite_materializer`` takes: a mapping of path →
    transform, all refreshed by one query from one checkpoint."""
    writer = (
        agg.writeStream.outputMode(output_mode)
        .foreachBatch(overwrite_materializer(target_path))
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


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
