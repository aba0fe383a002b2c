"""Pipeline runner — the reference's Airflow DAG as a thin engine loop.

The reference orchestrates extract → kafka → validate → materialize as
four Airflow tasks every 3 hours with XCom path handoffs
(reference ecommerce_pipeline_dag.py:50-85). Here each stage is a
function over DataFrames; handoff is return values (C2), empty-input
guards use isEmpty() not count() (C3 — no second scan), failures
isolate per reporting table like the reference's refresh loop
(snowflake.py:55-61), and there is no cron: batch runs are invoked by
the caller, streaming views run continuously (C1/C4).

Only the extract is a barrier. The nine actions after it — publish,
validation and one refresh per ``REPORTING_VIEWS`` entry — each read
only the raw lake table the extract wrote and never another's output,
so they run concurrently on one thread pool: one thread per action, at
most ``defaultParallelism``. Each is a few one- or two-task
jobs whose cost is mostly the per-job driver floor; overlapping them
fills the cores that a serial loop leaves idle. Every pool target is
wrapped in ``inheritable_thread_target``, so its jobs keep the caller's
job group, scheduler pool and other local properties.

Errors: a refresh that raises is logged and listed in ``failed``, and
the rest still run. An exception from publish or validation leaves
``run_batch_cycle`` once the pool has drained — publish's first, then
validation's — so the views may already be refreshed by then, which is
correct because they depend only on the raw lake. A ``publish``
callback runs on a pool thread, concurrently with the other actions.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from streaming_ecom_analytics_spark.operators import aggregates, validation
from streaming_ecom_analytics_spark.operators.ingest import ingest_events, read_raw_csv
from streaming_ecom_analytics_spark.schema import ECOM_EVENT_LAKE_SCHEMA
from streaming_ecom_analytics_spark.sources.kafka_contract import serialize_events
from streaming_ecom_analytics_spark.sources.lake import Lake

log = logging.getLogger(__name__)

# The six reporting refreshes (snowflake_refresh.py:5-80) on the
# canonical ecom event schema.
REPORTING_VIEWS: dict[str, Callable[[DataFrame], DataFrame]] = {
    "daily_revenue": lambda ev: aggregates.daily_revenue(
        ev, ts_col="event_time", price_col="price"
    ),
    "top_selling_brands": aggregates.top_selling_brands,
    "conversion_funnel": aggregates.conversion_funnel,
    "abandoned_cart_users": aggregates.abandoned_cart_users,
    "average_order_value_daily": lambda ev: aggregates.average_order_value_daily(
        ev, ts_col="event_time", price_col="price", order_key_col="user_session"
    ),
    "daily_active_users_by_event_type": lambda ev: aggregates.daily_active_users_by_event_type(
        ev, ts_col="event_time", user_col="user_session"
    ),
    "top_revenue_by_category": lambda ev: aggregates.top_revenue_by_category(
        ev, category_col="category_code", price_col="price"
    ),
}


def run_batch_cycle(
    spark: SparkSession,
    lake: Lake,
    *,
    csv_path: str,
    daily_sample_n: int = 10_000,
    publish: Callable[[DataFrame], None] | None = None,
) -> dict:
    """One extract → publish → validate → materialize cycle."""
    # 1. extract (extractor.py:89-164 parity). The declared schema lets an
    # empty extract (the write leaves only _SUCCESS) read as empty.
    raw = read_raw_csv(spark, csv_path)
    stats = ingest_events(spark, raw, lake, daily_sample_n=daily_sample_n)
    events = lake.read(spark, "raw", "events", schema=ECOM_EVENT_LAKE_SCHEMA)

    # 2. publish — distributed serialization; guard on isEmpty (C3)
    def publish_events() -> None:
        if events.isEmpty():
            log.warning("no events extracted; skipping publish")
            return
        wire = serialize_events(events.drop("event_date"))
        if publish is not None:
            publish(wire)
        else:
            lake.write(wire, "processed", "events_wire")

    # 3. validate (snowflake.py:15-47 parity)
    def validate():
        return validation.validate_events(
            events,
            key_cols=("product_id", "category_id", "event_time", "user_id"),
            ts_col="event_time",
        ).first()

    # 4. materialize (snowflake.py:55-61)
    def refresh(name: str) -> None:
        lake.refresh(REPORTING_VIEWS[name](events), name)

    inherit = inheritable_thread_target(spark)
    n_actions = 2 + len(REPORTING_VIEWS)
    with ThreadPoolExecutor(min(n_actions, spark.sparkContext.defaultParallelism)) as pool:
        published = pool.submit(inherit(publish_events))
        quality = pool.submit(inherit(validate))
        views = {name: pool.submit(inherit(refresh), name) for name in REPORTING_VIEWS}

    # per-view error isolation, in registry order
    refreshed, failed = [], []
    for name, view in views.items():
        exc = view.exception()
        if exc is None:
            refreshed.append(name)
        else:
            log.error("refresh failed for %s", name, exc_info=exc)
            failed.append(name)
    published.result()

    return {
        "ingest": stats,
        "quality": quality.result().asDict(),
        "refreshed": refreshed,
        "failed": failed,
    }
