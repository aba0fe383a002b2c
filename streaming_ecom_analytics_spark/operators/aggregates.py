"""The analytic aggregates — the reference's six reporting tables plus the
dashboard top-K tile, as composable DataFrame transforms. These are the
only implementation of the family: the batch runner's ``REPORTING_VIEWS``
and the registry's oracle-checked queries both call them.

Reference semantics (file:line into /root/reference/):
- daily_revenue                    airflow_docker/dags/utils/snowflake_refresh.py:6-15
- top_selling_brands               snowflake_refresh.py:17-28
- conversion_funnel                snowflake_refresh.py:30-39
- abandoned_cart_users             snowflake_refresh.py:41-56
- average_order_value_daily        snowflake_refresh.py:58-67
- daily_active_users_by_event_type snowflake_refresh.py:69-79
- top_revenue_by_category          README.md:95-97 (dashboard-only tile)

Every function takes an events DataFrame with an ``event_type`` column
whose purchase stage is ``'purchase'``, plus the names of the columns
that differ between the driver testdata's ``events`` table (the
defaults: ts/user_id/value) and the reference's ecom schema. Each
returns a lazy DataFrame. All are single-shuffle hash aggregates;
Catalyst plans the partial/final split, pushes the event_type filters
into the parquet scan, and prunes to the 2-4 referenced columns.

Money rule: every revenue figure goes through ``money_sum`` — each
price cast to DECIMAL(18,2), summed exactly, cast back to DOUBLE — so
the result does not depend on floating-point summation order and
matches the DuckDB oracle's ``CAST(SUM(CAST(x AS DECIMAL(18,2))) AS
DOUBLE)`` (``SQL_MONEY_SUM``).

Scale notes (100 TB posture):
- Filters precede aggregation so pushdown reaches the scan.
- Top-K queries use orderBy+limit which Spark fuses into
  TakeOrderedAndProject (no global sort materialization).
- Nothing else sorts. A refresh is a parquet overwrite, and a
  multi-file table has no row order a reader could rely on, so an
  unbounded orderBy would buy a range shuffle and a sort for nothing.
- countDistinct expands via RewriteDistinctAggregates (two-phase); the
  streaming layer swaps it for approx_count_distinct (see streaming/).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The oracle side of money_sum, as DuckDB SQL text.
SQL_MONEY_SUM = "CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE)"


def money_sum(col: str) -> Column:
    """Exact money sum: DOUBLE → DECIMAL(18,2) → SUM (exact) → DOUBLE."""
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double")


def _day(ts_col: str) -> Column:
    # DATE_TRUNC('DAY', ...) per snowflake_refresh.py:10 — keep timestamp
    # type (day-truncated), matching the reference's Snowflake semantics.
    return F.date_trunc("day", F.col(ts_col))


def _purchases() -> Column:
    return F.col("event_type") == "purchase"


def daily_revenue(events: DataFrame, *, ts_col: str = "ts", price_col: str = "value") -> DataFrame:
    """Total purchase revenue per day, 2-dp rounded (snowflake_refresh.py:6-15)."""
    return (
        events.filter(_purchases())
        .groupBy(_day(ts_col).alias("event_date"))
        .agg(F.round(money_sum(price_col), 2).alias("total_revenue"))
    )


def top_selling_brands(events: DataFrame) -> DataFrame:
    """Top-10 brands by purchase revenue on the ecom schema
    (snowflake_refresh.py:17-28).

    orderBy+limit fuses to TakeOrderedAndProject: each partition keeps a
    K-row heap, the driver merges K*numPartitions rows — no global sort.
    Ties broken by brand name for determinism.
    """
    return (
        events.filter(_purchases() & F.col("brand").isNotNull())
        .groupBy("brand")
        .agg(F.round(money_sum("price"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("brand"))
        .limit(10)
    )


def conversion_funnel(
    events: DataFrame, *, funnel_types: tuple[str, ...] = ("view", "cart", "purchase")
) -> DataFrame:
    """Event counts for the funnel stages (snowflake_refresh.py:30-39)."""
    return (
        events.filter(F.col("event_type").isin(*funnel_types))
        .groupBy("event_type")
        .agg(F.count("*").alias("event_count"))
    )


def abandoned_cart_users(events: DataFrame, *, cart_type: str = "cart") -> DataFrame:
    """Cart-event counts for users who never purchased
    (snowflake_refresh.py:41-56).

    The reference writes ``NOT IN (SELECT DISTINCT user_id ...)``; we
    author it as a left_anti join. SQL NOT IN collapses to empty on
    NULLs in the subquery — the reference's cleaning guarantees
    non-null user_id (extractor.py:110, audited snowflake.py:32), so
    left_anti is the correct and safer realization, and Catalyst itself
    rewrites NOT IN to a null-aware anti join anyway.

    Scale: the distinct purchaser set is small next to the fact table
    but grows with the user base, so it is deliberately NOT hinted —
    AQE broadcasts it at runtime when it actually fits the threshold,
    and falls back to a user_id-hashed shuffle anti-join (which the
    downstream groupBy on user_id then reuses) when it doesn't. A
    forced hint here would OOM executors once the purchaser set reaches
    GB scale.
    """
    carts = events.filter(F.col("event_type") == cart_type)
    purchasers = events.filter(_purchases()).select("user_id").distinct()
    return (
        carts.join(purchasers, on="user_id", how="left_anti")
        .groupBy("user_id")
        .agg(F.count("*").alias("cart_events"))
    )


def average_order_value_daily(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    price_col: str = "value",
    order_key_col: str = "user_id",
) -> DataFrame:
    """SUM(price)/COUNT(DISTINCT order_key) per day (snowflake_refresh.py:58-67).

    The reference's order proxy is user_session; on the driver testdata we
    use user_id. Exact distinct in batch; streaming uses approx (ST7).
    """
    return (
        events.filter(_purchases())
        .groupBy(_day(ts_col).alias("event_date"))
        .agg(
            F.round(money_sum(price_col) / F.countDistinct(order_key_col), 2).alias(
                "average_order_value"
            )
        )
    )


def daily_active_users_by_event_type(
    events: DataFrame, *, ts_col: str = "ts", user_col: str = "user_id"
) -> DataFrame:
    """COUNT(DISTINCT user) per (day, event_type) (snowflake_refresh.py:69-79)."""
    return events.groupBy(_day(ts_col).alias("event_date"), "event_type").agg(
        F.countDistinct(user_col).alias("daily_active_users")
    )


def top_revenue_by_category(
    events: DataFrame, *, category_col: Column | str, price_col: str = "value"
) -> DataFrame:
    """Top-15 categories by purchase revenue (README.md:95-97 tile)."""
    cat = F.col(category_col) if isinstance(category_col, str) else category_col
    return (
        events.filter(_purchases() & cat.isNotNull())
        .groupBy(cat.alias("category"))
        .agg(F.round(money_sum(price_col), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("category"))
        .limit(15)
    )


def time_rollup(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
    type_col: str = "event_type",
    purchase_type: str = "purchase",
) -> DataFrame:
    """Hypertable-style multi-resolution time rollup: purchase revenue
    and event counts at hour, day, and month grain in one result —
    with each coarser grain aggregated FROM THE NEXT FINER AGGREGATE,
    never from raw events (the TimescaleDB continuous-aggregate /
    OLAP cube-reuse pattern).

    Scale shape: the raw table is scanned exactly once (hour grain);
    day reduces hour rows (24x smaller), month reduces day rows —
    re-aggregation cost is measured in thousands of rows regardless
    of corpus size. Sums stay DECIMAL through every level so
    sum-of-sums is exact and engine-portable, cast to double only on
    output. The hour base is persisted: it feeds its own output
    branch plus the day cascade.

    Output: (grain, bucket_start, revenue, n_events).
    """
    from streaming_ecom_analytics_spark.caching import persist_tracked

    hour = persist_tracked(
        events.filter(F.col(type_col) == purchase_type)
        .groupBy(F.date_trunc("hour", F.col(ts_col)).alias("bucket_start"))
        .agg(
            F.sum(F.col(value_col).cast("decimal(18,2)")).alias("__rev"),
            F.count("*").alias("n_events"),
        )
    )
    day = persist_tracked(
        hour.groupBy(F.date_trunc("day", F.col("bucket_start")).alias("bucket_start"))
        .agg(F.sum("__rev").alias("__rev"), F.sum("n_events").alias("n_events"))
    )
    month = day.groupBy(
        F.date_trunc("month", F.col("bucket_start")).alias("bucket_start")
    ).agg(F.sum("__rev").alias("__rev"), F.sum("n_events").alias("n_events"))

    def _out(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            "bucket_start",
            F.col("__rev").cast("double").alias("revenue"),
            F.col("n_events").cast("long").alias("n_events"),
        )

    return _out(hour, "hour").unionByName(_out(day, "day")).unionByName(
        _out(month, "month")
    )


def gapfill_daily_locf(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Gap-filled daily series with last-observation-carried-forward
    (the TimescaleDB ``time_bucket_gapfill`` + ``locf`` pattern).

    Aggregates to day grain, builds the full min→max day spine with
    ``sequence()`` over a ONE-ROW bounds aggregate (never a driver
    collect), left-joins the sparse series onto it, and carries the
    last seen daily sum forward with an ignore-nulls ``last()`` window.

    Scale shape: the expensive pass is the day aggregate over the raw
    table (bounded shuffle: one row per day). Everything after runs on
    the day series — ~3.7k rows per decade no matter the corpus size —
    so the single unpartitioned LOCF window is tiny by construction,
    and the spine join broadcasts.

    Output: (day, n, day_sum, filled_sum, is_gap).
    """
    daily = df.where(F.col(value_col).isNotNull()).groupBy(
        F.date_trunc("day", F.col(ts_col)).alias("day")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("__sum"),
    )
    spine = (
        daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 DAY"))
            ).alias("day")
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    joined = spine.join(daily, on="day", how="left")
    return joined.select(
        "day",
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        F.round(F.col("__sum").cast("double"), 2).alias("day_sum"),
        F.round(
            F.last(F.col("__sum"), ignorenulls=True).over(w).cast("double"), 2
        ).alias("filled_sum"),
        F.col("__sum").isNull().alias("is_gap"),
    )
