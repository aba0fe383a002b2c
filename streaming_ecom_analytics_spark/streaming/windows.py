"""Windowed streaming aggregates — the Flink-prose semantics
(reference README.md:47,51) realized as Structured Streaming plans.

Every function takes any events frame (batch *or* streaming — the
logical plan is identical; pass a readStream frame and the micro-batch
engine runs it incrementally with state) and returns the aggregate.

Watermark policy (ST6): the reference never states a lateness bound —
it silently outsourced late data to Flink defaults. We make it
explicit: ``watermark`` (default 1 hour) bounds state and drops
later-than-watermark rows; pass None for batch frames.

Distinct policy (ST7): streaming aggregation cannot do exact
COUNT(DISTINCT) (unbounded per-group state) → approx_count_distinct
(HLL) in the streaming/processed layer, exact countDistinct in the
batch/reporting layer — the reference's own lambda split
(README.md:40), documented here as an engine policy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _maybe_watermark(events: DataFrame, ts_col: str, watermark: str | None) -> DataFrame:
    return events.withWatermark(ts_col, watermark) if watermark else events


def dedup_events(
    events: DataFrame,
    *,
    id_cols: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str | None = "1 hour",
) -> DataFrame:
    """Ingestion dedup — at-least-once delivery made effectively-once.

    Every real event bus redelivers (producer retries, consumer
    rebalances), so the first stateful operator of any ingestion DAG is
    a keyed dedup. Streaming: ``dropDuplicatesWithinWatermark`` on
    ``id_cols`` — per-key state is EVICTED once the watermark passes the
    key's event time, so state is bounded by the redelivery horizon
    (seconds-to-minutes on a real bus), not by stream length; a
    plain streaming ``dropDuplicates`` would grow state forever.
    Batch (``watermark=None``): plain ``dropDuplicates``, the same
    logical contract — which makes the batch frame the DuckDB-checkable
    oracle twin for the streaming plan.

    Duplicates beyond the watermark horizon are not caught here by
    design — that is the batch reconciliation layer's job (the same
    lambda split as exact-vs-approx COUNT(DISTINCT), documented above).
    """
    if watermark:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(id_cols)
        )
    return events.dropDuplicates(list(id_cols))


def tumbling_event_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    type_col: str = "event_type",
    window_size: str = "5 minutes",
    watermark: str | None = "1 hour",
) -> DataFrame:
    """ST2/ST3/ST5: event counts per (tumbling window, event_type) —
    the streaming funnel. Output: window_start, window_end, event_type,
    event_count."""
    df = _maybe_watermark(events, ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), window_size), F.col(type_col).alias("event_type"))
        .agg(F.count("*").alias("event_count"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "event_count",
        )
    )


def sliding_revenue(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    price_col: str = "value",
    type_col: str = "event_type",
    purchase_type: str = "purchase",
    window_size: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str | None = "1 hour",
) -> DataFrame:
    """ST2: sliding-window purchase revenue (each event contributes to
    size/slide overlapping windows). Exact decimal sum → double."""
    df = _maybe_watermark(events, ts_col, watermark).filter(
        F.col(type_col) == purchase_type
    )
    return (
        df.groupBy(F.window(F.col(ts_col), window_size, slide))
        .agg(F.sum(F.col(price_col).cast("decimal(18,2)")).cast("double").alias("revenue"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "revenue",
        )
    )


def session_windows(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str | None = "1 hour",
) -> DataFrame:
    """ST2: per-user session windows (gap-based). Output: user_id,
    session_start, session_end (last event + gap), n_events.

    Batch mode plans this as a sort-based session aggregation per user
    partition; streaming mode keeps per-user session state with
    watermark-driven eviction.
    """
    df = _maybe_watermark(events, ts_col, watermark)
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap), F.col(user_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(user_col),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def windowed_active_users(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    window_size: str = "1 day",
    watermark: str | None = "1 hour",
    exact: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """ST7: active users per (window, event_type).

    exact=False (streaming-safe): approx_count_distinct HLL sketch —
    bounded state, mergeable across partitions, the only distinct that
    scales on an unbounded stream. exact=True for the batch reporting
    reconciliation (A9's semantics).
    """
    df = _maybe_watermark(events, ts_col, watermark)
    distinct: Column = (
        F.countDistinct(user_col)
        if exact
        else F.approx_count_distinct(user_col, rsd)
    )
    return (
        df.groupBy(F.window(F.col(ts_col), window_size), F.col(type_col).alias("event_type"))
        .agg(distinct.alias("active_users"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "active_users",
        )
    )


# The processed-layer views that StreamingPipeline maintains, and how
# each reads the one shared aggregate below. Each projection equals the
# batch twin named beside it, called with its defaults.
PROCESSED_VIEWS: dict[str, tuple[str, ...]] = {
    # tumbling_event_counts: 5-minute tumbling windows
    "funnel_5m": ("window_start", "window_end", "key AS event_type", "n AS event_count"),
    # sliding_revenue: 10-minute windows sliding by 5 minutes
    "sliding_revenue": ("window_start", "window_end", "CAST(price_sum AS DOUBLE) AS revenue"),
    # windowed_active_users: 1-day tumbling windows
    "active_users_daily": ("window_start", "window_end", "key AS event_type", "users AS active_users"),
}


def processed_view_rows(events: DataFrame, *, watermark: str | None = "1 hour") -> DataFrame:
    """Every event once, as one keyed row per processed-view window it
    falls in: ``(view, window_start, window_end, key, price, user)``.

    - ``funnel_5m``: one 5-minute row, keyed by event_type;
    - ``sliding_revenue``: purchases only, one row for each of the two
      10-minute windows (sliding by 5) that hold the event, carrying
      the decimal price;
    - ``active_users_daily``: one 1-day row, keyed by event_type,
      carrying the user.

    Window bounds come from ``F.window`` itself, so they are the batch
    twins' bounds. Spark resolves one window expression per operator,
    so each tumbling window is its own projection, and the sliding
    windows are the slide-sized tumbling window's start minus 0 and 1
    slides. Events with a NULL ``ts`` fall out, as in the twins.
    """
    slide_us = 5 * 60 * 1_000_000
    df = (
        _maybe_watermark(events, "ts", watermark)
        .withColumn("_w5", F.window("ts", "5 minutes"))
        .withColumn("_w1d", F.window("ts", "1 day"))
    )
    no_key = F.lit(None).cast("string")
    no_price = F.lit(None).cast("decimal(18,2)")
    no_user = F.lit(None).cast("long")

    def row(view: str, start: Column, end: Column, key: Column, price: Column, user: Column) -> Column:
        return F.struct(
            F.lit(view).alias("view"),
            start.alias("window_start"),
            end.alias("window_end"),
            key.alias("key"),
            price.alias("price"),
            user.alias("user"),
        )

    slide_start = F.unix_micros(F.col("_w5.start"))
    price = F.col("value").cast("decimal(18,2)")
    sliding = [
        F.when(
            F.col("event_type") == "purchase",
            row(
                "sliding_revenue",
                F.timestamp_micros(slide_start - k * slide_us),
                F.timestamp_micros(slide_start + (2 - k) * slide_us),
                no_key, price, no_user,
            ),
        )
        for k in (0, 1)
    ]
    rows = F.array(
        row("funnel_5m", F.col("_w5.start"), F.col("_w5.end"), F.col("event_type"), no_price, no_user),
        *sliding,
        row("active_users_daily", F.col("_w1d.start"), F.col("_w1d.end"),
            F.col("event_type"), no_price, F.col("user_id")),
    )
    # non-purchases leave NULL sliding elements behind
    return df.select(F.explode(rows).alias("r")).where(F.col("r").isNotNull()).select("r.*")


def processed_view_aggregate(events: DataFrame, *, watermark: str | None = "1 hour") -> DataFrame:
    """The three processed views as one aggregate over
    ``processed_view_rows``: per (view, window, key) the row count, the
    exact decimal price sum and the HLL user count (at
    ``windowed_active_users``' default rsd). Split it into the view
    tables with ``processed_view``."""
    return (
        processed_view_rows(events, watermark=watermark)
        .groupBy("view", "window_start", "window_end", "key")
        .agg(
            F.count("*").alias("n"),
            F.sum("price").alias("price_sum"),
            F.approx_count_distinct("user", 0.05).alias("users"),
        )
    )


def processed_view(agg: DataFrame, name: str) -> DataFrame:
    """View ``name``'s table out of ``processed_view_aggregate``."""
    return agg.where(F.col("view") == name).selectExpr(*PROCESSED_VIEWS[name])


def rank_topk_per_window(
    counts: DataFrame, *, k: int = 3, order_col: str = "event_count"
) -> DataFrame:
    """Top-k rows per (window_start, window_end) by ``order_col`` —
    the rank step of a windowed-leaderboard view. Deterministic
    tiebreak on event_type. Batch-only by design: streaming append
    mode cannot rank (a later row may displace an earlier one), so the
    streaming form runs the COUNTS as the stateful aggregate and
    applies this rank per refresh in the foreachBatch materializer
    (overwrite_materializer({path: transform})) — the view is then
    always a consistent post-rank snapshot."""
    from pyspark.sql import Window as W

    w = W.partitionBy("window_start", "window_end").orderBy(
        F.desc(order_col), F.asc("event_type")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .withColumnRenamed("rn", "rank")
    )


def windowed_top_event_types(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    type_col: str = "event_type",
    window_size: str = "15 minutes",
    k: int = 3,
    watermark: str | None = "1 hour",
) -> DataFrame:
    """Batch form of the windowed leaderboard (counts + rank in one
    plan); the streaming deployment splits the same logic into
    tumbling_event_counts (stateful) + rank_topk_per_window (per
    refresh) as documented above."""
    counts = tumbling_event_counts(
        events, ts_col=ts_col, type_col=type_col,
        window_size=window_size, watermark=watermark,
    )
    return rank_topk_per_window(counts, k=k)
