"""Customer-analytics operators: cohort retention, RFM segmentation,
and rolling anomaly detection over the event stream.

These extend the reference's reporting family (six nightly aggregates in
snowflake_refresh.py:5-80) with the next tier of e-commerce analytics a
warehouse user would reach for — expressed as composable lazy DataFrame
transforms over the same events table.

Scale notes (100 TB posture):
- cohort_retention: two hash aggregates (per-user min, then per-cell
  count) — both shuffle on bounded keys (user_id, then ~days² cells);
  the cohort-size join broadcasts (one row per cohort day).
- rfm_segments: one per-user aggregate, then two broadcast joins against
  1-row frames (reference day, quartile thresholds). The thresholds come
  from a scalar exact-percentile aggregate — NOT a global ntile window,
  which would funnel every row through one partition; percentile is a
  two-phase aggregate and keeps the plan fully parallel.
- revenue_anomalies: the rolling window runs over the PRE-AGGREGATED
  daily series (one row per day — 3.7k rows per decade, regardless of
  fact-table size), so the unpartitioned window is tiny by construction.
  Mean/variance derive from exact DECIMAL window sums rather than the
  engine's stddev so the z-scores are bit-reproducible across engines
  (same IEEE expression on the same exact inputs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _day(ts_col: str) -> Column:
    return F.date_trunc("day", F.col(ts_col))


def cohort_retention(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Day-grain cohort retention matrix.

    Users are cohorted by their first-activity day; each (cohort_day,
    day_offset) cell counts distinct users from that cohort active
    ``day_offset`` days later, plus the retained fraction of the
    cohort's size.
    """
    day = _day(ts_col).alias("activity_day")
    first_seen = events.groupBy(user_col).agg(F.min(_day(ts_col)).alias("cohort_day"))
    activity = events.select(F.col(user_col), day).distinct()
    cells = (
        activity.join(first_seen, on=user_col)
        .groupBy(
            "cohort_day",
            F.datediff(F.col("activity_day"), F.col("cohort_day"))
            .cast("long")
            .alias("day_offset"),
        )
        .agg(F.count("*").alias("active_users"))
    )
    sizes = cells.where(F.col("day_offset") == 0).select(
        "cohort_day", F.col("active_users").alias("cohort_size")
    )
    return cells.join(F.broadcast(sizes), on="cohort_day").select(
        "cohort_day",
        "day_offset",
        "active_users",
        "cohort_size",
        F.round(F.col("active_users") / F.col("cohort_size"), 6).alias("retention"),
    )


def rfm_segments(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    price_col: str = "value",
    purchase_type: str = "purchase",
    type_col: str = "event_type",
) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation.

    Recency is days since the user's last purchase relative to the
    corpus's most recent purchase day; frequency is purchase count;
    monetary is exact-decimal revenue. Each metric is scored 1-4 by
    exact-percentile quartile thresholds (recency inverted: recent =
    high score), and users land in a named segment.
    """
    purchases = events.filter(F.col(type_col) == purchase_type)
    per_user = purchases.groupBy(user_col).agg(
        F.max(_day(ts_col)).alias("last_day"),
        F.count("*").alias("frequency"),
        F.round(F.sum(F.col(price_col).cast("decimal(18,2)")).cast("double"), 2).alias(
            "monetary"
        ),
    )
    ref = purchases.agg(F.max(_day(ts_col)).alias("ref_day"))
    metrics = (
        per_user.join(F.broadcast(ref))
        .select(
            F.col(user_col),
            F.datediff(F.col("ref_day"), F.col("last_day")).cast("long").alias(
                "recency_days"
            ),
            "frequency",
            "monetary",
        )
    )
    # Quartile thresholds as ONE scalar aggregate row (two-phase exact
    # percentile — scale-safe, unlike a global ntile window). ROUND(6)
    # absorbs the ≤1-ulp interpolation difference vs DuckDB quantile_cont.
    thresholds = metrics.agg(
        *[
            F.round(F.expr(f"percentile({m}, {q})"), 6).alias(f"{m[0]}{int(q * 100)}")
            for m in ("recency_days", "frequency", "monetary")
            for q in (0.25, 0.5, 0.75)
        ]
    )

    def _score_desc(col: str, p: str) -> Column:  # lower is better (recency)
        return (
            F.when(F.col(col) <= F.col(f"{p}25"), 4)
            .when(F.col(col) <= F.col(f"{p}50"), 3)
            .when(F.col(col) <= F.col(f"{p}75"), 2)
            .otherwise(1)
        )

    def _score_asc(col: str, p: str) -> Column:  # higher is better
        return (
            F.when(F.col(col) > F.col(f"{p}75"), 4)
            .when(F.col(col) > F.col(f"{p}50"), 3)
            .when(F.col(col) > F.col(f"{p}25"), 2)
            .otherwise(1)
        )

    scored = metrics.join(F.broadcast(thresholds)).select(
        F.col(user_col),
        "recency_days",
        "frequency",
        "monetary",
        _score_desc("recency_days", "r").alias("r_score"),
        _score_asc("frequency", "f").alias("f_score"),
        _score_asc("monetary", "m").alias("m_score"),
    )
    return scored.select(
        "*",
        F.when((F.col("r_score") >= 3) & (F.col("f_score") >= 3), "loyal")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 3), "at_risk")
        .when((F.col("r_score") >= 3) & (F.col("f_score") <= 2), "recent")
        .otherwise("hibernating")
        .alias("segment"),
    )


def revenue_anomalies(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    price_col: str = "value",
    purchase_type: str = "purchase",
    type_col: str = "event_type",
    trailing_days: int = 7,
    z_threshold: float = 2.0,
) -> DataFrame:
    """Daily revenue with a trailing-window z-score anomaly flag.

    The mean and variance come from exact DECIMAL window sums
    (sum, sum-of-squares) rather than the engine's stddev aggregate, so
    the z-score is the same IEEE-double expression over the same exact
    inputs on any engine — bit-reproducible, hence oracle-hashable.
    z is NULL until the trailing window is fully populated and when the
    window variance is zero.
    """
    daily = (
        events.filter(F.col(type_col) == purchase_type)
        .groupBy(_day(ts_col).alias("event_date"))
        .agg(
            F.round(F.sum(F.col(price_col).cast("decimal(18,2)")).cast("double"), 2).alias(
                "revenue"
            )
        )
    )
    rev_dec = F.col("revenue").cast("decimal(18,2)")
    w = Window.orderBy("event_date").rowsBetween(-(trailing_days - 1), 0)
    stats = daily.select(
        "event_date",
        "revenue",
        F.count("*").over(w).alias("n"),
        F.sum(rev_dec).over(w).cast("double").alias("s1"),
        F.sum(rev_dec * rev_dec).over(w).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    z = F.when(
        (F.col("n") >= trailing_days) & (var > 0),
        F.round((F.col("revenue") - mean) / F.sqrt(var), 6),
    )
    return stats.select(
        "event_date",
        "revenue",
        F.round(mean, 6).alias("trailing_mean"),
        z.alias("z_score"),
        F.when(z.isNotNull() & (F.abs(z) > z_threshold), 1).otherwise(0).alias(
            "is_anomaly"
        ),
    )


def mad_by_group(
    df: DataFrame,
    *,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Robust dispersion per group: median and median-absolute-deviation.

    Outlier-resistant counterpart to mean/stddev — two exact-percentile
    aggregates (both two-phase, parallel) with one equi-join on the
    group key between them; the group-median frame is tiny and
    broadcasts. ROUND(6) absorbs ≤1-ulp interpolation differences
    between engines' linear-interpolated medians.
    """
    med = df.groupBy(group_col).agg(
        F.round(F.expr(f"percentile({value_col}, 0.5)"), 6).alias("median_value")
    )
    return (
        df.join(F.broadcast(med), on=group_col)
        .groupBy(group_col)
        .agg(
            F.round(F.first("median_value"), 6).alias("median_value"),
            F.round(
                F.expr(f"percentile(abs({value_col} - median_value), 0.5)"), 6
            ).alias("mad"),
            F.count("*").alias("n"),
        )
    )


def item_cooccurrence(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    item_expr: Column | None = None,
    purchase_type: str = "purchase",
    type_col: str = "event_type",
    min_support: int = 2,
) -> DataFrame:
    """'Customers who bought X also bought Y': item co-purchase counts
    with cosine similarity over binary user-item vectors.

    One distinct (user, item) pass, a self equi-join on the user key
    (fan-out bounded by per-user basket size — the classic recommender
    shape), one pair aggregate, then two joins against the small
    item-count frame. ``min_support`` prunes the pair tail early.
    At 100 TB the skew knob is basket size, not item count: cap or
    sample pathological baskets upstream if a bot user buys everything.
    """
    if item_expr is None:
        item_expr = F.get_json_object(F.col("props"), "$.k").cast("long")
    ui = (
        events.filter((F.col(type_col) == purchase_type) & item_expr.isNotNull())
        .select(F.col(user_col).alias("u"), item_expr.alias("item"))
        .distinct()
    )
    counts = ui.groupBy("item").agg(F.count("*").alias("n"))
    a = ui.select(F.col("u"), F.col("item").alias("item_a"))
    b = ui.select(F.col("u"), F.col("item").alias("item_b"))
    pairs = (
        a.join(b, on="u")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_both"))
        .where(F.col("n_both") >= min_support)
    )
    ca = counts.select(F.col("item").alias("item_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("item").alias("item_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(ca, on="item_a")
        .join(cb, on="item_b")
        .select(
            "item_a",
            "item_b",
            "n_a",
            "n_b",
            "n_both",
            F.round(F.col("n_both") / F.sqrt(F.col("n_a") * F.col("n_b")), 6).alias(
                "cosine"
            ),
        )
    )


def histogram_fixed_width(
    df: DataFrame,
    value_col: str,
    *,
    lo: float,
    hi: float,
    n_bins: int = 25,
) -> DataFrame:
    """Fixed-width histogram over ``value_col`` with a zero-filled bin
    spine (every bin present, empty ones at count 0).

    Mirrors the profiling histograms warehouse engines expose (DuckDB
    ``histogram()``, Snowflake APPROX_TOP_K plots) as one hash
    aggregate: ``floor((v - lo) / width)`` clamped to ``[0, n_bins)``
    is the grouping key, so the shuffle carries at most ``n_bins`` rows
    per map partition. The spine is a broadcastable ``n_bins``-row
    frame built from ``sequence()`` — the left join against it costs
    nothing at any corpus size. Out-of-range values clamp into the edge
    bins (DuckDB twin uses the same least/greatest expression).
    """
    if n_bins < 1 or hi <= lo:
        raise ValueError("need n_bins >= 1 and hi > lo")
    width = (hi - lo) / n_bins
    bin_expr = F.least(
        F.greatest(F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(n_bins - 1),
    ).cast("long")
    filled = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(bin_expr.alias("bin"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col(value_col).cast("decimal(18,2)")).alias("bin_sum"),
        )
    )
    spine = (
        df.sparkSession.range(1)
        .select(F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("bin"))
        .select(F.col("bin").cast("long"))
    )
    return (
        spine.join(filled, on="bin", how="left")
        .select(
            "bin",
            F.round(F.lit(lo) + F.col("bin") * F.lit(width), 6).alias("bin_lo"),
            F.round(F.lit(lo) + (F.col("bin") + 1) * F.lit(width), 6).alias("bin_hi"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.round(F.coalesce(F.col("bin_sum"), F.lit(0)).cast("double"), 2).alias(
                "bin_sum"
            ),
        )
    )


def user_growth(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Daily new users and the cumulative user-growth curve.

    Two hash aggregates (per-user first-seen day, then per-day count)
    followed by a running sum over the DAY series — the unpartitioned
    window is safe because its input is one row per day (~3.7k rows
    per decade) regardless of corpus size; the heavy lifting is the
    per-user min, a plain two-phase aggregate on the user key.
    """
    first_seen = events.groupBy(user_col).agg(
        F.min(_day(ts_col)).alias("day")
    )
    daily = first_seen.groupBy("day").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


def abc_classification(
    df: DataFrame,
    *,
    key_col: str = "category",
    revenue_col: str = "revenue",
    a_cut: float = 0.8,
    b_cut: float = 0.95,
) -> DataFrame:
    """Pareto / ABC inventory classification over an ALREADY-AGGREGATED
    (key, revenue) frame: rank by revenue, cumulative share of total,
    class A up to ``a_cut`` of revenue, B up to ``b_cut``, C beyond.

    Designed to run on an aggregate output (one row per key), so the
    two unpartitioned windows (rank, running share) sort thousands of
    rows, not the fact table. Exact DECIMAL running sums keep the
    cumulative share bit-reproducible across engines.
    """
    dec = F.col(revenue_col).cast("decimal(18,2)")
    w_rank = Window.orderBy(F.desc(revenue_col), F.asc(key_col))
    total = df.agg(F.sum(dec).alias("__total"))
    return (
        df.select(F.col(key_col), F.col(revenue_col), dec.alias("__dec"))
        .crossJoin(F.broadcast(total))
        .select(
            key_col,
            revenue_col,
            F.row_number().over(w_rank).cast("long").alias("rank"),
            F.round(
                F.sum("__dec")
                .over(w_rank.rowsBetween(Window.unboundedPreceding, 0))
                .cast("double")
                / F.col("__total").cast("double"),
                6,
            ).alias("cum_share"),
        )
        .withColumn(
            "abc_class",
            F.when(F.col("cum_share") <= a_cut, "A")
            .when(F.col("cum_share") <= b_cut, "B")
            .otherwise("C"),
        )
    )


def mom_growth(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Month-over-month revenue growth: monthly revenue with the
    previous month's value (lag) and the growth fraction. Callers
    apply any row filter (e.g. purchase-only) upstream.

    One hash aggregate to month grain, then lag over the tiny month
    series (12 rows/year). try_divide keeps the first month (no prior)
    and any zero-revenue month NULL instead of erroring under ANSI.
    """
    monthly = df.groupBy(
        F.date_trunc("month", F.col(ts_col)).alias("month")
    ).agg(F.sum(F.col(value_col).cast("decimal(18,2)")).alias("__rev"))
    w = Window.orderBy("month")
    prev = F.lag("__rev").over(w)
    return monthly.select(
        "month",
        F.round(F.col("__rev").cast("double"), 2).alias("revenue"),
        F.round(prev.cast("double"), 2).alias("prev_revenue"),
        F.round(
            F.try_divide((F.col("__rev") - prev).cast("double"), prev.cast("double")),
            6,
        ).alias("growth"),
    )


def time_weighted_avg_daily(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
    user_col: str = "user_id",
) -> DataFrame:
    """Daily mean of per-user TIME-WEIGHTED value averages (the
    TimescaleDB ``time_weight('LOCF')`` pattern): each observation is
    weighted by how long it remained the latest one within the
    user-day, so irregular sampling doesn't bias toward chatty bursts.

    The lead() window partitions by (user, day) — per-entity series,
    bounded by one user's daily events, never a global or per-day sort.
    Weighted sums stay exact (DECIMAL × long micros) so the per-user
    TWA and the daily roll-up are bit-identical across engines; users
    with a single observation (zero elapsed span) drop out via the
    d > 0 guard rather than dividing by zero.

    Output: (day, n_users, avg_twa).
    """
    day = _day(ts_col).alias("day")
    t = F.unix_micros(F.col(ts_col))
    w = Window.partitionBy(user_col, "day").orderBy("t", value_col)
    pts = events.select(
        F.col(user_col), day, t.alias("t"), F.col(value_col)
    ).withColumn("t_next", F.lead("t").over(w))
    per_user = (
        pts.where(F.col("t_next").isNotNull())
        .groupBy(user_col, "day")
        .agg(
            F.sum(
                F.col(value_col).cast("decimal(18,2)")
                * (F.col("t_next") - F.col("t"))
            ).alias("vd"),
            F.sum(F.col("t_next") - F.col("t")).alias("d"),
        )
        .where(F.col("d") > 0)
        .select(
            "day",
            F.round(
                F.col("vd").cast("double") / F.col("d").cast("double"), 6
            ).alias("twa"),
        )
    )
    return per_user.groupBy("day").agg(
        F.count("*").alias("n_users"),
        F.round(
            F.sum(F.col("twa").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("avg_twa"),
    )


def daily_percentile_bands(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Daily latency/value bands: exact p50/p90/p99 per day in one
    two-phase percentile aggregate (group key = day, so partial state
    is one digest per day per map task — no global sort, no window).
    ROUND(6) absorbs the ≤1-ulp interpolation gap between engines.
    """
    aggs = [
        F.round(F.expr(f"percentile({value_col}, {q})"), 6).alias(
            f"p{int(round(q * 100))}"
        )
        for q in quantiles
    ]
    return events.groupBy(_day(ts_col).alias("day")).agg(
        F.count("*").alias("n"), *aggs
    )


def pagerank(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
) -> DataFrame:
    """PageRank by power iteration over an edge list — each round is
    one join (rank/out-degree onto edges) + one aggregate (sum of
    contributions per destination), the classic scale-out formulation:
    no adjacency matrix, state is one (node, rank) row per node.

    Undirected input should list both directions. Dangling nodes (no
    out-edges) redistribute uniformly via the standard teleport term.
    ``n_iter`` fixed iterations rather than convergence testing keeps
    the plan deterministic and avoids a driver-side loop on a metric.
    Each iteration ends in a LAZY ``localCheckpoint`` (round 11: the
    lineage cut is installed at mark time and materialized by the
    final action — no driver decision reads per-round state here, so
    eager materialization only added a blocking job per round) —
    persist alone is not enough for iterative algorithms, because the
    logical plan still nests the previous iteration's plan and each
    round here references ``ranks`` twice (contributions + dangling
    mass), so the un-truncated plan doubles per round and OOMs the
    analyzer around
    a dozen iterations. Checkpointing cuts lineage to the materialized
    RDD, keeping every round's plan constant-size. (On a multi-node
    cluster prefer ``checkpoint()`` to a reliable dir if executor loss
    during the run must be recoverable.)
    """
    from streaming_ecom_analytics_spark.caching import persist_tracked

    nodes = persist_tracked(
        edges.select(F.col(src_col).alias("node"))
        .union(edges.select(F.col(dst_col).alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()
    out_deg = persist_tracked(
        edges.groupBy(F.col(src_col).alias("node")).agg(
            F.count("*").alias("out_deg")
        )
    )
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    for _ in range(n_iter):
        contrib = (
            edges.join(
                ranks.join(out_deg, on="node").select(
                    F.col("node").alias(src_col),
                    (F.col("rank") / F.col("out_deg")).alias("share"),
                ),
                on=src_col,
            )
            .groupBy(F.col(dst_col).alias("node"))
            .agg(F.sum("share").alias("in_sum"))
        )
        # dangling mass: rank held by nodes with no out-edges
        dangling = (
            ranks.join(out_deg, on="node", how="left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("m"))
        )
        new_ranks = (
            nodes.join(contrib, on="node", how="left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping)
                    * (F.coalesce(F.col("in_sum"), F.lit(0.0)) + F.col("m") / n_nodes)
                ).alias("rank"),
            )
        )
        # Per-round checkpoint is ALSO the cache: a sparser cadence was
        # measured (round 4) and does not help — skipped rounds just
        # re-enter the next round's plan and recompute, so per-round
        # stays optimal as well as lineage-safe. eager=False since
        # round 11: the lineage cut is the LogicalRDD barrier, which
        # Dataset.localCheckpoint installs whether or not it also
        # blocks on a count() — with a FIXED round count there is no
        # driver decision between rounds, so the n_iter blocking jobs
        # collapse into the final action (the checkpointed RDD still
        # materializes exactly once and serves both the contribution
        # and dangling-mass references; outputs verified identical,
        # isolated medians 2.85→2.52 s at sf0.1).
        ranks = new_ranks.localCheckpoint(eager=False)
    return ranks.select("node", F.round("rank", 8).alias("rank"))


def rolling_time_features(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    window_days: int = 7,
) -> DataFrame:
    """Trailing time-RANGE features per row: each row gains the sum and
    count of the user's rows in the preceding ``window_days`` (inclusive
    of the current row) — the classic leak-free rolling feature of a
    training pipeline (only the past enters the feature).

    The frame is a RANGE over exact epoch microseconds (integer order
    key), not a ROWS frame — gaps and same-timestamp peers behave
    correctly by construction. One shuffle on the user key; per-user
    state is the in-window rows only, so executor memory is bounded by
    a user's activity inside the window, never their lifetime history.
    The sum accumulates DECIMAL, so the feature is bit-stable across
    partitionings and engines.
    """
    micros = F.unix_micros(F.col(ts_col))
    span = window_days * 86_400 * 1_000_000
    w = (
        Window.partitionBy(user_col)
        .orderBy(micros)
        .rangeBetween(-span, Window.currentRow)
    )
    return df.select(
        "*",
        F.sum(F.col(value_col).cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias(f"sum_{window_days}d"),
        F.count("*").over(w).alias(f"n_{window_days}d"),
    )


def quantize_6dp(col: Column) -> Column:
    """``FLOOR(x·10⁶ + 0.5) / 10⁶`` — the 6-dp quantizer both engines
    compute alike. ``ROUND(x, 6)`` breaks exact 7th-decimal ties
    differently: Spark rounds the double's shortest decimal repr half-up
    ((28.99 − 0.01)/448 → 0.064688) while DuckDB rounds the raw binary
    (→ 0.064687). The floor form is the same IEEE ops on the same double
    on both sides, and equals ROUND on every non-tie value."""
    return F.floor(col * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


def scale_features(
    df: DataFrame,
    *,
    value_col: str = "value",
    group_col: str = "event_type",
) -> DataFrame:
    """Per-group z-score and min-max scaling of a numeric column —
    feature normalization with training-set statistics.

    Group statistics come from ONE aggregate pass with exact DECIMAL
    sums (sum and sum-of-squares), so mean/variance are identical on
    any engine and any partition order; the tiny stats table broadcasts
    back onto the rows. Variance uses the sample (n-1) denominator;
    zero-variance or single-row groups yield NULL z (try_divide), and a
    constant column yields NULL min_max — never a throw, never ±inf.
    Both features are quantized by :func:`quantize_6dp`, so exact
    7th-decimal ties match the DuckDB oracle.
    """
    v = F.col(value_col).cast("decimal(18,2)")
    stats = df.groupBy(group_col).agg(
        F.count("*").alias("__n"),
        F.sum(v).cast("double").alias("__sum"),
        F.sum(v * v).cast("double").alias("__sumsq"),
        F.min(F.col(value_col)).alias("__min"),
        F.max(F.col(value_col)).alias("__max"),
    )
    mean = F.col("__sum") / F.col("__n")
    var = F.try_divide(
        F.col("__sumsq") - F.col("__sum") * F.col("__sum") / F.col("__n"),
        (F.col("__n") - F.lit(1)).cast("double"),
    )
    return (
        df.join(F.broadcast(stats), on=group_col)
        .select(
            "*",
            quantize_6dp(F.try_divide(F.col(value_col) - mean, F.sqrt(var))).alias(
                "z_score"
            ),
            quantize_6dp(
                F.try_divide(
                    F.col(value_col) - F.col("__min"), F.col("__max") - F.col("__min")
                )
            ).alias("min_max"),
        )
        .drop("__n", "__sum", "__sumsq", "__min", "__max")
    )


def _hash60(col) -> Column:
    """First 60 bits of md5 as a non-negative signed long — the
    engine-portable uniform hash (DuckDB twin:
    ``CAST(('0x' || substr(md5(x), 1, 15)) AS UBIGINT)``)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def negative_candidates(
    interactions: DataFrame,
    *,
    user_col: str = "user_id",
    item_col: str = "item",
    n_draws: int = 24,
    bucket_target: int = 32,
    pre_distinct: bool = False,
) -> DataFrame:
    """Constant-work-per-user candidate draws for negative sampling:
    every user gets at most ``n_draws`` candidate items, regardless of
    catalog size, via hash-bucketed draws (no user×catalog product).

    Scheme (deterministic, no RNG state, identical on any md5-speaking
    engine — the DuckDB oracle recomputes it bit-for-bit):

    1. The distinct catalog is hashed into ``B = ceil(M / bucket_target)``
       buckets (``md5(item) mod B``); B is derived IN-PLAN from a
       broadcast 1-row count frame — no driver collect, no plan-build
       Spark job.
    2. Each user draws ``n_draws`` buckets: ``md5(user#t) mod B`` for
       t = 1..n_draws, then the draw resolves to the single item in the
       bucket minimizing ``md5(user#t#item)`` — a rerun-stable uniform
       pick of ~one item per draw.

    Work per user is ``n_draws × bucket_target`` candidate rows — the
    round-5 verdict's scale fix for the former
    ``users.crossJoin(broadcast(items))`` which materialized
    |users|×|catalog| pairs (10¹³ rows at 10⁷ users × 10⁶ items). The
    only nested-loop joins are against the broadcast 1-row B frame; the
    catalog join is a bucket-keyed equi-join.

    Returns (user, __t, item): the resolved draws in draw order. NULL
    items are excluded from catalog and draws (md5(NULL) is NULL — they
    could never be drawn consistently across engines).

    ``pre_distinct=True`` promises ``interactions`` is already the
    NULL-free distinct (user, item) frame — negative_samples passes its
    persisted positive set, skipping a second full distinct aggregation
    over the fact table (round-7 bench cut).
    """
    if pre_distinct:
        pos = interactions
    else:
        pos = (
            interactions.where(F.col(item_col).isNotNull())
            .select(user_col, item_col)
            .distinct()
        )
    items = pos.select(item_col).distinct()
    users = pos.select(user_col).distinct()

    b = items.agg(
        F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.count("*") / F.lit(float(bucket_target))).cast("long"),
        ).alias("__b")
    )

    bucketed = items.crossJoin(F.broadcast(b)).select(
        item_col,
        (_hash60(F.col(item_col).cast("string")) % F.col("__b")).alias("__bkt"),
    )

    draw_key = F.concat_ws(
        "#", F.col(user_col).cast("string"), F.col("__t").cast("string")
    )
    draws = (
        users.crossJoin(F.broadcast(b))
        .select(
            user_col,
            F.explode(F.sequence(F.lit(1), F.lit(int(n_draws)))).alias("__t"),
            "__b",
        )
        .select(user_col, "__t", (_hash60(draw_key) % F.col("__b")).alias("__bkt"))
    )

    pick = F.md5(
        F.concat_ws(
            "#",
            F.col(user_col).cast("string"),
            F.col("__t").cast("string"),
            F.col(item_col).cast("string"),
        )
    )
    # per-draw argmin as a PARTIAL-AGGREGABLE min(struct) — equivalent
    # to row_number()=1 over (pick asc, item asc) but combines map-side
    # instead of sorting whole (user, t) groups through a window
    return (
        draws.join(bucketed, on="__bkt")
        .groupBy(user_col, "__t")
        .agg(F.min(F.struct(pick.alias("__h"), F.col(item_col))).alias("__best"))
        .select(user_col, "__t", F.col(f"__best.{item_col}").alias(item_col))
    )


def negative_samples(
    interactions: DataFrame,
    *,
    user_col: str = "user_id",
    item_col: str = "item",
    n_neg: int = 3,
    oversample: int = 8,
    bucket_target: int = 32,
) -> DataFrame:
    """Deterministic negative sampling for recommender / contrastive
    training: for every user, draw up to ``n_neg`` items the user never
    interacted with, pseudo-randomly but rerun-stable (hash-bucketed
    draws ranked by draw order — no RNG state, identical on any engine).

    Plan: ``negative_candidates`` produces ``oversample × n_neg``
    constant-work draws per user (bucket-keyed equi-joins only — never
    a user×catalog product), the user's own positives are removed with
    a left_anti join on the (user, item) key, duplicate draws of the
    same item collapse to their earliest draw, and a per-user
    row_number window over draw order keeps ``n_neg``. Shuffles touch
    (user, item) id pairs only — never payloads. Skew is bounded: every
    user has at most ``oversample × n_neg`` candidate rows. A user who
    interacted with nearly the whole catalog may receive fewer than
    ``n_neg`` negatives (the draws are a fixed budget, not a scan of
    the complement) — the documented trade for constant work per user
    at 100 TB.

    ``oversample`` sizing: a draw is lost only when it repeats an item
    (birthday collisions among n_draws of M catalog items) or hits one
    of the user's own positives (~|pos_u|/M each). The API default
    stays at 8× — ``oversample`` changes OUTPUTS, not just cost (users
    whose positives cover much of the catalog get fewer negatives at a
    smaller budget), so the round-6 bench cut is applied only where the
    bench matters: the registered ``purchase_negative_samples`` query
    passes ``oversample=4`` explicitly (short-fall there needs >75%
    draw loss, i.e. a user owning >~3/4 of the catalog, who is
    under-sampled by the fixed-budget contract anyway). Round-7 advisor
    finding: changing the public default would silently change result
    sets for existing callers on upgrade.
    """
    from streaming_ecom_analytics_spark.caching import persist_tracked

    # ONE distinct aggregation over the fact table, persisted: it feeds
    # the candidate generator (catalog + user spine) AND the anti join
    pos = persist_tracked(
        interactions.where(F.col(item_col).isNotNull())
        .select(user_col, item_col)
        .distinct()
    )
    picked = negative_candidates(
        pos,
        user_col=user_col,
        item_col=item_col,
        n_draws=int(oversample) * int(n_neg),
        bucket_target=bucket_target,
        pre_distinct=True,
    )
    fresh = picked.join(pos, on=[user_col, item_col], how="left_anti")
    # ONE user-keyed aggregation replaces the former
    # groupBy(user,item).min(t) + row_number window pair (two exchanges
    # → one; round-7 bench cut). The per-user frame is ≤ n_draws rows
    # by construction, so the in-array scan is O(n_draws²) on ≤ dozens
    # of elements: sort draws by (t, item), drop later re-draws of an
    # already-seen item (== keeping MIN(t) per item, since t is unique
    # per user), keep the first n_neg.
    drawn = F.array_sort(
        F.collect_list(F.struct(F.col("__t"), F.col(item_col)))
    )
    deduped = F.aggregate(
        drawn,
        F.slice(drawn, 1, 0),  # empty array of the element type
        lambda acc, x: F.when(
            F.exists(acc, lambda a: a[item_col] == x[item_col]), acc
        ).otherwise(F.array_append(acc, x)),
    )
    grouped = fresh.groupBy(user_col).agg(
        F.slice(deduped, 1, int(n_neg)).alias("__keep")
    )
    return grouped.select(
        user_col, F.posexplode("__keep").alias("__p", "__s")
    ).select(
        user_col,
        F.col(f"__s.{item_col}").alias(item_col),
        (F.col("__p") + 1).cast("long").alias("neg_rank"),
    )


def label_propagation_min(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 6,
) -> DataFrame:
    """Synchronous min-label propagation over an edge list: every node
    starts labeled with its own id; each round, a node's label becomes
    the min of its own and its neighbors' labels. After T rounds each
    label is exactly ``min(node id within T hops)`` — a deterministic,
    replayable community signal (and, run to convergence, connected
    components; the large-star/small-star operator in functions/dedup
    is the O(log n) path for full components — this one's fixed-round
    contract is what makes a bit-exact SQL replay possible).

    Undirected input should list both directions. Per round: one join
    (labels onto edges) + one min-aggregate per destination + one
    lazy localCheckpoint (round 11: lineage cut installed at mark
    time, materialized by the final action) — same constant-size-plan
    discipline as :func:`pagerank` (lineage doubles per round
    otherwise).

    Output: (node, label) — label = min node id in the T-hop
    neighborhood.
    """
    from streaming_ecom_analytics_spark.caching import persist_tracked

    nodes = persist_tracked(
        edges.select(F.col(src_col).alias("node"))
        .union(edges.select(F.col(dst_col).alias("node")))
        .distinct()
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(n_iter):
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col("node").alias(src_col), F.col("label").alias("src_label")
                ),
                on=src_col,
            )
            .groupBy(F.col(dst_col).alias("node"))
            .agg(F.min("src_label").alias("nbr_label"))
        )
        labels = (
            labels.join(neighbor_min, on="node", how="left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            # eager=False (round 11): fixed round count, no driver
            # decision between rounds — the lineage cut (LogicalRDD)
            # is installed either way; see pagerank.
            .localCheckpoint(eager=False)
        )
    return labels


def linear_attribution(
    events: DataFrame,
    *,
    touch_type: str = "click",
    conversion_type: str = "purchase",
    window_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Multi-touch LINEAR attribution: each conversion's revenue is
    split equally across the user's touch events in the preceding
    ``window_days`` — the marketing-analytics staple past last-touch.

    Money splits are EXACT: the conversion amount becomes integer
    cents, each touch gets ``cents div n``, and the remainder
    distributes to the earliest touches (largest-remainder / penny
    allocation), so per-conversion allocations always re-sum to the
    original amount and the result is independent of float division.

    Plan: the touch←conversion pairing is the bucketed interval join
    (operators/interval.py — week-wide buckets, fan-out ≤ 2, never a
    non-equi nested loop); the rank/count windows partition by
    conversion id (fan-out bounded by touches-per-conversion); the
    final day rollup is a plain hash aggregate.

    Output: (click_day, n_touches, attributed_revenue) — one row per
    day with ≥1 attributed touch.
    """
    from streaming_ecom_analytics_spark.operators.interval import interval_join

    # value > 0, not just non-null: negative amounts (refunds) would
    # split via `div`/`%`, whose negative-operand semantics differ
    # across engines (truncation vs floor) — refunds are a reversal
    # flow, not an attribution input.
    conv = events.filter(
        (F.col("event_type") == conversion_type) & (F.col("value") > 0)
    ).select(
        F.col("event_id").alias("conv_id"),
        F.col(user_col),
        (F.col(ts_col) - F.expr(f"INTERVAL {window_days} DAYS")).alias("win_start"),
        F.col(ts_col).alias("win_end"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    touches = events.filter(F.col("event_type") == touch_type).select(
        F.col("event_id").alias("touch_id"), F.col(user_col), F.col(ts_col)
    )
    joined = interval_join(
        touches,
        conv,
        on=user_col,
        ts_col=ts_col,
        start_col="win_start",
        end_col="win_end",
        bucket_seconds=window_days * 86400,
    )
    w_n = Window.partitionBy("conv_id")
    w_rk = Window.partitionBy("conv_id").orderBy(F.col(ts_col), F.col("touch_id"))
    alloc = (
        joined.withColumn("n", F.count("*").over(w_n))
        .withColumn("rk", F.row_number().over(w_rk))
        .select(
            _day(ts_col).alias("click_day"),
            (
                F.expr("cents div n")
                + F.when(F.col("rk") <= F.col("cents") % F.col("n"), 1).otherwise(0)
            ).alias("alloc_cents"),
        )
    )
    return alloc.groupBy("click_day").agg(
        F.count("*").alias("n_touches"),
        F.round(F.sum("alloc_cents") / F.lit(100.0), 2).alias("attributed_revenue"),
    )


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    *,
    group_col: str = "event_type",
    id_cols: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """Quantile (rank) normalization of a feature column per group:
    each value maps to its within-group percent rank in [0, 1] — the
    distribution-free preprocessing transform (rank-gauss without the
    gauss). NULL values are excluded (engines disagree on NULL sort
    placement inside window frames).

    percent_rank is (rank−1)/(n−1): rank-based, so ties get identical
    scores and the single double division is engine-deterministic.
    The window partitions by group — at 100 TB a group's rows must
    co-locate for the exact rank; for approximate pipelines swap in
    the percentile-bucket variant (target_encoded_categories pattern).
    Output: id_cols + (group, value, qnorm).
    """
    w = Window.partitionBy(group_col).orderBy(F.col(value_col).asc())
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(
            *id_cols,
            F.col(group_col),
            F.col(value_col),
            F.round(F.percent_rank().over(w), 6).alias("qnorm"),
        )
    )


def key_skew_report(
    df: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Join-key skew diagnostics — the report you read before choosing
    a salting/broadcast strategy: for each candidate key column, the
    key cardinality, the heaviest key's row share, and the max/median
    per-key count ratio.

    One hash aggregate per key column (count per key), then scalar
    aggregates over the per-key count frame (|keys| rows, not |rows|).
    NULL keys count as a key of their own — exactly how a shuffle
    would hash them. Shares are single double divisions, rounded.
    Output: (key, n_rows, n_keys, max_key_rows, top_share, skew_ratio).
    """
    if not key_cols:
        raise ValueError(
            "key_skew_report: key_cols must name at least one candidate "
            "join-key column to profile"
        )
    reports = []
    for key in key_cols:
        per_key = df.groupBy(F.col(key).alias("__k")).agg(
            F.count("*").alias("c")
        )
        reports.append(
            per_key.agg(
                F.lit(key).alias("key"),
                F.sum("c").alias("n_rows"),
                F.count("*").alias("n_keys"),
                F.max("c").alias("max_key_rows"),
                F.round(
                    F.max("c") / F.sum("c"),
                    6,
                ).alias("top_share"),
                F.round(
                    F.max("c")
                    / F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c)"),
                    6,
                ).alias("skew_ratio"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionAll(r)
    return out


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    out_cols: list[str],
) -> DataFrame:
    """2D Pareto frontier (skyline): rows not dominated by any other
    row, where A dominates B iff A.x <= B.x AND A.y <= B.y with at
    least one strict. Equal-(x, y) duplicates are mutually
    non-dominating and all survive.

    ``x_col`` must be integer-valued (the strict-predecessor frame is a
    RANGE offset, exact only on integers) — callers pass prices as
    cents, not doubles. Both axes must be non-NULL (dominance is
    undefined on NULL; filter first).

    The textbook formulation is a quadratic NOT-EXISTS self-join (the
    oracle uses it). In 2D it collapses to two window minima:

    1. per-x prune (partitioned window, fully parallel): only rows at
       the min y of their x class can survive — this is the map-side
       shrink, |rows| → ≤|distinct x| value classes;
    2. running min over strict-x predecessors (RANGE unbounded..-1) on
       the pruned set: survivor iff no strictly-cheaper class reaches a
       y <= ours. The global sort runs over the value-class frame, not
       the fact table — bounded by the x domain (price grid), not SF.

    Because pruned rows all sit at their class min y, the running min
    over pruned predecessors equals the running min over ALL
    predecessors, so step 2 is exact.
    """
    w_eq = Window.partitionBy(x_col)
    cand = df.withColumn("__m_eq", F.min(y_col).over(w_eq)).where(
        F.col(y_col) == F.col("__m_eq")
    )
    w_lt = Window.orderBy(F.col(x_col)).rangeBetween(Window.unboundedPreceding, -1)
    return (
        cand.withColumn("__m_lt", F.min(y_col).over(w_lt))
        .where(F.col("__m_lt").isNull() | (F.col("__m_lt") > F.col(y_col)))
        .select(*out_cols)
    )


def association_rules(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    item_expr: Column | None = None,
    purchase_type: str = "purchase",
    type_col: str = "event_type",
    min_support: int = 2,
) -> DataFrame:
    """Directed association rules over co-purchase baskets: for each
    ordered item pair antecedent→consequent, support count,
    confidence = n_both/n_ante, and lift = n_both·n_users/(n_ante·n_cons)
    (lift > 1 ⇒ positive association, the market-basket staple).

    Same plan skeleton as item_cooccurrence (one distinct (user, item)
    pass, user-key self-join bounded by basket size, pair aggregate),
    emitting both rule directions from the a<b join output rather than
    re-joining. The corpus basket count joins as a broadcast single
    row; products are computed double-first so nothing overflows at
    100 TB counts.
    """
    if item_expr is None:
        item_expr = F.get_json_object(F.col("props"), "$.k").cast("long")
    ui = (
        events.filter((F.col(type_col) == purchase_type) & item_expr.isNotNull())
        .select(F.col(user_col).alias("u"), item_expr.alias("item"))
        .distinct()
    )
    n_users = ui.select(F.countDistinct("u").alias("n_users"))
    counts = ui.groupBy("item").agg(F.count("*").alias("n"))
    a = ui.select(F.col("u"), F.col("item").alias("item_a"))
    b = ui.select(F.col("u"), F.col("item").alias("item_b"))
    und = (
        a.join(b, on="u")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_both"))
        .where(F.col("n_both") >= min_support)
    )
    rules = und.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        "n_both",
    ).unionAll(
        und.select(
            F.col("item_b").alias("antecedent"),
            F.col("item_a").alias("consequent"),
            "n_both",
        )
    )
    ca = counts.select(F.col("item").alias("antecedent"), F.col("n").alias("n_ante"))
    cb = counts.select(F.col("item").alias("consequent"), F.col("n").alias("n_cons"))
    return (
        rules.join(ca, on="antecedent")
        .join(cb, on="consequent")
        .crossJoin(F.broadcast(n_users))
        .select(
            "antecedent",
            "consequent",
            "n_ante",
            "n_cons",
            "n_both",
            F.round(F.col("n_both") / F.col("n_ante"), 6).alias("confidence"),
            F.round(
                (F.col("n_both").cast("double") * F.col("n_users"))
                / (F.col("n_ante").cast("double") * F.col("n_cons")),
                6,
            ).alias("lift"),
        )
    )


def cooccurrence_hitrate(
    events: DataFrame,
    *,
    cutoff: str,
    top_k: int = 3,
    min_support: int = 2,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Offline evaluation of the co-occurrence recommender with a
    TEMPORAL split (no leakage): train on purchases before ``cutoff``,
    recommend each user the union of the top-``top_k`` co-items of
    their train-basket items (ranked by co-purchase count,
    deterministic tie-break), and score hit-rate against what they
    actually bought afterwards.

    Every stage is a bounded aggregate or basket-keyed join (the same
    fan-out envelope as item_cooccurrence); ranks are exact
    row_numbers, so the whole eval is engine-replayable — an eval
    harness you can trust across engines, not a sampled estimate.

    Output: one row (n_users_eval, n_hits, hit_rate) over users with
    ≥1 train purchase and ≥1 test purchase.
    """
    item = F.get_json_object(F.col("props"), "$.k").cast("long")
    cut = F.lit(cutoff).cast("timestamp")
    purchases = events.filter(
        (F.col("event_type") == "purchase") & item.isNotNull()
    ).select(F.col(user_col).alias("u"), item.alias("item"), F.col(ts_col))
    train = purchases.filter(F.col(ts_col) < cut).select("u", "item").distinct()
    test = purchases.filter(F.col(ts_col) >= cut).select("u", "item").distinct()
    a = train.select(F.col("u"), F.col("item").alias("item_a"))
    b = train.select(F.col("u"), F.col("item").alias("item_b"))
    pairs = (
        a.join(b, on="u")
        .where(F.col("item_a") != F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_both"))
        .where(F.col("n_both") >= min_support)
    )
    w = Window.partitionBy("item_a").orderBy(
        F.col("n_both").desc(), F.col("item_b").asc()
    )
    top = (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= top_k)
        .select("item_a", F.col("item_b").alias("rec"))
    )
    recs = (
        train.join(top, on=F.col("item") == F.col("item_a"))
        .select("u", "rec")
        .distinct()
    )
    eval_users = train.select("u").distinct().join(
        test.select("u").distinct(), on="u", how="left_semi"
    )
    hits = (
        test.join(
            recs, on=(test["u"] == recs["u"]) & (test["item"] == recs["rec"]),
            how="left_semi",
        )
        .select("u")
        .distinct()
    )
    n_users = eval_users.agg(F.count("*").alias("n_users_eval"))
    n_hits = hits.agg(F.count("*").alias("n_hits"))
    return n_users.crossJoin(F.broadcast(n_hits)).select(
        "n_users_eval",
        "n_hits",
        # try_divide: zero eval users (degenerate split) must yield a
        # NULL rate, not an ANSI DIVIDE_BY_ZERO job failure
        F.round(F.try_divide(F.col("n_hits"), F.col("n_users_eval")), 6).alias(
            "hit_rate"
        ),
    )


def kcore(
    edges: DataFrame,
    *,
    k: int = 3,
    n_rounds: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-round k-core peel over a both-directions edge list: each
    round drops nodes of degree < k and the edges touching them; the
    k-core is the fixpoint. ``n_rounds`` fixed rounds (like pagerank's
    fixed iterations) keep the semantics deterministic and the oracle
    replayable as unrolled SQL — at this graph's diameter the peel
    reaches its fixpoint well inside 8 rounds; a cluster run sizes
    n_rounds to the observed peel depth.

    Per round: one degree hash-aggregate + two semi joins (src and dst
    must both survive) — never an all-pairs product; each round ends
    in a lazy localCheckpoint (round 11: lineage cut installed at mark
    time, materialized by the final action) so the logical plan stays
    constant-size instead of nesting round-over-round (same lineage
    rule as pagerank; prefer checkpoint() on a real cluster).

    Output: (item, degree) for nodes surviving all rounds, with their
    degree inside the peeled subgraph.
    """
    e = edges
    for _ in range(n_rounds):
        keep = (
            e.groupBy(src_col)
            .agg(F.count("*").alias("__d"))
            .where(F.col("__d") >= k)
            .select(src_col)
        )
        e = e.join(keep, on=src_col, how="left_semi").join(
            keep.withColumnRenamed(src_col, dst_col), on=dst_col, how="left_semi"
        )
        # eager=False (round 11): fixed peel count, no driver decision
        # between rounds — lineage cut installed either way; the
        # blocking per-round jobs collapse into the final action
        # (outputs identical, isolated medians 2.19→1.94 s at sf0.1).
        e = e.localCheckpoint(eager=False)
    return e.groupBy(F.col(src_col).alias("item")).agg(
        F.count("*").alias("degree")
    )


def triangle_counts(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle participation over an undirected edge list —
    the classic cohesion/community statistic (and the expensive half of
    clustering coefficients).

    Input edges must be canonical (src < dst, distinct). The count uses
    the ordered-triple join: a triangle {a<b<c} is found exactly once
    as E(a,b) ⋈ E(b,c) ⋈ E(a,c) — two equi-joins over the edge list,
    never an all-pairs product; fan-out is bounded by degree, and the
    standard scale hardening (not needed at this corpus) is
    degree-ordered orientation so high-degree nodes join last.

    The edge frame is persisted ONCE here (round-6 verdict #8): the
    ordered-triple join references it three times, and without the
    persist each reference re-derives the whole upstream co-occurrence
    aggregate — three full fact-table passes instead of one.
    Output: (node, n_triangles) for nodes in ≥1 triangle.
    """
    from streaming_ecom_analytics_spark.caching import persist_tracked

    edges = persist_tracked(edges)
    e1 = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    e2 = edges.select(F.col(src_col).alias("b"), F.col(dst_col).alias("c"))
    e3 = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("c"))
    tri = e1.join(e2, on="b").join(e3, on=["a", "c"])
    per_corner = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return per_corner.groupBy("node").agg(F.count("*").alias("n_triangles"))


def clustering_coefficients(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Local clustering coefficient per node over a canonical
    (src < dst, distinct) undirected edge list:
    ``2·triangles / (degree·(degree−1))`` — how close each node's
    neighborhood is to a clique. Reuses triangle_counts (ordered-triple
    join) plus one degree aggregate; nodes of degree < 2 report 0.
    The edge frame persists once and feeds all four references (degree
    + the three triangle joins — round-6 verdict #8).
    Output: (node, degree, n_triangles, clustering)."""
    from streaming_ecom_analytics_spark.caching import persist_tracked

    edges = persist_tracked(edges)
    deg = (
        edges.select(F.col(src_col).alias("node"))
        .unionAll(edges.select(F.col(dst_col).alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    tri = triangle_counts(edges, src_col=src_col, dst_col=dst_col)
    return (
        deg.join(tri, on="node", how="left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0
                    * F.coalesce(F.col("n_triangles"), F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                    6,
                ),
            )
            .otherwise(0.0)
            .alias("clustering"),
        )
    )
