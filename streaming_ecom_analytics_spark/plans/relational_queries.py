"""Relational capability queries — the join / window / pivot / rollup
operator classes on the driver's TPC-H-style tables.

The reference's only join is the NOT-IN anti-join
(snowflake_refresh.py:48-53); ``df.join`` gives the full equi-join
family "for free" (SURVEY.md §2.3), and these queries pin each class to
a DuckDB oracle so the capability is *proven*, not assumed.

Cross-engine determinism rules (see registry.py): money math in exact
DECIMAL then cast to DOUBLE; averages as exact-decimal-sum / count
divided in double (IEEE division is engine-identical); top-K queries
carry a full tiebreak.

Scale notes per query are in the docstrings; the common themes:
- dimension tables are broadcast via ``catalog.dim_hint`` — constant
  dims (nation/region) always, SF-scaled dims (customer/part/supplier)
  only when their on-disk footprint fits the broadcast threshold;
  above that AQE picks the strategy from runtime sizes, so no forced
  hint can OOM an executor at 100x SF;
- fact-fact joins (orders⋈lineitem) shuffle on the join key once and
  Catalyst reuses the partitioning for the downstream groupBy when keys
  align; AQE coalesces the post-shuffle partitions;
- rollup/pivot are single-shuffle Expand-based plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streaming_ecom_analytics_spark import catalog
from streaming_ecom_analytics_spark.plans.registry import register

_DEC = "decimal(18,2)"


def _dec(col: str):
    return F.col(col).cast(_DEC)


@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    headline=True,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical wide-aggregate scan.

    Single hash-aggregate with partial/final split; the shipdate filter
    and 7-column projection push into the parquet scan. Exact decimal
    accumulation makes the result independent of partition order.
    """
    li = catalog.load_table(spark, "lineitem", sf_dir)
    disc_price = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    charge = disc_price * (F.lit(1) + _dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / F.count("*")).alias("avg_price"),
            (F.sum(_dec("l_discount")).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "revenue_by_nation",
    """
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
    headline=True,
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way join: fact⋈fact shuffle join + broadcast dims.

    orders⋈lineitem is the only shuffle pair (both sides hashed on
    orderkey); customer and nation are broadcast, so the big side never
    reshuffles for them. At 100 TB the same shape holds — customer is
    ~1% of lineitem and nation is 25 rows.
    """
    c = catalog.load_dim(spark, "customer", sf_dir)
    o = catalog.load_table(spark, "orders", sf_dir)
    li = catalog.load_table(spark, "lineitem", sf_dir)
    n = catalog.load_dim(spark, "nation", sf_dir)
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


@register(
    "top_customers",
    """
    SELECT customer, revenue FROM (
      SELECT c.c_name AS customer,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      FROM customer c
      JOIN orders o   ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY c.c_name
    ) ORDER BY revenue DESC, customer ASC LIMIT 10
    """,
)
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + grouped sum + global top-K (TakeOrderedAndProject)."""
    c = catalog.load_dim(spark, "customer", sf_dir)
    o = catalog.load_table(spark, "orders", sf_dir)
    li = catalog.load_table(spark, "lineitem", sf_dir)
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_name").alias("customer"))
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("customer"))
        .limit(10)
    )


@register(
    "top_selling_brands",
    """
    SELECT brand, revenue FROM (
      SELECT p.p_brand AS brand,
             ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_brand
    ) ORDER BY revenue DESC, brand ASC LIMIT 10
    """,
    headline=True,
)
def q_top_selling_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (snowflake_refresh.py:17-28): top-10 brands by revenue.

    The testdata events table has no brand column, so the brand
    dimension comes from part (broadcast) joined to the lineitem fact —
    the same top-K-revenue-by-brand semantics at fact-table scale.
    """
    li = catalog.load_table(spark, "lineitem", sf_dir)
    p = catalog.load_dim(spark, "part", sf_dir)
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.round(F.sum(revenue).cast("double"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("brand"))
        .limit(10)
    )


@register(
    "parts_never_ordered",
    """
    SELECT p_partkey, p_name
    FROM part
    WHERE p_partkey NOT IN (
      SELECT DISTINCT l_partkey FROM lineitem
      WHERE l_shipdate < TIMESTAMP '1995-02-01 00:00:00'
    )
    """,
)
def q_parts_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (J1's class) with the *fact* side as the subquery:
    part LEFT ANTI lineitem on partkey — parts with no shipment in the
    dataset's first month. The distinct partkey set from lineitem is
    aggregated before the join (shuffle on partkey), then the join is a
    broadcast of the small distinct set when AQE sizes it under the
    threshold."""
    p = catalog.load_table(spark, "part", sf_dir)
    li = catalog.load_table(spark, "lineitem", sf_dir)
    early = li.filter(
        F.col("l_shipdate") < F.lit("1995-02-01 00:00:00").cast("timestamp")
    )
    return p.join(
        early.select(F.col("l_partkey").alias("p_partkey")).distinct(),
        on="p_partkey",
        how="left_anti",
    ).select("p_partkey", "p_name")


@register(
    "customers_by_segment_with_orders",
    """
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q_customers_by_segment_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (EXISTS): customers with at least one order, by segment."""
    c = catalog.load_table(spark, "customer", sf_dir)
    o = catalog.load_table(spark, "orders", sf_dir)
    return (
        c.join(
            o.select(F.col("o_custkey").alias("c_custkey")),
            on="c_custkey",
            how="left_semi",
        )
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "running_daily_order_revenue",
    """
    SELECT event_date, daily_revenue,
           CAST(SUM(daily_revenue_dec) OVER (
             ORDER BY event_date
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS cumulative_revenue
    FROM (
      SELECT CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS event_date,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS daily_revenue,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS daily_revenue_dec
      FROM orders
      GROUP BY CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)
    )
    """,
)
def q_running_daily_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame: running cumulative revenue over day-grain totals.

    The running sum's window is unpartitioned — fine here because the
    input is one row per day (the upstream aggregate collapsed the fact
    table); at 100 TB the aggregate output is still only ~years×365 rows.
    Never put an unpartitioned window over a fact table.
    """
    o = catalog.load_table(spark, "orders", sf_dir)
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").alias("event_date")
    ).agg(F.sum(_dec("o_totalprice")).alias("daily_revenue_dec"))
    w = Window.orderBy("event_date").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "event_date",
        F.col("daily_revenue_dec").cast("double").alias("daily_revenue"),
        F.sum("daily_revenue_dec").over(w).cast("double").alias("cumulative_revenue"),
    )


@register(
    "top_parts_per_brand",
    """
    SELECT p_brand, p_partkey, p_name, p_retailprice FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC
      ) AS rn FROM part
    ) WHERE rn <= 3
    """,
)
def q_top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via ranked window — one shuffle on the group key."""
    p = catalog.load_table(spark, "part", sf_dir)
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_name", "p_retailprice")
    )


@register(
    "order_priority_status_pivot",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_order_priority_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts by priority × status. Explicit pivot values
    keep the plan single-pass (no distinct-values pre-query) — at scale,
    always enumerate pivot columns."""
    o = catalog.load_table(spark, "orders", sf_dir)
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .na.fill(0, ["O", "F", "P"])
    )


@register(
    "revenue_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross_revenue,
           COUNT(*) AS n_items
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (grand total + per-flag + per-pair) via
    Expand — one shuffle, three grouping sets."""
    li = catalog.load_table(spark, "lineitem", sf_dir)
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_extendedprice")).cast("double").alias("gross_revenue"),
        F.count("*").alias("n_items"),
    )


@register(
    "lineitem_measures_unpivot",
    """
    SELECT l_orderkey, l_linenumber, measure, val
    FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax FROM lineitem)
    UNPIVOT (val FOR measure IN (l_quantity, l_discount, l_tax))
    """,
)
def q_lineitem_measures_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide measures → long (entity, measure, value) —
    a pure projection+explode, no shuffle."""
    li = catalog.load_table(spark, "lineitem", sf_dir)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "val",
    )


@register(
    "revenue_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross_revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def q_revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind rollup/cube),
    authored through the SQL surface — two disjoint groupings in one
    Expand-based single-shuffle pass."""
    catalog.load_table(spark, "lineitem", sf_dir).createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross_revenue
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


# The ordered-funnel machine as SQL: one recursive-CTE round per
# conversion — v = first view strictly after the previous completion,
# c = first click strictly after v, p = first purchase strictly after
# c. The CAST(ts AS TIMESTAMP) truncates DuckDB's nanosecond parquet
# timestamps to the same microseconds Spark reads.
_FUNNEL_ORACLE = """
    WITH RECURSIVE ev AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ),
    conv AS (
      SELECT user_id, CAST(NULL AS TIMESTAMP) AS started_at,
             TIMESTAMP '1970-01-01 00:00:00' AS completed_at, 0 AS n
      FROM (SELECT DISTINCT user_id FROM ev WHERE event_type = 'view') u
      UNION ALL
      SELECT user_id, v AS started_at, p AS completed_at, n + 1 AS n
      FROM (
        SELECT t.user_id, t.n, t.v,
               (SELECT min(e.ts) FROM ev e
                WHERE e.user_id = t.user_id AND e.event_type = 'purchase' AND e.ts > t.c) AS p
        FROM (
          SELECT s.user_id, s.n, s.v,
                 (SELECT min(e.ts) FROM ev e
                  WHERE e.user_id = s.user_id AND e.event_type = 'click' AND e.ts > s.v) AS c
          FROM (
            SELECT conv.user_id, conv.n,
                   (SELECT min(e.ts) FROM ev e
                    WHERE e.user_id = conv.user_id AND e.event_type = 'view'
                      AND e.ts > conv.completed_at) AS v
            FROM conv
          ) s WHERE s.v IS NOT NULL
        ) t WHERE t.c IS NOT NULL
      ) WHERE p IS NOT NULL
    )
    SELECT user_id, started_at, completed_at,
           CAST(date_diff('microsecond', started_at, completed_at) AS DOUBLE)
             / 1000000.0 AS seconds_to_convert
    FROM conv WHERE n > 0
"""


@register("funnel_conversions", _FUNNEL_ORACLE, headline=True)
def q_funnel_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase conversions per user — the stage
    machine of streaming/stateful.py. The strict greedy machine is
    deterministic under timestamp ties, so it gets a full DuckDB
    oracle: a recursive CTE that replays one conversion per round."""
    from streaming_ecom_analytics_spark.streaming.stateful import (
        funnel_conversions_batch,
    )

    return funnel_conversions_batch(
        catalog.events(spark, sf_dir), stages=("view", "click", "purchase")
    )


_REGION_REVENUE_SQL = """
    SELECT r.r_name AS region,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           COUNT(DISTINCT o.o_orderkey) AS n_orders
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
"""


@register("revenue_by_region_sql", _REGION_REVENUE_SQL)
def q_revenue_by_region_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL API surface: the same ANSI text runs on spark.sql() and
    the DuckDB oracle verbatim (5-way join + distinct count). Catalyst
    produces the same plan as the DataFrame authoring — temp views are
    just names for the catalog's frames."""
    for t in ("lineitem", "orders", "customer", "nation", "region"):
        catalog.load_table(spark, t, sf_dir).createOrReplaceTempView(t)
    return spark.sql(_REGION_REVENUE_SQL)


@register(
    "events_with_last_purchase",
    """
    SELECT e.event_id, e.user_id,
           p.ts AS last_purchase_ts,
           p.value AS last_purchase_value
    FROM events e
    ASOF LEFT JOIN (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    ) p ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def q_events_with_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every event annotated with the user's most recent
    (<= event time) purchase. Spark lacks a native ASOF JOIN; the
    operator composes union + single key shuffle + last-ignoring-nulls
    window (operators/asof.py) — verified against DuckDB's native
    ASOF LEFT JOIN."""
    from streaming_ecom_analytics_spark.operators.asof import asof_join

    ev = catalog.events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        ev, purchases, on="user_id", value_cols=("value",), prefix="last_purchase_"
    ).select(
        "event_id",
        "user_id",
        F.col("last_purchase_ts"),
        F.col("last_purchase_value"),
    )


@register(
    "distinct_order_priorities",
    """
    SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders
    """,
)
def q_distinct_order_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4's class: multi-column DISTINCT (hash aggregate, no agg exprs)."""
    return catalog.load_table(spark, "orders", sf_dir).select(
        "o_orderpriority", "o_orderstatus"
    ).distinct()


@register(
    "value_percentiles_by_type",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.25), 6) AS p25,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.9), 6) AS p90,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type
    """,
)
def q_value_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per event type. Spark's
    percentile() matches DuckDB quantile_cont to 1 ulp; ROUND(6) absorbs
    interpolation-order differences (inputs are 2-dp, so interpolated
    quantiles never sit on a 6-dp rounding boundary). The streaming/
    huge-scale variant is percentile_approx (not oracle-matched)."""
    ev = catalog.events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        *[
            F.round(F.expr(f"percentile(value, {q})"), 6).alias(name)
            for name, q in [("p25", 0.25), ("p50", 0.5), ("p90", 0.9), ("p99", 0.99)]
        ]
    )


@register(
    "revenue_cube",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross_revenue
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all four grouping sets in one
    Expand-based single-shuffle plan. The 3-column projection is
    round-robined when the input is a single-row-group file (guide
    §2.5: the scan is ONE task there, serializing Expand + partial
    aggregation of 4x the rows on one core; no-op past 1 GiB)."""
    li = catalog.load_table(spark, "lineitem", sf_dir)
    li = catalog.spread_small_scan(
        li.select("l_returnflag", "l_linestatus", "l_extendedprice"),
        sf_dir,
        "lineitem",
    )
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_extendedprice")).cast("double").alias("gross_revenue")
    )


@register(
    "active_user_overlap",
    """
    SELECT user_id FROM events WHERE event_type = 'view'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def q_active_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: users who both viewed and purchased (INTERSECT)."""
    ev = catalog.events(spark, sf_dir)
    viewers = ev.filter(F.col("event_type") == "view").select("user_id")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return viewers.intersect(buyers)


@register(
    "viewers_never_buying",
    """
    SELECT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS event_date
    FROM events WHERE event_type = 'view'
    EXCEPT
    SELECT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP)
    FROM events WHERE event_type = 'purchase'
    """,
)
def q_viewers_never_buying(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: EXCEPT (the set-algebra twin of the J1 anti-join), at the
    (user, day) grain: viewer-days with no same-day purchase. The
    user-grain form returns 0 rows from both engines at every shipped
    SF (every user purchases eventually — round-10 verdict #1), so its
    hash-green was empty-vs-empty; day-scoping keeps the identical
    EXCEPT operator with spark_rows > 0 (96 / 1060 / 10280). The
    all-time user-grain form survives as
    ``viewers_never_buying_alltime``."""
    ev = catalog.events(spark, sf_dir)
    day = F.date_trunc("day", "ts").alias("event_date")
    viewers = ev.filter(F.col("event_type") == "view").select("user_id", day)
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id", day)
    return viewers.subtract(buyers)  # EXCEPT (distinct semantics)


@register(
    "viewers_never_buying_alltime",
    """
    SELECT user_id FROM events WHERE event_type = 'view'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def q_viewers_never_buying_alltime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-grain EXCEPT — the literal set-algebra twin of the J1
    anti-join. Vacuous on the shipped testdata (kept for operator-form
    parity; the populated signal is ``viewers_never_buying``)."""
    ev = catalog.events(spark, sf_dir)
    viewers = ev.filter(F.col("event_type") == "view").select("user_id")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return viewers.subtract(buyers)  # EXCEPT (distinct semantics)


@register(
    "inter_event_gaps",
    """
    SELECT event_id, user_id,
           CAST(date_diff('microsecond',
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)
                AS DOUBLE) / 1000000.0 AS seconds_since_prev,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS next_event_type
    FROM events
    """,
)
def q_inter_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead window functions: per-user inter-event gap seconds and
    next event type — the sessionization building block."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = catalog.events(spark, sf_dir)
    # integer microsecond difference divided once in double — the exact
    # arithmetic DuckDB's date_diff('microsecond')/1e6 performs
    gap = (
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))).cast("double")
        / 1000000.0
    )
    return ev.select(
        "event_id",
        "user_id",
        gap.alias("seconds_since_prev"),
        F.lead("event_type").over(w).alias("next_event_type"),
    )


@register(
    "revenue_time_rollup",
    """
    WITH hour AS (
      SELECT date_trunc('hour', ts) AS bucket_start,
             SUM(CAST(value AS DECIMAL(18,2))) AS rev, COUNT(*) AS n
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    day AS (
      SELECT date_trunc('day', bucket_start) AS bucket_start,
             SUM(rev) AS rev, SUM(n) AS n
      FROM hour GROUP BY 1
    ),
    month AS (
      SELECT date_trunc('month', bucket_start) AS bucket_start,
             SUM(rev) AS rev, SUM(n) AS n
      FROM day GROUP BY 1
    )
    SELECT 'hour' AS grain, bucket_start, CAST(rev AS DOUBLE) AS revenue,
           CAST(n AS BIGINT) AS n_events FROM hour
    UNION ALL
    SELECT 'day', bucket_start, CAST(rev AS DOUBLE), CAST(n AS BIGINT) FROM day
    UNION ALL
    SELECT 'month', bucket_start, CAST(rev AS DOUBLE), CAST(n AS BIGINT) FROM month
    """,
)
def q_revenue_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain continuous-aggregate rollup (hour -> day -> month),
    coarser grains re-aggregated from finer ones — one raw scan."""
    from streaming_ecom_analytics_spark.operators.aggregates import time_rollup

    return time_rollup(catalog.events(spark, sf_dir))


_MARKET_SHARE_ORACLE = """
    WITH r AS (
      SELECT year(o.o_orderdate) AS order_year, n.n_name AS nation,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS rev
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      GROUP BY 1, 2
    )
    SELECT order_year, nation,
           ROUND(CAST(rev AS DOUBLE), 2) AS revenue,
           ROUND(CAST(rev AS DOUBLE)
                 / CAST(SUM(rev) OVER (PARTITION BY order_year) AS DOUBLE),
                 6) AS market_share
    FROM r
"""


@register("nation_market_share", _MARKET_SHARE_ORACLE)
def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 flavor: each supplier nation's share of global revenue
    per order year. lineitem⋈orders is the one shuffle pair; supplier
    and nation broadcast. The percent-of-total window runs on the
    year×nation aggregate (~175 rows), never the fact table."""
    li = catalog.load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = catalog.load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderdate"
    )
    supp = catalog.dim_hint(
        spark,
        catalog.load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey"),
        "supplier",
        sf_dir,
    )
    nation = catalog.dim_hint(
        spark,
        catalog.load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name"),
        "nation",
        sf_dir,
    )
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    per = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.col("n_name").alias("nation"),
        )
        .agg(F.sum(rev).alias("__rev"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("order_year")
    return per.select(
        "order_year",
        "nation",
        F.round(F.col("__rev").cast("double"), 2).alias("revenue"),
        F.round(
            F.col("__rev").cast("double") / F.sum("__rev").over(w).cast("double"), 6
        ).alias("market_share"),
    )


# ---------------------------------------------------------------------------
# TPC-H classic shapes (Q3/Q5/Q6/Q14/Q17/Q18/Q19 flavors on the
# testdata's column subset). These pin the join-ordering / pushdown /
# broadcast behavior a warehouse engine must get right; each plan shape
# is asserted in tests/test_plans.py.
# ---------------------------------------------------------------------------


@register(
    "shipping_priority",
    """
    SELECT l.l_orderkey AS order_key,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           o.o_orderdate AS order_date
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-06-30 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, order_key ASC LIMIT 10
    """,
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: unshipped-order revenue for one market segment.

    Both date predicates and the segment equality push into the scans;
    customer is broadcast (segment filter shrinks it further), so the
    only shuffle is orders⋈lineitem on orderkey. Top-10 runs as
    TakeOrderedAndProject — no global sort materializes.
    """
    c = catalog.dim_hint(
        spark,
        catalog.load_table(spark, "customer", sf_dir).filter(
            F.col("c_mktsegment") == "BUILDING"
        ),
        "customer",
        sf_dir,
    )
    cutoff = F.lit("1998-06-30 00:00:00").cast("timestamp")
    o = catalog.load_table(spark, "orders", sf_dir).filter(F.col("o_orderdate") < cutoff)
    li = catalog.load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") > cutoff
    )
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("l_orderkey").alias("order_key"),
            F.col("o_orderdate").alias("order_date"),
        )
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("order_key", "revenue", "order_date")
        .orderBy(F.desc("revenue"), F.asc("order_key"))
        .limit(10)
    )


@register(
    "local_supplier_volume",
    """
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue served by suppliers in the customer's
    own nation, for one region and year.

    Six-way join where every dimension (region, nation, customer,
    supplier) is broadcast; lineitem⋈orders on orderkey is the single
    shuffle. The s_nationkey = c_nationkey equality rides on the
    broadcast supplier join as a second key — no extra exchange.
    """
    r = catalog.load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    n = catalog.load_table(spark, "nation", sf_dir)
    c = catalog.load_dim(spark, "customer", sf_dir)
    s = catalog.load_dim(spark, "supplier", sf_dir)
    o = catalog.load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = catalog.load_table(spark, "lineitem", sf_dir)
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            # nation x region is constant-size (25 x 5 rows at every SF)
            # so the unconditional hint here is correct and stays.
            F.broadcast(n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


@register(
    "forecast_revenue_change",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    """,
)
def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate, the pushdown
    showcase — all three predicates and the 2-column projection reach
    the parquet reader; no shuffle at all (single scalar aggregate)."""
    li = catalog.load_table(spark, "lineitem", sf_dir)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(_dec("l_extendedprice") * _dec("l_discount")).cast("double").alias("revenue"))
    )


@register(
    "promo_revenue_share",
    """
    SELECT ROUND(
             100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                              THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                                   * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                   / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE),
             6) AS promo_pct
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    """,
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue percentage for one month —
    conditional aggregation over a broadcast part join, single row."""
    p = catalog.load_dim(spark, "part", sf_dir)
    li = catalog.load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    zero = F.lit(0).cast(_DEC)
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", revenue).otherwise(zero))
                .cast("double")
                / F.sum(revenue).cast("double"),
                6,
            ).alias("promo_pct")
        )
    )


@register(
    "small_quantity_revenue",
    """
    WITH brand_items AS (
      SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand = 'Brand#3'
    ),
    stats AS (
      SELECT *,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_partkey) AS sum_qty,
             COUNT(*) OVER (PARTITION BY l_partkey) AS n_items
      FROM brand_items
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
    FROM stats
    WHERE CAST(l_quantity AS DECIMAL(18,2)) * n_items * 5 < sum_qty
    """,
)
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to small-quantity orders of one
    brand (lines below 20% of their part's average quantity).

    The per-part average rides a window over the brand-filtered rows —
    one shuffle on partkey, no second scan and no self-join. The
    threshold compare is exact (DECIMAL sum vs quantity*count*5), so
    boundary rows never flip between engines or partitionings.
    """
    p = catalog.dim_hint(
        spark,
        catalog.load_table(spark, "part", sf_dir).filter(F.col("p_brand") == "Brand#3"),
        "part",
        sf_dir,
    )
    li = catalog.load_table(spark, "lineitem", sf_dir)
    items = li.join(p, F.col("p_partkey") == F.col("l_partkey")).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    w = Window.partitionBy("l_partkey")
    stats = items.select(
        "*",
        F.sum(_dec("l_quantity")).over(w).alias("sum_qty"),
        F.count("*").over(w).alias("n_items"),
    )
    return (
        stats.filter(_dec("l_quantity") * F.col("n_items") * F.lit(5) < F.col("sum_qty"))
        .agg((F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias("avg_yearly"))
    )


@register(
    "large_volume_customers",
    """
    SELECT c.c_name AS customer, o.o_orderkey AS order_key,
           o.o_orderdate AS order_date, o.o_totalprice AS total_price,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) > 300
    ORDER BY total_price DESC, order_key ASC LIMIT 20
    """,
)
def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a
    threshold, with their customers — grouped HAVING over the
    orders⋈lineitem shuffle, customer broadcast, top-20 as
    TakeOrderedAndProject."""
    c = catalog.load_dim(spark, "customer", sf_dir)
    o = catalog.load_table(spark, "orders", sf_dir)
    li = catalog.load_table(spark, "lineitem", sf_dir)
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_name").alias("customer"),
            F.col("o_orderkey").alias("order_key"),
            F.col("o_orderdate").alias("order_date"),
            F.col("o_totalprice").alias("total_price"),
        )
        .agg(F.sum(_dec("l_quantity")).alias("__sum_qty"))
        .filter(F.col("__sum_qty") > 300)
        .select(
            "customer",
            "order_key",
            "order_date",
            "total_price",
            F.col("__sum_qty").cast("double").alias("sum_qty"),
        )
        .orderBy(F.desc("total_price"), F.asc("order_key"))
        .limit(20)
    )


@register(
    "brand_bracket_revenue",
    """
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q_brand_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive brand×quantity brackets.

    The OR-of-ANDs predicate evaluates post-join (it spans both
    sides), but Catalyst still derives the implied single-side
    residuals: the brand IN-list prunes part before broadcast and the
    overall quantity envelope (1..30) pushes into the lineitem scan.
    """
    p = catalog.load_dim(spark, "part", sf_dir)
    li = catalog.load_table(spark, "lineitem", sf_dir)
    qty = F.col("l_quantity")
    brackets = (
        ((F.col("p_brand") == "Brand#1") & qty.between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & qty.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & qty.between(20, 30))
    )
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .filter(brackets)
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


@register(
    "part_skyline",
    """
    SELECT p_partkey, p_retailprice, p_size FROM part a
    WHERE NOT EXISTS (
      SELECT 1 FROM part b
      WHERE b.p_retailprice <= a.p_retailprice AND b.p_size <= a.p_size
        AND (b.p_retailprice < a.p_retailprice OR b.p_size < a.p_size)
    )
    """,
)
def q_part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-frontier parts (min retail price, min size): no other
    part is at-most-equal on both axes and strictly better on one.
    The oracle is the quadratic NOT-EXISTS; the Spark plan is the 2D
    window collapse (per-price-class prune, then a running min over
    the value-class frame) — see analytics.skyline_2d. Price enters
    the RANGE frame as exact cents, never a double offset.
    """
    from streaming_ecom_analytics_spark.operators import analytics

    p = catalog.load_table(spark, "part", sf_dir).withColumn(
        "__price_cents",
        (F.col("p_retailprice").cast("decimal(18,2)") * 100).cast("long"),
    )
    return analytics.skyline_2d(
        p,
        "__price_cents",
        "p_size",
        out_cols=["p_partkey", "p_retailprice", "p_size"],
    )


@register(
    "approx_user_overlap_sketched",
    """
    SELECT COUNT(*) AS exact_overlap, TRUE AS approx_ok FROM (
      SELECT user_id FROM events WHERE event_type = 'view'
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'purchase'
    )
    """,
)
def q_approx_user_overlap_sketched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch ALGEBRA: |viewers ∩ buyers| estimated by
    inclusion-exclusion over three mergeable sketches (|A|+|B|−|A∪B|)
    — no raw-data intersect, the scale path when both sides are
    billions of users. Contract: within 10% of the exact INTERSECT
    (HLL lg_k=12 ≈ 1.6% per-sketch error; the overlap here is a large
    fraction of both sets, so inclusion-exclusion does not amplify it
    past the bound). The exact count is the oracle-checked column."""
    ev = catalog.events(spark, sf_dir)
    viewers = ev.filter(F.col("event_type") == "view").select("user_id")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    both = ev.filter(F.col("event_type").isin("view", "purchase")).select("user_id")
    a = viewers.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("a")
    )
    b = buyers.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("b")
    )
    u = both.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("u")
    )
    exact = viewers.intersect(buyers).agg(
        F.count("*").alias("exact_overlap")
    )
    est = F.col("a") + F.col("b") - F.col("u")
    return (
        exact.crossJoin(F.broadcast(a))
        .crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(u))
        .select(
            "exact_overlap",
            (
                F.abs(est - F.col("exact_overlap"))
                <= F.lit(0.10) * F.col("exact_overlap")
            ).alias("approx_ok"),
        )
    )


@register(
    "full_assortment_customers",
    """
    WITH b AS (SELECT COUNT(DISTINCT p_brand) AS n_brands FROM part),
    cb AS (
      SELECT o.o_custkey AS c_custkey, COUNT(DISTINCT p.p_brand) AS n
      FROM orders o
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1
    )
    SELECT c_custkey, n AS n_brands_bought
    FROM cb CROSS JOIN b WHERE cb.n = b.n_brands
    """,
)
def q_full_assortment_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational DIVISION (the 'bought ALL brands' shape): customers
    whose purchases cover every brand in the catalog. Expressed as the
    scalable count-distinct rewrite — distinct-brand count per
    customer equals the (broadcast, single-row) catalog brand count —
    never the textbook double-NOT-EXISTS, which plans as a nested
    correlated anti join."""
    orders = catalog.load_table(spark, "orders", sf_dir)
    li = catalog.load_table(spark, "lineitem", sf_dir)
    part = catalog.load_dim(spark, "part", sf_dir)
    n_brands = part.agg(F.countDistinct("p_brand").alias("n_brands"))
    cb = (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.countDistinct("p_brand").alias("n_brands_bought"))
    )
    return (
        cb.crossJoin(F.broadcast(n_brands))
        .where(F.col("n_brands_bought") == F.col("n_brands"))
        .select("c_custkey", "n_brands_bought")
    )
