"""The reference's 10 analytical query patterns, Spark-first.

Each query re-expresses one pattern from the reference's analytical
battery (`Database/TASK 2A SQL Analytical Queries.sql`, reference repo
sarinang92/Business-Intelligence-and-Data-Warehouse) over the driver's
synthetic TPC-H-ish star schema (see FIXTURES.md §B for the mapping:
lineitem/orders = fact at line/order grain, o_orderdate = dim_time,
p_brand = category level, nation = customer state).

Every query is registered in ``QUERIES`` (PySpark impl, (spark, sf_dir)
-> DataFrame) and ``ORACLES`` (equivalent ANSI SQL for the DuckDB
oracle). Column names/types are aligned pair-wise because the driver
hashes values after sorting columns by name.

Cross-engine float determinism
------------------------------
Summing IEEE doubles is order-dependent, so a Spark partial-aggregate
tree and DuckDB's scan order would produce different low bits. The
engine therefore NEVER sums raw doubles when a hash-exact result is
required:

* per-row double arithmetic (a*b, 1-x, ...) is IEEE-deterministic and
  identical in both engines;
* before any aggregation/accumulation the operand is cast to
  ``DECIMAL(18,6)`` (money in the testdata has <= 4 true decimal
  digits, so the cast is exact) — decimal sums are exact and therefore
  order-independent;
* the exact decimal aggregate is cast back to DOUBLE (same nearest-
  double both engines);
* averages are written as exact-decimal-sum / count instead of AVG;
* second-level aggregates over already-computed doubles pick a decimal
  scale so that 10^-scale is far above the input's ulp AND at or above
  the input's true decimal count: money-valued doubles (exact 4-decimal
  rationals, ulp up to ~1e-9 at 1e7 magnitude) use scale 4; ratio-valued
  doubles (|x| ~ 1e-2..1e2, ulp ~1e-16) use scale 8 — otherwise Spark's
  shortest-repr HALF_UP double->decimal cast and DuckDB's binary-value
  cast disagree in the last digit;
* window accumulations (moving avg / cumulative sums) keep the decimal
  type *through* the window frame and only cast to double on output;
* engine ``round()`` is avoided on averages (Spark rounds the shortest
  string repr HALF_UP while DuckDB rounds closer to the binary value;
  they disagree on doubles like 1.005) and kept only for ratio/pct
  outputs whose exact-boundary probability is negligible.

At 100 TB these same plans hold: the join keys (orderkey, partkey,
custkey) are the natural shuffle keys, dimension joins (nation, region,
part at warehouse scale) broadcast, and all aggregates are partial-
aggregated map-side by Catalyst before the shuffle.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.caching import pin, release_pinned
from ..sources.testdata import load_table, register_views

# exact-decimal helpers shared with the analytics layer
from ..functions.parity import (  # noqa: E402,F401  (re-exported)
    DEC,
    DEC_MONEY2,
    DEC_RATIO2,
    davg,
    davg_money2,
    davg_ratio2,
    dsum,
    o_davg,
    o_davg_money2,
    o_davg_ratio2,
    o_dsum,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query_fn(name: str, oracle: str | None = None):
    """Register an implementation (and optionally its DuckDB oracle).

    The registered wrapper releases the PREVIOUS query's pinned caches
    (operators/caching.py) before building the new plan, so a session
    that walks the whole registry (driver sweep, bench battery, oracle
    pytest) holds at most one query's persisted working set at a time.
    Direct function calls between queries bypass the wrapper, so a
    query composing another query's builder keeps its own pins live.
    """

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_pinned()
            return fn(spark, sf_dir)

        QUERIES[name] = wrapper
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


REVENUE = "l_extendedprice * (1 - l_discount)"


def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# ---------------------------------------------------------------------------
# 1A. Year-over-year growth by month
# Reference: TASK 2A SQL Analytical Queries.sql:5-36 (monthly revenue,
# LAG over PARTITION BY month ORDER BY year, pct growth).
# ---------------------------------------------------------------------------

@query_fn(
    "q1a_yoy_growth",
    oracle=f"""
WITH monthly AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
         CAST(month(o_orderdate) AS INTEGER) AS month,
         strftime(o_orderdate, '%B') AS month_name,
         {o_dsum(REVENUE)} AS revenue
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  GROUP BY 1, 2, 3
), base AS (
  SELECT *,
         LAG(revenue) OVER (PARTITION BY month ORDER BY year) AS last_year_revenue
  FROM monthly
)
SELECT year, month, month_name, revenue, last_year_revenue,
       round(100.0 * (revenue - last_year_revenue) / NULLIF(last_year_revenue, 0.0), 2)
         AS yoy_growth_pct
FROM base
ORDER BY year, month
""",
)
def q1a_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YoY monthly revenue growth (reference query 1A).

    lineitem joins orders on the natural shuffle key l_orderkey; the
    monthly aggregate partial-aggregates map-side, so the shuffled data
    is already tiny. LAG needs only (month, year) partitions of the
    36-row monthly table.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.year("o_orderdate").alias("year"),
            F.month("o_orderdate").alias("month"),
            F.date_format("o_orderdate", "MMMM").alias("month_name"),
        )
        .agg(dsum(_rev()).alias("revenue"))
    )
    w = W.partitionBy("month").orderBy("year")
    base = monthly.withColumn("last_year_revenue", F.lag("revenue").over(w))
    return base.select(
        "year",
        "month",
        "month_name",
        "revenue",
        "last_year_revenue",
        F.round(
            100.0
            * (F.col("revenue") - F.col("last_year_revenue"))
            / F.nullif(F.col("last_year_revenue"), F.lit(0.0)),
            2,
        ).alias("yoy_growth_pct"),
    ).orderBy("year", "month")


# ---------------------------------------------------------------------------
# 1B. Seasonal pattern index (monthly avg daily revenue vs overall avg)
# Reference: TASK 2A SQL Analytical Queries.sql:38-67.
# ---------------------------------------------------------------------------

@query_fn(
    "q1b_seasonal_index",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(month(o_orderdate) AS INTEGER) AS month,
         strftime(o_orderdate, '%B') AS month_name,
         {o_dsum(REVENUE)} AS revenue
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  GROUP BY 1, 2, 3
), month_avg AS (
  SELECT month, month_name, {o_davg_money2('revenue')} AS avg_rev_month
  FROM daily GROUP BY 1, 2
), overall AS (
  SELECT {o_davg_money2('revenue')} AS avg_rev_overall FROM daily
)
SELECT m.month, m.month_name, m.avg_rev_month, o.avg_rev_overall,
       round(m.avg_rev_month / NULLIF(o.avg_rev_overall, 0.0), 3) AS seasonal_index
FROM month_avg m CROSS JOIN overall o
ORDER BY m.month
""",
)
def q1b_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal index: month's avg daily revenue / overall avg (ref 1B).

    The 1x1 ``overall`` aggregate is cross-joined (broadcast of a scalar
    row — the same plan shape the reference builds with CROSS JOIN).
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.to_date("o_orderdate").alias("day"),
            F.month("o_orderdate").alias("month"),
            F.date_format("o_orderdate", "MMMM").alias("month_name"),
        )
        .agg(dsum(_rev()).alias("revenue"))
    )
    month_avg = daily.groupBy("month", "month_name").agg(
        davg_money2(F.col("revenue")).alias("avg_rev_month")
    )
    overall = daily.agg(davg_money2(F.col("revenue")).alias("avg_rev_overall"))
    return (
        month_avg.crossJoin(F.broadcast(overall))
        .select(
            "month",
            "month_name",
            "avg_rev_month",
            "avg_rev_overall",
            F.round(
                F.col("avg_rev_month") / F.nullif(F.col("avg_rev_overall"), F.lit(0.0)),
                3,
            ).alias("seasonal_index"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# 2A. Multi-level aggregation with GROUPING SETS
# Reference: TASK 2A SQL Analytical Queries.sql:73-105 (4 grouping sets
# with GROUPING() flags driving row labels). GROUPING SETS with
# arbitrary sets is SQL-only surface in Spark -> spark.sql().
# ---------------------------------------------------------------------------

_Q2A_SQL_BODY = """
WITH agg AS (
  SELECT
    CAST(year(o_orderdate) AS INTEGER) AS year,
    CAST(month(o_orderdate) AS INTEGER) AS month,
    p_brand AS category,
    {dsum} AS revenue,
    CAST(GROUPING(year(o_orderdate)) AS INTEGER) AS g_year,
    CAST(GROUPING(month(o_orderdate)) AS INTEGER) AS g_month,
    CAST(GROUPING(p_brand) AS INTEGER) AS g_cat
  FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey
  LEFT JOIN part ON p_partkey = l_partkey
  GROUP BY GROUPING SETS (
    (year(o_orderdate), month(o_orderdate), p_brand),
    (year(o_orderdate), month(o_orderdate)),
    (year(o_orderdate)),
    ()
  )
)
SELECT
  year, month,
  CASE
    WHEN g_year = 1 AND g_month = 1 AND g_cat = 1 THEN 'Grand total'
    WHEN g_year = 0 AND g_month = 1 AND g_cat = 1 THEN 'All categories yearly total'
    WHEN g_year = 0 AND g_month = 0 AND g_cat = 1 THEN 'All categories monthly total'
    ELSE COALESCE(category, 'Uncategorized')
  END AS category_label,
  revenue,
  g_year, g_month, g_cat
FROM agg
ORDER BY g_year, year, g_month, month, g_cat, category_label
"""


@query_fn(
    "q2a_grouping_sets",
    oracle=_Q2A_SQL_BODY.format(dsum=o_dsum(REVENUE)),
)
def q2a_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by (year, month, brand) + monthly/yearly/grand totals (ref 2A).

    The oracle states GROUPING SETS directly (Expand: 4 replicas of
    every fact row through partial aggregation). This side computes the
    FINEST grain once — keeping the exact DECIMAL partial — and derives
    the three coarser levels by re-aggregating that tiny table:
    identical values (decimal addition is associative; the double cast
    happens once per level at presentation), but the fact table flows
    through the aggregate once instead of four times. At 100 TB the
    Expand costs 3 extra fact-volume passes through the hash table;
    the re-agg costs |finest groups| rows.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    # detail feeds the detail level AND the re-agg chain, but all
    # consumers land in ONE output plan, so Catalyst's ReuseExchange
    # shares the aggregated subtree — an explicit persist measured 3×
    # SLOWER (cache write + read vs free exchange reuse). Pin only
    # subtrees consumed by separate actions (SCALE.md).
    detail = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), lineitem.l_partkey == part.p_partkey, "left")
        .groupBy(
            F.year("o_orderdate").cast("int").alias("year"),
            F.month("o_orderdate").cast("int").alias("month"),
            F.col("p_brand").alias("category"),
        )
        .agg(F.sum(_rev().cast(DEC)).alias("sum_dec"))
    )
    l1 = detail.groupBy("year", "month").agg(F.sum("sum_dec").alias("sum_dec"))
    l2 = l1.groupBy("year").agg(F.sum("sum_dec").alias("sum_dec"))
    l3 = l2.agg(F.sum("sum_dec").alias("sum_dec"))

    def level(df, year, month, label, g_year, g_month, g_cat):
        return df.select(
            year.alias("year"),
            month.alias("month"),
            label.alias("category_label"),
            F.col("sum_dec").cast("double").alias("revenue"),
            F.lit(g_year).cast("int").alias("g_year"),
            F.lit(g_month).cast("int").alias("g_month"),
            F.lit(g_cat).cast("int").alias("g_cat"),
        )

    out = (
        level(
            detail,
            F.col("year"),
            F.col("month"),
            F.coalesce(F.col("category"), F.lit("Uncategorized")),
            0, 0, 0,
        )
        .unionByName(
            level(
                l1,
                F.col("year"),
                F.col("month"),
                F.lit("All categories monthly total"),
                0, 0, 1,
            )
        )
        .unionByName(
            level(
                l2,
                F.col("year"),
                F.lit(None).cast("int"),
                F.lit("All categories yearly total"),
                0, 1, 1,
            )
        )
        .unionByName(
            level(
                l3,
                F.lit(None).cast("int"),
                F.lit(None).cast("int"),
                F.lit("Grand total"),
                1, 1, 1,
            )
        )
    )
    return out.orderBy(
        "g_year", "year", "g_month", "month", "g_cat", "category_label"
    )


# ---------------------------------------------------------------------------
# 2B. Hierarchical ROLLUP: product rolled up to category (brand)
# Reference: TASK 2A SQL Analytical Queries.sql:108-123.
# ---------------------------------------------------------------------------

@query_fn(
    "q2b_rollup",
    oracle=f"""
SELECT
  CASE WHEN GROUPING(p_brand) = 1 THEN 'All Categories'
       ELSE COALESCE(p_brand, 'Uncategorized') END AS category,
  CASE WHEN GROUPING(l_partkey) = 1 AND GROUPING(p_brand) = 0 THEN 'Category Subtotal'
       WHEN GROUPING(l_partkey) = 1 AND GROUPING(p_brand) = 1 THEN 'Grand Total'
       ELSE CAST(l_partkey AS VARCHAR) END AS product_or_total,
  {o_dsum(REVENUE)} AS revenue
FROM lineitem LEFT JOIN part ON p_partkey = l_partkey
GROUP BY ROLLUP (p_brand, l_partkey)
ORDER BY GROUPING(p_brand), p_brand, GROUPING(l_partkey), l_partkey
""",
)
def q2b_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand -> product rollup with subtotal/grand-total labels (ref 2B).

    Same finest-grain-re-aggregation strategy as q2a: the oracle states
    ROLLUP (Expand, 3 fact replicas); here the (brand, product) grain
    aggregates once with an exact DECIMAL partial, and the subtotal and
    grand-total levels re-aggregate that small table — identical values
    by decimal associativity, one fact pass instead of three.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # same ReuseExchange rationale as q2a: one output plan, no pin
    detail = (
        lineitem.join(
            F.broadcast(part), lineitem.l_partkey == part.p_partkey, "left"
        )
        .groupBy("p_brand", "l_partkey")
        .agg(F.sum(_rev().cast(DEC)).alias("sum_dec"))
    )
    sub = detail.groupBy("p_brand").agg(F.sum("sum_dec").alias("sum_dec"))
    grand = sub.agg(F.sum("sum_dec").alias("sum_dec"))
    cat = F.coalesce(F.col("p_brand"), F.lit("Uncategorized"))
    out = (
        detail.select(
            cat.alias("category"),
            F.col("l_partkey").cast("string").alias("product_or_total"),
            F.col("sum_dec").cast("double").alias("revenue"),
            F.lit(0).alias("g_brand"),
        )
        .unionByName(
            sub.select(
                cat.alias("category"),
                F.lit("Category Subtotal").alias("product_or_total"),
                F.col("sum_dec").cast("double").alias("revenue"),
                F.lit(0).alias("g_brand"),
            )
        )
        .unionByName(
            grand.select(
                F.lit("All Categories").alias("category"),
                F.lit("Grand Total").alias("product_or_total"),
                F.col("sum_dec").cast("double").alias("revenue"),
                F.lit(1).alias("g_brand"),
            )
        )
    )
    return (
        out.orderBy("g_brand", "category", "product_or_total")
        .drop("g_brand")
    )


# ---------------------------------------------------------------------------
# 3A. Ranking + percentile bands within a geography
# Reference: TASK 2A SQL Analytical Queries.sql:126-145 (RANK + NTILE(100)
# within state). NTILE requires a total order -> c_custkey tiebreaker in
# BOTH engines (reference relies on Postgres's arbitrary tie order).
# ---------------------------------------------------------------------------

@query_fn(
    "q3a_rank_ntile",
    oracle=f"""
WITH customer_revenue AS (
  SELECT n_name AS state, c_custkey AS customer_id, c_name AS customer_name,
         {o_dsum(REVENUE)} AS revenue
  FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
  GROUP BY 1, 2, 3
)
SELECT state, customer_id, customer_name, revenue,
       CAST(RANK() OVER (PARTITION BY state ORDER BY revenue DESC) AS INTEGER) AS state_rank,
       CAST(NTILE(100) OVER (PARTITION BY state ORDER BY revenue DESC, customer_id) AS INTEGER)
         AS percentile_band
FROM customer_revenue
ORDER BY state, state_rank, customer_id
""",
)
def q3a_rank_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank customers by revenue within nation + NTILE(100) bands (ref 3A).

    nation broadcasts; customer joins orders on o_custkey (shuffle on the
    key both sides already need). The window runs per-nation after a
    repartition by state — skew-safe because nations are balanced.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    customer_revenue = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("state"),
            F.col("c_custkey").alias("customer_id"),
            F.col("c_name").alias("customer_name"),
        )
        .agg(dsum(_rev()).alias("revenue"))
    )
    w_rank = W.partitionBy("state").orderBy(F.desc("revenue"))
    w_ntile = W.partitionBy("state").orderBy(F.desc("revenue"), F.col("customer_id"))
    return (
        customer_revenue.select(
            "state",
            "customer_id",
            "customer_name",
            "revenue",
            F.rank().over(w_rank).cast("int").alias("state_rank"),
            F.ntile(100).over(w_ntile).cast("int").alias("percentile_band"),
        )
        .orderBy("state", "state_rank", "customer_id")
    )


# ---------------------------------------------------------------------------
# 3B. Moving average + year-to-date cumulative revenue
# Reference: TASK 2A SQL Analytical Queries.sql:148-164. The daily
# revenue stays DECIMAL through the window frames so the running sums
# are exact (order of accumulation irrelevant) in both engines.
# ---------------------------------------------------------------------------

@query_fn(
    "q3b_moving_cumulative",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST({REVENUE} AS DECIMAL(18,6))) AS rev
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  GROUP BY 1
)
SELECT
  day,
  CAST(rev AS DOUBLE) AS revenue,
  CAST(SUM(rev) OVER w7 AS DOUBLE) / (COUNT(*) OVER w7) AS moving_avg_7d,
  CAST(SUM(rev) OVER wytd AS DOUBLE) AS year_to_date_revenue
FROM daily
WINDOW
  w7 AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
  wytd AS (PARTITION BY year(day) ORDER BY day ROWS UNBOUNDED PRECEDING)
ORDER BY day
""",
)
def q3b_moving_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing average + YTD cumulative daily revenue (ref 3B)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(_rev().cast(DEC)).alias("rev"))
    )
    # The trailing window is deliberately un-partitioned (it crosses
    # year boundaries, so partitioning by year would change semantics).
    # Its input is the DAILY aggregate — one row per calendar day,
    # bounded by the date span (~2.5k rows for 7 years) regardless of
    # fact-table scale — so the single-partition WindowExec the WARN
    # flags is a few-KB sort, not a data-sized shuffle.
    w7 = W.orderBy("day").rowsBetween(-6, 0)
    wytd = (
        W.partitionBy(F.year("day"))
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        daily.select(
            "day",
            F.col("rev").cast("double").alias("revenue"),
            (F.sum("rev").over(w7).cast("double") / F.count(F.lit(1)).over(w7)).alias(
                "moving_avg_7d"
            ),
            F.sum("rev").over(wytd).cast("double").alias("year_to_date_revenue"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# 4A. Multi-dimensional EXISTS filtering (3 chained semi-joins + HAVING)
# Reference: TASK 2A SQL Analytical Queries.sql:170-203. Analog mapping:
# late delivery -> returned line (l_returnflag = 'R'); low review score
# -> high average discount; selected states -> selected nations.
# ---------------------------------------------------------------------------

_Q4A_NATIONS = ("NATION_1", "NATION_3")


@query_fn(
    "q4a_multi_exists",
    oracle=f"""
WITH late AS (
  SELECT l_partkey FROM lineitem
  WHERE l_returnflag = 'R'
  GROUP BY l_partkey
  HAVING COUNT(DISTINCT l_orderkey) >= 3
),
discount_order AS (
  SELECT l_orderkey, {o_davg('l_discount')} AS avg_discount_per_order
  FROM lineitem GROUP BY l_orderkey
),
discounted AS (
  SELECT l.l_partkey
  FROM lineitem l JOIN discount_order d ON d.l_orderkey = l.l_orderkey
  GROUP BY l.l_partkey
  HAVING {o_davg_ratio2('d.avg_discount_per_order')} >= 0.05
),
states AS (
  SELECT DISTINCT l_partkey
  FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
  WHERE n_name IN {_Q4A_NATIONS!r}
)
SELECT p_partkey AS product_id, p_name AS product_name
FROM part p
WHERE EXISTS (SELECT 1 FROM late       x WHERE x.l_partkey = p.p_partkey)
  AND EXISTS (SELECT 1 FROM discounted x WHERE x.l_partkey = p.p_partkey)
  AND EXISTS (SELECT 1 FROM states     x WHERE x.l_partkey = p.p_partkey)
ORDER BY product_id
""",
)
def q4a_multi_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Products passing three EXISTS predicates (ref 4A) as left-semi chain.

    Each EXISTS becomes a left_semi join (what Catalyst rewrites EXISTS
    to); the three filter sets are tiny relative to part, so they
    broadcast to the probe side.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")

    late = (
        lineitem.filter(F.col("l_returnflag") == "R")
        .groupBy("l_partkey")
        .agg(F.countDistinct("l_orderkey").alias("n_orders"))
        .filter(F.col("n_orders") >= 3)
        .select("l_partkey")
    )
    discount_order = lineitem.groupBy("l_orderkey").agg(
        davg(F.col("l_discount")).alias("avg_discount_per_order")
    )
    discounted = (
        lineitem.join(discount_order, "l_orderkey")
        .groupBy("l_partkey")
        .agg(davg_ratio2(F.col("avg_discount_per_order")).alias("avg_d"))
        .filter(F.col("avg_d") >= 0.05)
        .select("l_partkey")
    )
    states = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .filter(F.col("n_name").isin(*_Q4A_NATIONS))
        .select("l_partkey")
        .distinct()
    )
    # The final adaptive plans of consecutive runs differ only in their
    # whole-stage-codegen ids: the three branches' shuffle stages run
    # concurrently and AQE numbers each later stage in the order the
    # earlier ones finish.  session.get_spark keeps the id out of the
    # generated class names, so warm runs compile nothing.
    return (
        part.join(late, part.p_partkey == late.l_partkey, "left_semi")
        .join(discounted, part.p_partkey == discounted.l_partkey, "left_semi")
        .join(states, part.p_partkey == states.l_partkey, "left_semi")
        .select(
            F.col("p_partkey").alias("product_id"),
            F.col("p_name").alias("product_name"),
        )
        .orderBy("product_id")
    )


# ---------------------------------------------------------------------------
# 4B. Decorrelated comparative aggregate: products above category average
# Reference: TASK 2A SQL Analytical Queries.sql:207-236 (two GROUP BY
# CTEs joined on the category key — the hand-decorrelated form ports
# directly; comparisons run on bit-identical doubles in both engines).
# ---------------------------------------------------------------------------

@query_fn(
    "q4b_above_category_avg",
    oracle=f"""
WITH product_avg AS (
  SELECT l_partkey, {o_davg('l_extendedprice')} AS avg_price_product
  FROM lineitem GROUP BY l_partkey
),
category_avg AS (
  SELECT p_brand, {o_davg('l_extendedprice')} AS avg_price_category
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY p_brand
)
SELECT p.p_partkey AS product_id, p.p_brand AS category,
       pa.avg_price_product, ca.avg_price_category
FROM product_avg pa
JOIN part p ON p.p_partkey = pa.l_partkey
JOIN category_avg ca ON ca.p_brand = p.p_brand
WHERE pa.avg_price_product > ca.avg_price_category
ORDER BY pa.avg_price_product DESC, product_id
""",
)
def q4b_above_category_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Products priced above their category (brand) average (ref 4B)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    product_avg = lineitem.groupBy("l_partkey").agg(
        davg(F.col("l_extendedprice")).alias("avg_price_product")
    )
    category_avg = (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(davg(F.col("l_extendedprice")).alias("avg_price_category"))
    )
    return (
        product_avg.join(
            F.broadcast(part), product_avg.l_partkey == part.p_partkey
        )
        .join(F.broadcast(category_avg), "p_brand")
        .filter(F.col("avg_price_product") > F.col("avg_price_category"))
        .select(
            F.col("p_partkey").alias("product_id"),
            F.col("p_brand").alias("category"),
            "avg_price_product",
            "avg_price_category",
        )
        .orderBy(F.desc("avg_price_product"), "product_id")
    )


# ---------------------------------------------------------------------------
# 5A. Customer lifetime value: top-20 by lifetime revenue
# Reference: TASK 2A SQL Analytical Queries.sql:240-251. c_custkey
# tiebreaker makes the LIMIT deterministic across engines.
# ---------------------------------------------------------------------------

@query_fn(
    "q5a_ltv_top20",
    oracle=f"""
SELECT c_custkey AS customer_id, c_name AS customer_name, n_name AS state,
       {o_dsum('o_totalprice')} AS ltv_revenue,
       COUNT(DISTINCT o_orderkey) AS orders,
       {o_davg('o_totalprice')} AS avg_receipt_value
FROM orders
JOIN customer ON c_custkey = o_custkey
JOIN nation ON n_nationkey = c_nationkey
GROUP BY 1, 2, 3
ORDER BY ltv_revenue DESC, customer_id
LIMIT 20
""",
)
def q5a_ltv_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by lifetime revenue (ref 5A).

    orderBy + limit compiles to TakeOrderedAndProject — each partition
    keeps only its local top-20 before the single-row-exchange, so the
    pattern holds at any scale.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_name").alias("customer_name"),
            F.col("n_name").alias("state"),
        )
        .agg(
            dsum(F.col("o_totalprice")).alias("ltv_revenue"),
            F.countDistinct("o_orderkey").alias("orders"),
            davg(F.col("o_totalprice")).alias("avg_receipt_value"),
        )
        .orderBy(F.desc("ltv_revenue"), "customer_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# 5B. Monthly KPI battery (two-level aggregate + conditional aggregates)
# Reference: TASK 2A SQL Analytical Queries.sql:255-296. Analog mapping:
# on-time delivery -> all lines shipped within 90 days of order date;
# review score -> order-level average discount.
# ---------------------------------------------------------------------------

@query_fn(
    "q5b_monthly_kpis",
    oracle=f"""
WITH order_lines AS (
  SELECT l_orderkey,
         {o_dsum(REVENUE)} AS order_revenue,
         {o_davg('l_discount')} AS order_avg_discount,
         CAST(max(l_shipdate) AS DATE) AS last_ship_day
  FROM lineitem GROUP BY l_orderkey
),
order_facts AS (
  SELECT CAST(year(o.o_orderdate) AS INTEGER) AS year,
         CAST(month(o.o_orderdate) AS INTEGER) AS month,
         ol.order_revenue,
         ol.order_avg_discount,
         CASE WHEN ol.last_ship_day IS NULL THEN NULL
              WHEN ol.last_ship_day <= CAST(o.o_orderdate AS DATE) + 90
              THEN 1.0 ELSE 0.0 END AS on_time,
         CASE WHEN ol.last_ship_day > CAST(o.o_orderdate AS DATE) + 90
              THEN date_diff('day', CAST(o.o_orderdate AS DATE) + 90,
                             ol.last_ship_day) END AS delay_days
  FROM orders o LEFT JOIN order_lines ol ON ol.l_orderkey = o.o_orderkey
)
SELECT year, month,
       COUNT(*) AS orders,
       {o_davg_money2('order_revenue')} AS avg_order_value,
       100.0 * AVG(on_time) AS on_time_rate_pct,
       AVG(CAST(delay_days AS DOUBLE)) AS avg_delay_days,
       {o_davg_ratio2('order_avg_discount')} AS avg_order_discount
FROM order_facts
GROUP BY year, month
ORDER BY year, month
""",
)
def q5b_monthly_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly KPIs: order count, AOV, on-time rate, delay, discount (ref 5B).

    Two-level aggregate: lineitem rolls up to order grain once (shuffle
    on l_orderkey), the order-grain table then rolls up to month. AVG
    over 0/1 flags and integer day-counts is exact in IEEE doubles, so
    no decimal detour is needed for those.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    order_lines = lineitem.groupBy("l_orderkey").agg(
        dsum(_rev()).alias("order_revenue"),
        davg(F.col("l_discount")).alias("order_avg_discount"),
        F.max("l_shipdate").cast("date").alias("last_ship_day"),
    )
    due = F.date_add(F.col("o_orderdate").cast("date"), 90)
    order_facts = (
        orders.join(order_lines, orders.o_orderkey == order_lines.l_orderkey, "left")
        .select(
            F.year("o_orderdate").alias("year"),
            F.month("o_orderdate").alias("month"),
            "order_revenue",
            "order_avg_discount",
            F.when(F.col("last_ship_day").isNull(), F.lit(None).cast("double"))
            .when(F.col("last_ship_day") <= due, F.lit(1.0))
            .otherwise(F.lit(0.0))
            .alias("on_time"),
            F.when(
                F.col("last_ship_day") > due,
                F.datediff(F.col("last_ship_day"), due),
            ).alias("delay_days"),
        )
    )
    return (
        order_facts.groupBy("year", "month")
        .agg(
            F.count(F.lit(1)).alias("orders"),
            davg_money2(F.col("order_revenue")).alias("avg_order_value"),
            (100.0 * F.avg("on_time")).alias("on_time_rate_pct"),
            F.avg(F.col("delay_days").cast("double")).alias("avg_delay_days"),
            davg_ratio2(F.col("order_avg_discount")).alias("avg_order_discount"),
        )
        .orderBy("year", "month")
    )
