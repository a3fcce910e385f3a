"""Coverage queries for the remaining SURVEY §2 operators.

* W7 — the Power BI DAX rolling-window churn measure (`Final Report
  .docx` §7.1: 6-month active-customer window, churned = EXCEPT(prev,
  active), churn rate, what-if delivery-day slider) re-expressed as a
  parameterized DataFrame computation; EXCEPT becomes a left_anti join
  (§2.7).
* A3 — FILTER-clause aggregates (`PythonAnalysis.py:85`).
* Pivot — wide matrix form of a grouped count (DataFrame .pivot).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .queries import query_fn

# DAX what-if slider: churn shifts by 1%/day of delivery-time change
# (`Final Report.docx` §7.1); exposed as a constant here.
WHATIF_DELIVERY_DAYS_DELTA = 0
CHURN_SHIFT_PER_DAY = 0.01


# shared CTE block: the rolling-active / churned sets both the W7
# query and the what-if scenario grid read from
_O_CHURN_CTES = """pairs AS (
  SELECT DISTINCT o_custkey AS c, CAST(date_trunc('month', o_orderdate) AS DATE) AS m
  FROM orders
),
months AS (SELECT DISTINCT m FROM pairs),
active AS (
  SELECT DISTINCT mo.m, p.c
  FROM months mo
  JOIN pairs p ON p.m >= mo.m - INTERVAL 5 MONTH AND p.m <= mo.m
),
counts AS (SELECT m, COUNT(*) AS n_active FROM active GROUP BY m),
churned AS (
  SELECT mo.m, COUNT(*) AS n_churned
  FROM months mo
  JOIN active prev ON prev.m = mo.m - INTERVAL 1 MONTH
  LEFT JOIN active cur ON cur.m = mo.m AND cur.c = prev.c
  WHERE cur.c IS NULL
  GROUP BY mo.m
)"""


@query_fn(
    "churn_rolling_window",
    oracle=f"""
WITH {_O_CHURN_CTES}
SELECT c.m AS month,
       c.n_active,
       COALESCE(ch.n_churned, 0) AS n_churned,
       COALESCE(ch.n_churned, 0) * 1.0
         / NULLIF(c.n_active + COALESCE(ch.n_churned, 0), 0) AS churn_rate,
       COALESCE(ch.n_churned, 0) * 1.0
         / NULLIF(c.n_active + COALESCE(ch.n_churned, 0), 0)
         + {WHATIF_DELIVERY_DAYS_DELTA} * {CHURN_SHIFT_PER_DAY} AS churn_rate_whatif
FROM counts c LEFT JOIN churned ch ON ch.m = c.m
ORDER BY month
""",
)
def churn_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 6-month distinct-customer churn (DAX W7): active =
    customers with an order in the trailing 6 months; churned =
    EXCEPT(previous window, current window) as a left_anti join.

    The active set is expanded LINEARLY: each (customer, order-month)
    row explodes into the exactly-6 window months it covers
    (``sequence(m, add_months(m, 5))``), then a semi-join keeps only
    observed months. The months×pairs range join this replaces was a
    broadcast nested loop evaluating |months|·|pairs| predicates —
    quadratic in history length; the explode is a map-side 6× fan-out
    regardless of how many months of history exist.
    """
    return _churn_rolling(spark, sf_dir)


def _churn_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query body shared with :func:`whatif_churn_scenarios`.  The
    r2->r3 bench delta (1.87->2.57s) was the cache ledger removing
    cross-invocation cache leaks, not a plan regression — the plan is
    already the one we'd want."""
    orders = load_table(spark, sf_dir, "orders")
    pairs = (
        orders.select(
            F.col("o_custkey").alias("c"),
            F.to_date(F.date_trunc("month", "o_orderdate")).alias("m"),
        )
        .distinct()
    )
    months = pairs.select("m").distinct()
    # `active` feeds three consumers (counts, the shifted prev set, and
    # the churn anti-join) — all inside ONE output plan, so Catalyst's
    # ReuseExchange shares the explode+distinct exchange and it stays
    # unpinned: interleaved best-of-3 at sf0.1 measured unpinned 1.1s
    # vs pinned 2.6s (pure cache-write overhead).
    active = (
        pairs.select(
            F.explode(
                F.expr("sequence(m, add_months(m, 5), interval 1 month)")
            ).alias("m"),
            "c",
        )
        .join(months, "m", "left_semi")
        .distinct()
    )
    counts = active.groupBy("m").agg(F.count(F.lit(1)).alias("n_active"))
    prev = active.select(F.add_months("m", 1).alias("m"), "c").join(
        months, "m", "left_semi"
    )
    churned = (
        prev.join(active, ["m", "c"], "left_anti")  # EXCEPT(prev, active)
        .groupBy("m")
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    rate = F.col("n_churned") * 1.0 / F.nullif(
        F.col("n_active") + F.col("n_churned"), F.lit(0)
    )
    return (
        counts.join(churned, "m", "left")
        .na.fill({"n_churned": 0})
        .select(
            F.col("m").alias("month"),
            "n_active",
            "n_churned",
            rate.alias("churn_rate"),
            (rate + WHATIF_DELIVERY_DAYS_DELTA * CHURN_SHIFT_PER_DAY).alias(
                "churn_rate_whatif"
            ),
        )
        .orderBy("month")
    )


# the reference dashboard's slider sweeps -5..+5 delivery days
_WHATIF_DELTA_RANGE = 5


@query_fn(
    "whatif_churn_scenarios",
    oracle=f"""
WITH {_O_CHURN_CTES},
base AS (
  SELECT c.m AS month, c.n_active,
         COALESCE(ch.n_churned, 0) AS n_churned,
         COALESCE(ch.n_churned, 0) * 1.0
           / NULLIF(c.n_active + COALESCE(ch.n_churned, 0), 0) AS churn_rate
  FROM counts c LEFT JOIN churned ch ON ch.m = c.m
)
SELECT month,
       CAST(d.delta_days AS INTEGER) AS delta_days,
       n_active, n_churned, churn_rate,
       churn_rate + d.delta_days * {CHURN_SHIFT_PER_DAY}e0 AS churn_rate_whatif
FROM base
CROSS JOIN range(-{_WHATIF_DELTA_RANGE}, {_WHATIF_DELTA_RANGE + 1}) d(delta_days)
ORDER BY month, delta_days
""",
)
def whatif_churn_scenarios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Power BI what-if slider as a query surface: the W7 churn
    table evaluated over the full -5..+5 delivery-days scenario grid
    (`Final Report.docx` §7.1's interactive slider; churn shifts
    1%/day).  The grid is a map-side 11x explode over the tiny monthly
    churn table — an interactive dashboard would filter this
    pre-computed scenario cube on the slider value instead of
    re-running the rolling-window query per drag."""
    base = _churn_rolling(spark, sf_dir)
    return (
        base.select("month", "n_active", "n_churned", "churn_rate")
        .select(
            "*",
            F.explode(
                F.sequence(
                    F.lit(-_WHATIF_DELTA_RANGE), F.lit(_WHATIF_DELTA_RANGE)
                )
            ).alias("delta_days"),
        )
        .select(
            "month",
            "delta_days",
            "n_active",
            "n_churned",
            "churn_rate",
            (
                F.col("churn_rate")
                + F.col("delta_days") * F.lit(CHURN_SHIFT_PER_DAY)
            ).alias("churn_rate_whatif"),
        )
        .orderBy("month", "delta_days")
    )


@query_fn(
    "kpi_filtered_aggregates",
    oracle="""
SELECT n_name AS nation,
       COUNT(*) AS n_orders,
       MAX(o_totalprice) FILTER (WHERE o_orderstatus = 'F') AS max_finished_price,
       COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
       COUNT(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 100000)
         AS n_big_customers
FROM orders
JOIN customer ON c_custkey = o_custkey
JOIN nation ON n_nationkey = c_nationkey
GROUP BY n_name
ORDER BY nation
""",
)
def kpi_filtered_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-clause aggregates (A3) as conditional aggregation."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max(
                F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))
            ).alias("max_finished_price"),
            F.count(
                F.when(F.col("o_orderpriority") == "1-URGENT", F.lit(1))
            ).alias("n_urgent"),
            F.countDistinct(
                F.when(F.col("o_totalprice") > 100000, F.col("o_custkey"))
            ).alias("n_big_customers"),
        )
        .orderBy("nation")
    )


@query_fn(
    "share_of_total",
    oracle="""
WITH by_nation AS (
  SELECT n_name AS nation,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
  FROM orders
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
  GROUP BY n_name
)
SELECT nation, revenue,
       100.0 * revenue / SUM(CAST(revenue AS DECIMAL(28,4))) OVER () AS share_pct
FROM by_nation
ORDER BY nation
""",
)
def share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total (A13): each nation's revenue as a percentage of
    the grand total via an un-partitioned window sum (the decimal cast
    keeps the window total order-independent)."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    by_nation = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("revenue")
        )
    )
    total = F.sum(F.col("revenue").cast("decimal(28,4)")).over(
        W.partitionBy()
    )
    return by_nation.select(
        "nation",
        "revenue",
        (100.0 * F.col("revenue") / total).alias("share_pct"),
    ).orderBy("nation")


# published error bounds the self-validation columns assert against:
# HLL++ default relative standard deviation is 0.05 — a 3-sigma band
# covers ~99.7% of sketches; percentile_approx's default accuracy
# 10000 guarantees rank error <= 1/accuracy (doubled for safety).
_HLL_BOUND = 3 * 0.05
_KLL_RANK_EPS = 2.0 / 10000


@query_fn("approx_sketches")  # rows-only: HLL/KLL sketch VALUES are
# engine-specific so there is no cross-engine oracle — but the row
# SELF-VALIDATES: each estimate is checked against the exact in-Spark
# value inside the query, so the driver's hash pins the *_within_bounds
# booleans, not just a row count
def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sketches for interactive exploration at scale:
    approx_count_distinct (HyperLogLog++) and percentile_approx (KLL),
    each paired with an in-row ``*_within_bounds`` check against the
    exact value and the sketch's published error bound.

    The exact counterparts exist here to VALIDATE the sketches; at the
    100 TB design point you ship the sketch columns alone — the whole
    point of a sketch is skipping those exact plans — and this query
    is the CI harness proving the estimates stay inside their bounds.

    Plan shape: the two exact distinct counts run as SEPARATE
    single-distinct aggregations, not one agg — two distinct
    aggregates in one agg trigger Expand (every row replicated once
    per distinct column through the shuffle), which measured 2.1x
    slower than independent narrow passes at sf0.1 (1.61s -> 0.75s
    best-of-3 interleaved). The rank check is one extra pass over the
    fact with the 1-row sketch broadcast; the three 1-row exact
    frames recombine via broadcast cross joins."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    sk = lineitem.agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median_price"),
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
    )
    exact_parts = lineitem.agg(
        F.countDistinct("l_partkey").alias("exact_parts")
    )
    exact_orders = lineitem.agg(
        F.countDistinct("l_orderkey").alias("exact_orders")
    )
    checked = (
        lineitem.crossJoin(F.broadcast(sk))
        .agg(
            F.first("approx_parts").alias("approx_parts"),
            F.first("approx_median_price").alias("approx_median_price"),
            F.first("approx_orders").alias("approx_orders"),
            F.sum(
                (F.col("l_extendedprice") < F.col("approx_median_price"))
                .cast("long")
            ).alias("n_below"),
            F.sum(
                (F.col("l_extendedprice") <= F.col("approx_median_price"))
                .cast("long")
            ).alias("n_at_or_below"),
            F.count(F.lit(1)).alias("n"),
        )
        .crossJoin(F.broadcast(exact_parts))
        .crossJoin(F.broadcast(exact_orders))
    )
    return checked.select(
        "approx_parts",
        "approx_orders",
        "approx_median_price",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= _HLL_BOUND * F.col("exact_parts")
        ).alias("hll_parts_within_bounds"),
        (
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            <= _HLL_BOUND * F.col("exact_orders")
        ).alias("hll_orders_within_bounds"),
        # the approx median's exact rank must cover 0.5 within the
        # sketch's rank-error guarantee (ties span [n_below, n_at_or_below])
        (
            (F.col("n_below") / F.col("n") <= 0.5 + _KLL_RANK_EPS)
            & (F.col("n_at_or_below") / F.col("n") >= 0.5 - _KLL_RANK_EPS)
        ).alias("kll_median_within_bounds"),
    )


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query_fn(
    "pivot_event_matrix",
    oracle=f"""
SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
       {", ".join(f"COUNT(*) FILTER (WHERE event_type = '{t}') AS {t}" for t in _EVENT_TYPES)}
FROM events
GROUP BY 1
ORDER BY day
""",
)
def pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide pivot: daily event counts, one column per event type."""
    events = load_table(spark, sf_dir, "events")
    out = (
        events.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    return out.orderBy("day")


@query_fn(
    "skew_salted_agg",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
       MAX(value) AS max_value,
       MIN(CAST(ts AS TIMESTAMP)) AS first_event
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-phase aggregation (operators/skew.salted_agg)
    over `events.event_type` — 5 distinct values over the whole table,
    so every key is hot by construction. The salt spreads each key
    over 16 partial groups before the merge; results are EXACTLY the
    plain GROUP BY (salting moves rows, not algebra), which is what
    the oracle checks."""
    from ..operators.skew import salted_agg

    events = load_table(spark, sf_dir, "events")
    out = salted_agg(
        events,
        keys=["event_type"],
        aggs={
            "n_events": F.sum(F.lit(1)),
            "value_sum": F.sum(F.col("value").cast("decimal(18,6)")),
            "max_value": F.max("value"),
            "first_event": F.min("ts"),
        },
        merges={"max_value": "max", "first_event": "min"},
        salt_buckets=16,
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("value_sum").cast("double").alias("value_sum"),
        "max_value",
        "first_event",
    ).orderBy("event_type")


@query_fn(
    "skew_salted_join",
    oracle="""
WITH dim AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS type_value_sum,
         CAST(COUNT(*) AS BIGINT) AS type_n
  FROM events GROUP BY 1
)
SELECT e.event_id, e.event_type, e.value, d.type_value_sum, d.type_n
FROM events e JOIN dim d USING (event_type)
ORDER BY event_id
""",
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof replicate-broadcast join
    (operators/skew.salted_broadcast_left): every event row enriched
    with its type's corpus-wide stats.  `event_type` has 5 values over
    the whole fact, so every join key is hot by construction — the
    deterministic salt spreads each key's rows over 8 (key, salt)
    tasks while the broadcast side is exploded once per salt value.
    Results are EXACTLY the plain inner join (the oracle), the same
    equality contract skew_salted_agg pins for the aggregation case.
    """
    from ..operators.skew import salted_broadcast_left

    events = load_table(spark, sf_dir, "events")
    dim = events.groupBy("event_type").agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("type_value_sum"),
        F.count(F.lit(1)).alias("type_n"),
    )
    out = salted_broadcast_left(
        events.select("event_id", "event_type", "value"),
        dim,
        ["event_type"],
        salt_buckets=8,
    )
    return out.select(
        "event_id", "event_type", "value", "type_value_sum", "type_n"
    ).orderBy("event_id")
