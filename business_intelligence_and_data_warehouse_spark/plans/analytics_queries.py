"""Driver-checkable analytics-layer queries (SURVEY §2.10).

The order-grain mart feeds descriptive stats, correlations, histogram,
segmentation, churn features, elasticity and the prescriptive battery;
each has a DuckDB oracle built from the shared ORACLE_MART CTE. The
RandomForest churn model is pyspark.ml and is exposed rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..analytics.descriptive import (
    corr_pairs,
    histogram,
    oracle_corr_pairs,
    oracle_summary_stats,
    summary_stats,
)
from ..analytics.mart import ORACLE_MART, build_order_mart
from ..analytics.predictive import (
    churn_features,
    churn_random_forest,
    elasticity_by_category,
    oracle_churn_features,
    oracle_elasticity,
)
from ..analytics.prescriptive import (
    freight_bands,
    oracle_freight_bands,
    oracle_risk_flags,
    risk_flags,
)
from ..analytics.segmentation import oracle_segment_matrix, segment_matrix
from ..sources.testdata import load_table
from .queries import query_fn

_MEASURES = ["revenue", "freight", "total_qty", "n_lines"]


@query_fn(
    "analytics_mart",
    oracle=f"WITH {ORACLE_MART} SELECT * FROM mart ORDER BY order_id",
)
def analytics_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The order-grain analytics mart itself (M1)."""
    return build_order_mart(spark, sf_dir).orderBy("order_id")


@query_fn(
    "analytics_descriptive_stats",
    oracle=oracle_summary_stats(ORACLE_MART, "mart", _MEASURES),
)
def analytics_descriptive_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """describe() battery over the mart measures (A10): one aggregate
    over one mart scan, so the mart is not pinned."""
    return summary_stats(build_order_mart(spark, sf_dir), _MEASURES).orderBy(
        "measure"
    )


@query_fn(
    "analytics_correlation",
    oracle=oracle_corr_pairs(ORACLE_MART, "mart", _MEASURES),
)
def analytics_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations from exact power sums (A11): one
    aggregate over one mart scan, so the mart is not pinned."""
    return corr_pairs(build_order_mart(spark, sf_dir), _MEASURES).orderBy(
        "var_x", "var_y"
    )


_HIST_WIDTH = 25000.0


@query_fn(
    "analytics_histogram",
    oracle=f"""
WITH {ORACLE_MART}
SELECT CAST(floor(revenue / {_HIST_WIDTH}) AS BIGINT) AS bin,
       CAST(CAST(floor(revenue / {_HIST_WIDTH}) AS BIGINT)
            * {_HIST_WIDTH} AS DOUBLE) AS bin_lo,
       CAST((CAST(floor(revenue / {_HIST_WIDTH}) AS BIGINT) + 1)
            * {_HIST_WIDTH} AS DOUBLE) AS bin_hi,
       COUNT(*) AS n
FROM mart
GROUP BY 1
ORDER BY bin
""",
)
def analytics_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-revenue histogram (A15)."""
    return histogram(build_order_mart(spark, sf_dir), "revenue", _HIST_WIDTH)


@query_fn("analytics_segmentation", oracle=oracle_segment_matrix(ORACLE_MART))
def analytics_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value x frequency 3x3 segment matrix with action labels (M9)."""
    return segment_matrix(build_order_mart(spark, sf_dir))


@query_fn("analytics_churn_features", oracle=oracle_churn_features(ORACLE_MART))
def analytics_churn_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer RFM features + churn label (M2)."""
    return churn_features(build_order_mart(spark, sf_dir)).orderBy("customer_id")


@query_fn(
    "analytics_elasticity",
    oracle=oracle_elasticity("lineitem JOIN part ON p_partkey = l_partkey"),
)
def analytics_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log OLS price elasticity per brand, closed form (M7)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return elasticity_by_category(lineitem, part)


@query_fn("analytics_freight_bands", oracle=oracle_freight_bands())
def analytics_freight_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freight-rate optimization by distance band (M8)."""
    return freight_bands(spark, sf_dir)


@query_fn("analytics_risk_flags", oracle=oracle_risk_flags())
def analytics_risk_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delivery-risk share by nation vs p75 thresholds (M10)."""
    return risk_flags(spark, sf_dir)


@query_fn("ml_churn_rf")  # pyspark.ml — rows-only check, no SQL oracle
def ml_churn_rf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RandomForest churn classifier metrics (M4-M6)."""
    return churn_random_forest(spark, build_order_mart(spark, sf_dir))


@query_fn("ml_kmeans_embeddings")  # pyspark.ml — rows-only, no SQL oracle
def ml_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded KMeans corpus clustering over the embeddings table
    (k=8, seed 42): per-cluster sizes + canonical member — the trained
    complement of the stride-centroid IVF cells (see
    analytics/predictive.kmeans_embedding_clusters).  Each row carries
    the machine-checked ``all_assignments_optimal`` invariant (every
    member's centroid is its argmin over all centroids), so the check
    is self-validating rather than a bare row count."""
    from ..analytics.predictive import kmeans_embedding_clusters

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_embedding_clusters(spark, emb, k=8, seed=42)


_DELAY_BIN_DAYS = 2


@query_fn(
    "analytics_delay_histogram",
    oracle=f"""
WITH {ORACLE_MART}
SELECT CAST(floor(delay_days / {_DELAY_BIN_DAYS}.0e0) AS BIGINT) AS bin,
       CAST(CAST(floor(delay_days / {_DELAY_BIN_DAYS}.0e0) AS BIGINT)
            * {_DELAY_BIN_DAYS} AS INTEGER) AS bin_lo_days,
       CAST((CAST(floor(delay_days / {_DELAY_BIN_DAYS}.0e0) AS BIGINT) + 1)
            * {_DELAY_BIN_DAYS} AS INTEGER) AS bin_hi_days,
       COUNT(*) AS n_orders
FROM mart
GROUP BY 1
ORDER BY bin
""",
)
def analytics_delay_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delivery-delay distribution — the dataset behind the
    reference's delay histogram figure (`Python Analytics/
    PythonAnalysis.py:187` plt.hist of delays), exported as fixed-width
    bin rows instead of a PNG.  Fixed-width binning (not quantile
    bins) is the scale-correct figure feed: one map-side floor + one
    grouped count, no global sort, no sampling."""
    mart = build_order_mart(spark, sf_dir)
    bin_col = F.floor(F.col("delay_days") / F.lit(float(_DELAY_BIN_DAYS)))
    return (
        mart.groupBy(bin_col.cast("long").alias("bin"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            "bin",
            (F.col("bin") * _DELAY_BIN_DAYS).cast("int").alias("bin_lo_days"),
            ((F.col("bin") + 1) * _DELAY_BIN_DAYS)
            .cast("int")
            .alias("bin_hi_days"),
            "n_orders",
        )
        .orderBy("bin")
    )


_TOP_STATES_K = 10


@query_fn(
    "analytics_top_states",
    oracle=f"""
WITH {ORACLE_MART}
SELECT nation,
       COUNT(*) AS n_orders,
       CAST(COUNT(DISTINCT customer_id) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(revenue AS DECIMAL(28,4))) AS DOUBLE) AS revenue
FROM mart
GROUP BY nation
ORDER BY revenue DESC, nation
LIMIT {_TOP_STATES_K}
""",
)
def analytics_top_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 regions by revenue — the dataset behind the reference's
    top-10-states bar chart (`Python Analytics/PythonAnalysis.py:
    196-197`; the testdata maps customer state -> nation, FIXTURES.md
    §B).  One grouped aggregate (exact-decimal revenue) + TakeOrdered
    top-k — the figure feed never globally sorts the group table."""
    mart = build_order_mart(spark, sf_dir)
    return (
        mart.groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("customer_id").alias("n_customers"),
            F.sum(F.col("revenue").cast("decimal(28,4)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), "nation")
        .limit(_TOP_STATES_K)
    )


@query_fn("ml_churn_roc_points")  # pyspark.ml scores — rows-only, no SQL oracle
def ml_churn_roc_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC curve (threshold, fpr, tpr) rows for the churn RF — the
    dataset behind the reference's ROC figure (`Python Analytics/
    PythonAnalysis.py:301-311`), closing the M5 figure-export gap as
    verifiable rows.  Curve invariants (monotone rates, (0,0)/(1,1)
    endpoints, trapezoid == exact AUC) are pinned in
    tests/test_analytics.py."""
    from ..analytics.predictive import churn_roc_points

    return churn_roc_points(spark, build_order_mart(spark, sf_dir))


# ---------------------------------------------------------------------------
# RFM quintile segmentation (recency / frequency / monetary)
# ---------------------------------------------------------------------------

@query_fn(
    "orders_rfm",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey AS customer_id,
         date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                   (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders))
           AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS monetary
  FROM orders
  GROUP BY 1
), scored AS (
  SELECT *,
         NTILE(5) OVER (ORDER BY recency_days DESC, customer_id) AS r_score,
         NTILE(5) OVER (ORDER BY frequency ASC, customer_id) AS f_score,
         NTILE(5) OVER (ORDER BY monetary ASC, customer_id) AS m_score
  FROM per_cust
)
SELECT customer_id,
       CAST(recency_days AS INTEGER) AS recency_days, frequency, monetary,
       CAST(r_score AS INTEGER) AS r_score,
       CAST(f_score AS INTEGER) AS f_score,
       CAST(m_score AS INTEGER) AS m_score,
       CAST(r_score * 100 + f_score * 10 + m_score AS INTEGER) AS rfm_score,
       CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
            WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
            WHEN r_score >= 4 AND f_score <= 2 THEN 'recent'
            ELSE 'regular' END AS segment
FROM scored
ORDER BY customer_id
""",
)
def orders_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile scores per customer — the classic BI segmentation
    the reference's 3×3 value×frequency grid (`Python Analytics/
    PythonAnalysis.py`, SURVEY §2.10 M9) generalizes to; this is the
    standard R/F/M NTILE(5) form over the orders fact.

    Determinism: each NTILE orders on (metric, customer_id) — a total
    order, so tile boundaries are identical cross-engine; `monetary`
    is an exact DECIMAL sum before the double cast.

    Scale: ONE shuffle on o_custkey builds the per-customer grain
    (partial-aggregated map-side).  The three NTILE windows are
    unpartitioned single-ordering passes — fine at customer-dimension
    cardinality (~1e8 rows at 100 TB sorts in seconds); for a fact-
    grain variant, swap NTILE for percentile-bucketing against
    approx-quantile cut points the way analytics/segmentation.py does.
    """
    orders = load_table(spark, sf_dir, "orders")
    anchor = orders.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("anchor_date")
    )
    per_cust = (
        orders.groupBy(F.col("o_custkey").alias("customer_id"))
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(28,4)"))
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "customer_id",
            F.datediff("anchor_date", "last_order")
            .cast("int")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    w_r = W.orderBy(F.col("recency_days").desc(), "customer_id")
    w_f = W.orderBy(F.col("frequency").asc(), "customer_id")
    w_m = W.orderBy(F.col("monetary").asc(), "customer_id")
    scored = per_cust.select(
        "*",
        F.ntile(5).over(w_r).cast("int").alias("r_score"),
        F.ntile(5).over(w_f).cast("int").alias("f_score"),
        F.ntile(5).over(w_m).cast("int").alias("m_score"),
    )
    return scored.select(
        "*",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("int")
        .alias("rfm_score"),
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "champion")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), "at_risk")
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), "recent")
        .otherwise("regular")
        .alias("segment"),
    ).orderBy("customer_id")
