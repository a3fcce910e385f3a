"""Predictive analytics: churn features/labels, churn model, price
elasticity.

Mirrors the reference's predictive block (`PythonAnalysis.py:243-377`):
churn = no order in the last 90 days of the dataset window (:248-253),
RandomForest churn classifier with ROC-AUC + feature importances
(:285-311), and a log-log OLS price-elasticity fit (:345-354).

Engine-parity: churn features are integer/date arithmetic (exact);
the OLS fit is CLOSED-FORM from exact decimal power sums over
decimal-snapped logs (ln() differs by ~1 ulp between libm and the JVM,
so raw log sums would diverge; snapping to DECIMAL(18,6) makes both
engines sum identical values). The RandomForest is pyspark.ml and has
no SQL oracle — it is exposed as a rows-only check.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..session import local_frame

CHURN_DAYS = 90
LOG_DEC = "decimal(18,6)"


def churn_features(mart: DataFrame) -> DataFrame:
    """Per-customer RFM features + churn label (exact arithmetic)."""
    max_date = mart.agg(F.max("order_date").alias("dataset_max_date"))
    cust = mart.groupBy("customer_id", "nation").agg(
        F.max("order_date").alias("last_order_date"),
        F.min("order_date").alias("first_order_date"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("revenue").cast("decimal(28,4)")).cast("double").alias("monetary"),
        F.avg(F.col("on_time").cast("int")).alias("on_time_rate"),
        F.avg("delay_days").alias("avg_delay_days"),
    )
    return cust.crossJoin(F.broadcast(max_date)).select(
        "customer_id",
        "nation",
        F.datediff("dataset_max_date", "last_order_date").alias("recency_days"),
        "frequency",
        "monetary",
        F.datediff("last_order_date", "first_order_date").alias("active_span_days"),
        "on_time_rate",
        "avg_delay_days",
        (
            F.datediff("dataset_max_date", "last_order_date") > CHURN_DAYS
        ).alias("churned"),
    )


def oracle_churn_features(mart_cte: str) -> str:
    """DuckDB twin of churn_features."""
    return f"""
WITH {mart_cte},
mx AS (SELECT MAX(order_date) AS dataset_max_date FROM mart),
cust AS (
  SELECT customer_id, nation,
         MAX(order_date) AS last_order_date,
         MIN(order_date) AS first_order_date,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(revenue AS DECIMAL(28,4))) AS DOUBLE) AS monetary,
         AVG(CAST(on_time AS INTEGER)) AS on_time_rate,
         AVG(delay_days) AS avg_delay_days
  FROM mart GROUP BY customer_id, nation
)
SELECT customer_id, nation,
       CAST(date_diff('day', last_order_date, dataset_max_date) AS INTEGER)
         AS recency_days,
       frequency, monetary,
       CAST(date_diff('day', first_order_date, last_order_date) AS INTEGER)
         AS active_span_days,
       on_time_rate, avg_delay_days,
       date_diff('day', last_order_date, dataset_max_date) > {CHURN_DAYS}
         AS churned
FROM cust CROSS JOIN mx
ORDER BY customer_id
"""


def elasticity_by_category(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Log-log OLS per brand: elasticity (slope), r², n — closed form
    from exact decimal power sums over snapped logs."""
    joined = lineitem.join(
        F.broadcast(part), lineitem.l_partkey == part.p_partkey
    ).select(
        "p_brand",
        F.log(F.col("l_extendedprice") / F.col("l_quantity"))
        .cast(LOG_DEC)
        .alias("x"),  # log unit price
        F.log("l_quantity").cast(LOG_DEC).alias("y"),  # log quantity
    )
    agg = joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    # rounded: the scale-12 power sums exceed 2^53 raw units, where
    # decimal->double conversion differs by ~1 ulp between engines
    return agg.select(
        F.col("p_brand").alias("category"),
        "n",
        F.round(cov / F.nullif(varx, F.lit(0.0)), 9).alias("elasticity"),
        F.round((cov * cov) / F.nullif(varx * vary, F.lit(0.0)), 9).alias("r2"),
    ).orderBy("category")


def oracle_elasticity(table_join: str) -> str:
    """DuckDB twin of elasticity_by_category."""
    return f"""
WITH pts AS (
  SELECT p_brand,
         CAST(ln(l_extendedprice / l_quantity) AS DECIMAL(18,6)) AS x,
         CAST(ln(l_quantity) AS DECIMAL(18,6)) AS y
  FROM {table_join}
),
agg AS (
  SELECT p_brand, COUNT(*) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * y) AS DOUBLE) AS sxy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx,
         CAST(SUM(y * y) AS DOUBLE) AS syy
  FROM pts GROUP BY p_brand
)
SELECT p_brand AS category, n,
       round((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0), 9) AS elasticity,
       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
         / NULLIF((n * sxx - sx * sx) * (n * syy - sy * sy), 0.0), 9) AS r2
FROM agg
ORDER BY category
"""


def stratified_split(
    data: DataFrame,
    label_col: str = "label",
    train_frac: float = 0.7,
    seed: int = 42,
    id_col: str = "customer_id",
) -> tuple[DataFrame, DataFrame]:
    """Stratified train/test split: `train_frac` sampled PER CLASS
    (``sampleBy``), the complement (anti-join on `id_col`) as test —
    the Spark form of sklearn's ``train_test_split(stratify=y)`` the
    reference uses (`PythonAnalysis.py:281-283`). Per-class proportions
    hold in expectation within each class instead of only globally."""
    fractions = {
        r[0]: train_frac
        for r in data.select(label_col).distinct().collect()
    }
    train = data.sampleBy(label_col, fractions, seed=seed)
    test = data.join(train.select(id_col), id_col, "left_anti")
    return train, test


def with_balanced_weights(
    train: DataFrame, label_col: str = "label", weight_col: str = "weight"
) -> DataFrame:
    """Append sklearn-style ``class_weight='balanced'`` weights
    (`PythonAnalysis.py:285`): w(class) = n / (n_classes · n_class), so
    each class contributes equal total weight to the fit."""
    counts = {r[0]: r[1] for r in train.groupBy(label_col).count().collect()}
    if not counts:
        raise ValueError(
            "with_balanced_weights: empty training set (no label rows) — "
            "upstream mart produced no customers"
        )
    n, k = sum(counts.values()), len(counts)
    expr = None
    for lbl, cnt in sorted(counts.items()):
        branch_w = F.lit(n / (k * cnt))
        expr = (
            F.when(F.col(label_col) == lbl, branch_w)
            if expr is None
            else expr.when(F.col(label_col) == lbl, branch_w)
        )
    return train.withColumn(weight_col, expr)


# Behavioral features ONLY — recency is EXCLUDED, exactly as the
# reference excludes it (`PythonAnalysis.py:277-278` builds X from
# order_count/total_spend/avg_review/on_time/delay/tenure/... and never
# days_since_order): recency DEFINES the label (churned = recency > 90),
# so any transform of it — including the previous cap at the horizon,
# where capped == 90 iff churned — makes the metrics circular (a single
# split at 89.5 reproduces the label; r10 review finding).
CHURN_FEATURE_COLS = [
    "frequency",
    "monetary",
    "active_span_days",
    "on_time_rate",
    "avg_delay_days",
]


def fit_churn_model(mart: DataFrame, num_trees: int = 50, seed: int = 42):
    """Shared churn-RF fit: stratified 70/30 split, balanced class
    weights, RandomForest — returns ``(model, train, pred)`` where
    ``pred`` is the scored TEST set.  Factored out of
    :func:`churn_random_forest` so the ROC-points query scores the
    same model instead of re-deriving a twin."""
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.feature import VectorAssembler

    from ..operators.caching import pin

    feats = (
        churn_features(mart)
        .withColumn("label", F.col("churned").cast("double"))
        .na.fill(0.0)
    )
    assembler = VectorAssembler(
        inputCols=CHURN_FEATURE_COLS, outputCol="features"
    )
    # PIN the assembled table before branching: sampleBy draws per-row
    # in partition order, and the upstream groupBy gives no cross-
    # re-execution order guarantee — unpinned, the >=4 downstream
    # actions (weights collect, fit, AUC, confusion, count) could each
    # re-sample a DIFFERENT train set, silently overlapping train and
    # test (r10 review finding).  The pins also collapse the repeated
    # full-pipeline recomputation those actions paid.
    data = pin(
        assembler.transform(feats).select("customer_id", "features", "label")
    )
    train, test = stratified_split(data, "label", 0.7, seed)
    train = pin(with_balanced_weights(train, "label", "weight"))
    model = RandomForestClassifier(
        numTrees=num_trees,
        maxDepth=5,
        seed=seed,
        labelCol="label",
        weightCol="weight",
    ).fit(train)
    return model, train, pin(model.transform(test))


def churn_random_forest(
    spark: SparkSession, mart: DataFrame, num_trees: int = 50, seed: int = 42
) -> DataFrame:
    """RandomForest churn classifier (pyspark.ml Pipeline): stratified
    70/30 split, balanced class weights, ROC-AUC + accuracy + top
    feature importances — the reference's sklearn setup
    (`PythonAnalysis.py:281-311`: train_test_split(stratify=y),
    class_weight='balanced') in pyspark.ml terms. Returns a one-row
    metrics DataFrame (no SQL oracle — model internals are not
    SQL-expressible; the driver records a rows-only check)."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    feature_cols = CHURN_FEATURE_COLS
    model, train, pred = fit_churn_model(mart, num_trees, seed)
    auc = BinaryClassificationEvaluator(
        labelCol="label", metricName="areaUnderROC"
    ).evaluate(pred)
    # the reference's classification_report (`PythonAnalysis.py:
    # 292-300`): accuracy + positive-class precision/recall/F1 from ONE
    # confusion-matrix aggregate over the scored test set — the AUC
    # evaluator above is the only other full pass (it needs the raw
    # scores, which a count aggregate cannot summarize)
    # coalesce: SUM over an EMPTY scored set is NULL, and `0 - None`
    # crashed before the n_test guard could run (r10 review finding)
    conf = pred.agg(
        F.coalesce(
            F.sum(
                ((F.col("prediction") == 1.0) & (F.col("label") == 1.0)).cast("long")
            ),
            F.lit(0),
        ).alias("tp"),
        F.coalesce(
            F.sum(
                ((F.col("prediction") == 1.0) & (F.col("label") == 0.0)).cast("long")
            ),
            F.lit(0),
        ).alias("fp"),
        F.coalesce(
            F.sum(
                ((F.col("prediction") == 0.0) & (F.col("label") == 1.0)).cast("long")
            ),
            F.lit(0),
        ).alias("fn"),
        F.count(F.lit(1)).alias("n_test"),
    ).first()
    tn = conf.n_test - conf.tp - conf.fp - conf.fn
    acc = (conf.tp + tn) / conf.n_test if conf.n_test else 0.0
    precision = conf.tp / (conf.tp + conf.fp) if conf.tp + conf.fp else 0.0
    recall = conf.tp / (conf.tp + conf.fn) if conf.tp + conf.fn else 0.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if precision + recall
        else 0.0
    )
    imp = model.featureImportances.toArray()
    top = sorted(zip(feature_cols, imp), key=lambda t: -t[1])[:3]
    return local_frame(
        spark,
        [
            (
                train.count(),
                conf.n_test,
                float(auc),
                float(acc),
                float(precision),
                float(recall),
                float(f1),
                ", ".join(f"{name}={w:.3f}" for name, w in top),
            )
        ],
        [
            ("n_train", pa.int64()),
            ("n_test", pa.int64()),
            ("auc", pa.float64()),
            ("accuracy", pa.float64()),
            ("precision", pa.float64()),
            ("recall", pa.float64()),
            ("f1", pa.float64()),
            ("top_features", pa.string()),
        ],
    )


def churn_roc_points(
    spark: SparkSession, mart: DataFrame, num_trees: int = 50, seed: int = 42
) -> DataFrame:
    """ROC curve points for the churn RF — the dataset behind the
    reference's ROC figure (`PythonAnalysis.py:301-311` plots
    roc_curve(y_test, y_proba)); exported as rows instead of a PNG so
    it is testable without a plotting dependency.

    One row per DISTINCT model score (threshold), descending, plus the
    (0,0) anchor: ``(threshold, fpr, tpr, cum_pos, cum_neg)`` with
    tpr/fpr the rates when predicting positive at ``score >=
    threshold``.  Built sklearn-style: group by score (one shuffle on
    a tiny scored test set), then cumulative sums ordered by score
    descending.  The curve table is bounded by the number of DISTINCT
    scores — an RF with T trees emits at most ~T·leaves distinct
    probabilities, so the single-partition cumulative window is over a
    small bounded table, not the corpus; at extreme score
    cardinalities, quantize the score to a fixed grid first and the
    same plan holds.

    Scores are not cross-engine reproducible (pyspark.ml internals),
    so there is no SQL oracle; pytest pins the curve invariants
    instead: fpr/tpr nondecreasing, endpoints (0,0) and (1,1), and
    trapezoid area == the exact Mann-Whitney AUC of the scores.
    """
    from pyspark.ml.functions import vector_to_array

    _model, _train, pred = fit_churn_model(mart, num_trees, seed)
    scored = pred.select(
        vector_to_array("probability")[1].alias("score"),
        F.col("label").cast("long").alias("pos"),
    )
    totals = scored.agg(
        F.coalesce(F.sum("pos"), F.lit(0)).alias("p"),
        F.coalesce(F.sum(F.lit(1) - F.col("pos")), F.lit(0)).alias("n"),
    ).first()
    if totals.p == 0 or totals.n == 0:
        # single-class test set: every fpr or tpr would be NULL (x/0),
        # silently breaking the documented curve invariants — fail
        # informatively instead (r10 review finding)
        raise ValueError(
            f"ROC undefined: scored test set has {totals.p} positives "
            f"and {totals.n} negatives (needs both classes)"
        )
    by_score = scored.groupBy("score").agg(
        F.sum("pos").alias("n_pos"),
        F.sum(F.lit(1) - F.col("pos")).alias("n_neg"),
    )
    w_cum = (
        W.orderBy(F.desc("score"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.orderBy(F.desc("score")).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    curve = by_score.select(
        F.col("score").alias("threshold"),
        F.sum("n_pos").over(w_cum).alias("cum_pos"),
        F.sum("n_neg").over(w_cum).alias("cum_neg"),
        F.sum("n_pos").over(w_all).alias("total_pos"),
        F.sum("n_neg").over(w_all).alias("total_neg"),
    ).select(
        "threshold",
        (F.col("cum_neg") / F.col("total_neg")).alias("fpr"),
        (F.col("cum_pos") / F.col("total_pos")).alias("tpr"),
        "cum_pos",
        "cum_neg",
    )
    # (0,0) anchor: a threshold above every score predicts nothing
    # positive; the (1,1) endpoint is the min-score row (score >= min
    # always holds), already present
    anchor = local_frame(
        spark,
        [(2.0, 0.0, 0.0, 0, 0)],
        [
            ("threshold", pa.float64()),
            ("fpr", pa.float64()),
            ("tpr", pa.float64()),
            ("cum_pos", pa.int64()),
            ("cum_neg", pa.int64()),
        ],
    )
    return anchor.unionByName(curve).orderBy(F.desc("threshold"))


def kmeans_embedding_clusters(
    spark: SparkSession,
    embeddings: DataFrame,
    k: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Seeded KMeans over the embedding column (pyspark.ml) — the
    LEARNED-centroid corpus clustering a SemDeDup-style pipeline
    trains before per-cluster dedup (operators/similarity uses the
    deterministic stride-centroid variant for its oracle-checkable
    paths; this is the trained twin). Returns one row per NON-EMPTY
    cluster (KMeans can converge with fewer than k occupied clusters):
    (cluster_id, n_members, min_vec_id) ordered by cluster size desc
    then min id.

    Determinism scope: run-to-run deterministic WITHIN an environment
    (fixed seed + fixed input partitioning), because KMeans|| init
    samples per partition — a different parallelism can legitimately
    yield a different (equally valid) clustering, which is why the
    driver check is rows-only and no cross-environment value hash is
    claimed. No SQL oracle (iterative training is not
    SQL-expressible); pytest asserts same-session determinism and
    that cluster sizes cover the corpus.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from ..operators.caching import pin

    # KMeans.fit consumes the features iteratively (maxIter passes) and
    # transform() reads them once more — pin so the scan + array cast
    # runs once, not once per iteration (released at the next query
    # invocation by the ledger).
    feats = pin(
        embeddings.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
            array_to_vector(F.col(vec_col).cast("array<double>")).alias(
                "features"
            ),
        )
    )
    model = KMeans(k=k, seed=seed, featuresCol="features").fit(feats)
    assigned = model.transform(feats)

    # assignment-optimality invariant, machine-checked IN the result:
    # for every member, the assigned centroid must be its argmin over
    # all k centroids.  Centroids are k tiny literal arrays (driver
    # state of the fitted model), so the distance sweep is pure
    # map-side HOF arithmetic — no join, no shuffle beyond the final
    # per-cluster aggregate.
    def _d2(c: list[float]):
        return F.aggregate(
            F.zip_with(
                F.col("vec"),
                F.array(*[F.lit(float(x)) for x in c]),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    centers = [list(map(float, c)) for c in model.clusterCenters()]
    dists = F.array(*[_d2(c) for c in centers])
    checked = assigned.withColumn("_d", dists).withColumn(
        "assigned_optimal",
        # <= min + eps: float-asymmetric tie order must not fail the check
        F.element_at("_d", F.col("prediction") + 1)
        <= F.array_min("_d") + F.lit(1e-9),
    )
    return (
        checked.groupBy(F.col("prediction").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("vec_id").alias("min_vec_id"),
            F.bool_and("assigned_optimal").alias("all_assignments_optimal"),
        )
        .orderBy(F.desc("n_members"), "min_vec_id")
    )
