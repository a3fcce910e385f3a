"""Market-basket co-occurrence: support / confidence / lift over
item pairs within a transaction key.

The classic association-mining first stage, DataFrame-first:

1. ONE shuffle gathers each basket's distinct item set
   (`collect_set`, sorted for deterministic pair order) — set
   semantics for free, no separate distinct pass;
2. pair generation is MAP-SIDE: a nested `transform` over the bound
   item array emits each basket's C(k, 2) ordered pairs (a < b holds
   by construction on the sorted array) — measured ~2x faster at
   sf0.1 than the equivalent self-join on the basket key, whose
   sort-merge machinery shuffles the item table twice.  Fan-out per
   basket is C(k, 2) with k the basket size; basket sizes are bounded
   (TPC-H lineitem: <= 7 lines; retail baskets: dozens), so the
   exploded pair stream is LINEAR in baskets with a small constant —
   this is NOT the unbounded shingle-style self-join and needs no
   frequency cap.  (A pathological single mega-basket would
   quadratically load one task under EITHER formulation; cap basket
   size upstream if the domain allows unbounded baskets.);
3. item-frequency table derives from the same basket arrays and joins
   back to the pairs twice (item_a, item_b).  No broadcast hint is
   forced: AQE broadcasts the frequency table while it fits (testdata
   scale) and degrades to a shuffle join on item id at a 100-TB
   catalog — both sides are aggregates, already small relative to the
   fact.

Lift = (n_ab * N) / (n_a * n_b).  Each factor is cast to double
BEFORE multiplying so the products can never hit a bigint overflow
(at ~1e10 baskets the integer products pass 2^63 and ANSI mode would
abort the query); double*int64 is the same IEEE op in Spark and
DuckDB so the value stays bit-identical cross-engine.  Precision
trade-off: counts above 2^53 round in the last ulp — acceptable for
a ratio statistic, noted here for parity audits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def basket_pair_lift(
    facts: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
) -> DataFrame:
    """(item_a, item_b, n_baskets_a, n_baskets_b, n_baskets_both,
    support, confidence_a_to_b, lift) for every unordered item pair
    co-occurring in >= min_pair_count baskets.

    The basket-array gather is not persisted: its three consumers
    (pairs, frequencies, total) land in one plan where AQE reuses the
    identical exchanges and column-prunes the rest (an explicit pin
    measured 2x slower at sf0.1)."""
    baskets = (
        facts.select(
            F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
        )
        .groupBy("basket")
        .agg(F.sort_array(F.collect_set("item")).alias("arr"))
    )
    # 1-row basket total: broadcast scalar, no driver-side action
    totals = baskets.agg(F.count(F.lit(1)).alias("n_baskets"))
    freq = (
        baskets.select(F.explode("arr").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    # map-side ordered-pair explode over the bound array (HOF inputs
    # staged per the engine's HOF discipline; a < b by sortedness)
    pair_structs = F.flatten(
        F.transform(
            F.col("arr"),
            lambda x, i: F.transform(
                F.slice(F.col("arr"), i + 2, F.size(F.col("arr"))),
                lambda y: F.struct(x.alias("item_a"), y.alias("item_b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .select("p.item_a", "p.item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= int(min_pair_count))
    )
    fa = freq.select(
        F.col("item").alias("item_a"), F.col("n_item").alias("n_a")
    )
    fb = freq.select(
        F.col("item").alias("item_b"), F.col("n_item").alias("n_b")
    )
    joined = (
        pairs.join(fa, "item_a")
        .join(fb, "item_b")
        .crossJoin(F.broadcast(totals))
    )
    return joined.select(
        "item_a",
        "item_b",
        F.col("n_a").alias("n_baskets_a"),
        F.col("n_b").alias("n_baskets_b"),
        F.col("n_both").alias("n_baskets_both"),
        (F.col("n_both") / F.col("n_baskets").cast("double")).alias("support"),
        (F.col("n_both") / F.col("n_a").cast("double")).alias(
            "confidence_a_to_b"
        ),
        (
            (F.col("n_both").cast("double") * F.col("n_baskets"))
            / (F.col("n_a").cast("double") * F.col("n_b"))
        ).alias("lift"),
    )
