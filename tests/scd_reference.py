"""Six-branch reference form of the SCD2 merge.

operators/scd.scd2_merge joins the dimension's open slice to the batch
ONCE (full outer, on the natural key) and emits each joined row's open
or closed version and its next version through one ``inline``.  The
function here states the same merge the way the package used to: a
left join of the batch to the open slice classifies every batch row,
and the dimension is rebuilt from six unioned branches — history, the
untouched open rows (two left-anti joins), the closed rows (a
left-semi join), the next versions, the same-day corrections and the
brand-new keys.  Tests pin the one-join merge against it row for row.
It is a reference, not a production path: it reads the batch ⋈ open
join four times and runs a shuffle or broadcast per join.
"""

from __future__ import annotations

import functools
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from business_intelligence_and_data_warehouse_spark.operators.scd import HIGH_DATE


def scd2_merge(
    dim: DataFrame,
    batch: DataFrame,
    nat_key: Sequence[str],
    tracked: Sequence[str],
    load_date: str,
) -> DataFrame:
    """One incremental SCD2 load with the semantics of
    ``operators.scd.scd2_merge``: changed keys close at ``load_date``
    and open version+1, a change on the day the open version started
    replaces its attributes in place, new keys enter at version 1."""
    nat_key = list(nat_key)
    tracked = list(tracked)
    load = F.to_date(F.lit(load_date))
    high = F.to_date(F.lit(HIGH_DATE))

    current = dim.filter(F.col("effective_to") == high)
    history = dim.filter(F.col("effective_to") != high)

    # classify batch rows against the current slice
    join_cond = functools.reduce(
        lambda a, b: a & b,
        [F.col(f"b.{k}") == F.col(f"c.{k}") for k in nat_key],
    )
    joined = batch.alias("b").join(current.alias("c"), join_cond, "left")
    unchanged_pred = functools.reduce(
        lambda a, b: a & b,
        [F.col(f"b.{t}").eqNullSafe(F.col(f"c.{t}")) for t in tracked],
    )
    changed_any = joined.filter(F.col("c.version").isNotNull()).filter(
        ~unchanged_pred
    )
    new_keys = joined.filter(F.col("c.version").isNull())

    # same-day corrections keep the open version; others close + insert
    same_day = F.col("c.effective_from") == load
    changed = changed_any.filter(~same_day)
    corrected = changed_any.filter(same_day)

    def keys(df: DataFrame) -> DataFrame:
        return df.select(*[F.col(f"b.{k}").alias(k) for k in nat_key])

    closed = (
        current.join(keys(changed), nat_key, "left_semi")
        .withColumn("effective_to", load)
    )
    untouched_current = current.join(keys(changed), nat_key, "left_anti").join(
        keys(corrected), nat_key, "left_anti"
    )

    def versions(df: DataFrame, effective_from, version) -> DataFrame:
        return df.select(
            *[F.col(f"b.{k}").alias(k) for k in nat_key],
            *[F.col(f"b.{t}").alias(t) for t in tracked],
            effective_from.alias("effective_from"),
            high.alias("effective_to"),
            version.cast("int").alias("version"),
        )

    cols = [*nat_key, *tracked, "effective_from", "effective_to", "version"]
    return (
        history.select(*cols)
        .unionByName(untouched_current.select(*cols))
        .unionByName(closed.select(*cols))
        .unionByName(versions(changed, load, F.col("c.version") + 1))
        .unionByName(
            versions(corrected, F.col("c.effective_from"), F.col("c.version"))
        )
        .unionByName(versions(new_keys, load, F.lit(1)))
    )
