"""Slowly-changing-dimension operators (SCD Type 1 and Type 2).

Spark has no built-in dimension-maintenance operator, and this engine's
warehouse layer is plain parquet (no Delta MERGE), so both SCD classes
are implemented as deterministic batch rewrites — the "pure-Spark
rewrite" path of SURVEY §2.3-J4/J5.

Reference semantics being reproduced:

* SCD1 (`InsertUpdate` step, `ETL/etl for geolocation with scd1.ktr:
  905-960`): upsert keyed on the natural key, attributes overwritten in
  place; batch equivalent = last-wins dedup then overwrite.
* SCD2 (`DimensionLookup` step, `ETL/etl for customer with scd2.ktr:
  833-914` and the seller/product twins): natural key + validity window
  (`effective_from`/`effective_to`) + `version`; a changed tracked
  attribute closes the current version at load time and inserts
  version+1; initial load seeds (2016-01-01, 2099-12-31, 1) via an
  Add-constants step (:537-599).

Scale notes: every step is expressed as joins/windows keyed on the
natural key — the single shuffle key a 100 TB dimension build needs.
The SCD2 merge is ONE full outer join of the open slice to the batch:
the open slice is shuffled once per load, and each joined row emits
its one or two output versions through a single ``inline``, so the
batch is never re-joined per outcome.  Change detection is a
null-safe column comparison (codegen'd), never a Python UDF. The
`current` slice filter (`effective_to = open`) pushes down to the
parquet scan of the existing dimension.
"""

from __future__ import annotations

import functools
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

# Open-ended validity horizon (reference seeds effective_to=2099-12-31).
HIGH_DATE = "2099-12-31"


# ---------------------------------------------------------------------------
# SCD Type 1
# ---------------------------------------------------------------------------

def scd1_upsert(
    existing: DataFrame | None,
    incoming: DataFrame,
    key_cols: Sequence[str],
    order_col: str | None = None,
) -> DataFrame:
    """Last-wins upsert: incoming beats existing; within incoming the
    highest `order_col` (if given) wins, else an arbitrary-but-
    deterministic tiebreak on all columns.

    Returns the new dimension content (caller overwrites the table).
    """
    inc = incoming.withColumn("__priority", F.lit(1))
    if existing is not None:
        src = existing.withColumn("__priority", F.lit(0)).unionByName(inc)
    else:
        src = inc
    order = [F.desc("__priority")]
    if order_col is not None:
        order.append(F.desc(order_col))
    # total, deterministic order: break remaining ties on every column
    order += [F.col(c) for c in src.columns if c not in (*key_cols, "__priority")]
    w = W.partitionBy(*key_cols).orderBy(*order)
    return (
        src.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__priority")
    )


# ---------------------------------------------------------------------------
# SCD Type 2
# ---------------------------------------------------------------------------

def scd2_initial_load(
    batch: DataFrame,
    effective_from: str = "2016-01-01",
) -> DataFrame:
    """Seed a dimension: every row version 1, open validity window."""
    return (
        batch.withColumn("effective_from", F.to_date(F.lit(effective_from)))
        .withColumn("effective_to", F.to_date(F.lit(HIGH_DATE)))
        .withColumn("version", F.lit(1).cast("int"))
    )


def scd2_merge(
    dim: DataFrame,
    batch: DataFrame,
    nat_key: Sequence[str],
    tracked: Sequence[str],
    load_date: str,
) -> DataFrame:
    """One incremental SCD2 load: close changed versions, insert next
    versions, add brand-new keys as version 1.

    `dim` columns: nat_key + tracked + (effective_from, effective_to,
    version). `batch` columns: nat_key + tracked (one row per key —
    pre-dedupe with scd1_upsert if the extract can repeat keys).

    Deterministic and idempotent: re-merging an identical batch is a
    no-op because unchanged rows never match the change predicate.

    Same-day re-merge: a changed key whose current version became
    effective ON `load_date` is folded into that open version
    (attributes replaced, version/window kept — an SCD1-style intra-day
    correction). Closing it instead would produce a zero-length window
    (`effective_from = effective_to`) that `scd2_asof_lookup`'s
    `from <= d < to` predicate can never match, silently hiding that
    day's history.

    Per joined (open row, batch row) pair the output is: the open row
    unchanged (key unchanged or absent from the batch); version 1 (new
    key); the corrected open version (same-day change); or the open row
    closed at `load_date` plus version+1 (any other change).  NULL
    natural keys never match, so a NULL-key batch row always enters as
    version 1 and a NULL-key open row is kept as it is.
    """
    nat_key = list(nat_key)
    tracked = list(tracked)
    load = F.to_date(F.lit(load_date))
    high = F.to_date(F.lit(HIGH_DATE))
    cols = [*nat_key, *tracked, "effective_from", "effective_to", "version"]

    current = dim.filter(F.col("effective_to") == high).alias("c")
    history = dim.filter(F.col("effective_to") != high).select(*cols)

    # one full outer join classifies every open row and every batch row;
    # NULL keys never match, so they land on one side only
    join_cond = functools.reduce(
        lambda a, b: a & b,
        [F.col(f"c.{k}") == F.col(f"b.{k}") for k in nat_key],
    )
    marked = batch.select(*nat_key, *tracked, F.lit(True).alias("__in_batch"))
    joined = current.join(marked.alias("b"), join_cond, "full_outer")

    # effective_to is the open date on every current row, so its
    # presence marks the dimension side
    in_dim = F.col("c.effective_to").isNotNull()
    in_batch = F.col("b.__in_batch").isNotNull()
    changed = in_dim & in_batch & ~functools.reduce(
        lambda a, b: a & b,
        [F.col(f"b.{t}").eqNullSafe(F.col(f"c.{t}")) for t in tracked],
    )
    # a change on the open version's first day is corrected in place
    corrected = changed & (F.col("c.effective_from") == load)

    # the open row as it is, or closed at the load date
    old = F.when(
        in_dim & ~corrected,
        F.struct(
            *[F.col(f"c.{c}").alias(c) for c in (*nat_key, *tracked)],
            F.col("c.effective_from").alias("effective_from"),
            F.when(changed, load).otherwise(high).alias("effective_to"),
            F.col("c.version").alias("version"),
        ),
    )
    # a brand-new key at version 1, a next version, or the corrected
    # open version (whose effective_from is the load date)
    new = F.when(
        in_batch & (~in_dim | changed),
        F.struct(
            *[F.col(f"b.{c}").alias(c) for c in (*nat_key, *tracked)],
            load.alias("effective_from"),
            high.alias("effective_to"),
            F.when(~in_dim, F.lit(1))
            .when(corrected, F.col("c.version"))
            .otherwise(F.col("c.version") + 1)
            .cast("int")
            .alias("version"),
        ),
    )
    merged = joined.select(F.inline(F.array_compact(F.array(old, new))))
    return history.unionByName(merged.select(*cols))


def scd2_asof_lookup(
    facts: DataFrame,
    dim: DataFrame,
    nat_key: Sequence[str],
    event_date_col: str,
    returned: Sequence[str],
    how: str = "left",
) -> DataFrame:
    """Validity-window key lookup (as-of join form of SURVEY §2.3-J):
    equi-join on the natural key, then the non-equi window predicate
    `effective_from <= event_date < effective_to`.

    Catalyst executes this as a join keyed on `nat_key` with the range
    predicate as a post-join filter — scalable because a key has only
    O(versions) matches, so no row explosion.
    """
    cond = functools.reduce(
        lambda a, b: a & b, [facts[k] == dim[k] for k in nat_key]
    )
    cond = (
        cond
        & (facts[event_date_col] >= dim["effective_from"])
        & (facts[event_date_col] < dim["effective_to"])
    )
    picked = dim.select(*nat_key, "effective_from", "effective_to", *returned)
    out = facts.join(picked, cond, how)
    return out.drop(*[picked[k] for k in nat_key]).drop(
        picked["effective_from"], picked["effective_to"]
    )


def scd2_rebuild_from_snapshots(
    snapshots: DataFrame,
    nat_key: Sequence[str],
    tracked: Sequence[str],
    snapshot_date_col: str,
    initial_from: str = "2016-01-01",
) -> DataFrame:
    """Rebuild a full SCD2 dimension from periodic snapshots.

    Window rewrite (no iterative merging): per key ordered by snapshot
    date, keep rows where any tracked attribute differs from the
    previous snapshot (change points), then derive validity windows
    with lead() and number versions with row_number(). One shuffle on
    the natural key total — the batch-friendly way to bootstrap a
    dimension from history at scale.
    """
    nat_key = list(nat_key)
    tracked = list(tracked)
    w = W.partitionBy(*nat_key).orderBy(snapshot_date_col)
    change_flags = [
        ~F.col(t).eqNullSafe(F.lag(t).over(w)) for t in tracked
    ]
    is_first = F.row_number().over(w) == 1
    changed = functools.reduce(lambda a, b: a | b, change_flags)
    points = snapshots.withColumn(
        "__is_change", is_first | changed
    ).filter("__is_change")
    w2 = W.partitionBy(*nat_key).orderBy(snapshot_date_col)
    return (
        points.withColumn(
            "effective_from",
            F.when(
                F.row_number().over(w2) == 1, F.to_date(F.lit(initial_from))
            ).otherwise(F.to_date(snapshot_date_col)),
        )
        .withColumn(
            "effective_to",
            F.coalesce(
                F.to_date(F.lead(snapshot_date_col).over(w2)),
                F.to_date(F.lit(HIGH_DATE)),
            ),
        )
        .withColumn("version", F.row_number().over(w2).cast("int"))
        .select(*nat_key, *tracked, "effective_from", "effective_to", "version")
    )


def scd2_snapshot_diff(
    dim: DataFrame,
    date_a: str,
    date_b: str,
    nat_key: Sequence[str],
    tracked: Sequence[str],
) -> DataFrame:
    """What changed in the dimension between two as-of dates, from the
    dimension alone: resolve the slice valid at each date (same
    ``effective_from <= d < effective_to`` predicate as
    :func:`scd2_asof_lookup`), full-outer-join the slices on the
    business key, and classify each key ``added`` / ``removed`` /
    ``changed`` (keys whose tracked attributes are identical drop
    out).  Output columns: nat_key + change_type + old_/new_ per
    tracked attribute.

    ``removed`` appears when a key's last version closed before
    ``date_b`` with no successor — merges never produce that, but
    dimensions maintained with delete handling (or truncated history)
    do, so the classifier keeps the branch.

    Scale: two filters over one dimension scan + a single
    key-partitioned full outer join; the as-of filters prune to ~one
    version per key before the shuffle.
    """
    nat_key = list(nat_key)
    tracked = list(tracked)

    def asof(date: str, prefix: str) -> DataFrame:
        d = F.to_date(F.lit(date))
        # explicit presence marker: a tracked attribute may be
        # legitimately NULL in a present row, so null-ness of the
        # attribute cannot stand in for "key absent on this side"
        sel = (
            nat_key
            + [F.col(t).alias(f"{prefix}{t}") for t in tracked]
            + [F.lit(True).alias(f"{prefix}present")]
        )
        return dim.filter(
            (F.col("effective_from") <= d) & (d < F.col("effective_to"))
        ).select(*sel)

    a = asof(date_a, "old_")
    b = asof(date_b, "new_")
    diff = a.join(b, nat_key, "full_outer").select(
        *nat_key,
        F.when(F.col("old_present").isNull(), F.lit("added"))
        .when(F.col("new_present").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("change_type"),
        *[F.col(f"old_{t}") for t in tracked],
        *[F.col(f"new_{t}") for t in tracked],
    )
    # F.lit(False) initializer: an empty `tracked` (presence-only diff
    # of added/removed keys) must degrade to dropping every both-sides
    # key, not crash reduce()
    changed_any = functools.reduce(
        lambda x, y: x | y,
        [
            ~F.col(f"old_{t}").eqNullSafe(F.col(f"new_{t}"))
            for t in tracked
        ],
        F.lit(False),
    )
    return diff.filter((F.col("change_type") != "changed") | changed_any)
