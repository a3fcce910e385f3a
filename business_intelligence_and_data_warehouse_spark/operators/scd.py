"""Slowly-changing-dimension operators (SCD Type 1 and Type 2).

Spark has no built-in dimension-maintenance operator, and this engine's
warehouse layer is plain parquet (no Delta MERGE in this environment),
so both SCD classes are implemented as deterministic batch rewrites —
the "pure-Spark rewrite" path of SURVEY §2.3-J4/J5.

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
Change detection is a null-safe column comparison (codegen'd), never a
Python UDF. The `current` slice filter (`effective_to = open`) pushes
down to the parquet scan of the existing dimension.
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


def _scd1_merge_clauses(nat_key: Sequence[str]) -> str:
    """The ON fragment a Delta ``MERGE ... WHEN MATCHED UPDATE SET *
    WHEN NOT MATCHED INSERT *`` would use for the SCD1 upsert — shared
    by the jar-free twin so the condition logic is exercised in CI
    while the Delta writer jar is absent (same contract as
    :func:`_delta_merge_clauses` for SCD2)."""
    return " AND ".join(f"t.{k} = s.{k}" for k in nat_key)


def scd1_upsert_via_merge_semantics(
    dim: DataFrame,
    batch: DataFrame,
    nat_key: Sequence[str],
    order_col: str | None = None,
) -> DataFrame:
    """Jar-free MERGE twin of :func:`scd1_upsert`: reduces the batch
    to one winner per key (the MERGE source must be key-unique — the
    same pre-dedup a Delta route needs to avoid
    ``DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET``), then applies
    ``WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN INSERT *``
    over t/s-aliased frames with the shared ON fragment.  ``dim`` must
    be key-unique (it is a dimension) and the natural key NON-NULL on
    both sides: the MERGE ON predicate is ``t.k = s.k`` — the real
    Delta semantics, where a NULL key never matches — while the
    batch rewrite's window groups NULL keys together, so NULL keys
    are the one place twin and rewrite legitimately diverge.
    Equivalence with the batch-rewrite :func:`scd1_upsert` is
    property-tested in tests/test_warehouse.py.

    The tie-break basis for the in-batch dedup is DIM column order
    (``scd1_upsert`` ties on its union frame, whose column order is
    the existing side's), so the two forms pick identical winners
    whatever order the batch's columns arrive in."""
    nat_key = list(nat_key)
    for df, who in (
        (dim, "scd1_upsert_via_merge_semantics dim"),
        (batch, "scd1_upsert_via_merge_semantics batch"),
    ):
        clash = [c for c in ("_m", "__rn") if c in df.columns]
        if clash:
            raise ValueError(
                f"{who}: input already has reserved column(s) {clash}; "
                "rename them before calling"
            )
    key_cond = _scd1_merge_clauses(nat_key)
    order = [F.desc(order_col)] if order_col is not None else []
    order += [F.col(c) for c in dim.columns if c not in nat_key]
    if not order:  # key-only schema: rows per key are identical
        order = [F.col(k) for k in nat_key]
    w = W.partitionBy(*nat_key).orderBy(*order)
    s_unique = (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    t = dim.alias("t")
    s = s_unique.withColumn("_m", F.lit(True)).alias("s")
    attrs = [c for c in dim.columns if c not in nat_key]
    joined = t.join(s, F.expr(key_cond), "left")
    matched = F.col("_m").isNotNull()
    updated = joined.select(
        *[F.col(f"t.{k}").alias(k) for k in nat_key],
        *[
            F.when(matched, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            for c in attrs
        ],
    )
    inserts = s_unique.alias("s").join(
        dim.alias("t"), F.expr(key_cond), "left_anti"
    )
    cols = [*nat_key, *attrs]
    return updated.select(*cols).unionByName(inserts.select(*cols))


def tombstone_delete_via_merge_semantics(
    table: DataFrame,
    tombstones: DataFrame,
    key_col: str,
) -> DataFrame:
    """Jar-free MERGE twin of the tombstone sweep: ``MERGE ... WHEN
    MATCHED THEN DELETE`` over the shared ON fragment — returns the
    post-merge table content (the survivor set).  Equivalence with
    the marker-join path (operators/retention.propagate_deletes) is
    property-tested in tests/test_warehouse.py; only the Delta writer
    itself stays unexercised while the jar is absent."""
    key_cond = _scd1_merge_clauses([key_col])
    t = table.alias("t")
    s = tombstones.select(F.col(key_col)).distinct().alias("s")
    return t.join(s, F.expr(key_cond), "left_anti").select(*table.columns)


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
    """
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

    changed_keys = changed.select(*[F.col(f"b.{k}").alias(k) for k in nat_key])
    corrected_keys = corrected.select(
        *[F.col(f"b.{k}").alias(k) for k in nat_key]
    )

    # current rows whose key changed -> close the window at load date
    closed = (
        current.join(changed_keys, nat_key, "left_semi")
        .withColumn("effective_to", load)
    )
    untouched_current = current.join(changed_keys, nat_key, "left_anti").join(
        corrected_keys, nat_key, "left_anti"
    )

    # next versions for changed keys
    next_versions = changed.select(
        *[F.col(f"b.{k}").alias(k) for k in nat_key],
        *[F.col(f"b.{t}").alias(t) for t in tracked],
        load.alias("effective_from"),
        high.alias("effective_to"),
        (F.col("c.version") + 1).cast("int").alias("version"),
    )

    # same-day corrections: new attributes, same window and version
    corrected_versions = corrected.select(
        *[F.col(f"b.{k}").alias(k) for k in nat_key],
        *[F.col(f"b.{t}").alias(t) for t in tracked],
        F.col("c.effective_from").alias("effective_from"),
        high.alias("effective_to"),
        F.col("c.version").cast("int").alias("version"),
    )

    # brand-new keys enter at version 1
    first_versions = new_keys.select(
        *[F.col(f"b.{k}").alias(k) for k in nat_key],
        *[F.col(f"b.{t}").alias(t) for t in tracked],
        load.alias("effective_from"),
        high.alias("effective_to"),
        F.lit(1).cast("int").alias("version"),
    )

    cols = [*nat_key, *tracked, "effective_from", "effective_to", "version"]
    return (
        history.select(*cols)
        .unionByName(untouched_current.select(*cols))
        .unionByName(closed.select(*cols))
        .unionByName(next_versions)
        .unionByName(corrected_versions)
        .unionByName(first_versions)
    )


def _delta_merge_clauses(
    nat_key: Sequence[str], tracked: Sequence[str], load_date: str
) -> tuple[str, str, str, str]:
    """The exact ON/WHEN SQL fragments the Delta MERGE route executes
    — returned as (key_cond, open_cond, close_cond, correct_cond) over
    ``t``/``s`` aliases.  Shared by :func:`scd2_merge_delta` and the
    jar-free simulation :func:`scd2_merge_via_merge_semantics`, so the
    MERGE-condition logic is exercised in CI even while the Delta jar
    is absent (only the writer differs)."""
    key_cond = " AND ".join(f"t.{k} = s.{k}" for k in nat_key)
    open_cond = f"t.effective_to = DATE'{HIGH_DATE}'"
    changed_cond = "NOT (" + " AND ".join(
        f"t.{c} <=> s.{c}" for c in tracked
    ) + ")"
    close_cond = f"{changed_cond} AND t.effective_from < DATE'{load_date}'"
    correct_cond = f"{changed_cond} AND t.effective_from = DATE'{load_date}'"
    return key_cond, open_cond, close_cond, correct_cond


def scd2_merge_via_merge_semantics(
    dim: DataFrame,
    batch: DataFrame,
    nat_key: Sequence[str],
    tracked: Sequence[str],
    load_date: str,
) -> DataFrame:
    """Jar-free twin of :func:`scd2_merge_delta`: applies the SAME
    merge clauses (shared fragment strings, evaluated over t/s-aliased
    DataFrames) as a pure-Spark transformation and returns the post-
    merge dimension content instead of rewriting a Delta table.

    Semantics mirror the two whenMatchedUpdate clauses + append pass:
    matched-open-changed rows started before ``load_date`` get their
    window closed; ones started ON ``load_date`` get tracked
    attributes replaced in place; successor/new versions come from the
    batch-rewrite classification against the pre-merge snapshot.
    Equivalence with :func:`scd2_merge` is property-tested in
    tests/test_warehouse.py (parquet-backed dim — the writer is the
    only part of the Delta route left unexercised)."""
    nat_key = list(nat_key)
    tracked = list(tracked)
    key_cond, open_cond, close_cond, correct_cond = _delta_merge_clauses(
        nat_key, tracked, load_date
    )
    t = dim.alias("t")
    s = batch.withColumn("_m", F.lit(True)).alias("s")
    joined = t.join(s, F.expr(key_cond) & F.expr(open_cond), "left")
    matched = F.col("_m").isNotNull()
    close = matched & F.expr(close_cond)
    correct = matched & F.expr(correct_cond)
    updated = joined.select(
        *[F.col(f"t.{k}").alias(k) for k in nat_key],
        *[
            F.when(correct, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            for c in tracked
        ],
        F.col("t.effective_from").alias("effective_from"),
        F.when(close, F.to_date(F.lit(load_date)))
        .otherwise(F.col("t.effective_to"))
        .alias("effective_to"),
        F.col("t.version").alias("version"),
    )
    # append pass: identical to scd2_merge_delta's insert computation,
    # with `dim` already being the pre-merge snapshot (no time travel
    # needed — this path never mutates in place)
    pre = scd2_merge(dim, batch, nat_key, tracked, load_date)
    open_on_load = (
        F.col("effective_from") == F.to_date(F.lit(load_date))
    ) & (F.col("effective_to") == F.to_date(F.lit(HIGH_DATE)))
    inserts = pre.filter(open_on_load).join(
        dim.filter(open_on_load).select(*nat_key), nat_key, "left_anti"
    )
    cols = [*nat_key, *tracked, "effective_from", "effective_to", "version"]
    return updated.select(*cols).unionByName(inserts.select(*cols))


def scd2_merge_delta(
    spark,
    dim_path: str,
    batch: DataFrame,
    nat_key: Sequence[str],
    tracked: Sequence[str],
    load_date: str,
) -> None:
    """Route one SCD2 load through ``DeltaTable.merge`` — the ACID
    in-place path for production lakes (the batch rewrite
    :func:`scd2_merge` is the plan-equivalent fallback this engine
    uses when the Delta runtime is absent; see
    sources/warehouse.delta_available).

    Two passes over the Delta table at ``dim_path``:

    1. MERGE on (natural key, open window): a changed key whose open
       version started before ``load_date`` gets its window CLOSED
       (`effective_to = load_date`); one that started ON ``load_date``
       gets its attributes REPLACED in place (the same-day-correction
       rule of :func:`scd2_merge`, which avoids zero-length windows).
    2. Append the successor/new versions, classified against the
       pre-merge snapshot PINNED BY VERSION (Delta time travel), so
       the classification can never observe pass 1's updates — not
       even after a cache eviction recomputes its lineage.

    Equivalence with :func:`scd2_merge` is property-tested in
    tests/test_warehouse.py::test_scd2_delta_merge_equivalence —
    skipped (with reason) until the Delta jar is on the classpath.
    """
    from delta.tables import DeltaTable  # caller gates on delta_available

    nat_key = list(nat_key)
    tracked = list(tracked)
    dt = DeltaTable.forPath(spark, dim_path)

    # Freeze the PRE-merge snapshot BY VERSION, not by cache: the MERGE
    # below rewrites the table in place, and a cached DataFrame whose
    # blocks are evicted would silently recompute its lineage against
    # the POST-merge snapshot — the classification must never observe
    # its own updates. versionAsOf is a durable pin (Delta time travel).
    version = dt.history(1).select("version").first()[0]
    dim = (
        spark.read.format("delta")
        .option("versionAsOf", version)
        .load(dim_path)
    )
    pre = scd2_merge(dim, batch, nat_key, tracked, load_date)

    key_cond, open_cond, close_cond, correct_cond = _delta_merge_clauses(
        nat_key, tracked, load_date
    )
    (
        dt.alias("t")
        .merge(batch.alias("s"), f"({key_cond}) AND {open_cond}")
        .whenMatchedUpdate(
            condition=close_cond,
            set={"effective_to": f"DATE'{load_date}'"},
        )
        .whenMatchedUpdate(
            condition=correct_cond,
            set={c: f"s.{c}" for c in tracked},
        )
        .execute()
    )
    # successor + first versions = exactly the rows of the batch
    # rewrite that opened on load_date with the batch's attributes,
    # minus keys whose PRE-merge open version also started on
    # load_date (unchanged same-day rows and same-day corrections —
    # the latter were updated in place by pass 1)
    inserts = pre.filter(
        (F.col("effective_from") == F.to_date(F.lit(load_date)))
        & (F.col("effective_to") == F.to_date(F.lit(HIGH_DATE)))
    ).join(
        dim.filter(
            (F.col("effective_from") == F.to_date(F.lit(load_date)))
            & (F.col("effective_to") == F.to_date(F.lit(HIGH_DATE)))
        ).select(*nat_key),
        nat_key,
        "left_anti",
    )
    inserts.write.format("delta").mode("append").save(dim_path)


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
