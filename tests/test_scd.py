"""Property tests for the SCD machinery (SURVEY §7.3: idempotent
reloads; version chains with no overlaps or gaps; as-of boundary
semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from business_intelligence_and_data_warehouse_spark.operators.scd import (
    HIGH_DATE,
    scd1_upsert,
    scd2_asof_lookup,
    scd2_initial_load,
    scd2_merge,
)


@pytest.fixture()
def dim0(spark):
    base = spark.createDataFrame(
        [(1, "A", "x"), (2, "B", "y"), (3, "C", "z")],
        "k int, seg string, attr string",
    )
    return scd2_initial_load(base, "2016-01-01")


def _chain_violations(dim):
    """Count gaps/overlaps: within each key ordered by version,
    next.effective_from must equal prev.effective_to."""
    w = W.partitionBy("k").orderBy("version")
    chained = dim.withColumn("next_from", F.lead("effective_from").over(w))
    return chained.filter(
        F.col("next_from").isNotNull()
        & (F.col("next_from") != F.col("effective_to"))
    ).count()


def test_scd2_merge_change_new_and_idempotency(spark, dim0):
    batch = spark.createDataFrame(
        [(1, "A2", "x"), (2, "B", "y"), (4, "D", "w")],
        "k int, seg string, attr string",
    )
    merged = scd2_merge(dim0, batch, ["k"], ["seg", "attr"], "2020-06-01").cache()

    rows = {(r.k, r.version): r for r in merged.collect()}
    assert len(rows) == 5  # 3 originals + 1 new version + 1 new key
    assert str(rows[(1, 1)].effective_to) == "2020-06-01"  # closed
    assert rows[(1, 2)].seg == "A2"
    assert str(rows[(1, 2)].effective_to) == HIGH_DATE
    assert str(rows[(2, 1)].effective_to) == HIGH_DATE  # untouched
    assert rows[(4, 1)].version == 1  # new key
    assert _chain_violations(merged) == 0

    # exactly one open version per key
    open_per_key = (
        merged.filter(F.col("effective_to") == F.to_date(F.lit(HIGH_DATE)))
        .groupBy("k")
        .count()
        .filter("count != 1")
        .count()
    )
    assert open_per_key == 0

    # idempotency: merging the same batch again changes nothing
    again = scd2_merge(merged, batch, ["k"], ["seg", "attr"], "2021-01-01")
    assert again.exceptAll(merged).count() == 0
    assert merged.exceptAll(again).count() == 0


def test_scd2_merge_null_attribute_changes(spark, dim0):
    # NULL -> value and value -> NULL must both count as changes
    batch = spark.createDataFrame(
        [(1, None, "x"), (2, "B", None)], "k int, seg string, attr string"
    )
    merged = scd2_merge(dim0, batch, ["k"], ["seg", "attr"], "2020-06-01")
    v2 = {r.k: r for r in merged.filter("version = 2").collect()}
    assert v2[1].seg is None
    assert v2[2].attr is None
    # and NULL -> NULL is NOT a change
    again = scd2_merge(merged, batch, ["k"], ["seg", "attr"], "2021-01-01")
    assert again.count() == merged.count()


def test_scd2_same_day_remerge_folds_into_open_version(spark, dim0):
    # first merge of the day: key 1 -> version 2 effective 2020-06-01
    b1 = spark.createDataFrame([(1, "A2", "x")], "k int, seg string, attr string")
    m1 = scd2_merge(dim0, b1, ["k"], ["seg", "attr"], "2020-06-01")
    # second merge SAME day with a further change: must fold into the
    # open version 2 (SCD1-style correction), never close it into a
    # zero-length window invisible to as-of lookups
    b2 = spark.createDataFrame([(1, "A3", "x")], "k int, seg string, attr string")
    m2 = scd2_merge(m1, b2, ["k"], ["seg", "attr"], "2020-06-01").cache()

    k1 = {r.version: r for r in m2.filter("k = 1").collect()}
    assert sorted(k1) == [1, 2]  # no version 3, no duplicate version 2
    assert k1[2].seg == "A3"
    assert str(k1[2].effective_from) == "2020-06-01"
    assert str(k1[2].effective_to) == HIGH_DATE
    # no zero-length window anywhere
    assert m2.filter("effective_from = effective_to").count() == 0
    assert _chain_violations(m2) == 0
    # the corrected value is visible as-of that same day
    facts = spark.createDataFrame([(1, 1, "2020-06-01")], "fid int, k int, d string")
    facts = facts.withColumn("d", F.to_date("d"))
    out = scd2_asof_lookup(facts, m2, ["k"], "d", ["seg"]).collect()
    assert out[0].seg == "A3"


def test_scd2_asof_boundary(spark, dim0):
    merged = scd2_merge(
        dim0,
        spark.createDataFrame([(1, "A2", "x")], "k int, seg string, attr string"),
        ["k"],
        ["seg", "attr"],
        "2020-06-01",
    )
    facts = spark.createDataFrame(
        [(100, 1, "2020-05-31"), (101, 1, "2020-06-01"), (102, 1, "2024-01-01")],
        "fid int, k int, d string",
    ).withColumn("d", F.to_date("d"))
    out = scd2_asof_lookup(facts, merged, ["k"], "d", ["seg", "version"])
    got = {r.fid: (r.seg, r.version) for r in out.collect()}
    assert got[100] == ("A", 1)  # day before the load
    assert got[101] == ("A2", 2)  # boundary day belongs to the new version
    assert got[102] == ("A2", 2)


def test_scd1_upsert_last_wins_and_dedup(spark):
    existing = spark.createDataFrame([(1, "old"), (2, "keep")], "k int, v string")
    incoming = spark.createDataFrame(
        [(1, "new"), (3, "add"), (3, "add2")], "k int, v string"
    )
    out = scd1_upsert(existing, incoming, ["k"], order_col="v")
    got = {r.k: r.v for r in out.collect()}
    assert got == {1: "new", 2: "keep", 3: "add2"}  # incoming wins; max v wins


# ---------------------------------------------------------------------------
# randomized property: any batch sequence preserves the SCD2 invariants
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, example, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_KEYS = st.integers(min_value=1, max_value=4)
_VALS = st.sampled_from(["a", "b", "c"])
_BATCH = st.dictionaries(_KEYS, st.tuples(_VALS, _VALS), min_size=1, max_size=4)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=st.lists(_BATCH, min_size=1, max_size=3))
def test_scd2_invariants_hold_for_any_batch_sequence(spark, batches):
    """After ANY sequence of loads: exactly one open row per key;
    versions dense from 1; validity windows chain with no gap or
    overlap; the open row carries the key's latest batch values; and
    re-applying the final batch is a no-op."""
    dim = scd2_initial_load(
        spark.createDataFrame([(9, "z", "z")], "k int, seg string, attr string"),
        "2016-01-01",
    )
    latest: dict[int, tuple[str, str]] = {9: ("z", "z")}
    for i, batch in enumerate(batches):
        bdf = spark.createDataFrame(
            [(k, v[0], v[1]) for k, v in batch.items()],
            "k int, seg string, attr string",
        )
        dim = scd2_merge(
            dim, bdf, ["k"], ["seg", "attr"], f"2017-0{i + 1}-15"
        ).cache()
        latest.update(batch)

    rows = dim.collect()
    open_rows = {r.k: r for r in rows if str(r.effective_to) == HIGH_DATE}
    # one open row per key, carrying the latest values
    assert sorted(open_rows) == sorted(latest)
    for k, (seg, attr) in latest.items():
        assert (open_rows[k].seg, open_rows[k].attr) == (seg, attr)
    # dense versions per key
    by_key: dict[int, list[int]] = {}
    for r in rows:
        by_key.setdefault(r.k, []).append(r.version)
    for k, versions in by_key.items():
        assert sorted(versions) == list(range(1, len(versions) + 1)), (k, versions)
    # windows chain exactly
    assert _chain_violations(dim) == 0
    # idempotency of the final state
    final_batch = spark.createDataFrame(
        [(k, v[0], v[1]) for k, v in latest.items()],
        "k int, seg string, attr string",
    )
    again = scd2_merge(dim, final_batch, ["k"], ["seg", "attr"], "2018-01-01")
    assert again.count() == len(rows)


_NKEYS = st.one_of(st.none(), st.integers(min_value=1, max_value=4))
_NVALS = st.sampled_from(["a", "b", None])
# (batch, days after the previous load): 0 reloads the same day
_LOADS = st.lists(
    st.tuples(
        st.dictionaries(_NKEYS, st.tuples(_NVALS, _NVALS), max_size=4),
        st.sampled_from([0, 0, 1, 30]),
    ),
    min_size=1,
    max_size=4,
)


# every case at least once: an empty dimension, a NULL natural key,
# NULL tracked attributes, a same-day reload and an empty batch
_ALL_CASES = [
    ({1: ("a", None), None: ("b", "b")}, 0),
    ({1: ("b", None), 2: (None, None)}, 0),
    ({}, 1),
    ({None: ("b", "b"), 2: (None, "a")}, 30),
]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seed=st.booleans(), loads=_LOADS)
@example(seed=False, loads=_ALL_CASES)
@example(seed=True, loads=_ALL_CASES)
def test_scd2_merge_matches_six_branch_reference(spark, seed, loads):
    """The one-join merge equals the six-branch reference row for row
    after every load of any sequence: same-day reloads, NULL tracked
    attributes, a NULL natural key, empty batches, and an empty
    starting dimension."""
    import datetime

    from .scd_reference import scd2_merge as reference

    schema = "k int, seg string, attr string"
    base = [(1, "a", None), (2, "b", "b"), (None, "a", "a")] if seed else []
    dim = ref = scd2_initial_load(spark.createDataFrame(base, schema), "2016-01-01")
    day = datetime.date(2017, 1, 1)
    for batch, step in loads:
        day += datetime.timedelta(days=step)
        bdf = spark.createDataFrame(
            [(k, *v) for k, v in batch.items()], schema
        )
        args = (bdf, ["k"], ["seg", "attr"], day.isoformat())
        dim = scd2_merge(dim, *args).localCheckpoint()
        ref = reference(ref, *args).localCheckpoint()
        assert sorted(map(tuple, dim.collect()), key=repr) == sorted(
            map(tuple, ref.collect()), key=repr
        ), (batch, day)


def test_snapshot_diff_reports_removed_keys(spark):
    """The registry query's oracle can never produce 'removed' (SCD2
    merges don't delete); the generic classifier must still report a
    key whose only version closed before the second as-of date, and
    must not confuse a legitimately-NULL tracked attribute with key
    absence."""
    from pyspark.sql import functions as F

    from business_intelligence_and_data_warehouse_spark.operators.scd import (
        scd2_snapshot_diff,
    )

    dim = spark.createDataFrame(
        [
            # key 1: open forever, unchanged -> dropped from the diff
            (1, "A", "2016-01-01", "2099-12-31"),
            # key 2: closed between the two dates, no successor
            (2, "B", "2016-01-01", "2018-01-01"),
            # key 3: appears between the two dates
            (3, "C", "2019-01-01", "2099-12-31"),
            # key 4: present BOTH dates with a NULL attribute -> must
            # classify as unchanged (dropped), not added/removed
            (4, None, "2016-01-01", "2099-12-31"),
        ],
        "k long, seg string, effective_from string, effective_to string",
    ).select(
        "k",
        "seg",
        F.to_date("effective_from").alias("effective_from"),
        F.to_date("effective_to").alias("effective_to"),
    )
    diff = scd2_snapshot_diff(dim, "2017-01-01", "2020-01-01", ["k"], ["seg"])
    got = {r["k"]: r["change_type"] for r in diff.collect()}
    assert got == {2: "removed", 3: "added"}


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=st.lists(_BATCH, min_size=1, max_size=3))
def test_snapshot_diff_matches_python_reference(spark, batches):
    """For ANY merged dimension, scd2_snapshot_diff between two dates
    must equal a pure-Python classifier over the collected dim (as-of
    resolution, presence, per-attribute comparison)."""
    import datetime

    from business_intelligence_and_data_warehouse_spark.operators.scd import (
        scd2_snapshot_diff,
    )

    dim = scd2_initial_load(
        spark.createDataFrame([(9, "z", "z")], "k int, seg string, attr string"),
        "2016-01-01",
    )
    for i, batch in enumerate(batches):
        bdf = spark.createDataFrame(
            [(k, v[0], v[1]) for k, v in batch.items()],
            "k int, seg string, attr string",
        )
        dim = scd2_merge(
            dim, bdf, ["k"], ["seg", "attr"], f"2017-0{i + 1}-15"
        ).cache()

    date_a, date_b = "2016-06-01", "2017-02-01"
    got = {
        r["k"]: (r["change_type"], r["old_seg"], r["old_attr"],
                 r["new_seg"], r["new_attr"])
        for r in scd2_snapshot_diff(
            dim, date_a, date_b, ["k"], ["seg", "attr"]
        ).collect()
    }

    rows = dim.collect()

    def asof(date_str):
        d = datetime.date.fromisoformat(date_str)
        return {
            r.k: (r.seg, r.attr)
            for r in rows
            if r.effective_from <= d < r.effective_to
        }

    a, b = asof(date_a), asof(date_b)
    want = {}
    for k in set(a) | set(b):
        if k not in a:
            want[k] = ("added", None, None, b[k][0], b[k][1])
        elif k not in b:
            want[k] = ("removed", a[k][0], a[k][1], None, None)
        elif a[k] != b[k]:
            want[k] = ("changed", a[k][0], a[k][1], b[k][0], b[k][1])
    assert got == want
