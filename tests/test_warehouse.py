"""Warehouse-layer physical-design tests: bucketed co-located joins
(no shuffle exchange) and partition pruning."""

from __future__ import annotations

from pyspark.sql import functions as F

from business_intelligence_and_data_warehouse_spark.sources.testdata import load_table
from business_intelligence_and_data_warehouse_spark.sources.warehouse import (
    write_table,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _save_bucketed(df, table: str, bucket_col: str, num_buckets: int) -> None:
    """Persist as a bucketed managed table: hash-partitioned files plus
    bucket metadata in the catalog, so later equi-joins on
    ``bucket_col`` skip the shuffle."""
    df.write.mode("overwrite").bucketBy(num_buckets, bucket_col).saveAsTable(table)


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    _save_bucketed(lineitem, "li_bucketed", "l_orderkey", 8)
    _save_bucketed(orders, "ord_bucketed", "o_orderkey", 8)

    li = spark.table("li_bucketed")
    od = spark.table("ord_bucketed")
    # disable auto-broadcast so the join would normally shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = li.join(od, li.l_orderkey == od.o_orderkey).groupBy(
            "o_orderstatus"
        ).agg(F.count(F.lit(1)).alias("n"))
        joined.collect()
        plan = _plan(joined)
        # bucketed-on-key tables join without a shuffle exchange on the
        # join keys (only the small post-agg exchange remains)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        pre_join = plan.split("Join")[1] if "Join" in plan else plan
        n_exchanges = plan.count("Exchange hashpartitioning(l_orderkey")
        n_exchanges += plan.count("Exchange hashpartitioning(o_orderkey")
        assert n_exchanges == 0, f"unexpected join-key shuffle:\n{plan}"
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS ord_bucketed")


def test_partitioned_table_prunes(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    write_table(orders, "orders_by_year", ("order_year",))
    try:
        pruned = spark.table("orders_by_year").filter(F.col("order_year") == 1997)
        plan = _plan(pruned)
        # partition filter reaches the scan (pruning, not a full read)
        assert "order_year" in plan
        n = pruned.count()
        assert 0 < n < orders.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_by_year")


def test_orc_round_trip_preserves_values_and_prunes(spark, sf_dir, tmp_path):
    """ORC sink/source: values round-trip exactly and the scan pushes
    filters (S-family: a second columnar format besides parquet)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    path = str(tmp_path / "orders_orc")
    orders.write.mode("overwrite").format("orc").save(path)
    back = spark.read.format("orc").load(path)
    assert sorted(map(tuple, orders.collect())) == sorted(
        map(tuple, back.collect())
    )
    plan = back.filter(back.o_orderkey == 7)._jdf.queryExecution().toString()
    assert "orc" in plan.lower()
    assert "PushedFilters" in plan or "pushed" in plan.lower()


def test_compact_parquet_reduces_files_and_preserves_rows(spark, sf_dir, tmp_path):
    """OPTIMIZE-twin contract: many small files in, few files out,
    byte-identical row multiset, and range clustering on the sort
    column (each output file covers a disjoint key range)."""
    from business_intelligence_and_data_warehouse_spark.sources.warehouse import (
        compact_parquet,
    )

    src = str(tmp_path / "shards")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    orders.repartition(37).write.parquet(src)

    want = sorted(map(tuple, spark.read.parquet(src).collect()))
    before, after = compact_parquet(
        spark, src, sort_cols=["o_orderkey"], target_files=2
    )
    assert before >= 37 and after <= 2
    got_df = spark.read.parquet(src)
    assert sorted(map(tuple, got_df.collect())) == want
    # range clustering: per-file key ranges must not overlap
    import pyspark.sql.functions as F

    ranges = (
        got_df.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi"))
        .collect()
    )
    spans = sorted((r["lo"], r["hi"]) for r in ranges)
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next, f"overlapping file ranges: {spans}"


def test_compact_parquet_failure_leaves_source_intact(spark, sf_dir, tmp_path):
    """A compaction that cannot read/write must not damage the source
    (the staged-rename contract)."""
    import pytest

    from business_intelligence_and_data_warehouse_spark.sources.warehouse import (
        compact_parquet,
    )

    src = str(tmp_path / "shards2")
    load_table(spark, sf_dir, "orders").select("o_orderkey").limit(
        100
    ).write.parquet(src)
    n_before = sorted(map(tuple, spark.read.parquet(src).collect()))
    with pytest.raises(Exception):
        compact_parquet(spark, src, sort_cols=["no_such_column"])
    assert sorted(map(tuple, spark.read.parquet(src).collect())) == n_before


def test_propagate_deletes_rejects_reserved_del_column(spark):
    """The marker-join delete path rejects inputs that already carry
    its reserved '_del' column."""
    import pytest as _pytest

    from business_intelligence_and_data_warehouse_spark.operators.retention import (
        propagate_deletes,
    )

    root = spark.createDataFrame(
        [(k, f"c{k}") for k in range(40)], "custkey int, name string"
    )
    ts = spark.createDataFrame([(k,) for k in range(0, 40, 7)], "custkey int")
    with _pytest.raises(ValueError, match="_del"):
        propagate_deletes(
            root.withColumn("_del", F.lit(0)), "customer", "custkey", ts, []
        )


def test_compact_parquet_preserves_hive_partition_layout(spark, tmp_path):
    """Compacting a partitionBy dataset must KEEP the directory layout
    (flattening it silently costs every future scan its directory-level
    pruning — r10 review finding) and still merge the small files
    within each partition."""
    import os

    from business_intelligence_and_data_warehouse_spark.sources.warehouse import (
        compact_parquet,
    )
    from pyspark.sql import functions as F

    path = str(tmp_path / "part")
    df = spark.range(2000).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("grp"),
    )
    # accrete small files: 4 appends of 8 files each per partition
    for _ in range(4):
        df.repartition(8).write.mode("append").partitionBy("grp").parquet(path)

    want = sorted(map(tuple, spark.read.parquet(path).collect()))
    before, after = compact_parquet(spark, path)
    assert after < before
    # layout survives: the partition dirs still exist and prune
    dirs = {d for d in os.listdir(path) if d.startswith("grp=")}
    assert dirs == {"grp=0", "grp=1", "grp=2"}
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == want
    # (partition VALUES are re-inferred as int on read — compare
    # stringly; the layout, not the inferred value type, is the claim)
    one = spark.read.parquet(os.path.join(path, "grp=1"))
    assert one.count() == sum(1 for _id, g in want if str(g) == "1")


def test_compact_parquet_default_path_actually_merges(spark, tmp_path):
    """Without sort_cols/target_files the rewrite must still coalesce
    toward before//64 files (the motivating small-files case) — the
    old default path did no merging at all."""
    from business_intelligence_and_data_warehouse_spark.sources.warehouse import (
        compact_parquet,
    )

    path = str(tmp_path / "flat")
    for _ in range(5):
        spark.range(1000).repartition(16).write.mode("append").parquet(path)
    before, after = compact_parquet(spark, path)
    assert before == 80 and after <= 2
    assert spark.read.parquet(path).count() == 5000


def test_compact_parquet_rejects_remote_paths_and_bad_targets(spark):
    """Scheme-qualified paths fail UP FRONT (os.rename cannot swap an
    object-store URI — the old behavior paid for a full rewrite, then
    failed and leaked the staging copy); target_files < 1 is an error,
    not a silent no-op."""
    import pytest

    from business_intelligence_and_data_warehouse_spark.sources.warehouse import (
        compact_parquet,
    )

    with pytest.raises(ValueError, match="driver-local"):
        compact_parquet(spark, "s3://bucket/tbl")
    with pytest.raises(ValueError, match="target_files"):
        compact_parquet(spark, "/nonexistent-local", target_files=0)
