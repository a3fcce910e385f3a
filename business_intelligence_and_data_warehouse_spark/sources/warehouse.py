"""Warehouse-layer table management: partitioned + bucketed storage.

The reference's physical tuning is B-tree indexes and batched JDBC
inserts (SURVEY §4); the Spark-native equivalents are:

* partitionBy(date-ish column)  -> partition pruning on scan
* bucketBy(N, join key)         -> co-located joins: two tables
  bucketed on the same key join WITHOUT a shuffle exchange — the
  difference between an O(data) network step and none at 100 TB.

Delta/Iceberg are the production table formats for this layer
(ACID + MERGE + Z-order); their jars are not part of this project, so
tables are the session catalog's parquet.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession


def write_table(
    df: DataFrame,
    table: str,
    partition_cols: tuple[str, ...] = (),
    fmt: str = "parquet",
) -> None:
    """Overwrite the managed table ``table`` with ``df`` in format
    ``fmt``, partitioned by ``partition_cols``."""
    writer = df.write.format(fmt).mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.saveAsTable(table)


def _hive_partition_cols(path: str) -> list[str]:
    """Partition columns of a Hive-layout dataset, outermost first,
    inferred from the directory components between ``path`` and its
    parquet files (``k=v`` segments).  Empty for a flat dataset."""
    import os

    for root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            rel = os.path.relpath(root, path)
            if rel == ".":
                return []
            cols = []
            for seg in rel.split(os.sep):
                m = re.match(r"([^=]+)=", seg)
                if not m:
                    return []  # not a Hive layout (staging dirs etc.)
                cols.append(m.group(1))
            return cols
    return []


def compact_parquet(
    spark: SparkSession,
    path: str,
    sort_cols: list[str] | None = None,
    max_records_per_file: int = 1_000_000,
    target_files: int | None = None,
) -> tuple[int, int]:
    """Small-files compaction (the jar-free twin of Delta/Iceberg
    `OPTIMIZE`): rewrite a parquet directory into few large files,
    optionally range-clustered on ``sort_cols`` (the Z-order stand-in —
    range clustering on the dominant filter column gives parquet
    row-group min/max stats real skipping power).

    Streaming sinks and incremental loads accrete one-file-per-batch;
    at 100 TB a million 1 MB files turn every scan into a metadata
    storm (footer reads, task scheduling) long before data IO matters.
    Returns (files_before, files_after).

    Hive-partitioned datasets keep their layout: the partition columns
    are inferred from the directory structure and the rewrite goes back
    out ``partitionBy`` the same columns, so directory-level pruning
    survives compaction (flattening them would silently cost every
    future scan its pruning — r10 review finding).  Without
    ``target_files``, the output task count is derived from TOTAL
    BYTES (~128 MiB per task, never below 1), not from the input file
    count, and the rewrite uses ``repartition`` — a round-robin
    shuffle that keeps the rewrite parallel.  The earlier
    ``coalesce(before // 64)`` sizing collapsed any ≤128-file dataset
    to a SINGLE task regardless of data volume (``maxRecordsPerFile``
    splits files, not tasks), serializing an arbitrarily large rewrite
    through one core (r10 advisor finding); one extra shuffle is the
    standard price every OPTIMIZE implementation pays for parallelism.

    DRIVER-LOCAL PATHS ONLY: the stage-and-swap uses os.rename, so a
    scheme-qualified path (s3://, hdfs://) is rejected UP FRONT rather
    than after paying for a full rewrite it cannot swap in (at object-
    store scale the transactional answer is Delta/Iceberg OPTIMIZE).

    The rewrite stages into a sibling temp dir and swaps it over the
    original only after success. The swap is TWO renames (old aside,
    staging in), not one atomic op: a concurrent reader can observe the
    dataset briefly missing, so run compaction in a maintenance window.
    A failed rewrite cleans its staging dir; a failure between the two
    renames restores the original directory before re-raising (and if
    even the restore fails, the original error propagates with the
    restore failure chained, never masked).
    """
    import os
    import shutil
    import uuid

    if re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", path):
        raise ValueError(
            f"compact_parquet swaps directories with os.rename and only "
            f"supports driver-local paths, got {path!r}; use the table "
            "format's own OPTIMIZE/rewrite on object stores"
        )
    if target_files is not None and target_files < 1:
        raise ValueError(f"target_files must be >= 1, got {target_files}")

    def _count_files(p: str) -> int:
        return sum(
            1
            for root, _, files in os.walk(p)
            for f in files
            if f.endswith(".parquet")
        )

    def _total_bytes(p: str) -> int:
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(p)
            for f in files
            if f.endswith(".parquet")
        )

    before = _count_files(path)
    part_cols = _hive_partition_cols(path)
    df = spark.read.parquet(path)
    if target_files is not None:
        n = target_files
    else:
        # size output tasks by data volume, not input file count:
        # ~128 MiB of (compressed) input per rewrite task
        n = max(1, -(-_total_bytes(path) // (128 << 20)))
    if sort_cols:
        df = df.repartitionByRange(n, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    elif part_cols:
        # align tasks to partitions so each output dir gets few files
        # (the same task×dir small-files fan-out the bucketed snapshot
        # store had to fix)
        df = df.repartition(n, *part_cols)
    else:
        # repartition, not coalesce: coalesce(n) caps the REWRITE at n
        # tasks, serializing large flat datasets through few cores
        df = df.repartition(n)
    tmp = path.rstrip("/") + f"__compact_{uuid.uuid4().hex[:8]}"
    writer = df.write.mode("overwrite").option(
        "maxRecordsPerFile", max_records_per_file
    )
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    try:
        writer.parquet(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    old = path.rstrip("/") + f"__old_{uuid.uuid4().hex[:8]}"
    try:
        os.rename(path, old)
    except BaseException:
        # first rename failed (path yanked concurrently / parent-dir
        # perms): the staging copy is a full duplicate of the dataset —
        # clean it up before propagating
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, path)
    except BaseException as swap_exc:
        # Put the original back so readers never see the path missing
        # longer than the failed instant.  If even the restore fails
        # (e.g. a concurrent writer recreated `path`), propagate the
        # ORIGINAL swap error with the restore failure chained — a bare
        # restore raise would mask what actually went wrong and skip
        # the staging cleanup.
        try:
            os.rename(old, path)
        except BaseException as restore_exc:
            shutil.rmtree(tmp, ignore_errors=True)
            raise swap_exc from restore_exc
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    shutil.rmtree(old, ignore_errors=True)
    return before, _count_files(path)
