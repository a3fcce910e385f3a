"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we would set fleet-wide on a real
cluster: AQE on (runtime re-planning, skew-join handling, partition
coalescing), UTC session time, Arrow transfers for the pandas
boundary, shuffle parallelism sized to the machine instead of
Spark's legacy default of 200, and a generated-code cache sized to
the plan set the workloads run, so a repeated query reuses its
compiled classes instead of recompiling them.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

# Entries of Spark's generated-code cache (the static
# spark.sql.codegen.cache.maxEntries, default 100).  One pass of the
# benchmark's warehouse workload compiles about 450 distinct classes and
# one llm_pipeline pass about 300, so at 100 every class is evicted
# before its next use: warm passes recompiled 417-446 and 269-279 classes
# (Janino compiles counted with CodegenMetrics).  At 2000 they compile
# 2-10 and 0-28, and the warehouse pass_s median fell from 17.0 s to
# 14.0 s on 4 cores.  The headroom covers Guava's per-segment eviction
# (the cache evicts within each of its 4 segments) and the test
# battery's larger plan set.
CODEGEN_CACHE_ENTRIES = 2000


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame of driver-side ``rows`` (tuples) with ``schema``, a
    list of (column name, pyarrow type) pairs.

    It is built from a ``pyarrow.Table``, which goes to the JVM as
    record batches and plans as a ``LocalTableScan``; a list of tuples
    would run a Python-worker job to unpickle it, which starts a second
    worker pool next to the one Arrow UDFs use.  Empty ``rows`` keep the
    schema."""
    import pyarrow as pa

    cols = list(zip(*rows)) or [()] * len(schema)
    return spark.createDataFrame(
        pa.table({name: pa.array(c, t) for (name, t), c in zip(schema, cols)})
    )


def shuffle_partitions_for(
    data_bytes: int,
    cpus: int,
    target_partition_bytes: int = 64 << 20,
) -> int:
    """Initial shuffle partitions scaled to a KNOWN input size — the
    data-size hint the fixed ``max(16, cpus // 2)`` default lacks.

    Enough partitions that the largest plausible shuffle (~= the input
    size) lands ``target_partition_bytes`` per reducer, floored at the
    machine's shuffle-file-creation sweet spot and capped at 8x the
    core count (AQE coalesces the tail; beyond that the file fan-out
    costs more than the parallelism returns locally).  Callers that
    know their scale (bench harness, scale-ramp audit) pass the
    result as ``get_spark(shuffle_partitions=...)``; on a real cluster
    the same formula applies with the cluster-wide core count.

    r12 A/B (kept at 16): dropping the floor to max(8, cpus//4) looked
    right from the single-exchange micro-benchmark (one 100k-row
    exchange: 8/16/64 partitions = 0.09/0.21/0.46 s) but co-measured
    a 3-4% geomean LOSS across a 24-query battery subset (worst
    dedup_simhash 1.26x) — the medium shuffles lose task parallelism
    faster than the small exchanges save file fan-out.  The floor
    stays 16; the data-sized ``need`` term owns every real volume.
    """
    need = -(-max(data_bytes, 1) // target_partition_bytes)  # ceil div
    return max(max(16, cpus // 2), min(need, 8 * cpus))


def max_partition_bytes_for(heap_bytes: int, cpus: int) -> int:
    """Scan-split size bounding PER-TASK input so ``cpus`` concurrent
    tasks of expansion-heavy work (tokenize/explode: ~10x in-memory
    blowup over parquet bytes) fit the heap.

    This was the REAL fix for the round-8 multi-signal x300 OOM
    (SCALE.md): the documents scan split into 30 x ~12 MB-parquet
    tasks, and 30 concurrent tokenize+cache-build tasks exhausted a
    6 GiB heap.  Splitting the scan to 16 MB slices completed the
    decade (253s, zero OOM) — while re-tiering the pins to DISK_ONLY
    changed NOTHING (254s, and still OOMed without the split change),
    because Spark SQL's cache is compressed-columnar at every storage
    level; the knob that matters is per-task input volume, not the
    persist flag.  Rule: heap / (cpus * 12) — budget each concurrent
    task ~1/12 of its even heap share to leave room for the ~10x
    expansion — clamped to [16 MB, 128 MB] (default heaps land on the
    measured-good 16 MB; the cap is Spark's own default).  On a real
    cluster the same formula applies per executor.
    """
    return max(16 << 20, min(128 << 20, heap_bytes // (cpus * 12)))


def _heap_bytes() -> int:
    """Parse SPARK_GRAFT_DRIVER_MEM with the same tolerance as
    ``spark.driver.memory``: optional k/m/g/t suffix (case-insensitive),
    unitless byte counts, and fractional values ("4.5g").  Anything
    unrecognizable falls back to the 4 GiB default rather than raising —
    a bad env var must not brick every ``get_spark()`` call.
    """
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g").strip()
    m = re.fullmatch(r"(\d+(?:\.\d+)?)\s*([kmgt]?)b?", mem, re.IGNORECASE)
    if not m:
        return 4 << 30
    units = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40}
    return int(float(m.group(1)) * (1 << units[m.group(2).lower()]))


def get_spark(
    app_name: str = "bidw-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    On a real cluster these same settings apply; only ``master`` and the
    memory sizing change. AQE coalescing makes ``shuffle_partitions`` an
    upper bound rather than a fixed fan-out, so a generous value is safe
    at any scale.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # Initial shuffle partitions bound the mapper x reducer shuffle
        # -file fan-out, and on this VM file creation dominates small
        # exchanges (measured floor for one 100k-row exchange: 32
        # mappers x 64 partitions = 0.46s, x 16 = 0.21s, x 8 = 0.09s).
        # AQE coalescing already owns the effective reducer count, so
        # the initial value only needs to cover the LARGEST local
        # shuffle (~50 MB at sf0.1 -> ~3 MB/partition at 16).  On a
        # real cluster this must scale with the data: set
        # SPARK_GRAFT_SHUFFLE_PARTITIONS to ~2-3x the executor-core
        # count (thousands at 100 TB) and let AQE coalesce down.
        # (r12 A/B: floor 8 co-measured 3-4% slower battery-wide —
        # see shuffle_partitions_for; 16 stays.)
        shuffle_partitions = int(
            os.environ.get(
                "SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(16, cpus // 2))
            )
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE (r12, measured negative): preferSortMergeJoin=false +
        # adaptive.maxShuffledHashJoinLocalMapThreshold (the guide §9
        # "allow shuffled hash join" pair) co-measured ~6% SLOWER
        # geomean on the SMJ-carrying battery subset at sf0.1 (3
        # interleaved passes vs the r12 base tree, a measurement
        # `benchmark/run.py --compare` now repeats; worst
        # sim_ann_ivfpq 1.51x) — at local shuffle sizes the
        # sorts SHJ avoids are cheaper than its per-partition hash-map
        # builds.  Left at Spark defaults; on a real cluster with
        # 100 MB+ post-shuffle partitions the trade reverses and the
        # pair belongs in the submit-time conf, not baked here.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # NOTE: on this VM, large JVM heaps (>=8g) cause page-fault/GC
        # churn that stalls random stages for minutes (measured: 675s of
        # kernel time over one bench run at 48g; clean at 4g). The data
        # volumes in local testing are tiny, so a small preallocated heap
        # is both faster and more stable.
        # render the PARSED heap size back into a Spark-legal integer
        # string rather than forwarding the raw env var: the tolerant
        # parser accepts forms Spark's JavaUtils rejects ("4.5g",
        # trailing "b") and falls back on garbage — passing the raw
        # string through would re-brick the session the parser's
        # fallback exists to save (r10 review finding).
        .config("spark.driver.memory", f"{max(1, _heap_bytes() >> 20)}m")
        # ParallelGC: measured far fewer multi-second stalls than G1 on
        # this VM (G1 showed sporadic 40-80s pauses with idle CPUs).
        # -Xms follows the parsed heap (capped at the measured-good
        # 4 GiB preallocation) so a smaller SPARK_GRAFT_DRIVER_MEM
        # can't produce -Xms > -Xmx, which fails JVM launch
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                f"-Xms{min(4096, max(1, _heap_bytes() >> 20))}m"
                " -XX:+UseParallelGC",
            ),
        )
        .config("spark.ui.enabled", "false")
        # static: takes effect only when this call creates the session
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)
        )
        # generated class names without the whole-stage-codegen id: AQE
        # numbers stages in the order concurrent stages finish, so with
        # the id an identical plan re-ran as new, uncached classes
        .config("spark.sql.codegen.useIdInClassName", "false")
        # per-task scan-slice bound — see max_partition_bytes_for
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get(
                "SPARK_GRAFT_MAX_PARTITION_BYTES",
                str(max_partition_bytes_for(_heap_bytes(), cpus)),
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
