"""Per-query job/stage/task accounting at bench methodology.

Usage: python tools/profile_queries.py q1,q2,... [SF_DIR]

For each query: one warm run, then one measured run (noop sink) inside
a job group — reports wall seconds, Spark job count, stage count, task
count, and the generated classes compiled (``compiles``, from
``CodegenMetrics``) and the time spent compiling them (``compile_ms``,
from ``CodeGenerator.compileTime``) for the MEASURED run.  High job
counts at tiny SF mean the query wall is dominated by job-submission
floors (driver-side sync points), the same sync points that serialize
a cluster at 100 TB.

A warm-then-measured pair cannot see generated-code cache eviction
across a pass: one query's classes fit any cache, so its measured run
compiles (almost) nothing even when a pass of many queries evicts every
class before its next use.  Run the whole pass twice (as the benchmark
does) to see that.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = [n for n in sys.argv[1].split(",") if n]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    from business_intelligence_and_data_warehouse_spark.plans.queries import (
        QUERIES,
    )
    from business_intelligence_and_data_warehouse_spark.session import (
        get_spark,
        shuffle_partitions_for,
    )

    data_bytes = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(sf_dir)
        for f in files
        if not f.startswith((".", "_"))
    )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="bidw-profile",
        cpus=cpus,
        shuffle_partitions=shuffle_partitions_for(data_bytes, cpus),
    )
    sc = spark.sparkContext
    jvm = sc._jvm
    codegen_metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    code_generator = getattr(
        getattr(jvm.org.apache.spark.sql.catalyst.expressions.codegen, "CodeGenerator$"),
        "MODULE$",
    )
    QUERIES["q1a_yoy_growth"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    out = {}
    for name in names:
        fn = QUERIES[name]
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            group = f"profile:{name}"
            sc.setJobGroup(group, name)
            compiles0 = codegen_metrics.METRIC_COMPILATION_TIME().getCount()
            compile_ns0 = code_generator.compileTime()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            compiles = codegen_metrics.METRIC_COMPILATION_TIME().getCount() - compiles0
            compile_ms = (code_generator.compileTime() - compile_ns0) / 1e6
            sc.setJobGroup(None, None)
            tracker = sc.statusTracker()
            job_ids = tracker.getJobIdsForGroup(group)
            n_stages = 0
            n_tasks = 0
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    si = tracker.getStageInfo(sid)
                    if si is not None and si.numTasks > 0:
                        n_stages += 1
                        n_tasks += si.numTasks
            out[name] = {
                "wall": round(wall, 3),
                "jobs": len(job_ids),
                "stages": n_stages,
                "tasks": n_tasks,
                "compiles": compiles,
                "compile_ms": round(compile_ms, 1),
            }
            print(f"{name}: {out[name]}", flush=True)
        except Exception as exc:  # noqa: BLE001
            out[name] = {"error": str(exc)[:200]}
            print(f"{name}: ERROR {exc}", flush=True)
    print("PROFILE_JSON " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
