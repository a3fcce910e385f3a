"""The two workloads: their operations, the seeded order of a pass, and
what each operation's output must equal.

An operation returns what the runner checks after the clock stops: an
Arrow table the operation already collected, or a zero-argument function
that reads the operation's written output back.  ``expected`` gives the
matching expected value (a digest, or a dict of counts).
"""

from __future__ import annotations

import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.dataset as ds

from . import verify
from .datagen import SEGMENTS, Inputs

BI_QUERIES = (
    "q1a_yoy_growth", "q1b_seasonal_index", "q2a_grouping_sets", "q2b_rollup",
    "q3a_rank_ntile", "q3b_moving_cumulative", "q4a_multi_exists",
    "q4b_above_category_avg", "q5a_ltv_top20", "q5b_monthly_kpis",
)
# dedup_minhash_lsh, sim_ann_ivf_trained, sim_ann_ivfpq_fixed and
# stream_dedup_neardup are left out to fit the run-time budget; every
# operator layer (dedup, similarity, vocab, curation) keeps an entry, and
# sim_ann_ivf_serving trains the same quantizer on its cold call
LLM_PIPELINE = (
    "dedup_multi_signal", "dedup_ngram_jaccard", "pipeline_curate_pack",
    "sim_ann_ivf_serving", "bpe_encode_corpus",
)
MART_MEASURES = ["revenue", "freight", "total_qty", "n_lines"]


@dataclass
class Ctx:
    """What an operation sees: the session, the generated inputs, the
    pass's scratch directory and the tracer."""

    spark: object
    inputs: Inputs
    pass_dir: str
    warehouse_dir: str
    tracer: object
    state: dict = field(default_factory=dict)


@dataclass
class Op:
    name: str
    metric: str  # per-layer metric its wall time feeds ("" for plans ops)
    layer: str  # layer label of its span
    run: Callable[[Ctx], object]
    after: tuple[str, ...] = ()


# ---------------------------------------------------------------------------
# registry entries: the reference's BI queries and the LLM pipeline
# ---------------------------------------------------------------------------

def _registry_op(name: str) -> Op:
    def run(ctx: Ctx):
        from business_intelligence_and_data_warehouse_spark.plans.queries import QUERIES

        with ctx.tracer.span(f"{name}.construct", "layer", "plans"):
            df = QUERIES[name](ctx.spark, ctx.inputs.sf_dir)
        with ctx.tracer.span(f"{name}.execute", "layer", "plans"):
            return df.toArrow()

    return Op(name, "", "bench", run)


def registry_expect(name: str, oracle: verify.Oracle) -> str:
    from business_intelligence_and_data_warehouse_spark.plans.queries import ORACLES

    return oracle.digest(name, ORACLES[name])


# ---------------------------------------------------------------------------
# the warehouse build: the write path, one step per operation
# ---------------------------------------------------------------------------

def _table(ctx: Ctx, name: str):
    return ctx.spark.table(name)


def _parquet_dir(path: str) -> pa.Table:
    """A written table read back without Spark (hive partition columns
    come back as strings)."""
    return ds.dataset(path, format="parquet", partitioning="hive").to_table()


def _read_back(ctx: Ctx, *names: str) -> Callable[[], dict]:
    return lambda: {n: _parquet_dir(os.path.join(ctx.warehouse_dir, n)) for n in names}


def _csv_rows(path: str) -> int:
    """Data rows of a Spark CSV output directory written with a header."""
    rows = 0
    for f in os.listdir(path):
        if f.endswith(".csv"):
            with open(os.path.join(path, f)) as fh:
                rows += max(0, sum(1 for _ in fh) - 1)
    return rows


def _extract(ctx: Ctx):
    from pyspark.sql import types as T

    from business_intelligence_and_data_warehouse_spark.sources.csv import (
        read_csv,
        split_corrupt,
    )

    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    )
    clean, bad = split_corrupt(read_csv(ctx.spark, ctx.inputs.csv_path, schema))
    ctx.state["csv_clean"] = clean

    def check():
        counts = {"rows": clean.count(), "corrupt": bad.count()}
        ctx.state["corrupt_rows"] = counts["corrupt"]
        return counts

    return check


def _quality(ctx: Ctx):
    from pyspark.sql import functions as F

    from business_intelligence_and_data_warehouse_spark.etl.quality import (
        split_quality,
        write_quarantine,
    )
    from business_intelligence_and_data_warehouse_spark.sources.warehouse import (
        write_table,
    )

    rules = {
        "acctbal_non_negative": F.col("c_acctbal") >= 0,
        "name_present": F.length(F.trim("c_name")) > 0,
        "segment_known": F.col("c_mktsegment").isin(*SEGMENTS),
    }
    clean, bad = split_quality(ctx.state["csv_clean"], rules)
    write_table(clean, "wb_customer", fmt="parquet")
    path = os.path.join(ctx.pass_dir, "quarantine")
    write_quarantine(bad, path)

    def check():
        counts = {
            "clean": _parquet_dir(os.path.join(ctx.warehouse_dir, "wb_customer")).num_rows,
            "quarantined": _csv_rows(path),
        }
        ctx.state["quarantined_rows"] = counts["quarantined"]
        return counts

    return check


def _dims(ctx: Ctx):
    from business_intelligence_and_data_warehouse_spark.etl.dims import (
        build_dim_category,
        build_dim_time,
    )
    from business_intelligence_and_data_warehouse_spark.sources.testdata import load_table
    from business_intelligence_and_data_warehouse_spark.sources.warehouse import (
        write_table,
    )

    part = load_table(ctx.spark, ctx.inputs.sf_dir, "part")
    write_table(build_dim_time(ctx.spark), "wb_dim_time", fmt="parquet")
    write_table(build_dim_category(part, "p_type"), "wb_dim_category", fmt="parquet")
    return _read_back(ctx, "wb_dim_time", "wb_dim_category")


def _fact(ctx: Ctx):
    from business_intelligence_and_data_warehouse_spark.etl.facts import (
        build_fact_order_lines,
        write_fact,
    )

    path = os.path.join(ctx.pass_dir, "fact_order_lines")
    write_fact(build_fact_order_lines(ctx.spark, ctx.inputs.sf_dir), path, ("order_status",))
    return lambda: _parquet_dir(path)


def _changes(ctx: Ctx, stream: bool):
    spark = ctx.spark
    schema = spark.read.parquet(ctx.inputs.changes_dir).schema
    if stream:
        return spark.readStream.schema(schema).parquet(ctx.inputs.changes_dir)
    return spark.read.schema(schema).parquet(ctx.inputs.changes_dir)


_KEY, _TRACKED = ["c_custkey"], ["c_mktsegment", "c_nationkey"]


def _scd1(ctx: Ctx):
    from pyspark.sql import functions as F

    from business_intelligence_and_data_warehouse_spark.operators.scd import scd1_upsert
    from business_intelligence_and_data_warehouse_spark.sources.warehouse import (
        write_table,
    )

    existing = _table(ctx, "wb_customer").select(
        *_KEY, *_TRACKED, F.lit(-1).cast("long").alias("_ord")
    )
    incoming = _changes(ctx, stream=False).select(*_KEY, *_TRACKED, "_ord")
    dim = scd1_upsert(existing, incoming, _KEY, "_ord").drop("_ord")
    write_table(dim, "wb_customer_scd1", fmt="parquet")
    return _read_back(ctx, "wb_customer_scd1")


def _scd2(ctx: Ctx):
    from pyspark.sql import functions as F

    from business_intelligence_and_data_warehouse_spark.operators.scd import (
        scd2_initial_load,
        scd2_merge,
    )
    from business_intelligence_and_data_warehouse_spark.sources.warehouse import (
        write_table,
    )

    dim = scd2_initial_load(
        _table(ctx, "wb_customer").select(*_KEY, *_TRACKED), verify.INITIAL_DATE
    )
    changes = _changes(ctx, stream=False)
    for load, _ in ctx.inputs.batches:
        batch = changes.filter(F.col("load_date") == F.to_date(F.lit(load)))
        # one materialized dimension per load, as a nightly job would keep
        dim = scd2_merge(dim, batch.select(*_KEY, *_TRACKED), _KEY, _TRACKED, load)
        dim = dim.localCheckpoint(eager=True)
    write_table(dim, "wb_customer_scd2", fmt="parquet")

    def check():
        out = _read_back(ctx, "wb_customer_scd2")()
        ctx.state["rows_versioned"] = int(
            (out["wb_customer_scd2"].column("version").to_numpy() > 1).sum()
        )
        return out

    return check


def _sink_batches(root: str) -> int:
    commits = os.path.join(root, "_checkpoint", "commits")
    return sum(1 for f in os.listdir(commits) if f.isdigit()) if os.path.isdir(commits) else 0


def _stream_upsert(ctx: Ctx):
    from business_intelligence_and_data_warehouse_spark.sources.warehouse import (
        write_table,
    )
    from business_intelligence_and_data_warehouse_spark.streaming.sinks import (
        run_upsert_stream,
    )

    root = os.path.join(ctx.pass_dir, "upsert_sink")
    snap = run_upsert_stream(
        _changes(ctx, stream=True).select(*_KEY, *_TRACKED, "_ord"),
        ctx.spark, key_cols=_KEY, order_col="_ord", root=root,
    )
    write_table(snap.select(*_KEY, *_TRACKED), "wb_customer_stream", fmt="parquet")
    ctx.state["stream_batches"] = _sink_batches(root)
    return _read_back(ctx, "wb_customer_stream")


def _mart(ctx: Ctx):
    from business_intelligence_and_data_warehouse_spark.analytics.mart import (
        build_order_mart,
    )
    from business_intelligence_and_data_warehouse_spark.sources.warehouse import (
        write_table,
    )

    write_table(build_order_mart(ctx.spark, ctx.inputs.sf_dir), "wb_order_mart", fmt="parquet")
    return _read_back(ctx, "wb_order_mart")


def _segment(ctx: Ctx):
    from business_intelligence_and_data_warehouse_spark.analytics.segmentation import (
        segment_matrix,
    )

    return segment_matrix(_table(ctx, "wb_order_mart")).toArrow()


def _stats(ctx: Ctx):
    from business_intelligence_and_data_warehouse_spark.analytics.descriptive import (
        summary_stats,
    )

    return summary_stats(_table(ctx, "wb_order_mart"), MART_MEASURES).toArrow()


WAREHOUSE_BUILD = (
    Op("extract", "sources.read_s", "sources", _extract),
    Op("quality", "etl.quality_s", "etl", _quality, ("extract",)),
    Op("dims", "etl.dims_s", "etl", _dims),
    Op("fact", "etl.fact_s", "etl", _fact),
    Op("scd1", "scd.scd1_s", "operators.scd", _scd1, ("quality",)),
    Op("scd2", "scd.scd2_merge_s", "operators.scd", _scd2, ("quality",)),
    Op("stream_upsert", "streaming.sink_s", "streaming.sinks", _stream_upsert),
    Op("mart", "analytics.mart_s", "analytics", _mart),
    Op("segment", "analytics.segment_s", "analytics", _segment, ("mart",)),
    Op("stats", "analytics.stats_s", "analytics", _stats, ("mart",)),
)


def warehouse_expect(name: str, inputs: Inputs, oracle: verify.Oracle):
    """Expected value of a warehouse build step's check."""
    from business_intelligence_and_data_warehouse_spark.plans.queries import ORACLES

    d = verify.digest
    if name == "extract":
        return {"rows": inputs.csv_rows - inputs.corrupt_rows, "corrupt": inputs.corrupt_rows}
    if name == "quality":
        return verify.quality_counts(inputs)
    def o(query: str) -> str:
        return oracle.digest(query, ORACLES[query])

    if name == "dims":
        return {
            "wb_dim_time": o("etl_dim_time"),
            "wb_dim_category": d(verify.dim_category_expected(inputs.sf_dir)),
        }
    if name == "fact":
        return o("etl_fact_order_lines")
    if name == "scd1":
        return {"wb_customer_scd1": d(verify.scd1_expected(inputs))}
    if name == "scd2":
        return {"wb_customer_scd2": d(verify.scd2_expected(inputs))}
    if name == "stream_upsert":
        return {"wb_customer_stream": d(verify.upsert_stream_expected(inputs))}
    if name == "mart":
        return {"wb_order_mart": o("analytics_mart")}
    if name == "segment":
        return o("analytics_segmentation")
    if name == "stats":
        return o("analytics_descriptive_stats")
    raise KeyError(name)


# ---------------------------------------------------------------------------
# workload table and seeded pass order
# ---------------------------------------------------------------------------

# The BI queries run in the warehouse workload, next to the build, rather
# than as a workload of their own: a run's fixed cost (JVM start and the
# cold pass, about 30 s on 4 cores) leaves no room for a third workload in
# the time budget of the repeated runs, and a 20-operation pass is steadier
# than two 10-operation ones.
WORKLOADS: dict[str, tuple[Op, ...]] = {
    "warehouse": WAREHOUSE_BUILD + tuple(_registry_op(n) for n in BI_QUERIES),
    "llm_pipeline": tuple(_registry_op(n) for n in LLM_PIPELINE),
}


def expected(name: str, inputs: Inputs, oracle: verify.Oracle):
    if name in BI_QUERIES or name in LLM_PIPELINE:
        return registry_expect(name, oracle)
    return warehouse_expect(name, inputs, oracle)


def observed(out) -> object:
    """Reduce an operation's output (already collected, or read back now)
    to what ``expected`` returns: a digest, or a dict of digests/counts."""
    if callable(out):
        out = out()
    if isinstance(out, dict):
        return {k: v if isinstance(v, int) else verify.digest(v) for k, v in out.items()}
    return verify.digest(out)


def pass_order(workload: str, seed: int, pass_no: int) -> list[Op]:
    """Order of one pass.  The warm-up pass (0) runs in the declared order,
    so every run enters the timed region from the same warm-up; a timed
    pass is a seeded shuffle with a stable topological fix-up so every
    step runs after the steps it reads."""
    ops = list(WORKLOADS[workload])
    if pass_no == 0:
        return ops
    random.Random(f"{seed}/{workload}/{pass_no}").shuffle(ops)
    done: set[str] = set()
    out: list[Op] = []
    while ops:
        op = next(o for o in ops if all(a in done for a in o.after))
        ops.remove(op)
        out.append(op)
        done.add(op.name)
    return out


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
