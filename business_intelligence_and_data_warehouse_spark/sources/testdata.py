"""Loaders for the driver-generated synthetic star schema.

Tables (one parquet file each, see /root/repo/TESTDATA.md):
    region nation customer supplier part orders lineitem
    events documents embeddings

Parquet scans are the fast path: Catalyst pushes filters and prunes
columns into the scan, so callers should select/filter on the returned
DataFrame directly rather than materialising it first.

``load_table`` memoizes the returned DataFrame per
(applicationId, dir, table).  A DataFrame is an immutable logical plan,
so handing the same object to every caller is semantically identical to
re-reading — but ``spark.read.parquet`` pays a driver-side file listing
+ schema read (~0.1s of py4j round-trips) on EVERY call, which at 88
battery queries × 1-5 tables each was the single largest fixed
per-invocation cost in the whole engine (measured: 0.10-0.15s/call
warm; a 4-table query paid ~0.5s before any work started).  The
testdata directories are immutable for the life of a session, so the
cached plan can never go stale; keying by applicationId drops entries
with their session.  On a real cluster the same pattern holds: you
would register the tables once in a catalog, not re-infer them per
query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast when joined
# against facts (region/nation/supplier are tiny at every SF; part and
# customer grow with SF but stay far below any sane broadcast threshold
# relative to lineitem/orders).
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation", "supplier"})

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def sf_of(sf_dir: str) -> float:
    """Parse the scale factor out of a testdata dir name (best effort)."""
    base = os.path.basename(os.path.normpath(sf_dir))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return float("nan")


# (applicationId, abs sf_dir, table) -> analyzed DataFrame plan.  Tiny by
# construction: 10 tables x a handful of sf dirs per session.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


# (applicationId, abs sf_dir, table) -> row count.  The testdata dirs
# are immutable for the life of a session (same invariant _TABLE_CACHE
# relies on), so a count can never go stale; memoizing it lets sizing
# logic (PQ codebook stride, IVF cell counts) reuse ONE count job per
# session instead of paying a full-corpus count action per query
# invocation.
_COUNT_CACHE: dict[tuple[str, str, str], int] = {}


def table_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Memoized ``load_table(...).count()`` — one count job per
    (session, dir, table); repeat invocations are a dict hit."""
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    app_id = key[0]
    for stale in [k for k in _COUNT_CACHE if k[0] != app_id]:
        del _COUNT_CACHE[stale]
    n = _COUNT_CACHE.get(key)
    if n is None:
        n = load_table(spark, sf_dir, name).count()
        _COUNT_CACHE[key] = n
    return n


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown testdata table {name!r}; have {TABLES}")
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    # evict entries from OTHER sessions first (hit or miss): their
    # DataFrames reference stopped SparkContexts and can never hit
    # again, so a process that cycles many sessions would otherwise
    # accumulate dead plans (single-session processes lose nothing
    # — their app id matches every cached key; the dict is tiny)
    app_id = key[0]
    for stale in [k for k in _TABLE_CACHE if k[0] != app_id]:
        del _TABLE_CACHE[stale]
    cached = _TABLE_CACHE.get(key)
    if cached is None:
        cached = _TABLE_CACHE[key] = _read_table(spark, sf_dir, name)
    return cached


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # Generations of events.parquet have stored ts as TIMESTAMP(NANOS)
        # (which Spark's vectorized reader rejects -> read as raw int64 and
        # truncate ns->us, matching DuckDB) or as TIMESTAMP(MICROS) without
        # a UTC flag (read as TIMESTAMP_NTZ). Normalize both to a session-TZ
        # timestamp (sessions here pin UTC, so NTZ -> LTZ is an identity).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            ts = F.timestamp_micros(F.expr("ts div 1000"))
        else:
            ts = F.col("ts").cast("timestamp")
        return df.withColumn("ts", ts).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_star(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table of the star schema as a dict of DataFrames."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view for spark.sql() queries."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
