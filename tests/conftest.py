"""Shared test fixtures: one SparkSession per test run + a DuckDB
oracle harness that mirrors the driver's comparison (sort columns by
name, order-insensitive row compare, exact values)."""

from __future__ import annotations

import ctypes
import os

import duckdb
import pandas as pd
import pytest

from business_intelligence_and_data_warehouse_spark.session import get_spark
from business_intelligence_and_data_warehouse_spark.sources.testdata import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    cpus = int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8"))
    s = get_spark(
        app_name="bidw-tests",
        cpus=cpus,
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_TEST_SHUFFLE", "8")),
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_con(sf_dir):
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{name}.parquet')"
        )
    yield con
    con.close()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form: columns sorted by name, datetimes to ISO strings,
    rows sorted by every column, index dropped."""
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.astype("datetime64[us]").astype(str)
        elif s.dtype == object:
            out[c] = s.map(lambda v: v if (v is None or isinstance(v, float)) else str(v))
    out = out.sort_values(by=list(out.columns), kind="mergesort", na_position="last")
    return out.reset_index(drop=True)


# DuckDB frees an oracle's working memory when the query ends, but glibc
# keeps the freed heap pages mapped, so the test process's RSS only grows:
# the bpe_train_32k oracle leaves ~3.0 GB resident, and the
# mmr_diverse_select oracle's ~7 GB peak stacks on top of it, next to the
# Spark JVM — enough to exhaust a 16 GB host.  malloc_trim returns the
# freed pages to the OS (measured: 3.0 GB -> 0.15 GB resident).
try:
    _malloc_trim = ctypes.CDLL("libc.so.6").malloc_trim
except (OSError, AttributeError):  # not glibc
    _malloc_trim = None


def assert_matches_oracle(spark_df, oracle_con, sql: str, *, exact: bool = True):
    """Compare a Spark DataFrame against DuckDB output of `sql`."""
    got = normalize(spark_df.toPandas())
    want = normalize(oracle_con.execute(sql).df())
    if _malloc_trim is not None:
        _malloc_trim(0)
    assert list(got.columns) == list(want.columns), (
        f"column mismatch: spark={list(got.columns)} oracle={list(want.columns)}"
    )
    assert len(got) == len(want), f"row count: spark={len(got)} oracle={len(want)}"
    # integer-vs-float dtype drift (e.g. an un-CAST DuckDB SUM coming
    # back HUGEINT -> float64) stringifies differently under the
    # driver's value hash (150 vs 150.0) even when values agree —
    # catch it here, not in CORRECTNESS_r{N}
    for c in got.columns:
        g_int = pd.api.types.is_integer_dtype(got[c])
        w_int = pd.api.types.is_integer_dtype(want[c])
        g_f = pd.api.types.is_float_dtype(got[c])
        w_f = pd.api.types.is_float_dtype(want[c])
        assert not (g_int and w_f) and not (g_f and w_int), (
            f"dtype class mismatch on {c}: spark={got[c].dtype} "
            f"oracle={want[c].dtype} (CAST the oracle aggregate)"
        )
    pd.testing.assert_frame_equal(
        got,
        want,
        check_dtype=False,
        check_exact=exact,
        rtol=0 if exact else 1e-9,
        atol=0 if exact else 1e-12,
    )
