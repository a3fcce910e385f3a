"""Output checks, run outside every timed region.

An operation's output is reduced to a digest: row count plus an md5 of the
frame normalized the way the repository's oracle tests normalize (columns
sorted by name, datetimes as strings, rows sorted by every column), with
floats printed to ten significant digits as the driver-contract hash does.
Expected digests come from the registered DuckDB oracle of a query, or for
the warehouse build's SCD and streaming steps from the small Python
references below.

The star schema is fixed per scale, so oracle digests are committed in
``expected_digests.json``, keyed by scale, a fingerprint of the generated
tables and a hash of the oracle SQL; on any miss the oracle runs through
DuckDB.  Regenerate the file with ``python3 -m benchmark.verify``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import shutil

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from .datagen import Inputs

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
HIGH_DATE = dt.date(2099, 12, 31)
INITIAL_DATE = "2016-01-01"
DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_digests.json")
# registry oracles the warehouse build's checks use
WAREHOUSE_ORACLES = (
    "etl_dim_time", "etl_fact_order_lines", "analytics_mart",
    "analytics_segmentation", "analytics_descriptive_stats",
)


def _canon(v):
    if v is None or isinstance(v, float):
        return v
    if isinstance(v, np.ndarray):
        v = v.tolist()
    return str(v)


def to_pandas(out) -> pd.DataFrame:
    """Arrow table (timestamps made naive UTC) or pandas frame."""
    if isinstance(out, pa.Table):
        out = out.to_pandas()
    for c in out.columns:
        if isinstance(out[c].dtype, pd.DatetimeTZDtype):
            out[c] = out[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return out


def digest(out) -> str:
    """``rows:md5`` of the normalized frame."""
    df = to_pandas(out)
    norm = df[sorted(df.columns)].copy()
    for c in norm.columns:
        s = norm[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            norm[c] = s.astype("datetime64[us]").astype(str)
        elif s.dtype == object:
            norm[c] = s.map(_canon)
    norm = norm.sort_values(by=list(norm.columns), kind="mergesort", na_position="last")
    text = norm.to_csv(index=False, float_format="%.10g")
    return f"{len(norm)}:{hashlib.md5(text.encode()).hexdigest()}"


def fingerprint(sf_dir: str) -> str:
    h = hashlib.md5()
    for t in TABLES:
        with open(f"{sf_dir}/{t}.parquet", "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _sql_hash(sql: str) -> str:
    return hashlib.sha1(sql.encode()).hexdigest()[:16]


def _load_committed() -> dict:
    try:
        with open(DIGESTS_PATH) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


class Oracle:
    """Expected digest of a registry query over the generated tables:
    the committed digest when its key matches, else DuckDB."""

    def __init__(self, sf_dir: str, scale: float) -> None:
        self.sf_dir = sf_dir
        self.key = f"{scale:g}/{fingerprint(sf_dir)}"
        self.committed = _load_committed().get(self.key, {})
        self._con = None
        self._memo: dict[str, str] = {}

    def digest(self, name: str, sql: str) -> str:
        hit = self.committed.get(name)
        if hit is not None and hit["sql"] == _sql_hash(sql):
            return hit["digest"]
        if name not in self._memo:
            self._memo[name] = digest(self._duckdb().execute(sql).df())
        return self._memo[name]

    def _duckdb(self):
        if self._con is None:
            self._con = duckdb.connect()
            self._con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
            for t in TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
        return self._con

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


# ---------------------------------------------------------------------------
# Python references for the warehouse build's SCD and streaming steps
# ---------------------------------------------------------------------------

def scd1_expected(inputs: Inputs) -> pd.DataFrame:
    """Clean extract rows, then every change batch in order, last wins."""
    state = dict(inputs.clean_attrs)
    for _, rows in inputs.batches:
        state.update(rows)
    return _frame(state)


def upsert_stream_expected(inputs: Inputs) -> pd.DataFrame:
    """Last row per key over the change stream alone."""
    state: dict = {}
    for _, rows in inputs.batches:
        state.update(rows)
    return _frame(state)


def _frame(state: dict) -> pd.DataFrame:
    keys = sorted(state)
    return pd.DataFrame(
        {
            "c_custkey": keys,
            "c_mktsegment": [state[k][0] for k in keys],
            "c_nationkey": [state[k][1] for k in keys],
        }
    )


def scd2_expected(inputs: Inputs) -> pd.DataFrame:
    """The clean extract at version 1, then every change batch folded in
    as a type-2 dimension.  A change on the day the open version started
    corrects it in place."""
    rows: list[list] = []
    current: dict[int, int] = {}

    def open_version(key, attrs, start, version):
        current[key] = len(rows)
        rows.append([key, attrs[0], attrs[1], start, HIGH_DATE, version])

    start = dt.date.fromisoformat(INITIAL_DATE)
    for key in sorted(inputs.clean_attrs):
        open_version(key, inputs.clean_attrs[key], start, 1)
    for load, batch in inputs.batches:
        day = dt.date.fromisoformat(load)
        for key, attrs in batch.items():
            i = current.get(key)
            if i is None:
                open_version(key, attrs, day, 1)
            elif tuple(rows[i][1:3]) == attrs:
                continue
            elif rows[i][3] == day:
                rows[i][1:3] = attrs
            else:
                rows[i][4] = day
                open_version(key, attrs, day, rows[i][5] + 1)
    return pd.DataFrame(
        rows,
        columns=[
            "c_custkey", "c_mktsegment", "c_nationkey",
            "effective_from", "effective_to", "version",
        ],
    )


def dim_category_expected(sf_dir: str) -> pd.DataFrame:
    types = pc.unique(pq.read_table(f"{sf_dir}/part.parquet", columns=["p_type"])["p_type"])
    names = sorted({t.strip().replace("_", " ") for t in types.to_pylist() if t is not None})
    return pd.DataFrame({"category_key": range(1, len(names) + 1), "category_name": names})


def quality_counts(inputs: Inputs) -> dict[str, int]:
    clean = inputs.csv_rows - inputs.corrupt_rows - inputs.quarantined_rows
    return {"clean": clean, "quarantined": inputs.quarantined_rows}


def write_committed(scale: float) -> None:
    """Compute the oracle digest of every registry query the workloads
    check, at ``scale``, and merge them into ``expected_digests.json``."""
    from business_intelligence_and_data_warehouse_spark.plans.queries import ORACLES

    from .datagen import generate
    from .workloads import BI_QUERIES, LLM_PIPELINE

    root = os.path.join(os.path.dirname(os.path.dirname(DIGESTS_PATH)), ".bench", "digests")
    try:
        inputs = generate(root, 0, scale)
        oracle = Oracle(inputs.sf_dir, scale)
        oracle.committed = {}
        entries = {
            n: {"sql": _sql_hash(ORACLES[n]), "digest": oracle.digest(n, ORACLES[n])}
            for n in (*BI_QUERIES, *LLM_PIPELINE, *WAREHOUSE_ORACLES)
        }
        oracle.close()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    committed = _load_committed()
    committed = {k: v for k, v in committed.items() if not k.startswith(f"{scale:g}/")}
    committed[oracle.key] = entries
    with open(DIGESTS_PATH, "w") as fh:
        json.dump(committed, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=write_committed.__doc__)
    ap.add_argument("--scale", type=float, default=0.01)
    write_committed(ap.parse_args().scale)
