"""Tests of the benchmark itself: seeded inputs and orders, the output
digest, the Python SCD references, compare mode, and a smoke run of every
workload at the smallest scale that checks each named metric and unit.

Run with ``python -m pytest benchmark/tests -q`` (the smoke runs start
Spark and take a few minutes).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from benchmark import dataprofile, datagen, stats, verify  # noqa: E402
from benchmark.workloads import WORKLOADS, pass_order  # noqa: E402

RUN = os.path.join(ROOT, "benchmark", "run.py")
SMOKE_SCALE = 0.001


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for base, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(base, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def test_same_seed_gives_identical_inputs_and_another_seed_changes_them(tmp_path):
    a = _files(datagen.generate(str(tmp_path / "a"), 5, SMOKE_SCALE).sf_dir + "/..")
    b = _files(datagen.generate(str(tmp_path / "b"), 5, SMOKE_SCALE).sf_dir + "/..")
    c = _files(datagen.generate(str(tmp_path / "c"), 6, SMOKE_SCALE).sf_dir + "/..")
    assert a == b
    changed = {k for k in a if a[k] != c[k]}
    # the seed picks the extract's defects and the change batches; the
    # star schema is fixed per scale
    assert "extract/customer.csv" in changed
    assert any(k.startswith("changes/") for k in changed)
    assert not any(k.startswith("star/") for k in changed)


@pytest.mark.parametrize("scale", sorted(dataprofile.recorded()))
def test_generated_star_schema_matches_the_measured_test_data(scale):
    assert dataprofile.check(float(scale)) == []


def test_profile_check_catches_a_wrong_shape(tmp_path):
    star = str(tmp_path)
    datagen.star_schema(star, np.random.default_rng(datagen.STAR_SEED), 0.01)
    docs = pq.read_table(f"{star}/documents.parquet")
    longer = pa.array([t + " " + t for t in docs.column("text").to_pylist()])
    pq.write_table(docs.set_column(1, "text", longer), f"{star}/documents.parquet")
    bad = dataprofile.compare(dataprofile.recorded()["0.01"], dataprofile.profile(star))
    assert any(b.startswith("shape.doc_tokens_mean") for b in bad)


def test_generated_extract_counts_match_the_file(tmp_path):
    inputs = datagen.generate(str(tmp_path), 3, SMOKE_SCALE)
    df = pd.read_csv(inputs.csv_path, keep_default_na=False, dtype=str)
    assert len(df) == inputs.csv_rows
    assert (df["c_acctbal"] == "n/a").sum() == inputs.corrupt_rows
    assert inputs.corrupt_rows > 0 and inputs.quarantined_rows > 0
    assert len(inputs.batches) == len(datagen.CHANGE_LOADS)


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_pass_order_is_seeded_and_respects_dependencies(workload):
    names = lambda seed, n: [op.name for op in pass_order(workload, seed, n)]  # noqa: E731
    assert names(1, 1) == names(1, 1)
    assert sorted(names(1, 1)) == sorted(op.name for op in WORKLOADS[workload])
    assert any(names(1, 1) != names(s, 1) for s in range(2, 6))
    for seed in range(5):
        seen: set[str] = set()
        for op in pass_order(workload, seed, 1):
            assert set(op.after) <= seen
            seen.add(op.name)


def test_digest_ignores_row_and_column_order_and_timezone():
    ts = pd.to_datetime(["2024-01-01 00:00:01", "2024-01-02 00:00:00"])
    df = pd.DataFrame({"b": [2, 1], "a": ["y", "x"], "t": ts})
    shuffled = df.iloc[::-1][["t", "a", "b"]]
    arrow = pa.table(
        {"a": ["x", "y"], "b": [1, 2],
         "t": pa.array(ts[::-1].tz_localize("UTC"), pa.timestamp("us", tz="UTC"))}
    )
    assert verify.digest(df) == verify.digest(shuffled) == verify.digest(arrow)
    assert verify.digest(df) != verify.digest(df.assign(b=[2, 3]))


def test_scd2_reference_closes_versions_and_corrects_same_day():
    day1, day2 = "2021-01-01", "2021-02-01"
    inputs = datagen.Inputs(
        sf_dir="", csv_path="", changes_dir="", csv_rows=2, corrupt_rows=0,
        quarantined_rows=0,
        clean_attrs={1: ("A", 1), 2: ("B", 2)},
        batches=[(day1, {1: ("C", 1), 2: ("B", 2), 9: ("N", 3)}),
                 (day2, {9: ("M", 3)})],
    )
    got = verify.scd2_expected(inputs)
    rows = {tuple(r) for r in got.itertuples(index=False)}
    d = dt.date.fromisoformat
    assert rows == {
        (1, "A", 1, d("2016-01-01"), d(day1), 1),
        (1, "C", 1, d(day1), verify.HIGH_DATE, 2),
        (2, "B", 2, d("2016-01-01"), verify.HIGH_DATE, 1),
        (9, "N", 3, d(day1), d(day2), 1),
        (9, "M", 3, d(day2), verify.HIGH_DATE, 2),
    }
    same_day = datagen.Inputs(**{**inputs.__dict__, "clean_attrs": {}, "batches": [
        (day1, {9: ("C", 1)}), (day1, {9: ("D", 1)})]})
    rows = {tuple(r) for r in verify.scd2_expected(same_day).itertuples(index=False)}
    assert rows == {(9, "D", 1, d(day1), verify.HIGH_DATE, 1)}


def _result_set(values: dict[int, float]) -> list[dict]:
    return [
        {"workload": "w", "seed": s, "result": {"metrics": {"pass_s": {"value": v, "unit": "s"}}}}
        for s, v in values.items()
    ]


def test_compare_flags_a_regression_beyond_the_bound(tmp_path, capsys):
    parent = tmp_path / "p.json"
    parent.write_text(json.dumps(_result_set({s: 10.0 + 0.01 * s for s in range(10)})))
    same = tmp_path / "s.json"
    same.write_text(json.dumps(_result_set({s: 10.0 + 0.01 * s for s in range(10)})))
    slow = tmp_path / "c.json"
    slow.write_text(json.dumps(_result_set({s: 13.0 + 0.01 * s for s in range(10)})))
    assert stats.compare(str(parent), str(same)) == 0
    assert "within bound" in capsys.readouterr().out
    assert stats.compare(str(parent), str(slow)) == 1
    out = capsys.readouterr().out
    assert "WORSE" in out and "0/10" in out


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "benchmark"), tmp_path / "benchmark")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "benchmark/run.py", "--workload", "warehouse", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_run_emits_every_metric_with_its_unit(workload, trace):
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "0",
         "--trace", str(trace), "--scale", str(SMOKE_SCALE)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    declared = _spec()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
