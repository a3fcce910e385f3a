"""Seeded inputs: the TPC-H-ish star schema the package reads, plus the
warehouse-build extract (a customer CSV with corrupted and rule-breaking
rows) and its SCD change batches.

The tables follow the layout ``sources.testdata`` loads (one parquet file
per table, same column names and types).  Their sizes and shape are set
from the profile measured on the package's test data at scales 0.001, 0.01
and 0.1 (``testdata_profile.json``): order dates 1995-01-01..2001-08-01,
events over January 2024, money with two decimals, documents of 10-100
tokens over a 30-word vocabulary with about 5% near-duplicates (an earlier
text plus `` dup``), and random unit embeddings of dimension 64.
``python3 -m benchmark.dataprofile check`` compares the generated tables
with that profile.

The star schema depends on the scale only (``STAR_SEED``), so the
expected result of every registry query is a fixed digest per scale (see
``verify.py``).  The workload seed picks the warehouse-build extract's
defects and its change batches, and the operation order of every pass.
The same ``(seed, scale)`` always gives byte-identical files; the package
only ever sees the files.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark window order column data join small big line customer query "
    "filter group sort stream vector"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EMBED_DIM = 64
CHANGE_LOADS = ("2021-01-01", "2021-02-01")
STAR_SEED = 20_240_101
NEW_KEY_OFFSET = 1_000_000


@dataclass
class Inputs:
    """Where the generated inputs live and what the checks expect."""

    sf_dir: str
    csv_path: str
    changes_dir: str
    csv_rows: int
    corrupt_rows: int
    quarantined_rows: int
    clean_attrs: dict[int, tuple[str, int]] = field(repr=False)
    # one (load_date, {key: (segment, nationkey)}) per change batch
    batches: list[tuple[str, dict[int, tuple[str, int]]]] = field(repr=False)


def _days(start: str, n: np.ndarray) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + n.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), path)


def star_schema(sf_dir: str, rng: np.random.Generator, scale: float) -> dict[str, int]:
    """Write the ten tables; returns their row counts."""
    os.makedirs(sf_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * scale))
    n_users = max(1, int(15_000 * scale))
    n_doc = max(500, int(50_000 * scale))
    n_vec = max(500, int(20_000 * scale))

    _write(
        f"{sf_dir}/region.parquet",
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        },
    )
    _write(
        f"{sf_dir}/nation.parquet",
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        },
    )
    _write(
        f"{sf_dir}/customer.parquet",
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -1000, 10000, n_cust)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
        },
    )
    _write(
        f"{sf_dir}/supplier.parquet",
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -1000, 10000, n_supp)),
        },
    )
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    keys = np.arange(n_part)
    _write(
        f"{sf_dir}/part.parquet",
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": pa.array(
                [
                    f"{adjectives[a]} {nouns[b]}"
                    for a, b in zip(
                        rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                    )
                ]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(
                rng.choice(
                    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                    n_part,
                )
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 1)),
        },
    )
    _write(
        f"{sf_dir}/orders.parquet",
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
            "o_orderdate": pa.array(
                _days("1995-01-01", rng.integers(0, 2404, n_ord)), pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(
                rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    n_ord,
                )
            ),
        },
    )
    _write(
        f"{sf_dir}/lineitem.parquet",
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float)),
            "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
            "l_shipdate": pa.array(
                _days("1995-01-02", rng.integers(0, 2499, n_line)), pa.timestamp("us")
            ),
        },
    )
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us")
    _write(
        f"{sf_dir}/events.parquet",
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": pa.array(
                rng.choice(["click", "error", "purchase", "signup", "view"], n_ev)
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        },
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_tok = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_tok)))
    _write(
        f"{sf_dir}/documents.parquet",
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
    )
    vecs = rng.standard_normal((n_vec, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        f"{sf_dir}/embeddings.parquet",
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
        },
    )
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_ev, "documents": n_doc, "embeddings": n_vec,
    }


def _passes_quality(name: str, acctbal: float, segment: str) -> bool:
    return acctbal >= 0 and len(name.strip()) > 0 and segment in SEGMENTS


def warehouse_extract(
    out_dir: str, sf_dir: str, rng: np.random.Generator
) -> tuple[str, str, int, int, int, dict, list]:
    """Customer CSV extract with seeded defects, plus the SCD change
    batches (one per load period) in one parquet file."""
    cust = pq.read_table(f"{sf_dir}/customer.parquet").to_pylist()
    csv_path = os.path.join(out_dir, "extract", "customer.csv")
    os.makedirs(os.path.dirname(csv_path), exist_ok=True)
    corrupt = quarantined = 0
    clean: dict[int, tuple[str, int]] = {}
    with open(csv_path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"])
        for row in cust:
            key, name, nation = row["c_custkey"], row["c_name"], row["c_nationkey"]
            acct, seg = f"{row['c_acctbal']:.2f}", row["c_mktsegment"]
            u = rng.random()
            if u < 0.02:  # unparseable number -> corrupt-record channel
                w.writerow([key, name, nation, "n/a", seg])
                corrupt += 1
                continue
            if u < 0.03:  # missing name (empty field reads as NULL)
                name = ""
            elif u < 0.04:
                seg = "UNKNOWN"
            w.writerow([key, name, nation, acct, seg])
            if _passes_quality(name, float(acct), seg):
                clean[key] = (seg, nation)
            else:
                quarantined += 1

    changes_dir = os.path.join(out_dir, "changes")
    os.makedirs(changes_dir, exist_ok=True)
    keys = sorted(clean)
    state = dict(clean)
    batches = []
    next_new = NEW_KEY_OFFSET
    cols: dict[str, list] = {c: [] for c in ("c_custkey", "c_mktsegment", "c_nationkey", "load_date", "_ord")}
    for i, load in enumerate(CHANGE_LOADS):
        picked = rng.choice(keys, size=max(1, len(keys) // 10), replace=False)
        rows: dict[int, tuple[str, int]] = {}
        for k in sorted(int(x) for x in picked):
            seg, nation = state[k]
            if rng.random() < 0.5:
                seg = str(rng.choice(SEGMENTS))
            else:
                nation = int(rng.integers(0, 25))
            rows[k] = (seg, nation)
        for _ in range(max(1, len(keys) // 100)):
            rows[next_new] = (str(rng.choice(SEGMENTS)), int(rng.integers(0, 25)))
            next_new += 1
        state.update(rows)
        batches.append((load, rows))
        for j, k in enumerate(rows):
            cols["c_custkey"].append(k)
            cols["c_mktsegment"].append(rows[k][0])
            cols["c_nationkey"].append(rows[k][1])
            cols["load_date"].append(dt.date.fromisoformat(load))
            cols["_ord"].append(i * 10_000_000 + j)
    _write(
        os.path.join(changes_dir, "changes.parquet"),
        {
            "c_custkey": pa.array(cols["c_custkey"], pa.int64()),
            "c_mktsegment": pa.array(cols["c_mktsegment"]),
            "c_nationkey": pa.array(cols["c_nationkey"], pa.int32()),
            "load_date": pa.array(cols["load_date"], pa.date32()),
            "_ord": pa.array(cols["_ord"], pa.int64()),
        },
    )
    return csv_path, changes_dir, len(cust), corrupt, quarantined, clean, batches


def generate(out_dir: str, seed: int, scale: float) -> Inputs:
    """All inputs of every workload for ``(seed, scale)``."""
    sf_dir = os.path.join(out_dir, "star")
    star_schema(sf_dir, np.random.default_rng(STAR_SEED), scale)
    csv_path, changes_dir, n, corrupt, quarantined, clean, batches = (
        warehouse_extract(out_dir, sf_dir, np.random.default_rng(seed))
    )
    return Inputs(
        sf_dir=sf_dir,
        csv_path=csv_path,
        changes_dir=changes_dir,
        csv_rows=n,
        corrupt_rows=corrupt,
        quarantined_rows=quarantined,
        clean_attrs=clean,
        batches=batches,
    )
