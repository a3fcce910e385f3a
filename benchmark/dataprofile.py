"""Shape profile of a star-schema directory, and the check of the
generated inputs against the profile measured on the package's test data.

    python3 -m benchmark.dataprofile measure 0.01=DIR [0.1=DIR ...]
    python3 -m benchmark.dataprofile check [SCALE ...]

``measure`` profiles test-data directories (one per scale) and writes
them to ``testdata_profile.json``; ``check`` generates the inputs at each
recorded scale and prints every figure that differs from the record by
more than ``compare``'s tolerance.  ``datagen``'s parameters are set from
this record, and ``benchmark/tests`` runs the same check.

A profile holds, per table, the row count and per column the type, null
count, distinct count, min, mean and max (timestamps as microseconds),
plus the shape figures that set the cost of the package's operators:
fan-outs of the star schema, document length, vocabulary size,
near-duplicate share, language mix and embedding geometry.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import statistics
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
PROFILE_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata_profile.json")
# relative tolerance of the shape figures; absolute for the shares
SHAPE_REL_TOL = 0.1
SHARE_ABS_TOL = 0.1
DUP_ABS_TOL = 0.02


def _column(col: pa.ChunkedArray) -> dict:
    c: dict = {"type": str(col.type), "nulls": col.null_count}
    if pa.types.is_list(col.type):
        return c
    c["distinct"] = len(pc.unique(col))
    if pa.types.is_timestamp(col.type):
        col = col.cast(pa.int64())
    if pa.types.is_integer(col.type) or pa.types.is_floating(col.type):
        mm = pc.min_max(col)
        c["min"], c["max"] = mm["min"].as_py(), mm["max"].as_py()
        c["mean"] = pc.mean(col).as_py()
    return c


def _shape(tables: dict[str, pa.Table]) -> dict:
    def per_key(table: str, key: str) -> float:
        return tables[table].num_rows / len(pc.unique(tables[table].column(key)))

    texts = tables["documents"].column("text").to_pylist()
    toks = [t.split() for t in texts]
    lens = [len(t) for t in toks]
    known = set(texts)
    near_dup = sum(1 for t in texts if " " in t and t.rsplit(" ", 1)[0] in known)
    langs = collections.Counter(tables["documents"].column("lang").to_pylist())
    vecs = np.array(tables["embeddings"].column("embedding").to_pylist(), dtype=np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = unit[:500] @ unit.T
    np.fill_diagonal(sims[:, :500], -1.0)
    return {
        "lines_per_order": per_key("lineitem", "l_orderkey"),
        "orders_per_customer": per_key("orders", "o_custkey"),
        "events_per_user": per_key("events", "user_id"),
        "doc_tokens_mean": statistics.fmean(lens),
        "doc_tokens_min": min(lens),
        "doc_tokens_max": max(lens),
        "vocabulary": len({w for t in toks for w in t}),
        "near_dup_share": near_dup / len(texts),
        "lang_share": {k: v / len(texts) for k, v in sorted(langs.items())},
        "embedding_dim": vecs.shape[1],
        "embedding_norm_mean": float(np.linalg.norm(vecs, axis=1).mean()),
        "nearest_cos_median": float(np.median(sims.max(axis=1))),
    }


def profile(sf_dir: str) -> dict:
    tables = {t: pq.read_table(f"{sf_dir}/{t}.parquet") for t in TABLES}
    out = {
        t: {"rows": tb.num_rows, "columns": {c: _column(tb.column(c)) for c in tb.column_names}}
        for t, tb in tables.items()
    }
    out["shape"] = _shape(tables)
    return out


def _close(want: float, got: float, tol: float) -> bool:
    return abs(want - got) <= tol


def compare(want: dict, got: dict) -> list[str]:
    """Every figure of ``got`` that differs from ``want`` beyond tolerance.

    Row counts, types and null counts must be equal; distinct counts agree
    within 5% (or 2); min and max within 35% of the recorded range (5/rows
    on tables under 15 rows) and the mean within 3% of it (four standard
    errors of a uniform column on a small table), so a wrong value range
    or skew fails while the sampling noise of an extreme order statistic
    or a ten-row mean passes."""
    bad: list[str] = []
    for t in TABLES:
        w, g = want[t], got.get(t)
        if g is None:
            bad.append(f"{t}: missing")
            continue
        if w["rows"] != g["rows"]:
            bad.append(f"{t}: rows {g['rows']} != {w['rows']}")
        for name, wc in w["columns"].items():
            gc = g["columns"].get(name)
            where = f"{t}.{name}"
            if gc is None:
                bad.append(f"{where}: missing")
                continue
            for k in ("type", "nulls"):
                if wc[k] != gc[k]:
                    bad.append(f"{where}: {k} {gc[k]} != {wc[k]}")
            if "distinct" in wc and not _close(
                wc["distinct"], gc.get("distinct", -1), max(2, 0.05 * wc["distinct"])
            ):
                bad.append(f"{where}: distinct {gc.get('distinct')} != {wc['distinct']}")
            if "mean" in wc:
                span = (wc["max"] - wc["min"]) or 1
                edge_tol = max(0.35, 5 / w["rows"])
                mean_tol = max(0.03, 1.2 / w["rows"] ** 0.5)
                for k, tol in (("min", edge_tol), ("max", edge_tol), ("mean", mean_tol)):
                    if not _close(wc[k], gc[k], tol * span):
                        bad.append(f"{where}: {k} {gc[k]} != {wc[k]}")
    ws, gs = want["shape"], got["shape"]
    for k, wv in ws.items():
        gv = gs[k]
        if k == "lang_share":
            for lang, share in wv.items():
                if not _close(share, gv.get(lang, 0.0), SHARE_ABS_TOL):
                    bad.append(f"shape.{k}.{lang}: {gv.get(lang)} != {share}")
        elif k == "near_dup_share":
            if not _close(wv, gv, DUP_ABS_TOL):
                bad.append(f"shape.{k}: {gv} != {wv}")
        elif not _close(wv, gv, SHAPE_REL_TOL * abs(wv)):
            bad.append(f"shape.{k}: {gv} != {wv}")
    return bad


def recorded() -> dict[str, dict]:
    with open(PROFILE_PATH) as fh:
        return json.load(fh)


def check(scale: float) -> list[str]:
    """Generate the star schema at ``scale`` and compare it to the record."""
    from .datagen import STAR_SEED, star_schema

    with tempfile.TemporaryDirectory() as tmp:
        star_schema(tmp, np.random.default_rng(STAR_SEED), scale)
        return compare(recorded()[f"{scale:g}"], profile(tmp))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    m = sub.add_parser("measure", help="profile SCALE=DIR test-data directories")
    m.add_argument("dirs", nargs="+", metavar="SCALE=DIR")
    c = sub.add_parser("check", help="compare generated inputs with the record")
    c.add_argument("scales", nargs="*", type=float)
    args = ap.parse_args(argv)
    if args.cmd == "measure":
        out = {}
        for item in args.dirs:
            scale, path = item.split("=", 1)
            out[f"{float(scale):g}"] = profile(path)
        with open(PROFILE_PATH, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
        return 0
    failed = 0
    for scale in args.scales or [float(s) for s in recorded()]:
        bad = check(scale)
        failed += len(bad)
        print(f"scale {scale:g}: " + ("matches the record" if not bad else f"{len(bad)} differences"))
        for line in bad:
            print(f"  {line}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
