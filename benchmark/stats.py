"""Repeat and compare modes.

``--repeat N`` runs each selected workload N times, each in a fresh
process with seeds ``seed .. seed+N-1``, saves every run's result line to
a result set (JSON) and prints each metric's median, quartiles and spread
(quartile distance over median), the figure the bounds in BENCHMARK.json
are set from.  ``--workload all`` without ``--repeat`` is one run of each
workload, printed as one table.

``--compare PARENT CHANGE`` reads two result sets and prints, per workload
and metric, both medians and quartiles, the change's relative difference,
and the share of seed-matched pairs the change won.  A metric whose
spread on either side exceeds its bound is marked ``unresolved``; one
whose change median is worse than the parent's by more than the bound is
marked ``WORSE``.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def spread(values: list[float]) -> float:
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def _one(script: str, workload: str, seed: int, args) -> dict:
    cmd = [
        sys.executable, script, "--workload", workload, "--seed", str(seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--scale", str(args.scale),
    ]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = None
    if proc.returncode != 0 or result is None:
        sys.stderr.write(proc.stderr[-3000:])
    return {"workload": workload, "seed": seed, "trace": args.trace, "exit": proc.returncode,
            "wall_s": wall, "result": result}


def repeat(args, script: str) -> int:
    names = [w["name"] for w in spec()["workloads"]]
    workloads = names if args.workload == "all" else [args.workload]
    n = max(1, args.repeat)
    runs = []
    for i in range(n):
        for w in workloads:
            run = _one(script, w, args.seed + i, args)
            runs.append(run)
            r = run["result"] or {}
            print(f"{w} seed={run['seed']} exit={run['exit']} wall={run['wall_s']:.1f}s "
                  f"correct={r.get('correct')} failed={r.get('failed')}/{r.get('attempted')}",
                  flush=True)
    out = args.out or os.path.join(ROOT, ".bench", "results", f"set-{int(time.time())}.json")
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(runs, fh, indent=1)
    summarize(runs)
    print(f"result set written to {out}")
    return 0 if all(r["exit"] == 0 for r in runs) else 1


def _values(runs: list[dict], workload: str) -> dict[str, tuple[str, list[float]]]:
    out: dict[str, tuple[str, list[float]]] = {}
    for run in runs:
        if run["workload"] != workload or not run["result"]:
            continue
        for name, m in run["result"]["metrics"].items():
            out.setdefault(name, (m["unit"], []))[1].append(m["value"])
    return out


def summarize(runs: list[dict]) -> None:
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    for w in dict.fromkeys(r["workload"] for r in runs):
        done = [r for r in runs if r["workload"] == w]
        failed = sum((r["result"] or {}).get("failed", 0) for r in done)
        attempted = sum((r["result"] or {}).get("attempted", 0) for r in done)
        print(f"\n{w}: {len(done)} runs, error_rate {failed}/{attempted}")
        print(f"  {'metric':28s} {'unit':>6s} {'median':>11s} {'q1':>11s} {'q3':>11s} "
              f"{'spread':>7s} {'bound':>6s}")
        for name, (unit, vals) in _values(runs, w).items():
            q1, med, q3 = quartiles(vals)
            b = bounds.get(name)
            print(f"  {name:28s} {unit:>6s} {med:11.4f} {q1:11.4f} {q3:11.4f} "
                  f"{spread(vals):7.3f} {'' if b is None else f'{b:6.2f}'}")


def compare(parent_path: str, change_path: str) -> int:
    with open(parent_path) as fh:
        parent = json.load(fh)
    with open(change_path) as fh:
        change = json.load(fh)
    metrics = {m["name"]: m for m in spec()["end_to_end"] + spec()["per_layer"]}
    worse = 0
    for w in dict.fromkeys(r["workload"] for r in parent + change):
        a, b = _values(parent, w), _values(change, w)
        seeds_a = {r["seed"]: r for r in parent if r["workload"] == w and r["result"]}
        seeds_b = {r["seed"]: r for r in change if r["workload"] == w and r["result"]}
        pairs = sorted(set(seeds_a) & set(seeds_b))
        print(f"\n{w}: parent {len(seeds_a)} runs, change {len(seeds_b)} runs, {len(pairs)} pairs")
        print(f"  {'metric':28s} {'parent median [q1, q3]':>34s} {'change median [q1, q3]':>34s} "
              f"{'diff':>7s} {'won':>5s}  verdict")
        for name in [n for n in metrics if n in a and n in b]:
            m = metrics[name]
            lower = m["better"] == "lower"
            qa, qb = quartiles(a[name][1]), quartiles(b[name][1])
            diff = qb[1] / qa[1] - 1 if qa[1] else 0.0
            wins = 0
            for s in pairs:
                va = seeds_a[s]["result"]["metrics"][name]["value"]
                vb = seeds_b[s]["result"]["metrics"][name]["value"]
                wins += (vb < va) if lower else (vb > va)
            verdict = ""
            bound = m.get("bound")
            if bound is not None:
                if max(spread(a[name][1]), spread(b[name][1])) > bound:
                    verdict = "unresolved"
                elif (diff if lower else -diff) > bound:
                    verdict = "WORSE"
                    worse += 1
                else:
                    verdict = "within bound"
            print(f"  {name:28s} {qa[1]:11.4f} [{qa[0]:9.4f}, {qa[2]:9.4f}] "
                  f"{qb[1]:11.4f} [{qb[0]:9.4f}, {qb[2]:9.4f}] {diff:+7.1%} "
                  f"{wins}/{len(pairs):<3d}  {verdict}")
    return 1 if worse else 0
