"""Run one benchmark workload and print its metrics.

    python3 benchmark/run.py --workload warehouse --seed 1 --seconds 5 --trace 0

Load model: a closed loop with one client.  Operations run back to back
from this driver process on ``local[nproc]``; a pass runs every operation
of the workload once, in an order drawn from ``--seed``.  Set-up (process
start, Spark session, input generation, one warm-up pass) is timed as
``setup_s``; then passes repeat until ``--seconds`` of pass time have been
measured (at least one pass).  Every operation's output is checked outside
the timed region; a wrong output or an exception counts as failed, and any
failure makes the exit code non-zero.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` wraps the
package's layers in spans and prints the per-layer metrics instead, and
writes the spans to ``.bench/results/``.  The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.

Other modes: ``--workload all`` runs every workload in its own process and
prints one table; ``--repeat N`` runs N seeds per workload and saves the
result set; ``--compare A B`` compares two saved result sets (see
``benchmark/stats.py``).
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from benchmark import engine  # noqa: E402
from benchmark.workloads import WORKLOADS  # noqa: E402

PACKAGE = engine.PACKAGE
DEFAULT_SCALE = 0.01
# set-up, the cold pass, the pass that crosses --seconds, the checks and
# the stop take about 50 s on 4 cores; the run is aborted past this plus
# twice the measured seconds
DEADLINE_BASE_S = 165
E2E_UNITS = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s", "peak_rss_mb": "MB",
}


def hd_quantile(xs: list[float], p: float, steps: int = 4000) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a Beta-weighted mean
    of all order statistics.  With the few heterogeneous operations of a
    pass it does not jump from one operation's latency to the next the
    way a single order statistic does."""
    xs = sorted(xs)
    n = len(xs)
    if n == 1:
        return xs[0]
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    # midpoint-rule Beta(a, b) mass of each interval ((i-1)/n, i/n]
    w = [0.0] * n
    for k in range(steps):
        t = (k + 0.5) / steps
        w[min(n - 1, int(t * n))] += math.exp(
            log_norm + (a - 1) * math.log(t) + (b - 1) * math.log1p(-t)
        )
    total = sum(w)
    return sum(wi * x for wi, x in zip(w, xs)) / total


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _dir_mb(path: str) -> float:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / engine.MB


class Runner:
    """One workload in one process: set-up, warm-up, timed passes, checks."""

    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.ops = WORKLOADS[args.workload]
        self.records: list[dict] = []  # one per operation executed
        self.passes: list[dict] = []  # one per pass
        self.verify_s = 0.0  # time spent reducing outputs, kept off every clock
        self.spark = None

    # -- set-up -------------------------------------------------------------
    def setup(self) -> dict[str, float]:
        from business_intelligence_and_data_warehouse_spark.session import get_spark

        from benchmark import datagen

        a = self.args
        t = time.perf_counter()
        self.spark = get_spark(
            app_name=f"bench-{a.workload}",
            cpus=_cpus(),
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.local.dir": os.path.join(self.work, "spark-local"),
            },
        )
        session_s = time.perf_counter() - t
        t = time.perf_counter()
        self.inputs = datagen.generate(os.path.join(self.work, "inputs"), a.seed, a.scale)
        inputs_s = time.perf_counter() - t
        probe = engine.EngineProbe(self.spark) if a.trace else None
        self.tracer = engine.Tracer(f"{a.workload}-s{a.seed}-{os.getpid()}", probe)
        if a.trace:
            engine.instrument(self.tracer)
        self.run_span = self.tracer.span("run", "run", "bench", workload=a.workload, seed=a.seed)
        self.run_span.__enter__()
        t = time.perf_counter()
        v0 = self.verify_s
        self.run_pass(0)
        # start the clock on empty heaps, not on the cold pass's garbage
        self.spark.sparkContext._jvm.System.gc()
        gc.collect()
        warmup_s = time.perf_counter() - t - (self.verify_s - v0)
        return {
            "setup_s": engine.process_age_s() - self.verify_s,
            "session_s": session_s,
            "inputs_s": inputs_s,
            "warmup_s": warmup_s,
        }

    # -- passes -------------------------------------------------------------
    def run_pass(self, n: int) -> None:
        from benchmark.workloads import Ctx, fresh_dir, observed, pass_order

        pdir = fresh_dir(os.path.join(self.work, "pass"))
        ctx = Ctx(self.spark, self.inputs, pdir, os.path.join(self.work, "warehouse"), self.tracer)
        v0 = self.verify_s
        sc = self.spark.sparkContext
        with self.tracer.span(f"pass{n}", "pass", "bench", warm_up=n == 0) as ps:
            for op in pass_order(self.args.workload, self.args.seed, n):
                rec = {"pass": n, "op": op.name, "error": None}
                with self.tracer.span(op.name, "operation", op.layer, metric=op.metric) as sp:
                    if self.args.trace:
                        sc.setJobGroup(f"{self.tracer.run_id}/{n}/{op.name}", op.name)
                    t = time.perf_counter()
                    try:
                        out = op.run(ctx)
                    except Exception:
                        rec["error"] = traceback.format_exc(limit=3)
                        out = None
                    rec["s"] = time.perf_counter() - t
                rec["span"] = sp
                self.tracer.attach_engine(sp)
                t = time.perf_counter()
                if rec["error"] is None:
                    try:
                        rec["observed"] = observed(out)
                    except Exception:
                        rec["error"] = traceback.format_exc(limit=3)
                self.verify_s += time.perf_counter() - t
                self.records.append(rec)
        t = time.perf_counter()
        info = {
            "pass": n,
            "span": ps,
            "write_mb": _dir_mb(os.path.join(self.work, "warehouse"))
            + _dir_mb(os.path.join(pdir, "fact_order_lines"))
            + _dir_mb(os.path.join(pdir, "quarantine")),
            "stream_batches": ctx.state.get("stream_batches", 0),
            "rows_versioned": ctx.state.get("rows_versioned", 0),
            "corrupt_rows": ctx.state.get("corrupt_rows", 0),
            "quarantined_rows": ctx.state.get("quarantined_rows", 0),
        }
        shutil.rmtree(pdir, ignore_errors=True)
        self.verify_s += time.perf_counter() - t
        info["s"] = ps.dur - (self.verify_s - v0)
        self.passes.append(info)

    def measure(self) -> None:
        spent, n = 0.0, 1
        while n == 1 or spent < self.args.seconds:
            self.run_pass(n)
            spent += self.passes[-1]["s"]
            n += 1

    # -- checks -------------------------------------------------------------
    def check(self) -> int:
        """Compare every recorded output with its expected value; returns
        the number of failed operations and prints each failure."""
        from benchmark import verify
        from benchmark.workloads import expected

        oracle = verify.Oracle(self.inputs.sf_dir, self.args.scale)
        want: dict[str, object] = {}
        failed = 0
        try:
            for rec in self.records:
                if rec["error"] is None:
                    name = rec["op"]
                    if name not in want:
                        try:
                            want[name] = expected(name, self.inputs, oracle)
                        except Exception:
                            want[name] = "oracle error: " + traceback.format_exc(limit=2)
                    if rec["observed"] != want[name]:
                        rec["error"] = f"output mismatch: got {rec['observed']} want {want[name]}"
                if rec["error"] is not None:
                    failed += 1
                    print(f"FAILED pass {rec['pass']} {rec['op']}: {rec['error']}", file=sys.stderr)
        finally:
            oracle.close()
        return failed

    # -- metrics ------------------------------------------------------------
    def timed(self) -> tuple[list[dict], list[dict]]:
        return (
            [p for p in self.passes if p["pass"] > 0],
            [r for r in self.records if r["pass"] > 0],
        )

    def end_to_end(self, setup: dict, peak_mb: float) -> dict[str, float]:
        passes, recs = self.timed()
        lat = [r["s"] for r in recs]
        return {
            "setup_s": setup["setup_s"],
            "pass_s": statistics.median(p["s"] for p in passes),
            "op_p50_s": hd_quantile(lat, 0.5),
            "op_p90_s": hd_quantile(lat, 0.9),
            "peak_rss_mb": peak_mb,
        }

    def per_layer(self, setup: dict, units: dict[str, str]) -> dict[str, float]:
        tr = self.tracer
        passes, _ = self.timed()
        per_pass: list[dict[str, float]] = []
        for p in passes:
            ps = p["span"]
            m: dict[str, float] = {k: 0.0 for k in units}
            ops = [sp for sp in tr.subtree(ps) if sp.kind == "operation"]
            for sp in ops:
                if sp.attrs.get("metric"):
                    m[sp.attrs["metric"]] += sp.dur
                eng = sp.attrs.get("engine", {})
                for k, v in eng.items():
                    key = f"engine.{k}"
                    m[key] = max(m[key], v) if k == "peak_exec_mem_mb" else m[key] + v
                m["cache.pinned_rdds"] = max(m["cache.pinned_rdds"], sp.attrs.get("pinned_rdds", 0))
                m["cache.pinned_mb"] = max(m["cache.pinned_mb"], sp.attrs.get("pinned_mb", 0.0))
            for sp in tr.subtree(ps):
                if sp.kind == "layer" and sp.layer == "plans":
                    key = "plans.construct_s" if sp.name.endswith(".construct") else "plans.execute_s"
                    m[key] += sp.dur
            for layer in ("operators.dedup", "operators.similarity", "operators.vocab",
                          "operators.curation", "sources.write"):
                m[f"{layer}_s"] += sum(sp.dur for sp in tr.outermost(ps, layer))
            for layer, s in tr.self_times(ps).items():
                key = f"self.{layer.split('.')[0]}_s"
                if key in m:
                    m[key] += s
            m["sources.write_mb"] = p["write_mb"] if self.args.workload == "warehouse" else 0.0
            m["streaming.batches"] = p["stream_batches"]
            m["streaming.s_per_batch"] = (
                m["streaming.sink_s"] / p["stream_batches"] if p["stream_batches"] else 0.0
            )
            m["scd.rows_versioned"] = p["rows_versioned"]
            m["sources.quarantined_rows"] = p["corrupt_rows"]
            m["etl.quarantined_rows"] = p["quarantined_rows"]
            m["trace.pass_s"] = p["s"]
            per_pass.append(m)
        out = {k: statistics.median(m[k] for m in per_pass) for k in units}
        out["session.start_s"] = setup["session_s"]
        out["engine.failed_tasks"] = sum(m["engine.failed_tasks"] for m in per_pass)
        overhead = self.tracer.overhead_s / max(1, len(self.passes))
        out["trace.overhead_s"] = overhead
        out["trace.overhead_pct"] = 100 * overhead / max(1e-9, out["trace.pass_s"] - overhead)
        return out


def _layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def _stop_spark(spark) -> None:
    """Stop the session, the py4j gateway and the JVM, and wait until the
    JVM and every process below it (the Python workers) have ended."""
    from pyspark import SparkContext

    started = [p for p in engine.descendants() if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _wait_gone(started)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids: list[int], grace_s: float = 10.0) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever outlives the grace."""
    deadline = time.time() + grace_s
    while True:
        left = [p for p in pids if _alive(p)]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + grace_s
        time.sleep(0.1)


def _watchdog(seconds: float, work: str) -> threading.Timer:
    """Kill the process tree, remove ``work`` and exit 3 after ``seconds``."""

    def fire():
        print(f"benchmark: run exceeded {seconds:.0f} s, aborting", file=sys.stderr, flush=True)
        pids = [p for p in engine.descendants() if p != os.getpid()]
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        _wait_gone(pids)
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    t = threading.Timer(seconds, fire)
    t.daemon = True
    t.start()
    return t


def run_once(args) -> int:
    if importlib.util.find_spec(PACKAGE) is None or not os.path.isfile(
        os.path.join(ROOT, "BENCHMARK.json")
    ):
        print(
            f"benchmark: package {PACKAGE!r} or BENCHMARK.json not found under {ROOT}; "
            "run from a full checkout",
            file=sys.stderr,
        )
        return 2
    bench_dir = os.path.join(ROOT, ".bench")
    work = os.path.join(bench_dir, f"work-{os.getpid()}")
    results = os.path.join(bench_dir, "results")
    for d in (work, results, os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    # keep every file the run writes inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # JAVA_TOOL_OPTIONS also reaches spark-submit's launcher JVM
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    ).strip()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None
    dog = _watchdog(DEADLINE_BASE_S + 2 * args.seconds, work)
    runner = Runner(args, work)
    try:
        setup = runner.setup()
        runner.measure()
        peak_mb = engine.peak_rss_mb()
        runner.run_span.__exit__(None, None, None)
        failed = runner.check()
        attempted = len(runner.records)
        if args.trace:
            units = _layer_units()
            metrics = runner.per_layer(setup, units)
        else:
            metrics = runner.end_to_end(setup, peak_mb)
            units = E2E_UNITS
        passes, timed = runner.timed()
        print(
            f"workload={args.workload} seed={args.seed} trace={args.trace} "
            f"scale={args.scale} cpus={_cpus()} timed_passes={len(runner.passes) - 1} "
            f"timed_ops={len(timed)} attempted={attempted} failed={failed}"
        )
        for k, v in metrics.items():
            print(f"  {k:28s} {v:12.4f} {units[k]}")
        for op in runner.ops:
            warm = [r["s"] for r in runner.records if r["op"] == op.name and r["pass"] == 0]
            times = [r["s"] for r in timed if r["op"] == op.name]
            print(f"  op {op.name:25s} warm-up {sum(warm):7.3f} s  timed median "
                  f"{statistics.median(times):7.3f} s (n={len(times)})")
        print("  timed pass s: " + " ".join(f"{p['s']:.3f}" for p in passes))
        print(f"  {'error_rate':28s} {failed / attempted:12.4f} ({failed}/{attempted})")
        if args.trace:
            path = os.path.join(results, f"trace-{runner.tracer.run_id}.json")
            with open(path, "w") as fh:
                json.dump(
                    {"workload": args.workload, "seed": args.seed, "setup": setup,
                     "metrics": metrics, "spans": runner.tracer.to_json()},
                    fh,
                )
            print(f"  spans written to {os.path.relpath(path, ROOT)}")
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
                }
            ),
            flush=True,
        )
        return 0 if failed == 0 else 1
    finally:
        if runner.spark is not None:
            _stop_spark(runner.spark)
        shutil.rmtree(work, ignore_errors=True)
        dog.cancel()


def parse(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=[*WORKLOADS, "all"], default="all")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=DEFAULT_SCALE,
                   help="scale factor of the generated star schema")
    p.add_argument("--repeat", type=int, default=0,
                   help="run each workload this many times, seeds seed..seed+N-1")
    p.add_argument("--out", help="result-set file written by --repeat / --workload all")
    p.add_argument("--compare", nargs=2, metavar=("PARENT", "CHANGE"),
                   help="compare two result sets written by --repeat")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if args.compare:
        from benchmark import stats

        return stats.compare(*args.compare)
    if args.repeat or args.workload == "all":
        from benchmark import stats

        return stats.repeat(args, os.path.abspath(__file__))
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())
