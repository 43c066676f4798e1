"""Benchmark of the lakehouse engine: one workload per invocation.

Usage, from the repository root:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The run generates its inputs from the seed (cached under ``.perfbench/``
at the repository root, outside the timed region), sets up a Spark
session five times, then runs passes of the workload as a closed loop
with one client until ``S`` seconds have gone (at least one pass). It then
checks the outputs, prints one JSON line and stops the JVM. The exit code is 0 only when every op succeeded and every check
held.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` reports the per-layer metrics, from spans the benchmark
records around its calls into each layer plus Spark's own counters, and
runs the pinned host canary before and after the window. A per-layer
metric of a layer the workload never calls reads 0.

Session: ``local[<cores>]`` with the engine's ``get_spark`` (cores =
CPUs this process may use; 2 GiB driver heap).
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

import numpy as np  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, ROOT)

SETUPS = 5


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def hd_quantile(xs: list[float], p: float) -> float:
    """Harrell-Davis estimate of the p-quantile: a beta-weighted mean of
    all order statistics. A pass has a few dozen ops of unlike kinds, so
    the plain order statistic jumps between neighbours far apart; this
    estimate moves smoothly."""
    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    if n == 0:
        return 0.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = (np.arange(n * 1000) + 0.5) / (n * 1000)  # 1000 cells per stat
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    w = np.exp(log_pdf - log_pdf.max()).reshape(n, 1000).sum(axis=1)
    return float(w @ x / w.sum())


def canary(spark) -> float:
    """``bench.py``'s pinned host-speed shape: 10M rows, multiplicative
    hash into 2^20 groups, hash aggregate, sort; JVM-only."""
    t0 = time.perf_counter()
    (spark.range(10_000_000)
     .selectExpr("(id * 2654435761) % 1048576 AS k", "id % 9973 AS v")
     .groupBy("k").sum("v")
     .orderBy("k")
     .write.format("noop").mode("overwrite").save())
    return time.perf_counter() - t0


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]

    state = os.path.join(ROOT, ".perfbench")
    dirs = {k: os.path.join(state, k)
            for k in ("data", "spark-local", "tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "TMPDIR": dirs["tmp"],
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']}",
    })
    tempfile.tempdir = dirs["tmp"]

    from procstat import ProcessTree
    from spans import Tracer
    from sparkstats import SparkCounters
    from workloads import WORKLOADS

    from redshift_to_lakehouse_migration_spark.session import get_spark

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"known: {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]

    t0 = time.perf_counter()
    inp = wl.inputs(dirs["data"], args.seed)
    generate_s = time.perf_counter() - t0

    # Set-up: session start + warm-up, SETUPS times; setup_s is the median.
    # The first also pays the imports and the JVM launch (process start ->
    # ready, minus input generation); each later one stops the SparkContext
    # (untimed) and builds a new one in the same JVM, so the median is a
    # warm-JVM set-up. A set-up that launches its own JVM takes ~10 s on a
    # 4-core host, so five of them would add ~40 s to a ~50 s run; the JVM
    # launch is reported as session.cold_start_s instead.
    spark, counters, setups = None, None, []
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t1 = time.perf_counter()
        t0 = PROCESS_START if i == 0 else t1
        spark = get_spark("perfbench")
        t2 = time.perf_counter()
        if args.trace:
            counters = SparkCounters(spark)
            first_job = counters.next_job_id()
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        wl.warm_up(spark, inp)
        t3 = time.perf_counter()
        setups.append((t3 - t0 - (generate_s if i == 0 else 0.0),
                       t2 - t1, t3 - t2))
    if args.trace:
        counters.check_positive(first_job, counters.next_job_id())

    procs = ProcessTree()
    tracer = Tracer(counters)
    work = tempfile.mkdtemp(prefix=f"{wl.name}-", dir=dirs["tmp"])
    layer_runs: dict[str, list[float]] = {}
    if args.trace:
        canary(spark)  # untimed: pays the shape's codegen and JIT warm-up
        canary_first = canary(spark)

    passes, walls, cpus, overhead = [], [], [], []
    # peak RSS of the window only: not input generation (skipped for a
    # cached seed), set-up or the canary
    procs.reset_peak()
    window = time.perf_counter()
    while not passes or time.perf_counter() - window < args.seconds:
        traced0 = tracer.begin_pass()
        cpu0 = procs.cpu_s()
        t0 = time.perf_counter()
        with tracer.span("pass", workload=wl.name, n=len(passes)):
            res = wl.run_pass(spark, inp, tracer, work)
        walls.append(time.perf_counter() - t0)
        cpus.append(procs.cpu_s() - cpu0)
        layer = {}
        if args.trace:
            layer.update(tracer.end_pass(walls[-1], cores))
            spent = tracer.overhead_s - traced0
            overhead.append(spent / (walls[-1] - spent))
        wl.after_pass(spark, inp, res, work)
        passes.append(res)
        for r in res.values():
            layer.update(r.layer)
        for k, v in layer.items():
            layer_runs.setdefault(k, []).append(v)

    peak_rss_mb = procs.peak_rss_mb()
    canary_last = canary(spark) if args.trace else 0.0
    problems, quality = wl.check(spark, inp, passes)
    _stop(spark)
    shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)

    ops = [x for p in passes for r in p.values() for x in r.ops]
    failed = sum(r.failed for p in passes for r in p.values())
    attempted = len(ops) + failed
    if args.trace:
        metrics = {k: _median(v) for k, v in layer_runs.items()}
        metrics.update(quality)
        metrics.update({
            "session.start_s": _median([s[1] for s in setups]),
            "session.warmup_s": _median([s[2] for s in setups]),
            "session.cold_start_s": setups[0][0],
            "inputs.generate_s": generate_s,
            "host.canary_first_s": canary_first,
            "host.canary_last_s": canary_last,
            "trace.overhead_frac": _median(overhead),
            "peak_rss_mb": peak_rss_mb,
            "failed_frac": failed / attempted if attempted else 0.0,
            "wrong_results": len(problems),
        })
    else:
        metrics = {
            "setup_s": _median([s[0] for s in setups]),
            "pass_s": _median(walls),
            "op_p50_s": hd_quantile(ops, 0.5),
            "op_p90_s": hd_quantile(ops, 0.9),
            "cpu_s": _median(cpus),
        }
    names = {m["name"]: m["unit"] for m in declared}
    unknown = sorted(set(metrics) - set(names))
    if unknown:
        raise RuntimeError(f"metrics not declared in BENCHMARK.json: "
                           f"{unknown}")
    print(json.dumps({
        "correct": not problems and failed == 0,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {n: {"value": metrics.get(n, 0.0), "unit": u}
                    for n, u in names.items()},
    }))
    return 0 if not problems and failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
