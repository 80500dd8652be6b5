"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The run generates its inputs from the
seed, starts a local Spark session (one core per CPU this process may use),
builds what the workload needs, then runs the workload's closed loop for
``--seconds`` and checks every result.  With ``--trace 0`` the last stdout
line holds the end-to-end metrics named in BENCHMARK.json; with
``--trace 1`` it holds the per-layer metrics, and the spans are written to
``.bench_work/traces/``.  Everything the run writes stays under
``.bench_work/`` in the checkout.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
import traceback

from tracing import SparkCounters, Tracer, median, tree_peak_rss_mb
from workloads import WORKLOADS, Run

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "chat_data_pipeline_spark"
DRIVER_MEMORY = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["curate", "serve"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full")
    return p.parse_args(argv)


def configure_environment(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``, and let the workers import the package from the checkout."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "TMPDIR": os.path.join(work, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        }
    )


def start_session(work: str):
    from chat_data_pipeline_spark import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
            "spark.ui.showConsoleProgress": "false",
            # keep every job in the status store for window attribution
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )


def warm_workers(spark) -> None:
    """Spawn the Python workers every task slot will reuse."""
    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism
    plus_one = F.pandas_udf(lambda s: s + 1, "long")
    spark.range(0, 4 * n, 1, n).select(plus_one("id")).collect()


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def closed_loop(w, seconds: float, traced: bool) -> list[dict]:
    """Issue operations back to back until ``seconds`` have passed and the
    workload's minimum of warm operations ran.  Operation 0 is the cold
    one.  Traced, odd operations run layer by layer and even ones plain,
    at least one of each."""
    tracer = w.run.tracer
    ops: list[dict] = []
    start = time.perf_counter()
    i = 0
    min_ops = 1 + max(w.min_warm, 2 if traced else 1)
    while i < min_ops or time.perf_counter() - start < seconds:
        kind = "cold" if i == 0 else ("traced" if traced and i % 2 else "plain")
        tracer.new_trace()
        rec = {"index": i, "kind": kind, "start": time.time()}
        t0 = time.perf_counter()
        try:
            with tracer.span("op", kind=kind, index=i):
                (w.traced_op if kind == "traced" else w.op)(i)
            rec["wall_s"] = time.perf_counter() - t0
            rec["ok"] = w.check(i)
        except Exception:
            # one failed operation is counted, not fatal to the run
            rec["wall_s"] = time.perf_counter() - t0
            rec["ok"] = False
            w.run.errors.append(f"{w.name} op {i}: {traceback.format_exc()}")
        rec["end"] = rec["start"] + rec["wall_s"]
        ops.append(rec)
        i += 1
    return ops


def end_to_end(w, ops, setup_s: float, space_amp: float) -> dict:
    warm = [o["wall_s"] for o in ops if o["kind"] == "plain" and o["ok"]]
    op_s = median(warm)
    return {
        "setup_s": setup_s,
        "first_op_s": ops[0]["wall_s"],
        "op_p50_ms": op_s * 1e3,
        "rows_per_s": w.rows_per_op / op_s if op_s else 0.0,
        "space_amp": space_amp,
    }


def per_layer(w, ops, counters, names) -> dict:
    """Median of each per-layer series; Spark counters per plain warm
    operation; tracing overhead as traced over plain operation time.  A
    layer the workload never calls reads 0."""
    layers = dict(w.run.layers)
    plain = [o for o in ops if o["kind"] == "plain"]
    for o in plain:
        for key, val in counters.window(o["start"], o["end"]).items():
            layers.setdefault("spark." + key, []).append(val)
    for sp in w.run.tracer.spans:
        if sp["name"] == "dedup.minhash":
            c = counters.window(sp["start"], sp["end"])
            layers.setdefault("dedup.jobs", []).append(c["jobs"])
            layers.setdefault("dedup.shuffle_bytes", []).append(
                c["shuffle_read_bytes"] + c["shuffle_write_bytes"]
            )
    traced = [o["wall_s"] for o in ops if o["kind"] == "traced"]
    plain_s = median([o["wall_s"] for o in plain])
    layers["trace.overhead_ratio"] = [median(traced) / plain_s if plain_s else 0.0]
    return {n: median(layers.get(n, [])) for n in names}


def write_trace(w, ops, counters, path: str) -> None:
    """Spans with their self time and Spark counters, plus a summary of
    median self time per span name."""
    tracer = w.run.tracer
    for sp in tracer.spans:
        sp["spark"] = counters.window(sp["start"], sp["end"])
    tracer.dump(path)
    self_s = tracer.self_seconds()
    by_name: dict[str, list[float]] = {}
    for sp in tracer.spans:
        by_name.setdefault(sp["name"], []).append(self_s[sp["id"]])
    summary = {
        "ops": [{k: o[k] for k in ("index", "kind", "wall_s", "ok")} for o in ops],
        "self_s_median": {k: median(v) for k, v in sorted(by_name.items())},
        "layers": {k: v for k, v in sorted(w.run.layers.items())},
    }
    with open(path.replace(".jsonl", ".summary.json"), "w") as f:
        json.dump(summary, f, indent=1)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(
            f"perfbench: no {PACKAGE}/ package beside perfbench/ in {ROOT}; "
            "run from a full checkout",
            file=sys.stderr,
        )
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bench_dir = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_dir, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    configure_environment(work)
    # the package is imported from this checkout, never from elsewhere
    sys.path.insert(0, ROOT)

    run = Run(
        seed=args.seed,
        size=args.size,
        in_dir=os.path.join(work, "in"),
        work_dir=os.path.join(work, "out"),
        tracer=Tracer(bool(args.trace)),
    )
    w = WORKLOADS[args.workload](run)
    # input generation is excluded from every metric
    w.generate()

    try:
        t0 = time.perf_counter()
        run.spark = start_session(work)
        start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm_workers(run.spark)
        warm_s = time.perf_counter() - t0
        run.layer("session.start_s", start_s)
        run.layer("session.worker_warm_s", warm_s)
        setup_s = start_s + warm_s + w.setup()
        w.prepare()
        ops = closed_loop(w, args.seconds, bool(args.trace))
        space_amp = w.space_amp()
        counters = SparkCounters(run.spark)
        if args.trace:
            counters.snapshot()
            run.layer("memory.peak_rss_mb", tree_peak_rss_mb(os.getpid()))
    finally:
        if run.spark is not None:
            stop_session(run.spark)
    if args.trace:
        name = f"{args.workload}-seed{args.seed}.jsonl"
        write_trace(w, ops, counters, os.path.join(bench_dir, "traces", name))
        metrics = per_layer(w, ops, counters, [m["name"] for m in spec["per_layer"]])
    else:
        metrics = end_to_end(w, ops, setup_s, space_amp)

    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    failed = sum(not o["ok"] for o in ops)
    for err in run.errors:
        print(f"perfbench: {err}", file=sys.stderr)
    ok_values = all(math.isfinite(v) for v in metrics.values())
    result = {
        "correct": failed == 0 and not run.errors and ok_values,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in units},
    }
    print(
        f"perfbench: {args.workload} seed {args.seed}: {len(ops)} ops "
        f"({sum(o['kind'] == 'plain' for o in ops)} plain warm), "
        f"op seconds {[round(o['wall_s'], 2) for o in ops]}",
        file=sys.stderr,
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
