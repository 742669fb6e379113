"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|ingest --seed N \\
        --seconds S --trace 0|1

Run from the root of a source checkout. Generates the inputs from the
seed, starts one Spark session on ``local[N]`` (N = min(4, usable cores)),
runs the workload and prints two lines on stdout: a JSON description of
the run (setup, sample counts, per-operation percentiles, checks), then
the result object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer counters of ``spans.py``. Everything the run writes lives under
``.perfbench_work/`` in the checkout and is removed before exit. A failed
output check exits with code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "graph_database_application_for_recommendations_spark"
WORKLOADS = ("serve", "ingest")
# scale factor of the generated inputs (sf1 = 6M line items): 1.5k users,
# 2k books, ~55k ratings. Serving cost here is per-query fixed cost, as in
# the app; sf0.1 made one set-up (a full offline build) take ~20 s cold,
# too long to repeat within a run
SF = 0.01
MAX_CORES = 4
DRIVER_MEMORY = "2g"


def _configure_env(work: str, cores: int) -> None:
    """Keep the JVM and Python temp files inside ``work``; must run before
    the JVM starts."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    java_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f'--driver-java-options "{java_opts}"',
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ])


def _setup_description(spark, args, cores: int) -> dict:
    sc = spark.sparkContext
    import pyspark

    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": SF,
        "nproc": os.cpu_count(), "usable_cores": cores, "master": sc.master,
        "spark.defaultParallelism": sc.defaultParallelism,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.driver.memory": sc.getConf().get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def _end_to_end(run, spark) -> tuple[dict, dict]:
    """The end-to-end metrics and the sample counts behind them."""
    from stats import summarize
    from workloads import cached_mb

    all_ops = [x for xs in run.latencies.values() for x in xs]
    if not all_ops:
        raise RuntimeError("no operation completed in the measured window")
    lat = summarize(all_ops)
    metrics = {
        "latency_p50_ms": (lat["p50"] * 1000, "ms"),
        "ops_per_s": (len(all_ops) / run.window_s, "1/s"),
        "setup_s": (statistics.median(run.setup_s), "s"),
        "cached_mb": (cached_mb(spark), "MB"),
    }
    samples = {
        "latency_ms": _in_ms(lat),
        "per_op_ms": {op: _in_ms(summarize(xs)) for op, xs in run.latencies.items()},
        "per_call_ms": {c: _in_ms(summarize(xs)) for c, xs in run.calls.items()},
        "setup_s": [round(s, 3) for s in run.setup_s],
        "window_s": round(run.window_s, 3),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, samples


def _in_ms(summary: dict) -> dict:
    return {k: round(v * 1000, 3) if isinstance(v, float) else v for k, v in summary.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    # a terminated run still stops its JVM and removes its files (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        _configure_env(work, cores)
        return _run(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, cores: int) -> int:
    import datagen

    data_dir = os.path.join(work, "data")
    datagen.generate(data_dir, SF, args.seed)

    from pyspark import SparkContext

    from graph_database_application_for_recommendations_spark.session import get_spark

    spark = get_spark("perfbench", cores)
    gateway = SparkContext._gateway
    try:
        spark.sparkContext.setLogLevel("ERROR")
        import workloads
        from spans import Tracer

        tracer = Tracer(spark, enabled=bool(args.trace))
        t0 = time.perf_counter()
        run = getattr(workloads, args.workload)(
            spark, data_dir, work, args.seed, args.seconds, tracer)
        if run.problems:
            metrics, samples = {}, {}
        else:
            metrics, samples = _end_to_end(run, spark)
        if args.trace:
            traced = metrics
            metrics = tracer.metrics()
            # the traced run's own end-to-end figures: against an untraced
            # run they give the tracing overhead
            for name in ("latency_p50_ms", "setup_s"):
                if name in traced:
                    metrics[f"trace.{name}"] = traced[name]
        description = _setup_description(spark, args, cores)
        description.update(samples=samples, info=run.info, problems=run.problems,
                           workload_s=round(time.perf_counter() - t0, 3))
    finally:
        spark.stop()
        _stop_jvm(gateway)
    print(json.dumps(description, default=str))
    print(json.dumps({"correct": not run.problems, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if not run.problems else 1


def _stop_jvm(gateway) -> None:
    """Shut the py4j gateway and wait for its JVM process to exit."""
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
