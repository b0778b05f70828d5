"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload live_dau --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` they are its per-layer metrics, the Spark event log is
enabled, and the spans and the full per-layer record are written under
``.perfbench_out/``.  Every metric the workload measures is also printed
above that line, one per line, with its unit.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import probes  # noqa: E402

WORKLOADS = ("live_dau", "dashboard_reads", "order_cdc", "warehouse_batch")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
DRIVER_MEM_CAP_MB = 4096


class Context:
    """What a workload gets: the session, its seed and window, a private
    run directory, the tracer, the inputs its ``prepare`` made, and the
    measured-phase marks."""

    def __init__(self, args, run_dir: str, spark, tracer, inputs=None) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.setup_s: float | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def begin_measure(self) -> None:
        """Call right before the first measured operation."""
        self.setup_s = probes.seconds_since_process_start()


def pin_environment(cores: int, run_dir: str) -> None:
    """Everything Spark reads at JVM launch, set before pyspark starts."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    mem_mb = min(DRIVER_MEM_CAP_MB, probes.host_ram_mb() // 4)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def start_session(args, run_dir: str):
    from gmallrealtime02_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
    return get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)


def stop_jvm() -> None:
    """End the JVM pyspark launched and wait for it, so no process of the
    run outlives it.  The JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--cores", type=int, default=len(os.sched_getaffinity(0)),
        help="local[N] parallelism (default: the cores this process may use)",
    )
    return p.parse_args(argv)


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv) -> int:
    args = parse_args(argv)
    if args.seconds < 1:
        raise SystemExit("--seconds must be at least 1")
    spec = benchmark_spec()
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    run_dir = os.path.join(RUNS_DIR, f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    pin_environment(args.cores, run_dir)
    load_before = probes.loadavg()
    busy_before = probes.host_busy_share()
    cpu_before = probes.cpu_times()

    import importlib

    import pyspark

    from perfbench.report import emit, fold_trace
    from perfbench.tracing import Tracer

    module = importlib.import_module(f"perfbench.workloads.{args.workload}")
    spark = sampler = None
    # a workload's Spark-free input staging runs while the JVM starts
    pool = ThreadPoolExecutor(1)
    prepare = getattr(module, "prepare", None)
    staged = pool.submit(prepare, args.seed, run_dir) if prepare else None
    try:
        t0 = time.perf_counter()
        spark = start_session(args, run_dir)
        session_start_s = time.perf_counter() - t0
        sampler = probes.RssSampler([os.getpid(), probes.jvm_pid(spark)]).start()
        tracer = Tracer(spark.sparkContext if args.trace else None, enabled=bool(args.trace))
        ctx = Context(args, run_dir, spark, tracer, staged.result() if staged else None)
        result = module.run(ctx)
        peak_rss = sampler.stop()
        steal = probes.steal_share(cpu_before, probes.cpu_times())
        calibration = probes.calibration_sec(spark)
        result.e2e["setup_s"] = (ctx.setup_s, "s")
        result.e2e["peak_rss_mb"] = (peak_rss, "MB")
        result.layers["session.start_s"] = (session_start_s, "s")
        if args.trace:
            spark.stop()  # flushes the event log
            spark = None
            fold = fold_trace(result, tracer.spans, os.path.join(run_dir, "eventlog"))
            module.layer_metrics(result, tracer.spans, fold)
    finally:
        pool.shutdown()
        if sampler is not None:
            sampler.stop()
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)  # only when no other run is using it
        except OSError:
            pass
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "cores": args.cores,
        "pyspark": pyspark.__version__,
        "calibration_sec": calibration,
        "loadavg_before": load_before,
        "loadavg_after": probes.loadavg(),
        "host_busy_before": busy_before,
        "host_steal_share": steal,
        "loaded_host": busy_before >= probes.LOADED_SHARE or steal >= probes.LOADED_STEAL,
    }
    return emit(result, context, wanted, tracer, OUT_DIR)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
