"""warehouse_batch: analysts' batch answers — the ten ``bench.py``
HEADLINE registry queries through the noop sink: one cold pass in the fresh
session, then warm repeats for the window.  It stresses ``plans``,
``operators`` and ``functions``, and scan volume in ``sources``.

Each query's rows must hash-match its registry DuckDB oracle; that check is
the untimed pass between the cold pass and the warm repeats.  The
``scaled_*`` twins are left out: they took 337 s of wall time per pass on
4 cores.
"""

from __future__ import annotations

import statistics
import time

from bench import HEADLINE

SCALE = 0.1


def prepare(seed: int, run_dir: str) -> str:
    """Spark-free set-up: the tables, as parquet."""
    import os

    from perfbench import datagen

    return datagen.write_tables(datagen.make_tables(seed, SCALE), os.path.join(run_dir, "sf"))


def run(ctx):
    from gmallrealtime02_spark.plans.registry import load_all
    from gmallrealtime02_spark.schemas import TESTDATA_TABLES
    from perfbench.oracle import duck_over, frame_hash
    from perfbench.report import Result

    spark, tr = ctx.spark, ctx.tracer
    res = Result()
    sf_dir = ctx.inputs
    queries = load_all()

    def timed(name: str, label: str) -> float:
        with tr.span(f"query.{name}", "plans", request=label):
            t0 = time.perf_counter()
            queries[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
        spark.catalog.clearCache()
        return dt

    ctx.begin_measure()
    cold = {}
    with tr.span("measure", "bench"):
        with tr.span("cold pass", "bench"):
            for name in HEADLINE:
                cold[name] = timed(name, "cold")
    # untimed: every query's rows against its registry oracle
    con = duck_over(sf_dir, TESTDATA_TABLES)
    for name in HEADLINE:
        got = frame_hash(queries[name].fn(spark, sf_dir).toPandas())
        want = frame_hash(con.execute(queries[name].oracle).fetchdf())
        if got != want:
            res.mismatches.append(f"{name}: rows differ from the registry oracle")
        spark.catalog.clearCache()
    warm: dict = {name: [] for name in HEADLINE}
    deadline = time.monotonic() + ctx.seconds
    passes = 0
    with tr.span("measure", "bench"):
        while passes == 0 or time.monotonic() < deadline:
            with tr.span(f"warm pass {passes}", "bench"):
                for name in HEADLINE:
                    warm[name].append(timed(name, f"warm-{passes}"))
            passes += 1
    res.attempted = len(HEADLINE) * (2 + passes)
    res.failed = len(res.mismatches)
    warm_med = {n: statistics.median(v) for n, v in warm.items()}
    res.e2e["batch_cold_s"] = (sum(cold.values()), "s", len(HEADLINE))
    res.e2e["batch_warm_s"] = (sum(warm_med.values()), "s", passes)
    all_warm = [x for v in warm.values() for x in v]
    res.e2e["latency_p50_ms"] = (statistics.median(all_warm) * 1e3, "ms", len(all_warm))
    res.e2e["throughput_per_s"] = (len(all_warm) / sum(all_warm), "queries/s", len(all_warm))
    for name in HEADLINE:
        res.layers[f"query.{name}.cold_s"] = (cold[name], "s")
        res.layers[f"query.{name}.warm_s"] = (warm_med[name], "s", passes)
    return res


def layer_metrics(res, spans, fold) -> None:
    """plans/operators/functions: Spark work of the warm passes."""
    from perfbench.report import subtree_jobs
    from perfbench.tracing import driver_seconds

    warm = [s for s in spans if s.name.startswith("query.") and s.request.startswith("warm")]
    a = subtree_jobs(warm, fold)
    L = res.layers
    L["batch.jobs"] = (a.jobs, "count")
    L["batch.stages"] = (a.stages, "count")
    L["batch.tasks"] = (a.tasks, "count")
    L["batch.executor_run_s"] = (a.executor_run_ms / 1e3, "s")
    L["batch.executor_cpu_s"] = (a.executor_cpu_ns / 1e9, "s")
    L["batch.executor_gc_s"] = (a.gc_ms / 1e3, "s")
    L["batch.shuffle_write_bytes"] = (a.shuffle_write_bytes, "bytes")
    L["batch.spill_bytes"] = (a.spill_bytes, "bytes")
    L["batch.driver_s"] = (
        sum(driver_seconds(s.start, s.end, fold[s.id].task_intervals if s.id in fold else [])
            for s in warm),
        "s",
    )
