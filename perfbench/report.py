"""Result record of one run, the trace fold, and the printed output."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from perfbench import tracing

#: per-layer metrics every workload reports from the trace:
#: (name, JobAgg field, scale, unit)
GENERIC = (
    ("spark.jobs", "jobs", 1, "count"),
    ("spark.stages", "stages", 1, "count"),
    ("spark.tasks", "tasks", 1, "count"),
    ("spark.executor_run_s", "executor_run_ms", 1e-3, "s"),
    ("spark.executor_cpu_s", "executor_cpu_ns", 1e-9, "s"),
    ("spark.gc_s", "gc_ms", 1e-3, "s"),
    ("spark.shuffle_write_bytes", "shuffle_write_bytes", 1, "bytes"),
    ("spark.spill_bytes", "spill_bytes", 1, "bytes"),
    ("scan.input_bytes", "input_bytes", 1, "bytes"),
    ("scan.input_rows", "input_rows", 1, "count"),
    ("scan.files_read", "files_read", 1, "count"),
)


#: per-layer units whose value on a workload that leaves the layer idle
#: is a true zero (times are never zero-filled)
IDLE_ZERO_UNITS = ("count", "rows", "bytes")


@dataclass
class Result:
    """What a workload measured.  ``e2e`` and ``layers`` map a metric
    name to ``(value, unit)`` or ``(value, unit, samples)``."""

    attempted: int = 0
    failed: int = 0
    mismatches: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    #: event-log group keys of micro-batches run inside the measured window
    measured_batches: list = field(default_factory=list)
    #: workload state its ``layer_metrics`` reads after the run
    stash: dict = field(default_factory=dict)

    @property
    def correct(self) -> bool:
        return not self.mismatches

    def timing(self, prefix: str, unit: str, values: list[float]) -> None:
        """Record ``<prefix>_p50_<unit>`` and the tail the stats rule
        allows, as ``<prefix>_p<N>_<unit>``."""
        from perfbench.stats import summarize

        s = summarize(values)
        n = s["n"]
        if n:
            self.e2e[f"{prefix}_p50_{unit}"] = (s["p50"], unit, n)
        if "tail" in s:
            self.e2e[f"{prefix}_p{s['tail_p']:g}_{unit}"] = (s["tail"], unit, n)


def subtree_jobs(spans, fold: dict) -> tracing.JobAgg:
    total = tracing.JobAgg()
    for s in spans:
        if s.id in fold:
            total.add(fold[s.id])
    return total


def measured_spans(spans) -> list:
    """Spans that ran inside the measured window, from any thread."""
    windows = [(s.start, s.end) for s in spans if s.name == "measure"]
    return [s for s in spans if any(lo <= s.start and s.end <= hi for lo, hi in windows)]


def fold_trace(result: Result, spans, event_log_dir: str) -> dict:
    """Attribute the event log to the measured spans and batches and fill
    the per-layer metrics every workload shares.  Returns the fold (group
    key -> JobAgg) for the workload's own per-layer metrics."""
    logs = [os.path.join(event_log_dir, f) for f in os.listdir(event_log_dir)]
    events = [e for path in logs for e in tracing.read_event_log(path)]
    fold = tracing.fold_event_log(events)
    measure = [s for s in spans if s.name == "measure"]
    measured = measured_spans(spans)
    total = subtree_jobs(measured, fold)
    for key in result.measured_batches:
        if key in fold:
            total.add(fold[key])
    for name, attr, scale, unit in GENERIC:
        result.layers[name] = (getattr(total, attr) * scale, unit)
    driver = sum(
        tracing.driver_seconds(s.start, s.end, total.task_intervals) for s in measure
    )
    result.layers["spark.driver_s"] = (driver, "s")
    for layer, secs in sorted(tracing.layer_self_times(measured).items()):
        result.layers[f"self_s.{layer}"] = (secs, "s")
    return fold


def _fmt(name: str, v) -> str:
    value, unit = v[0], v[1]
    n = f"  (n={v[2]})" if len(v) > 2 else ""
    return f"{name:<40} {value:>14.6g} {unit}{n}"


def emit(result: Result, context: dict, wanted: list, tracer, out_dir: str) -> int:
    """Print every metric, save the run record, print the JSON line."""
    if result.attempted < 1:
        print("no operation was attempted", flush=True)
        return 2
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{context['workload']}-s{context['seed']}-c{context['cores']}"
    result.e2e["error_rate"] = (result.failed / result.attempted, "ratio")
    print(f"# run context: {json.dumps(context, sort_keys=True)}")
    for name in sorted(result.e2e):
        print(_fmt(name, result.e2e[name]))
    if context["trace"]:
        for name in sorted(result.layers):
            print(_fmt(name, result.layers[name]))
        untraced = os.path.join(out_dir, f"{tag}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["e2e"]
            for name, v in sorted(result.e2e.items()):
                if name in base and name != "error_rate":
                    over = v[0] - base[name][0]
                    result.layers[f"overhead.{name}"] = (over, v[1])
                    print(_fmt(f"overhead.{name}", result.layers[f"overhead.{name}"]))
        tracer.dump(os.path.join(out_dir, f"{tag}-spans.json"))
    for m in result.mismatches[:20]:
        print(f"# MISMATCH {m}")
    print(f"correct: {result.correct}  attempted: {result.attempted}  failed: {result.failed}")
    with open(os.path.join(out_dir, f"{tag}-t{context['trace']}.json"), "w") as fh:
        json.dump(
            {
                "context": context,
                "correct": result.correct,
                "attempted": result.attempted,
                "failed": result.failed,
                "e2e": result.e2e,
                "layers": result.layers,
            },
            fh,
            indent=1,
        )
    source = result.layers if context["trace"] else result.e2e
    metrics = {}
    for m in wanted:
        if context["trace"] and m["name"] not in source and m["unit"] in IDLE_ZERO_UNITS:
            # a count of a layer this workload never calls is zero
            source[m["name"]] = (0, m["unit"])
        if m["name"] not in source:
            print(f"metric {m['name']} was not measured", flush=True)
            return 2
        metrics[m["name"]] = {"value": float(source[m["name"]][0]), "unit": m["unit"]}
    print(
        json.dumps(
            {
                "correct": result.correct,
                "attempted": result.attempted,
                "failed": result.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0
