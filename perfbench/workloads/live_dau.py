"""live_dau: app logs over HTTP → ``LogCollector`` spool → ``start_dau_job``
→ the DAU ``ManifestTable`` — the reference's signature path (PAPER §0).

An open-loop generator in its own process POSTs reference-shaped startup
logs (``common.mid``, ``start``, ``ts``; FIXTURES §1.1).  Once the job is
warm it sends one burst and the job drains it; then it sends at a fixed
rate for the measured window.  Most window events come from devices new
to the day, spread evenly over it, so freshness is sampled all through it;
the rest come from a skewed set of devices and mostly repeat an
already-active (dt, mid).  A small share is stamped minutes
late, and the event clock crosses midnight mid-window so late events land
in the previous day; two startup events are stamped days late, behind
the job's watermark, so the job must drop them.  A benchmark thread polls
``ManifestTable.current_version()``; after the run, diffing the versions
gives the version (and so the instant) at which each (dt, mid) row first
became visible.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from datetime import datetime, timezone

import numpy as np

# Open-loop rate, events/s.  Each event is one spool file and a trigger's
# time grows with the files it reads, so a slowdown also makes the next
# trigger longer; at 10/s that feedback stays small.  At 20/s runs with
# 5-10% CPU steal had up to 1.8x the freshness of quiet runs, and at 40/s
# some runs fell behind for good (p50 8-10 s against 3.6 s).
RATE = 10
# Sent once the job is warm, before the window: 300 events drain in ~5 s.
BURST = 300
TIME_SCALE = 60  # event-time seconds per wall second
MIDNIGHT_MS = int(datetime(2024, 3, 2, tzinfo=timezone.utc).timestamp() * 1000)
NEW_SHARE = 0.7  # steady events from a device new to the day
LATE_SHARE = 0.05
LATE_MINUTES = (2, 15)
# Startup events per window stamped this far back: behind the 48 h
# watermark of the DAU job (which has seen the warm-up's day by then), so
# the job drops them.
EXPIRED_EVENTS = 2
EXPIRED_DAYS = 5
PAGE_SHARE = 0.1  # events without ``start``: routed away from the DAU job
STEADY_DEVICES = 300
BURST_DEVICES = 2000
WARM_ROUNDS = 2
WARM_EVENTS = 20
POLL_S = 0.01
SCHEMA = (
    "common struct<mid:string,uid:string,ar:string,ch:string,vc:string>, "
    "start string, ts long"
)


def _zipf_ids(rng, n: int, pool: int, a: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, pool + 1) ** a
    return rng.choice(pool, size=n, p=w / w.sum())


def _body(rng, mid: str, ts_ms: int, start: bool) -> dict:
    log = {
        "common": {
            "mid": mid,
            "uid": str(int(rng.integers(1, 500))),
            "ar": str(110000 + int(rng.integers(0, 30)) * 100),
            "ch": ["xiaomi", "huawei", "oppo", "appstore"][int(rng.integers(0, 4))],
            "vc": f"v2.{int(rng.integers(0, 4))}",
        },
        "ts": ts_ms,
    }
    if start:
        log["start"] = "icon"
    else:
        log["page"] = "home"
    return log


def dt_of(ts_ms: int) -> str:
    return datetime.fromtimestamp(ts_ms / 1000, tz=timezone.utc).date().isoformat()


def build_schedule(seed: int, seconds: float, rate: int = RATE, burst: int = BURST) -> dict:
    """The generator's inputs, all from ``seed``: warm-up bodies, and the
    burst + steady schedule as ``[offset_s, body]`` pairs with a parallel
    list of phases (each phase's offsets count from its own start).  The
    event clock crosses midnight halfway through the steady window."""
    rng = np.random.default_rng(seed)
    t_evt0 = MIDNIGHT_MS - int(seconds / 2 * TIME_SCALE * 1000)
    warm = [
        _body(rng, f"warm{i}", t_evt0 - 86_400_000 + i * 1000, True)
        for i in range(WARM_ROUNDS * WARM_EVENTS)
    ]
    schedule, phases = [], []
    # the burst lands on the warm-up's day, so the window's commits never
    # rewrite the files that hold it
    for m in _zipf_ids(rng, burst, BURST_DEVICES, a=0.8):
        schedule.append([0.0, json.dumps(_body(rng, f"b{m}", t_evt0 - 86_400_000, True))])
        phases.append("burst")
    n_steady = int(seconds * rate)
    hot = _zipf_ids(rng, n_steady, STEADY_DEVICES)
    gone = set(np.random.default_rng([seed, 1]).choice(
        n_steady, min(EXPIRED_EVENTS, n_steady), replace=False).tolist())
    for i in range(n_steady):
        offset = i / rate
        ts = t_evt0 + int(offset * TIME_SCALE * 1000)
        if rng.random() < LATE_SHARE:
            ts -= int(rng.uniform(*LATE_MINUTES) * 60_000)
        mid = f"n{i}" if rng.random() < NEW_SHARE else f"m{hot[i]}"
        start = rng.random() >= PAGE_SHARE
        if i in gone:
            ts = t_evt0 + int(offset * TIME_SCALE * 1000) - EXPIRED_DAYS * 86_400_000
            start = True
        schedule.append([offset, json.dumps(_body(rng, mid, ts, start))])
        phases.append("steady")
    return {"warm": warm, "schedule": schedule, "phases": phases}


def expired(body: dict) -> bool:
    """Stamped so far back that the DAU job's watermark drops it."""
    return body["ts"] < MIDNIGHT_MS - (EXPIRED_DAYS - 1) * 86_400_000


def expected_keys(bodies: list[dict]) -> set:
    """(dt, mid) of every startup log the job keeps — the DAU table's
    exact contents."""
    return {
        (dt_of(b["ts"]), b["common"]["mid"])
        for b in bodies if "start" in b and not expired(b)
    }


def first_visible_versions(version_keys: list[tuple[int, set]]) -> dict:
    """key -> first version whose live files hold it, from
    ``[(version, keys in the files that version added), ...]``."""
    first: dict = {}
    for v, keys in sorted(version_keys, key=lambda x: x[0]):
        for k in keys:
            first.setdefault(k, v)
    return first


def visible_at(observations: list[tuple[int, float]], version: int) -> float | None:
    """Instant the poller first saw a version >= ``version``."""
    ts = [t for v, t in observations if v >= version]
    return min(ts) if ts else None


def freshness(
    first_sent: dict, first_version: dict, observations: list[tuple[int, float]]
) -> tuple[dict, list]:
    """Join first-send instants to first-visible instants per key.
    Returns ({key: seconds}, [keys never seen])."""
    out, missing = {}, []
    for key, sent in first_sent.items():
        v = first_version.get(key)
        t = visible_at(observations, v) if v is not None else None
        if t is None:
            missing.append(key)
        else:
            out[key] = t - sent
    return out, missing


class VersionPoller:
    """Records the first instant each table version was seen."""

    def __init__(self, table) -> None:
        self.table = table
        self.observations: list[tuple[int, float]] = []
        self._last = -1
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def poll(self) -> None:
        v = self.table.current_version()
        if v != self._last:
            self.observations.append((v, time.monotonic()))
            self._last = v

    def _run(self) -> None:
        while not self._stop.wait(POLL_S):
            self.poll()

    def start(self) -> "VersionPoller":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.poll()


def _post(url: str, body: dict) -> int:
    import urllib.request

    req = urllib.request.Request(
        url, data=json.dumps(body).encode(), headers={"Content-Type": "application/json"}
    )
    with urllib.request.urlopen(req, timeout=30) as resp:
        resp.read()
        return resp.status


def _progress_dicts(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return out


def _version_keys(table, upto: int) -> list[tuple[int, set]]:
    import pyarrow.parquet as pq

    out, prev = [], set()
    for v in range(1, upto + 1):
        files = set(table.manifest(v)["files"])
        keys = set()
        for f in files - prev:
            t = pq.read_table(os.path.join(table.data_dir, f), columns=["dt", "mid"])
            keys.update(zip(t.column("dt").to_pylist(), t.column("mid").to_pylist()))
        out.append((v, keys))
        prev = files
    return out


def run(ctx):
    from pyspark.sql import functions as F

    from gmallrealtime02_spark.streaming import jobs
    from gmallrealtime02_spark.streaming.http_ingest import LogCollector, log_stream
    from gmallrealtime02_spark.streaming.manifest import ManifestTable
    from perfbench import loadgen
    from perfbench.report import Result

    tr = ctx.tracer
    res = Result()
    inputs = build_schedule(ctx.seed, ctx.seconds)
    schedule, phases = inputs["schedule"], inputs["phases"]
    bodies = inputs["warm"] + [json.loads(b) for _, b in schedule]
    with open(ctx.path("schedule.json"), "w") as fh:
        json.dump([[e for e, p in zip(schedule, phases) if p == part]
                   for part in ("burst", "steady")], fh)
    spool, out, ckpt = ctx.path("spool"), ctx.path("dau"), ctx.path("ckpt")

    if ctx.trace:
        _trace_upserts(tr)
    with tr.span("collector.start", "streaming.http_ingest"):
        collector = LogCollector(spool).start()
    host, port = collector.address
    url = f"http://{host}:{port}/applog"
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(loadgen.__file__), "loadgen.py"),
         ctx.path("schedule.json"), url, ctx.path("sent.json")],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )

    def start_part() -> None:
        gen.stdin.write(f"{time.monotonic() + 0.05!r}\n")
        gen.stdin.flush()

    def part_sent() -> None:
        if gen.stdout.readline().strip() != "sent":
            raise RuntimeError(f"load generator exited early ({gen.wait()})")
    query = None
    try:
        with tr.span("start_dau_job", "streaming.jobs"):
            starts = log_stream(ctx.spark, spool, "start", SCHEMA).select(
                F.col("common.mid").alias("user_id"),
                F.timestamp_millis("ts").alias("ts"),
                F.lit("start").alias("event_type"),
                F.lit(0.0).alias("value"),
            )
            query = jobs.start_dau_job(starts, out, ckpt)
        for r in range(WARM_ROUNDS):
            for b in inputs["warm"][r * WARM_EVENTS:(r + 1) * WARM_EVENTS]:
                if _post(url, b) != 200:
                    raise RuntimeError("warm-up POST failed")
            query.processAllAvailable()
        poller = VersionPoller(ManifestTable(out)).start()
        warm_batches = {p["batchId"] for p in _progress_dicts(query)}
        ctx.begin_measure()
        with tr.span("measure", "bench"):
            for part in ("burst", "steady"):
                start_part()
                part_sent()
                with tr.span("processAllAvailable", "streaming.jobs", part=part):
                    query.processAllAvailable()
            gen.wait(timeout=60)
            time.sleep(3 * POLL_S)
            poller.stop()
        progress = _progress_dicts(query)
    finally:
        if query is not None:
            query.stop()
        if gen.poll() is None:
            gen.kill()
        gen.wait()
        gen.stdin.close()
        gen.stdout.close()
        collector.stop()

    with open(ctx.path("sent.json")) as fh:
        records = json.load(fh)
    acct = loadgen.accounting(records)
    res.attempted = len(records)
    res.failed = acct["errors"]

    # correctness: the final DAU table is exactly the expected key set
    final = ManifestTable(out)
    with tr.span("read_final", "streaming.manifest"):
        got = {(r["dt"], r["mid"]) for r in final.read(ctx.spark).select("dt", "mid").collect()}
    want = expected_keys(bodies)
    for k in sorted(want - got):
        res.mismatches.append(f"missing DAU row {k}")
    for k in sorted(got - want):
        res.mismatches.append(f"unexpected DAU row {k}")
    res.failed += len(want ^ got)
    # the days-late events are absent from the table (checked above) and
    # the job reports drops exactly when some were sent (Spark 4.1 counts
    # each row dropped by this operator twice, so the count is not compared)
    n_expired = sum(1 for b in bodies if "start" in b and expired(b))
    dropped = sum(
        o.get("numRowsDroppedByWatermark", 0)
        for p in progress for o in p.get("stateOperators", [])
    )
    if (dropped > 0) != (n_expired > 0):
        res.mismatches.append(f"{dropped} rows dropped by the watermark, {n_expired} sent")
        res.failed += 1

    # freshness: first send of each new (dt, mid) → first visible version
    first_sent: dict = {}
    burst_keys: set = set()
    burst_first_sent = None
    warm_keys = expected_keys(inputs["warm"])
    for (_, body), phase, rec in zip(schedule, phases, records):
        b = json.loads(body)
        if phase == "burst" and burst_first_sent is None:
            burst_first_sent = rec["sent"]
        if "start" not in b:
            continue
        if expired(b):
            continue
        key = (dt_of(b["ts"]), b["common"]["mid"])
        if key in warm_keys or key in first_sent or key in burst_keys:
            continue
        if phase == "burst":
            burst_keys.add(key)
        else:
            first_sent[key] = rec["sent"]
    first_version = first_visible_versions(_version_keys(final, final.current_version()))
    fresh, missing = freshness(first_sent, first_version, poller.observations)
    unseen = [k for k in missing if k in got]  # rows absent from the table count above
    res.failed += len(unseen)
    res.mismatches.extend(f"never seen by the poller: {k}" for k in unseen)
    fresh_s = list(fresh.values())
    res.timing("freshness", "s", fresh_s)
    res.e2e["latency_p50_ms"] = (res.e2e["freshness_p50_s"][0] * 1e3, "ms", len(fresh_s))
    steady_lat = [x for x, p in zip(acct["latency_ms"], phases) if p == "steady"]
    res.timing("ingest", "ms", steady_lat)
    # the burst: its first POST to the commit that shows its last new row
    burst_vis = [
        visible_at(poller.observations, first_version[k]) if k in first_version else None
        for k in burst_keys
    ]
    if burst_vis and None not in burst_vis:
        rate = BURST / (max(burst_vis) - burst_first_sent)
        res.e2e["burst_events_per_s"] = (rate, "events/s")
        res.e2e["throughput_per_s"] = (rate, "events/s")

    measured = [
        p for p in progress
        if p["batchId"] not in warm_batches and p.get("numInputRows", 0) > 0
    ]
    res.measured_batches = [f"batch:{p['batchId']}" for p in measured]
    res.stash = {
        "progress": measured,
        "late_ms": [x for x, p in zip(acct["late_ms"], phases) if p == "steady"],
        "spool": spool,
        "table": final,
        "posts": len(records),
    }
    return res


def _trace_upserts(tr) -> None:
    """Trace mode only: time each ``ManifestTable.upsert`` the DAU sink
    makes, as a span on the manifest layer (the sink is the engine's, so
    the span wraps the call from outside)."""
    from gmallrealtime02_spark.streaming.manifest import ManifestTable

    inner = ManifestTable.upsert

    def upsert(self, *a, **kw):
        with tr.span("manifest.upsert", "streaming.manifest"):
            return inner(self, *a, **kw)

    ManifestTable.upsert = upsert


PHASES = {
    "latest_offset": "latestOffset",
    "get_batch": "getBatch",
    "query_planning": "queryPlanning",
    "add_batch": "addBatch",
    "wal_commit": "walCommit",
    "commit_offsets": "commitOffsets",
}


def layer_metrics(res, spans, fold) -> None:
    """http_ingest from the spool and the generator; streaming.jobs from
    the query's progress; streaming.manifest from the upsert spans."""
    from perfbench.report import measured_spans
    from perfbench.stats import percentile, summarize

    st, L = res.stash, res.layers
    spool_files = sum(
        len([f for f in os.listdir(os.path.join(st["spool"], route)) if f.endswith(".json")])
        for route in ("start", "event")
    )
    L["ingest.posts"] = (st["posts"], "count")
    L["ingest.spool_files"] = (spool_files, "count")
    L["ingest.events_per_file"] = (st["posts"] / max(1, spool_files), "events/file")
    L["ingest.generator_late_ms.max"] = (max(st["late_ms"], default=0.0), "ms")

    prog = st["progress"]
    n = len(prog)
    L["stream.batches"] = (n, "count")
    L["stream.rows_per_batch.p50"] = (
        summarize([p["numInputRows"] for p in prog]).get("p50", 0), "rows", n)
    trig = [p["durationMs"].get("triggerExecution", 0) for p in prog]
    L["stream.trigger_ms.p50"] = (summarize(trig).get("p50", 0), "ms", n)
    L["stream.trigger_ms.p95"] = (percentile(trig, 95) if trig else 0, "ms", n)
    for name, key in PHASES.items():
        vals = [p["durationMs"].get(key, 0) for p in prog]
        L[f"stream.{name}_ms.p50"] = (summarize(vals).get("p50", 0), "ms", n)
    ups = [s for s in measured_spans(spans) if s.name == "manifest.upsert"]
    tasks = []
    for p in prog:
        # the batch's own jobs, plus those of the upsert its sink ran
        lo = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        hi = lo + p["durationMs"].get("triggerExecution", 0) / 1e3
        own = fold.get(f"batch:{p['batchId']}")
        tasks.append(
            (own.tasks if own else 0)
            + sum(fold[s.id].tasks for s in ups if lo <= s.start <= hi and s.id in fold)
        )
    L["stream.tasks_per_batch.p50"] = (summarize(tasks).get("p50", 0), "count", n)
    ops = prog[-1].get("stateOperators", []) if prog else []
    L["stream.state_rows"] = (sum(o.get("numRowsTotal", 0) for o in ops), "rows")
    L["stream.state_bytes"] = (sum(o.get("memoryUsedBytes", 0) for o in ops), "bytes")
    L["stream.late_rows_dropped"] = (
        sum(o.get("numRowsDroppedByWatermark", 0) for p in prog for o in p.get("stateOperators", [])),
        "rows",
    )

    L["manifest.upsert_ms.p50"] = (
        summarize([(s.end - s.start) * 1e3 for s in ups]).get("p50", 0.0), "ms", len(ups))
    L["manifest.jobs_per_commit.p50"] = (
        summarize([fold[s.id].jobs if s.id in fold else 0 for s in ups]).get("p50", 0),
        "count", len(ups))
    table = st["table"]
    files = table.files()
    L["manifest.versions"] = (table.current_version(), "count")
    L["manifest.live_files"] = (len(files), "count")
    L["manifest.table_bytes"] = (
        sum(os.path.getsize(os.path.join(table.data_dir, f)) for f in files), "bytes")
