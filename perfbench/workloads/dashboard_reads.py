"""dashboard_reads: what dashboard users wait on — a closed loop of two
clients calling the ``serving`` endpoints over sf0.1-sized tables, with
two of the registry's report queries (``dau_hourly``, ``top_customers``)
in the mix as the dashboard's report panels.  The order write path that
feeds the dashboards runs in the same session (``order_cdc.CdcPipeline``:
bronze commits, ``DeltaJoinPropagator`` into OrderWide, the gold rollup):
its bronze landing and initial full propagate and rollup beside the
readers' warm-up, then one timed CDC cycle after the reads' window: the
first incremental one, with a retention delete.

Every read plans afresh and loads its tables through ``load_table``, so
the reads are driver- and plan-bound: small bounded scans, many short
jobs.  Each serving response must equal, as parsed JSON, an answer DuckDB
computed once during set-up; each report's rows must hash-match its
registry DuckDB oracle; the writer's silver and gold tables must equal
DuckDB over the net bronze state.
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from datetime import date, timedelta

import numpy as np

SCALE = 0.1
CLIENTS = 2
PAGE_SIZE = 20
SHALLOW_PAGES = 5
DEEP_PAGE = 200  # skip 3,980 rows: past DEEP_PAGE_ROWS, so the keyset seek
KEYWORDS = ("Customer#0000001", "Customer#00000042 Customer#00000077")
#: one block of the mix, in play order: each client plays it again and
#: again, starting at its own offset, so every run has the same
#: proportions and the two clients rarely run the same kind at once.  The
#: seed picks the data and each request's parameters.  A shallow page is
#: followed at once by the next page through ``after`` (``paged_next``).
BLOCK = (
    "realtime_total", "realtime_hour", "paged_shallow",
    "realtime_total", "realtime_hour", "dau_hourly",
    "realtime_total", "realtime_hour", "paged_deep",
    "realtime_total", "realtime_hour", "map_order_data",
    "realtime_total", "realtime_hour", "paged_keyword",
    "realtime_total", "realtime_hour", "top_customers",
    "realtime_total", "realtime_hour", "stat_groups",
)
#: registry queries in the mix; the rest of the kinds are serving calls
REPORTS = ("dau_hourly", "top_customers")
KINDS = tuple(k for k in dict.fromkeys(BLOCK) if k not in REPORTS) + ("paged_next",)
TABLES = ("orders", "customer", "nation", "events")
MAX_REQUESTS = 300  # per client; far more than one window completes


def request_stream(seed: int, client: int, days: list[str]):
    """Endless request sequence of one client: (kind, params)."""
    rng = np.random.default_rng([seed, client])
    i = client * len(BLOCK) // 2
    while True:
        kind = BLOCK[i % len(BLOCK)]
        i += 1
        if kind in ("realtime_total", "realtime_hour"):
            yield kind, {"date": days[int(rng.integers(0, len(days)))]}
        elif kind == "paged_shallow":
            page = int(rng.integers(1, SHALLOW_PAGES + 1))
            yield kind, {"page": page}
            yield "paged_next", {"page": page + 1}
        elif kind == "paged_deep":
            yield kind, {"page": DEEP_PAGE}
        elif kind == "paged_keyword":
            kw = KEYWORDS[int(rng.integers(0, len(KEYWORDS)))]
            yield kind, {"page": 1, "keyword": kw}
        else:
            yield kind, {}


class Oracle:
    """DuckDB answers to every request the mix can make: parsed JSON for a
    serving call, the frame hash of the registry oracle's rows for a
    report."""

    def __init__(self, con, reports: dict) -> None:
        self.con = con
        self.reports = reports
        self._cache: dict = {}

    def answer(self, kind: str, p: dict):
        key = (kind, tuple(sorted(p.items())))
        if key not in self._cache:
            self._cache[key] = self._compute(kind, p)
        return self._cache[key]

    def _dau(self, d: str) -> str:
        return f"""
            SELECT strftime(min(ts), '%H') AS hr, CAST(min(ts) AS DATE) AS dt
            FROM events WHERE CAST(ts AS DATE) = DATE '{d}' GROUP BY user_id"""

    def _compute(self, kind: str, p: dict):
        from perfbench.oracle import frame_hash

        q = self.con.execute
        if kind in REPORTS:
            return frame_hash(q(self.reports[kind]).fetchdf())
        if kind == "realtime_total":
            (n,) = q(f"SELECT count(*) FROM ({self._dau(p['date'])})").fetchone()
            return [
                {"id": "dau", "name": "新增日活", "value": n},
                {"id": "new_mid", "name": "新增设备", "value": 2},
            ]
        if kind == "realtime_hour":
            y = (date.fromisoformat(p["date"]) - timedelta(days=1)).isoformat()
            out = {}
            for label, d in (("today", p["date"]), ("yesterday", y)):
                rows = q(f"SELECT hr, count(*) FROM ({self._dau(d)}) GROUP BY hr").fetchall()
                out[label] = {hr: n for hr, n in rows}
            return out
        if kind.startswith("paged"):
            return self._page(p["page"], p.get("keyword"))
        if kind == "map_order_data":
            rows = q("""
                SELECT n_name, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                FROM orders JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                GROUP BY n_name ORDER BY n_name""").fetchall()
            return [{"name": n, "value": v} for n, v in rows]
        if kind == "stat_groups":
            tiers = q("""
                SELECT CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'vip'
                            WHEN c_acctbal < 0 THEN 'debt'
                            WHEN c_acctbal < 5000 THEN 'standard'
                            ELSE 'premium' END AS k, count(*)
                FROM customer GROUP BY 1 ORDER BY 1""").fetchall()
            segs = q("""
                SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 'B' ELSE 'C' END AS k,
                       count(*)
                FROM customer GROUP BY 1 ORDER BY 1""").fetchall()
            return {"stat": [
                {"group": [{"name": k, "value": v} for k, v in tiers]},
                {"group": [{"name": k, "value": v} for k, v in segs]},
            ]}
        raise ValueError(kind)

    def _page(self, page: int, keyword: str | None):
        where = ""
        if keyword:
            where = "WHERE " + " OR ".join(
                f"contains(c_name, '{t}')" for t in keyword.split()
            )
        base = f"""
            SELECT o_orderkey AS order_id, o_custkey AS user_id, c_name AS user_name,
                   c_mktsegment AS segment, o_orderstatus AS order_status,
                   o_totalprice AS final_total_amount,
                   strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_date,
                   o_orderdate AS od
            FROM orders JOIN customer ON o_custkey = c_custkey {where}"""
        (total,) = self.con.execute(f"SELECT count(*) FROM ({base})").fetchone()
        rows = self.con.execute(
            f"""SELECT order_id, user_id, user_name, segment, order_status,
                       final_total_amount, order_date
                FROM ({base}) ORDER BY od DESC, order_id ASC
                LIMIT {PAGE_SIZE} OFFSET {(page - 1) * PAGE_SIZE}"""
        ).fetchall()
        cols = ("order_id", "user_id", "user_name", "segment", "order_status",
                "final_total_amount", "order_date")
        out = [dict(zip(cols, r)) for r in rows]
        last = [out[-1]["order_date"], out[-1]["order_id"]] if out else None
        return {"draw": 1, "total": total, "rows": out, "last_key": last}


def call(spark, sf_dir: str, kind: str, p: dict, after=None, queries=None):
    """One request; a serving call's JSON body, or a report's rows as a
    pandas frame."""
    from gmallrealtime02_spark import serving

    if kind in REPORTS:
        return queries[kind].fn(spark, sf_dir).toPandas()
    if kind == "realtime_total":
        return serving.realtime_total(spark, sf_dir, p["date"])
    if kind == "realtime_hour":
        return serving.realtime_hour(spark, sf_dir, p["date"])
    if kind == "paged_next":
        return serving.paged_detail(spark, sf_dir, page=p["page"], size=PAGE_SIZE, after=after)
    if kind.startswith("paged"):
        return serving.paged_detail(
            spark, sf_dir, page=p["page"], size=PAGE_SIZE, keyword=p.get("keyword")
        )
    if kind == "map_order_data":
        return serving.map_order_data(spark, sf_dir)
    if kind == "stat_groups":
        return serving.stat_groups(spark, sf_dir)
    raise ValueError(kind)


#: the untimed warm-up: each request kind once; the two clients share it
WARM_UP = (
    ("realtime_total", {"date": 0}),
    ("realtime_hour", {"date": 1}),
    ("paged_shallow", {"page": 1}),
    ("paged_deep", {"page": DEEP_PAGE}),
    ("paged_keyword", {"page": 1, "keyword": KEYWORDS[0]}),
    ("map_order_data", {}),
    ("stat_groups", {}),
    ("dau_hourly", {}),
    ("top_customers", {}),
)


def warm_up_requests(days: list[str]) -> list[list[tuple[str, dict]]]:
    """The warm-up as groups a client plays in order: a shallow page
    with the next page through ``after``, every other kind alone."""
    out = []
    for kind, p in WARM_UP:
        if "date" in p:
            p = {"date": days[p["date"]]}
        out.append([(kind, p)])
        if kind == "paged_shallow":
            out[-1].append(("paged_next", {"page": 2}))
    return out


def prepare(seed: int, run_dir: str) -> dict:
    """Spark-free set-up: the tables, every client's requests, and the
    DuckDB answer to each of them."""
    import os

    from gmallrealtime02_spark.plans.registry import load_all
    from perfbench import datagen
    from perfbench.oracle import duck_over
    from perfbench.workloads import order_cdc

    tables = datagen.make_tables(seed, SCALE)
    sf_dir = datagen.write_tables({k: tables[k] for k in TABLES}, os.path.join(run_dir, "sf"))
    days = datagen.event_day_dates()
    queries = load_all()
    oracle = Oracle(duck_over(sf_dir, TABLES), {k: queries[k].oracle for k in REPORTS})
    # each client's requests, more than a window can complete
    streams = [
        list(itertools.islice(request_stream(seed, c, days), MAX_REQUESTS))
        for c in range(CLIENTS)
    ]
    warm = warm_up_requests(days)
    for kind, p in itertools.chain(*warm, *streams):
        oracle.answer(kind, p)
    return {"sf_dir": sf_dir, "queries": queries, "oracle": oracle,
            "streams": streams, "warm": warm, "cdc": order_cdc.prepare(seed, run_dir)}


def run(ctx):
    from perfbench.report import Result
    from perfbench.workloads.order_cdc import CdcPipeline, record_cycles

    spark, tr = ctx.spark, ctx.tracer
    res = Result()
    inp = ctx.inputs
    cdc = CdcPipeline(spark, tr, inp["cdc"], ctx.path("cdc"), ctx.seed)
    res.stash["cdc"] = cdc
    sf_dir, queries, oracle, streams = inp["sf_dir"], inp["queries"], inp["oracle"], inp["streams"]
    lock = threading.Lock()
    samples: list[tuple[str, float]] = []
    mismatches: list[str] = []

    measure_span = None

    def one(kind: str, p: dict, after, rid: str, record: bool, parent=None):
        layer = "plans" if kind in REPORTS else "serving"
        with tr.span(f"{layer}.{kind}", layer, request=rid, parent=parent or measure_span):
            t0 = time.perf_counter()
            resp = call(spark, sf_dir, kind, p, after, queries)
            dt = time.perf_counter() - t0
        if kind in REPORTS:
            from perfbench.oracle import frame_hash

            got, ok = None, frame_hash(resp) == oracle.answer(kind, p)
        else:
            got = json.loads(resp)
            ok = got == oracle.answer(kind, p)
        if record:
            with lock:
                samples.append((kind, dt))
                if not ok:
                    mismatches.append(f"{kind} {p}")
        elif not ok:
            raise RuntimeError(f"warm-up answer differs: {kind} {p}")
        return got

    def warm_client(c: int, errors: list) -> None:
        """Client ``c``'s share of the untimed warm-up."""
        last = None
        try:
            with tr.span(f"warm-up {c}", "bench") as span:
                for kind, p in itertools.chain(*inp["warm"][c::CLIENTS]):
                    after = last["last_key"] if kind == "paged_next" else None
                    last = one(kind, p, after, f"warm{c}", record=False, parent=span)
        except Exception as exc:
            errors.append(exc)

    def writer_set_up(errors: list) -> None:
        try:
            cdc.prime()
        except Exception as exc:
            errors.append(exc)

    # untimed: the readers' warm-up beside the writer's set-up
    errors: list = []
    threads = [threading.Thread(target=warm_client, args=(c, errors)) for c in range(CLIENTS)]
    threads.append(threading.Thread(target=writer_set_up, args=(errors,)))
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]

    def client(c: int, deadline: float, errors: list) -> None:
        last = None
        n = 0
        try:
            for kind, p in streams[c]:
                if time.monotonic() >= deadline:
                    return
                after = last["last_key"] if kind == "paged_next" else None
                last = one(kind, p, after, f"c{c}-{n}", record=True)
                n += 1
        except Exception as exc:  # a failed request ends this client's loop
            errors.append(repr(exc))

    ctx.begin_measure()
    errors = []
    with tr.span("measure", "bench") as measure_span:
        t_start = time.monotonic()
        deadline = t_start + ctx.seconds
        threads = [threading.Thread(target=client, args=(c, deadline, errors)) for c in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        wall = time.monotonic() - t_start
    # the writer's cycle follows, so the reads run alone
    with tr.span("measure", "bench"):
        write_s, delete = cdc.cycle()
    mismatches += cdc.check()
    # the reads, the cycle and the writer's two table checks
    res.attempted = len(samples) + 1 + 2 + len(errors)
    res.failed = len(mismatches) + len(errors)
    res.mismatches = mismatches + errors
    record_cycles(res, [] if delete else [write_s], [write_s] if delete else [])
    res.timing("serve", "ms", [dt * 1e3 for k, dt in samples if k not in REPORTS])
    res.timing("report", "ms", [dt * 1e3 for k, dt in samples if k in REPORTS])
    served = sum(k not in REPORTS for k, _ in samples)
    res.e2e["serve_rps"] = (served / wall, "req/s", served)
    all_ms = [dt * 1e3 for _, dt in samples]
    res.e2e["latency_p50_ms"] = (statistics.median(all_ms), "ms", len(all_ms))
    res.e2e["throughput_per_s"] = (len(samples) / wall, "req/s", len(samples))
    res.stash["samples"] = samples
    return res


def layer_metrics(res, spans, fold) -> None:
    """serving and plans: per-kind latency, and Spark work per request;
    the writer's layers as ``order_cdc`` reports them."""
    from perfbench.report import measured_spans
    from perfbench.stats import summarize
    from perfbench.tracing import driver_seconds
    from perfbench.workloads.order_cdc import cdc_layer_metrics

    cdc_layer_metrics(res.layers, res.stash["cdc"], spans, fold)

    by_kind: dict = {}
    for kind, dt in res.stash["samples"]:
        by_kind.setdefault(kind, []).append(dt * 1e3)
    for layer, prefix, kinds, per in (
        ("serving", "serve", KINDS, "request"), ("plans", "plans", REPORTS, "query"),
    ):
        for kind in kinds:
            vals = by_kind.get(kind)
            if vals:  # kinds late in the block may not come up in a short window
                res.layers[f"{prefix}.{kind}_ms.p50"] = (
                    summarize(vals)["p50"], "ms", len(vals))
        jobs, tasks, driver = [], [], []
        for s in measured_spans(spans):
            if s.layer != layer:
                continue
            a = fold.get(s.id)
            jobs.append(a.jobs if a else 0)
            tasks.append(a.tasks if a else 0)
            driver.append(driver_seconds(s.start, s.end, a.task_intervals if a else []) * 1e3)
        n = len(jobs)
        res.layers[f"{prefix}.jobs_per_{per}.p50"] = (summarize(jobs).get("p50", 0), "count", n)
        res.layers[f"{prefix}.tasks_per_{per}.p50"] = (summarize(tasks).get("p50", 0), "count", n)
        res.layers[f"{prefix}.driver_ms_per_{per}.p50"] = (
            summarize(driver).get("p50", 0.0), "ms", n)
