"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from perfbench import loadgen, stats, tracing
from perfbench.tracing import Span
from perfbench.workloads import live_dau


# -- percentile with at least ten samples beyond it -------------------------


@pytest.mark.parametrize(
    "n, want",
    [(10, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0), (199, 90.0),
     (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want


def test_summarize_reports_median_tail_and_count():
    s = stats.summarize([float(x) for x in range(1, 101)])
    assert s["n"] == 100
    assert s["p50"] == 50.5
    assert s["tail_p"] == 90.0
    assert s["tail"] == pytest.approx(90.1)
    assert sum(1 for x in range(1, 101) if x > s["tail"]) >= 10


def test_summarize_omits_tail_of_a_small_sample():
    assert "tail" not in stats.summarize([1.0, 2.0, 3.0])


# -- open-loop accounting ----------------------------------------------------


class _StallingHandler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    stall_on = 2  # the third request stalls
    stall_s = 0.3
    seen = 0

    def do_POST(self):  # noqa: N802 - stdlib contract
        self.rfile.read(int(self.headers["Content-Length"]))
        if type(self).seen == self.stall_on:
            time.sleep(self.stall_s)
        type(self).seen += 1
        self.send_response(200)
        self.send_header("Content-Length", "7")
        self.end_headers()
        self.wfile.write(b"success")

    def log_message(self, *args):
        pass


def test_open_loop_counts_a_stall_against_later_requests():
    server = ThreadingHTTPServer(("127.0.0.1", 0), _StallingHandler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        url = f"http://127.0.0.1:{server.server_address[1]}/applog"
        schedule = [[i * 0.05, json.dumps({"i": i})] for i in range(6)]
        records = loadgen.send_all(schedule, url, time.monotonic() + 0.05)
    finally:
        server.shutdown()
        server.server_close()
        t.join(timeout=5)
    acct = loadgen.accounting(records)
    assert acct["errors"] == 0
    # requests due during the stall were sent late, and their latency is
    # measured from when they were due, so it includes the wait
    assert acct["late_ms"][3] > 150
    assert acct["latency_ms"][3] > 150
    assert acct["late_ms"][0] < 50
    assert all(lat >= late for lat, late in zip(acct["latency_ms"], acct["late_ms"]))


def test_accounting_counts_errors_and_never_negative_lateness():
    recs = [
        {"due": 1.0, "sent": 0.999, "done": 1.002, "status": 200},
        {"due": 2.0, "sent": 2.5, "done": 2.6, "status": 0},
    ]
    acct = loadgen.accounting(recs)
    assert acct["errors"] == 1
    assert acct["late_ms"] == [0.0, pytest.approx(500.0)]
    assert acct["latency_ms"] == [pytest.approx(2.0), pytest.approx(600.0)]


# -- event-log fold per job group -------------------------------------------


def _job(jid, stages, props):
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": stages,
            "Properties": props}


def _task(stage, launch, finish, run_ms, shuffle=0, read=0, rows=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
            "JVM GC Time": 1, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Bytes Read": read, "Records Read": rows},
        },
    }


def test_fold_attributes_jobs_tasks_and_files_to_groups():
    events = [
        _job(0, [0, 1], {"spark.jobGroup.id": "span-1", "spark.sql.execution.id": "7"}),
        _job(1, [2], {"spark.jobGroup.id": "run-uuid", "streaming.sql.batchId": "4"}),
        # a benchmark span inside a micro-batch callback wins over the batch id
        _job(2, [3], {"spark.jobGroup.id": "span-2", "streaming.sql.batchId": "4"}),
        _job(3, [4], {}),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        _task(0, 1000, 1500, 400, read=100, rows=10),
        _task(1, 1500, 2000, 300, shuffle=64),
        _task(2, 3000, 3100, 50),
        _task(3, 4000, 4200, 150),
        _task(4, 5000, 5100, 90),
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 7,
         "sparkPlanInfo": {"metrics": [], "children": [
             {"metrics": [{"name": "number of files read", "accumulatorId": 55}],
              "children": []}]}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 7, "accumUpdates": [[55, 3], [56, 9]]},
    ]
    fold = tracing.fold_event_log(events)
    a = fold["span-1"]
    assert (a.jobs, a.stages, a.tasks) == (1, 2, 2)
    assert a.executor_run_ms == 700
    assert a.shuffle_write_bytes == 64
    assert (a.input_bytes, a.input_rows, a.files_read) == (100, 10, 3)
    assert a.task_intervals == [(1.0, 1.5), (1.5, 2.0)]
    assert fold["batch:4"].jobs == 1 and fold["batch:4"].tasks == 1
    assert fold["span-2"].executor_run_ms == 150
    assert fold[""].jobs == 1


def test_driver_time_is_wall_time_with_no_task_running():
    # span 0..10 s; tasks cover 1..3 and 2..4 (overlapping) and 9..12
    secs = tracing.driver_seconds(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)])
    assert secs == pytest.approx(10.0 - 3.0 - 1.0)


# -- self time ----------------------------------------------------------------


def test_self_time_subtracts_children_once():
    spans = [
        Span("a", "root", "bench", 0.0, 10.0),
        Span("b", "child", "serving", 1.0, 4.0, parent="a"),
        Span("c", "child", "serving", 3.0, 6.0, parent="a"),  # overlaps b
        Span("d", "grandchild", "sources", 1.5, 2.0, parent="b"),
    ]
    st = tracing.self_times(spans)
    assert st["a"] == pytest.approx(10.0 - 5.0)
    assert st["b"] == pytest.approx(3.0 - 0.5)
    assert st["c"] == pytest.approx(3.0)
    assert st["d"] == pytest.approx(0.5)
    layers = tracing.layer_self_times(spans)
    assert layers == pytest.approx({"bench": 5.0, "serving": 5.5, "sources": 0.5})


def test_tracer_nests_spans_and_is_inert_when_disabled():
    off = tracing.Tracer(enabled=False)
    with off.span("x", "bench") as s:
        assert s is None
    assert off.spans == []
    tr = tracing.Tracer(enabled=True)
    with tr.span("outer", "bench", request="r1") as outer:
        with tr.span("inner", "serving") as inner:
            pass
    assert inner.parent == outer.id and inner.request == "r1"
    with tr.span("handed-off", "serving", parent=outer) as other:
        pass
    assert other.parent == outer.id


# -- version-diff freshness join ---------------------------------------------


def test_first_visible_version_is_where_a_key_first_appears():
    a, b, c = ("d1", "m1"), ("d1", "m2"), ("d2", "m1")
    # v2 rewrites the file holding a (an upsert), so a appears again
    first = live_dau.first_visible_versions([(2, {a, b}), (1, {a}), (3, {c, a})])
    assert first == {a: 1, b: 2, c: 3}


def test_freshness_joins_send_instants_to_poll_observations():
    obs = [(0, 0.0), (1, 10.0), (3, 14.0)]  # version 2 was never polled
    assert live_dau.visible_at(obs, 2) == 14.0
    assert live_dau.visible_at(obs, 4) is None
    first_sent = {"k1": 9.0, "k2": 11.5, "k3": 12.0}
    fresh, missing = live_dau.freshness(first_sent, {"k1": 1, "k2": 2}, obs)
    assert fresh == {"k1": pytest.approx(1.0), "k2": pytest.approx(2.5)}
    assert missing == ["k3"]


def test_schedule_is_seeded_and_expected_keys_skip_page_logs_and_expired():
    s1 = live_dau.build_schedule(7, 20, rate=10, burst=20)
    s2 = live_dau.build_schedule(7, 20, rate=10, burst=20)
    assert s1 == s2
    assert s1["phases"][:20] == ["burst"] * 20
    assert s1["phases"].count("steady") == 200
    bodies = [json.loads(b) for _, b in s1["schedule"]]
    gone = [b for b in bodies if live_dau.expired(b)]
    assert gone  # some events are stamped behind the watermark
    keys = live_dau.expected_keys(bodies)
    assert keys == {
        (live_dau.dt_of(b["ts"]), b["common"]["mid"])
        for b in bodies if "start" in b and b not in gone
    }
    assert not any(live_dau.expired(b) for b in s1["warm"])
    steady = live_dau.expected_keys(bodies[20:])
    assert len({dt for dt, _ in steady}) == 2  # the event clock crosses midnight
    burst_days = {dt for dt, _ in live_dau.expected_keys(bodies[:20])}
    assert burst_days == {live_dau.dt_of(s1["warm"][0]["ts"])}  # not a window day
