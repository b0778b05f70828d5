"""Open-loop HTTP load generator for the live_dau workload.

Runs as its own process so a stalled Spark driver cannot slow the send
schedule.  The schedule file is a list of parts, each a list of events
(offset in seconds from the part's start, JSON body).  For each part the
generator reads the start instant from stdin (a CLOCK_MONOTONIC reading,
which is system-wide on Linux and so comparable with the parent's), POSTs
each event at its due time over one connection, then prints ``sent`` on
stdout.  When it falls behind it sends at once and keeps the original due
time, so a stall shows up in the latency of every later event.

    python3 perfbench/loadgen.py SCHEDULE.json URL RESULT.json
"""

from __future__ import annotations

import http.client
import json
import sys
import time
from urllib.parse import urlsplit


def send_all(schedule: list, url: str, t0: float) -> list[dict]:
    """POST every event at ``t0 + offset``; one record per event with
    its due, sent and done instants and the HTTP status (0 = error)."""
    parts = urlsplit(url)
    conn = http.client.HTTPConnection(parts.hostname, parts.port, timeout=30)
    out = []
    try:
        for offset, body in schedule:
            due = t0 + offset
            now = time.monotonic()
            if now < due:
                time.sleep(due - now)
            sent = time.monotonic()
            try:
                conn.request(
                    "POST", parts.path, body=body,
                    headers={"Content-Type": "application/json"},
                )
                resp = conn.getresponse()
                resp.read()
                status = resp.status
            except (OSError, http.client.HTTPException):
                conn.close()  # reconnects on the next request
                status = 0
            out.append({"due": due, "sent": sent, "done": time.monotonic(), "status": status})
    finally:
        conn.close()
    return out


def accounting(records: list[dict]) -> dict:
    """Open-loop figures: latency of each request from its DUE time, and
    how late the generator ran (sent − due)."""
    return {
        "latency_ms": [(r["done"] - r["due"]) * 1e3 for r in records],
        "late_ms": [max(0.0, r["sent"] - r["due"]) * 1e3 for r in records],
        "errors": sum(1 for r in records if r["status"] != 200),
    }


def main(argv: list[str]) -> int:
    schedule_path, url, result_path = argv
    with open(schedule_path) as fh:
        parts = json.load(fh)
    records = []
    for part in parts:
        t0 = float(sys.stdin.readline())
        records.extend(send_all(part, url, t0))
        print("sent", flush=True)
    with open(result_path, "w") as fh:
        json.dump(records, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
