"""Closed-loop HTTP client process of the benchmark.

Runs in its own interpreter so that decoding JSON responses never competes
with the service for the server's GIL. It talks to the parent over a line
protocol: it reads ``PORT <n>`` on stdin, sends the warm-up calls, prints
``WARM <unix time>``, then drives the timed window over one keep-alive
connection, sending each request only after the previous reply completed.
With ``--trace 1`` it runs a second window after printing ``SWITCH`` and
reading ``GO`` (the parent turns tracing on in between). Every response is
checked after the windows, outside the timed intervals; the per-call record
goes to ``--out`` as JSON.

Usage (normally started by run.py):
    python3 perfbench/client.py --workload W --seed N --seconds S --trace 0 --out FILE
"""

from __future__ import annotations

import argparse
import http.client
import json
import sys
import time

import workloads as wl

WARMUP_CALLS = {"dashboard_zoom": 2, "live_ingest": 2}


class Conn:
    """One keep-alive connection; call() returns (meta, rows, record)."""

    def __init__(self, port: int):
        self.c = http.client.HTTPConnection("127.0.0.1", port, timeout=170)

    def call(self, method: str, req: dict):
        body = json.dumps(req).encode()
        t0 = time.perf_counter()
        wall = time.time()
        self.c.request("POST", f"/rpc/{method}", body, {"Content-Type": "application/json"})
        resp = self.c.getresponse()
        ttfb = None
        nbytes = 0
        meta, rows, error = None, [], None
        while True:
            line = resp.readline()
            if not line:
                break
            if ttfb is None:
                ttfb = time.perf_counter() - t0
            nbytes += len(line)
            chunk = json.loads(line)
            if "error" in chunk:
                error = f"{chunk['error']['code']}: {chunk['error']['msg'][:200]}"
                continue
            if meta is None:
                meta = {k: v for k, v in chunk.items() if k not in ("batch", "final")}
            rows.extend(chunk.get("batch", ()))
        lat = time.perf_counter() - t0
        rec = {
            "method": method, "wall": wall, "latency_s": lat,
            "ttfb_s": ttfb if ttfb is not None else lat,
            # rows crossing the client boundary: returned, or inserted
            "bytes": nbytes, "rows": len(req["values"]) if method == "Insert" else len(rows),
            "error": error,
        }
        return meta, rows, rec


def _stream(req: dict) -> int:
    return int(req["uuid"].rsplit("-", 1)[1])


class Checker:
    """Replays the calls in order against the ledger and reports, per call,
    None or the reason its response was wrong."""

    def __init__(self, workload: str, seed: int):
        self.ledger = wl.Ledger(workload, seed)
        self.buffered = {s: wl.hot_prefill(s) if workload == "live_ingest" else 0 for s in range(wl.N_STREAMS)}

    def check(self, call: dict, meta, rows) -> str | None:
        m, r = call["method"], call["req"]
        if m == "Insert":
            s = _stream(r)
            self.ledger.insert(s, r["values"])
            self.buffered[s] += len(r["values"])
            if self.buffered[s] >= wl.BATCH_FLUSH:
                self.buffered[s] = 0
            got = meta.get("versionMinor") if meta else None
            return None if got == self.buffered[s] else f"insert minor {got} != {self.buffered[s]}"
        if m == "Flush":
            self.buffered[_stream(r)] = 0
            return None
        want = wl.expected(call, self.ledger)
        return wl.compare(call, meta if m == "Nearest" else rows, want)


def run_window(conn: Conn, calls: list[dict], pos: int, seconds: float, label: str, log: list) -> int:
    """Send calls from ``pos`` until ``seconds`` have passed and return the
    next position. A live_ingest step in flight at the deadline is
    finished, so the window's latency sample holds whole steps (an insert
    and the read that follows it). Each record gets its start and end
    offset from the window start; throughput credits each call with the
    share of it that fell inside the window."""
    t0 = time.perf_counter()
    while True:
        call = calls[pos]
        same_step = call.get("step") is not None and call["step"] == calls[pos - 1].get("step")
        if not same_step and time.perf_counter() - t0 >= seconds:
            break
        start = time.perf_counter() - t0
        meta, rows, rec = conn.call(call["method"], call["req"])
        rec.update(window=label, start_s=start, end_s=time.perf_counter() - t0)
        log.append((call, meta, rows, rec))
        pos += 1
    return pos


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    calls = wl.requests(a.workload, a.seed)
    checker = Checker(a.workload, a.seed)
    line = sys.stdin.readline().split()
    if not line or line[0] != "PORT":
        return 2
    conn = Conn(int(line[1]))
    log: list = []
    n_warm = WARMUP_CALLS[a.workload]
    for call in calls[:n_warm]:
        meta, rows, rec = conn.call(call["method"], call["req"])
        rec["window"] = "warmup"
        log.append((call, meta, rows, rec))
    print(f"WARM {time.time():.6f}", flush=True)

    pos = run_window(conn, calls, n_warm, a.seconds, "timed", log)
    if a.trace:
        print("SWITCH", flush=True)
        if sys.stdin.readline().strip() != "GO":
            return 2
        run_window(conn, calls, pos, a.seconds, "traced", log)

    # untimed: live_ingest commits the last stream it wrote and checks its
    # totals against the ledger once more, now from the ladder
    final = []
    if a.workload == "live_ingest":
        last = log[-1][0]["req"]["uuid"]
        for m, req in (("Flush", {"uuid": last}),
                       ("AlignedWindows", {"uuid": last, "start": wl.T0, "end": wl.LIVE_END, "pointWidth": wl.LIVE_PW})):
            meta, rows, rec = conn.call(m, req)
            rec["window"] = "final"
            final.append(({"method": m, "req": req}, meta, rows, rec))
    conn.c.close()

    records = []
    for call, meta, rows, rec in log + final:
        rec["wrong"] = None if rec["error"] else checker.check(call, meta, rows)
        rec["step"] = call.get("step")
        records.append(rec)
    out = {
        "calls": records,
        "live_points": checker.ledger.live_points(),
    }
    with open(a.out, "w") as f:
        json.dump(out, f)
    print("DONE", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
