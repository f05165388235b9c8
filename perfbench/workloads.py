"""Seeded stores, request sequences and expected results for each workload.

Everything here is a pure function of ``(workload, seed)``: the server side
builds the store from :func:`store_plan`, the client process sends the
requests of :func:`requests` and checks every response against the
expectations computed here with numpy. Nothing in this module touches Spark,
so the client never shares the server's interpreter or its imports.

Request order is stratified: each workload cycles through a fixed deck of
call kinds in a fixed order, and the seed picks streams, ranges and values.
A timed window that holds only a handful of calls then always contains the
same kinds in the same order, so run-to-run spread comes from the program,
not from the draw of the mix.
"""

from __future__ import annotations

import numpy as np

WORKLOADS = ("dashboard_zoom", "live_ingest")

T0 = 1_700_000_000 * 10**9  # ns, first point of every stream
SPACING = 10_000_000  # 10 ms between points
N_STREAMS = 8
COLLECTIONS = ("pmu/feeder_a", "pmu/feeder_b")
BATCH_FLUSH = 32768  # engine default flush threshold (the reference's PQM)

# dashboard_zoom store: points per stream (5 min at 10 ms), committed by two
# bulk_loads: version 10 holds the first READ_V10_SHARE of every stream,
# version 11 the rest.
READ_POINTS = 30_000
READ_V10_SHARE = 0.75
# live_ingest store: one committed version, then live inserts.
LIVE_POINTS = 30_000
INSERT_POINTS = 5_000
LATE_EVERY = 10  # one step in LATE_EVERY inserts late data
CHANGED_EVERY = 8  # every CHANGED_EVERY-th step adds a ChangedRanges call
FLUSH_EVERY = 3  # every third live_ingest step's insert auto-flushes
LIVE_PW = 36
LIVE_END = T0 + 10**15  # far past any live insert

SECOND = 10**9

# Fixed call deck of dashboard_zoom, 20 calls: 12 latest AlignedWindows,
# 2 AlignedWindows pinned at a version, 3 Windows, 2 Nearest and 1
# ChangedRanges. AlignedWindows slots carry their (pointwidth, windows)
# pair; the twelve latest ones cover every pair of {30,34,38,42} x
# {64,256,1024} once. Warm-up takes the first two slots. The timed window
# then opens on the widest result, and at the usual call speeds its
# deadline falls in the middle of the long Windows call at slot 7, so the
# share credited for the call in flight changes slowly with speed.
DASHBOARD_DECK = (
    ("aw", 30, 256), ("aw", 38, 64), ("aw", 30, 1024), ("near",), ("aw", 42, 256),
    ("pin", 30, 64), ("aw", 34, 1024), ("win", 5), ("aw", 38, 1024), ("chg",),
    ("aw", 34, 64), ("win", 30), ("aw", 42, 1024), ("near",), ("aw", 30, 64),
    ("pin", 34, 256), ("aw", 38, 256), ("aw", 34, 256), ("win", 5), ("aw", 42, 64),
)


def stream_uuid(i: int) -> str:
    return f"00000000-0000-4000-8000-{i:012d}"


def stream_collection(i: int) -> str:
    return COLLECTIONS[i % len(COLLECTIONS)]


def _rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([int(seed) & 0xFFFFFFFF, *salt])


def base_values(seed: int, stream: int, n: int) -> np.ndarray:
    """Random-walk values of one stream, rounded to 6 decimals so the
    engine's DECIMAL(38,6) sums are exact."""
    steps = _rng(seed, 1, stream).normal(0.0, 0.1, n)
    return np.round(1000.0 + np.cumsum(steps), 6)


def base_times(n: int) -> np.ndarray:
    return T0 + np.arange(n, dtype=np.int64) * SPACING


def points_of(workload: str) -> int:
    return LIVE_POINTS if workload == "live_ingest" else READ_POINTS


def version_cuts(workload: str) -> list[tuple[int, int, int]]:
    """[(version, first index, end index)] of the seeded history."""
    n = points_of(workload)
    if workload == "live_ingest":
        return [(10, 0, n)]
    cut = int(n * READ_V10_SHARE)
    return [(10, 0, cut), (11, cut, n)]


def store_plan(workload: str, seed: int) -> list[tuple[int, list[tuple[int, np.ndarray, np.ndarray]]]]:
    """[(version, [(stream, times, values), ...]), ...] — one bulk_load each."""
    n = points_of(workload)
    vals = [base_values(seed, s, n) for s in range(N_STREAMS)]
    times = base_times(n)
    return [(ver, [(s, times[lo:hi], vals[s][lo:hi]) for s in range(N_STREAMS)])
            for ver, lo, hi in version_cuts(workload)]


def _first_flush_insert(stream: int) -> int:
    """Which insert into ``stream`` (1-based) should auto-flush: the first
    one that falls on a step divisible by FLUSH_EVERY, step 0 excluded."""
    k = 1
    while (step := stream + N_STREAMS * (k - 1)) == 0 or step % FLUSH_EVERY:
        k += 1
    return k


def hot_prefill(stream: int) -> int:
    """Rows pre-buffered on a live_ingest stream before the run, so that
    auto-flushes fall inside the measured window at a fixed cadence: steps
    3, 6, ..., 24 flush, and the warm-up step 0 does not."""
    return BATCH_FLUSH - INSERT_POINTS * _first_flush_insert(stream) + 1


def prefill_points(seed: int, stream: int) -> tuple[np.ndarray, np.ndarray]:
    """Buffered live rows placed right after the committed history."""
    n = hot_prefill(stream)
    t = T0 + (LIVE_POINTS + np.arange(n, dtype=np.int64)) * SPACING
    v = np.round(_rng(seed, 2, stream).uniform(50.0, 150.0, n), 6)
    return t, v


def _zipf_streams(rng: np.random.Generator, n: int, s: float = 1.2) -> np.ndarray:
    w = 1.0 / np.arange(1, N_STREAMS + 1) ** s
    perm = rng.permutation(N_STREAMS)  # which streams are hot depends on the seed
    return perm[rng.choice(N_STREAMS, size=n, p=w / w.sum())]


def _snap(t: int, pw: int) -> int:
    return t - (t % (1 << pw))


def _dashboard(seed: int, n_calls: int) -> list[dict]:
    rng = _rng(seed, 3)
    n = READ_POINTS
    newest = T0 + (n - 1) * SPACING
    last_of = {ver: T0 + (hi - 1) * SPACING for ver, _lo, hi in version_cuts("dashboard_zoom")}
    streams = _zipf_streams(rng, n_calls)
    out = []
    for i in range(n_calls):
        slot = DASHBOARD_DECK[i % len(DASHBOARD_DECK)]
        kind = slot[0]
        u = stream_uuid(int(streams[i]))
        if kind in ("aw", "pin"):
            pw, k = slot[1], slot[2]
            req = {"uuid": u, "pointWidth": pw}
            if kind == "pin":
                ver = int(rng.choice(sorted(last_of)))
                last = last_of[ver]
                req["versionMajor"] = ver
            else:
                last = newest
            end = _snap(last, pw) + (1 << pw)
            req.update(start=end - k * (1 << pw), end=end)
            out.append({"method": "AlignedWindows", "req": req})
        elif kind == "win":
            width = slot[1] * SECOND
            end = newest + 1
            start = end - 240 * SECOND
            out.append({"method": "Windows", "req": {"uuid": u, "start": start, "end": end, "width": width}})
        elif kind == "near":
            t = newest - int(rng.integers(0, 60 * SECOND))
            out.append({"method": "Nearest", "req": {"uuid": u, "time": t, "backward": True}})
        else:  # chg
            res = int(rng.choice([30, 34, 38]))
            out.append({"method": "ChangedRanges", "req": {"uuid": u, "fromMajor": 10, "resolution": res}})
    return out


def _live(seed: int, n_steps: int) -> list[dict]:
    rng = _rng(seed, 5)
    next_t = {s: T0 + (LIVE_POINTS + hot_prefill(s)) * SPACING for s in range(N_STREAMS)}
    late_used: set[tuple[int, int]] = set()
    out = []
    for step in range(n_steps):
        s = step % N_STREAMS
        u = stream_uuid(s)
        vals = np.round(rng.uniform(50.0, 150.0, INSERT_POINTS), 6)
        if step % LATE_EVERY == LATE_EVERY - 1:
            # late data: 5 ms offsets inside the committed history; each
            # (stream, slice) is used once, so no two points share a timestamp
            while True:
                lo = int(rng.integers(0, LIVE_POINTS // INSERT_POINTS)) * INSERT_POINTS
                if (s, lo) not in late_used:
                    late_used.add((s, lo))
                    break
            ts = T0 + (lo + np.arange(INSERT_POINTS, dtype=np.int64)) * SPACING + SPACING // 2
        else:
            ts = next_t[s] + np.arange(INSERT_POINTS, dtype=np.int64) * SPACING
            next_t[s] += INSERT_POINTS * SPACING
        out.append({
            "method": "Insert", "step": step,
            "req": {"uuid": u, "values": [[int(t), float(v)] for t, v in zip(ts, vals)]},
        })
        out.append({
            "method": "AlignedWindows", "step": step,
            "req": {"uuid": u, "start": T0, "end": LIVE_END, "pointWidth": LIVE_PW},
        })
        if step % CHANGED_EVERY == CHANGED_EVERY - 1:
            out.append({
                "method": "ChangedRanges", "step": step,
                "req": {"uuid": u, "fromMajor": 10, "resolution": LIVE_PW},
            })
    return out


def requests(workload: str, seed: int, n: int | None = None) -> list[dict]:
    """The request sequence of a run: warm-up calls come first, then the
    timed window takes calls in order until its time is up. ``n`` counts
    calls for dashboard_zoom and steps for live_ingest; the defaults are
    several times what two windows use. Inserts carry their points, so
    live_ingest keeps its sequence short to keep the client small."""
    if workload == "dashboard_zoom":
        return _dashboard(seed, n or 400)
    if workload == "live_ingest":
        return _live(seed, n or 60)
    raise ValueError(f"unknown workload: {workload}")


# --------------------------------------------------------------------------
# expected results


class Ledger:
    """Per-stream sorted (time, value, version) view of everything the
    benchmark has written: the seeded history plus every insert it sent.
    Rows written after the seeded history carry version -1: whether the
    engine has flushed them yet does not change any latest read."""

    def __init__(self, workload: str, seed: int):
        self.t: dict[int, np.ndarray] = {}
        self.v: dict[int, np.ndarray] = {}
        self.ver: dict[int, np.ndarray] = {}
        for version, parts in store_plan(workload, seed):
            for s, t, v in parts:
                self._add(s, t, v, version)
        if workload == "live_ingest":
            for s in range(N_STREAMS):
                t, v = prefill_points(seed, s)
                self._add(s, t, v, -1)

    def _add(self, s: int, t: np.ndarray, v: np.ndarray, version: int) -> None:
        t = np.asarray(t, dtype=np.int64)
        v = np.asarray(v, dtype=np.float64)
        ver = np.full(len(t), version, dtype=np.int64)
        if s in self.t:
            t = np.concatenate([self.t[s], t])
            v = np.concatenate([self.v[s], v])
            ver = np.concatenate([self.ver[s], ver])
            order = np.argsort(t, kind="stable")
            t, v, ver = t[order], v[order], ver[order]
        self.t[s], self.v[s], self.ver[s] = t, v, ver

    def insert(self, s: int, values: list) -> None:
        arr = np.asarray(values, dtype=np.float64)
        self._add(s, arr[:, 0].astype(np.int64), arr[:, 1], -1)

    def view(self, s: int, version: int | None):
        t, v = self.t[s], self.v[s]
        if version is None:
            return t, v
        keep = (self.ver[s] >= 0) & (self.ver[s] <= version)
        return t[keep], v[keep]

    def live_points(self) -> int:
        return sum(len(t) for t in self.t.values())


def exact_mean(seg: np.ndarray) -> float:
    """The engine's mean: the exact DECIMAL(38,6) sum, rounded once to a
    double, divided by the count."""
    from fractions import Fraction

    micros = int(np.rint(seg * 1e6).astype(np.int64).sum())
    return float(Fraction(micros, 10**6)) / len(seg)


def _stats_rows(t: np.ndarray, v: np.ndarray, starts: np.ndarray, width: int, keep_empty: bool) -> list[tuple]:
    lo = np.searchsorted(t, starts, side="left")
    hi = np.searchsorted(t, starts + width, side="left")
    rows = []
    for b, a, z in zip(starts.tolist(), lo.tolist(), hi.tolist()):
        if z > a:
            seg = v[a:z]
            rows.append((b, z - a, float(seg.min()), exact_mean(seg), float(seg.max())))
        elif keep_empty:
            rows.append((b, 0, None, None, None))
    return rows


def expected(call: dict, ledger: Ledger):
    """Expected response of one read call: stat rows (time, count, min,
    mean, max), one (time, value) point, or (start, end) ranges."""
    m, r = call["method"], call["req"]
    s = int(r["uuid"].rsplit("-", 1)[1])
    t, v = ledger.view(s, r.get("versionMajor"))
    if m == "AlignedWindows":
        pw = r["pointWidth"]
        w = 1 << pw
        lo, hi = _snap(r["start"], pw), _snap(r["end"], pw)
        sel = (t >= lo) & (t < hi)
        if not sel.any():
            return []
        buckets = np.unique(t[sel] - (t[sel] % w))
        return _stats_rows(t, v, buckets, w, keep_empty=False)
    if m == "Windows":
        width, start = r["width"], r["start"]
        end = r["end"] - (r["end"] - start) % width
        starts = start + np.arange((end - start) // width, dtype=np.int64) * width
        return _stats_rows(t, v, starts, width, keep_empty=True)
    if m == "Nearest":
        i = int(np.searchsorted(t, r["time"], side="left")) - 1
        return [(int(t[i]), float(v[i]))]
    if m == "ChangedRanges":
        w = 1 << r["resolution"]
        ver = ledger.ver[s]
        changed = ledger.t[s][(ver == -1) | (ver > r["fromMajor"])]
        if not len(changed):
            return []
        b = np.unique(changed - (changed % w))
        breaks = np.flatnonzero(np.diff(b) > w) + 1
        return [(int(g[0]), int(g[-1]) + w) for g in np.split(b, breaks)]
    raise ValueError(m)


def compare(call: dict, rows: list, want) -> str | None:
    """None when the response matches; otherwise a one-line reason.
    Counts, times, min and max must match exactly; means to 1e-9 relative."""
    m = call["method"]
    if m == "Nearest":
        got = [(rows["time"], rows["value"])]
        return None if got == want else f"nearest {got} != {want}"
    if m == "ChangedRanges":
        got = [(r["range_start"], r["range_end"]) for r in rows]
        return None if got == want else f"changed ranges {got[:3]} != {want[:3]}"
    if len(rows) != len(want):
        return f"window count {len(rows)} != {len(want)}"
    for r, (b, c, lo, mean, hi) in zip(rows, want):
        if (r["time"], r["count"], r["vmin"], r["vmax"]) != (b, c, lo, hi):
            return f"window {b}: {(r['time'], r['count'], r['vmin'], r['vmax'])} != {(b, c, lo, hi)}"
        if mean is None:
            if r["vmean"] is not None:
                return f"window {b}: mean of empty window"
        elif abs(r["vmean"] - mean) > 1e-9 * abs(mean):
            return f"window {b}: mean {r['vmean']} != {mean}"
    return None
