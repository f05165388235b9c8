"""Unit tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402
import workloads as wl  # noqa: E402
from spans import Span, self_times  # noqa: E402


@pytest.mark.parametrize("workload", wl.WORKLOADS)
def test_same_seed_gives_byte_identical_requests(workload):
    a = json.dumps(wl.requests(workload, 7), sort_keys=True).encode()
    b = json.dumps(wl.requests(workload, 7), sort_keys=True).encode()
    assert a == b
    assert a != json.dumps(wl.requests(workload, 8), sort_keys=True).encode()


@pytest.mark.parametrize("workload", wl.WORKLOADS)
def test_store_is_a_function_of_the_seed(workload):
    p1, p2 = wl.store_plan(workload, 3), wl.store_plan(workload, 3)
    for (v1, parts1), (v2, parts2) in zip(p1, p2):
        assert v1 == v2
        for (s1, t1, x1), (s2, t2, x2) in zip(parts1, parts2):
            assert s1 == s2 and np.array_equal(t1, t2) and np.array_equal(x1, x2)
    assert not np.array_equal(wl.base_values(3, 0, 100), wl.base_values(4, 0, 100))


def test_dashboard_deck_keeps_the_mix_in_every_block():
    calls = wl.requests("dashboard_zoom", 1, n=len(wl.DASHBOARD_DECK))
    kinds = [c["method"] + ("@v" if "versionMajor" in c["req"] else "") for c in calls]
    assert kinds.count("AlignedWindows") == 12
    assert kinds.count("AlignedWindows@v") == 2
    assert kinds.count("Windows") == 3
    assert kinds.count("Nearest") == 2
    assert kinds.count("ChangedRanges") == 1


def test_live_inserts_never_reuse_a_timestamp():
    ledger = wl.Ledger("live_ingest", 5)
    for c in wl.requests("live_ingest", 5):
        if c["method"] == "Insert":
            ledger.insert(int(c["req"]["uuid"].rsplit("-", 1)[1]), c["req"]["values"])
    for s in range(wl.N_STREAMS):
        t = ledger.t[s]
        assert len(np.unique(t)) == len(t)


def test_live_flushes_fall_on_every_third_step_after_warm_up():
    buffered = {s: wl.hot_prefill(s) for s in range(wl.N_STREAMS)}
    flushed = []
    for c in wl.requests("live_ingest", 1, n=25):
        if c["method"] == "Insert":
            s = int(c["req"]["uuid"].rsplit("-", 1)[1])
            buffered[s] += len(c["req"]["values"])
            if buffered[s] >= wl.BATCH_FLUSH:
                buffered[s] = 0
                flushed.append(c["step"])
    assert flushed == [3, 6, 9, 12, 15, 18, 21, 24]


def test_p90_needs_100_samples():
    assert stats.tail_percentile(range(99), 90) is None
    assert stats.tail_percentile(range(100), 90) is not None
    assert stats.tail_percentile(range(1000), 90) == pytest.approx(899.1)


def test_share_inside_credits_the_call_in_flight():
    assert stats.share_inside(1.0, 3.0, 10.0) == 1.0
    assert stats.share_inside(9.0, 13.0, 10.0) == pytest.approx(0.25)
    assert stats.share_inside(10.5, 11.0, 10.0) == 0.0


def test_median_of_no_samples_reads_zero():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([]) == 0.0


def _sp(sid, start, end, parent=None):
    return Span(f"s{sid}", start, end, parent, 1, sid)


def test_self_time_subtracts_children_once():
    spans = [
        _sp(0, 0.0, 10.0),
        _sp(1, 1.0, 4.0, parent=0),
        _sp(2, 3.0, 6.0, parent=0),  # overlaps child 1 on [3, 4]
        _sp(3, 8.0, 12.0, parent=0),  # runs past its parent's end
        _sp(4, 1.5, 2.0, parent=1),  # grandchild: only its parent's self time shrinks
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (5.0 + 2.0))
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[4] == pytest.approx(0.5)


def test_expected_aligned_windows_match_brute_force():
    ledger = wl.Ledger("dashboard_zoom", 2)
    pw = 34
    end = wl.T0 + 20_000 * wl.SPACING
    call = {"method": "AlignedWindows", "req": {"uuid": wl.stream_uuid(3), "start": wl.T0 - 5, "end": end, "pointWidth": pw}}
    rows = wl.expected(call, ledger)
    t, v = ledger.view(3, None)
    w = 1 << pw
    lo, hi = (wl.T0 - 5) // w * w, end // w * w
    keep = (t >= lo) & (t < hi)
    groups: dict[int, list[float]] = {}
    for ti, vi in zip(t[keep].tolist(), v[keep].tolist()):
        groups.setdefault(ti // w * w, []).append(vi)
    assert [r[0] for r in rows] == sorted(groups)
    for b, c, mn, mean, mx in rows:
        g = groups[b]
        assert (c, mn, mx) == (len(g), min(g), max(g))
        assert mean == pytest.approx(sum(g) / len(g), rel=1e-12)
    got = [{"time": b, "count": c, "vmin": mn, "vmean": mean, "vmax": mx} for b, c, mn, mean, mx in rows]
    assert wl.compare(call, got, rows) is None
    got[0]["count"] += 1
    assert wl.compare(call, got, rows) is not None
