"""End-to-end benchmark of the BTrDB service: one command per workload.

    python3 perfbench/run.py --workload dashboard_zoom --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The process starts a local Spark session,
builds a seeded store with ``BTrDBEngine.bulk_load``, serves it with
``BTrDBService`` over HTTP and starts ``client.py`` in its own process,
which drives the workload closed-loop over one connection and checks every
response. The last line of stdout is one JSON object:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the timed
window once untraced and once with layer spans and the Spark event log on,
and reports the per-layer metrics (see perfbench/README.md). Everything the
run writes lives under ``.perfbench_work/`` in the checkout and is removed
at exit.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
import workloads as wl  # noqa: E402

STAT_RPCS = ("AlignedWindows", "Windows")
RPCS = ("AlignedWindows", "Windows", "Nearest", "ChangedRanges", "Insert")


# --------------------------------------------------------------------------
# process memory


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _pss_kb(pid: int) -> int:
    """Proportional resident set: resident pages, with each page shared by
    n processes counted 1/n. Unlike plain RSS, a short-lived fork of the
    JVM (Hadoop shells out for file operations) does not count the JVM's
    heap twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PssSampler(threading.Thread):
    """Peak of the summed resident memory (PSS) of this process and all its
    descendants: the client process, the Spark JVM and any Python workers."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb = 0
        self.peak_parts: dict[int, int] = {}
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            parts = {p: _pss_kb(p) for p in _descendants(os.getpid())}
            total = sum(parts.values())
            if total > self.peak_kb:
                self.peak_kb, self.peak_parts = total, parts
            self._halt.wait(self.period)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def tree_bytes(path: str) -> int:
    """Bytes of every regular file under path, each inode once (unchanged
    partitions are hard-linked between generations)."""
    seen, total = set(), 0
    for d, _dirs, files in os.walk(path):
        for name in files:
            st = os.lstat(os.path.join(d, name))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total


# --------------------------------------------------------------------------
# server side


def spark_env(work: str, trace: bool) -> None:
    """Keep every file Spark and Python write inside the work directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "BTRDB_SPARK_DRIVER_MEM": "1g",
        "BTRDB_SPARK_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    })
    args = [f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "--conf spark.ui.showConsoleProgress=false"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        args += ["--conf spark.eventLog.enabled=true", f"--conf spark.eventLog.dir=file://{log_dir}",
                 "--conf spark.eventLog.compress=false", "--conf spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def build_store(spark, workload: str, seed: int, base: str):
    import pandas as pd

    from btrdb_spark.engine import BTrDBEngine

    engine = BTrDBEngine(spark, base, ladder=True)
    for s in range(wl.N_STREAMS):
        engine.create_stream(wl.stream_collection(s), tags={"pmu": f"p{s}"}, uuid=wl.stream_uuid(s))
    schema = "uuid string, time long, value double"
    for version, parts in wl.store_plan(workload, seed):
        pdf = pd.concat([pd.DataFrame({"uuid": wl.stream_uuid(s), "time": t, "value": v}) for s, t, v in parts])
        engine.bulk_load(spark.createDataFrame(pdf, schema), version=version)
    if workload == "live_ingest":
        frames = []
        for s in range(wl.N_STREAMS):
            t, v = wl.prefill_points(seed, s)
            frames.append(pd.DataFrame({"uuid": wl.stream_uuid(s), "time": t, "value": v, "seq": range(len(t))}))
        engine.append_hot(spark.createDataFrame(pd.concat(frames), schema + ", seq long"))
    return engine


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def _quietly(fn, *args) -> None:
    """Run one clean-up step; report its failure and go on to the next."""
    try:
        fn(*args)
    except Exception:
        traceback.print_exc()


# --------------------------------------------------------------------------
# metrics


def end_to_end(calls: list[dict], window_s: float) -> dict:
    """Throughput counts each call by the share of its duration that fell
    inside the window, so a slow call in flight at the deadline moves the
    figure smoothly instead of by a whole call."""
    lat = [c["latency_s"] * 1e3 for c in calls]
    share = [stats.share_inside(c["start_s"], c["end_s"], window_s) for c in calls]
    p90 = stats.tail_percentile(lat, 90)
    print(f"[perfbench] timed window {window_s:.2f} s, {len(calls)} calls, p50 over {len(lat)} samples"
          + (f", p90 {p90:.1f} ms" if p90 is not None else ", p90 not reported (<100 samples)"),
          file=sys.stderr)
    return {
        "calls_per_s": (sum(share) / window_s, "1/s"),
        "p50_ms": (stats.median(lat), "ms"),
        "rows_per_s": (sum(c["rows"] * f for c, f in zip(calls, share)) / window_s, "1/s"),
    }


def per_layer(calls: list[dict], untraced: list[dict], spans, jobs: list[dict]) -> dict:
    """Per-layer figures of the traced window (see README.md)."""
    from spans import self_times

    by_call: dict[int, list] = {}
    roots = {}
    for sp in spans:
        if sp.call is not None:
            by_call.setdefault(sp.call, []).append(sp)
            if sp.name.startswith("service.rpc_") and sp.parent is None:
                roots[sp.call] = sp
    # pair each server call with the client call whose interval holds it
    pairs = []
    for cid, root in sorted(roots.items()):
        for c in calls:
            if c["wall"] <= root.start <= c["wall"] + c["latency_s"]:
                pairs.append((c, by_call[cid]))
                break

    def ms(sp) -> float:
        return (sp.end - sp.start) * 1e3

    def each(name: str) -> list[float]:
        """Duration of every span called name."""
        return [ms(sp) for _c, sps in pairs for sp in sps if sp.name == name]

    def per_call(names, fn=lambda hit: sum(map(ms, hit))) -> list[float]:
        """fn over each call's spans in names, for calls that have any."""
        out = []
        for _c, sps in pairs:
            hit = [sp for sp in sps if sp.name in names]
            if hit:
                out.append(fn(hit))
        return out

    def per_call_count(name: str) -> list[int]:
        return [sum(sp.name == name for sp in sps) for _c, sps in pairs]

    def jobs_in(t0: float, t1: float) -> list[dict]:
        return [j for j in jobs if t0 <= j["submit"] <= t1]

    def med(xs, unit="ms"):
        return (stats.median(xs), unit)

    build = {"engine.raw_values", "engine.aligned_windows", "engine.windows", "engine.changed_ranges"}
    ladder = {"rollup.aligned_windows", "rollup.windows", "rollup.aligned_partials"}
    operators = {"operators.raw_values", "operators.nearest_all", "operators.aligned_windows",
                 "operators.windows", "operators.changed_ranges"}
    paired_roots = [roots[sps[0].call] for _c, sps in pairs]
    st = self_times(spans)
    with_rows = [c for c in calls if c["rows"] and c["method"] != "Insert"]
    stat_calls = [sps for c, sps in pairs if c["method"] in STAT_RPCS]
    served = sum(1 for sps in stat_calls if any(sp.name in ladder for sp in sps))
    call_jobs = [jobs_in(c["wall"], c["wall"] + c["latency_s"]) for c, _s in pairs]

    m: dict[str, tuple[float, str]] = {
        "service.handler_ms": med([ms(r) for r in paired_roots]),
        "service.handler_self_ms": med([st[r.sid] * 1e3 for r in paired_roots]),
        "service.fetch_ms": med(per_call({"service.fetch"})),
        "service.encode_ms": med(per_call({"service.encode"})),
        "service.bytes_per_row": (sum(c["bytes"] for c in with_rows) / max(1, sum(c["rows"] for c in with_rows)), "B"),
        "client.ttfb_ms": med([c["ttfb_s"] * 1e3 for c in calls]),
        "engine.build_ms": med(per_call(build)),
        "engine.build_jobs": med(per_call(build, lambda hit: sum(len(jobs_in(sp.start, sp.end)) for sp in hit)), "count"),
        "engine.stream_version_ms": med(per_call({"engine.stream_version"})),
        "engine.stream_version_calls": med(per_call_count("engine.stream_version"), "count"),
        "engine.nearest_ms": med(each("engine.nearest")),
        "engine.insert_ms": med(each("engine.insert")),
        "engine.flush_ms": med(each("engine.flush")),
        "engine.flushes": (len(each("engine.flush")), "count"),
        "engine.ladder_ratio": (served / len(stat_calls) if stat_calls else 0.0, "1"),
        "rollup.read_ms": med(per_call(ladder)),
        "rollup.ingest_ms": med(each("rollup.ingest_batch")),
        "rollup.ingests": (len(each("rollup.ingest_batch")), "count"),
        "store.publishes": (len(each("store.publish")), "count"),
        "store.publish_ms": med(each("store.publish")),
        "store.stamps": (len(each("store.bump_stamp")), "count"),
        "store.resolves": med(per_call_count("store.resolve"), "count"),
        "store.signature_walks": med(per_call_count("store.parquet_signature"), "count"),
        "operators.build_ms": med(per_call(operators)),
        "spark.jobs_per_call": med([len(js) for js in call_jobs], "count"),
        "spark.stages_per_call": med([sum(j["stages"] for j in js) for js in call_jobs], "count"),
        "spark.tasks_per_call": med([sum(j["tasks"] for j in js) for js in call_jobs], "count"),
    }
    for key, field, unit in (("executor_run_ms", "run_ms", "ms"), ("scheduler_delay_ms", "sched_ms", "ms"),
                             ("gc_ms", "gc_ms", "ms"), ("shuffle_bytes", "shuffle_bytes", "B"),
                             ("spill_bytes", "spill_bytes", "B")):
        m[f"spark.{key}"] = med([sum(j[field] for j in js) for js in call_jobs], unit)
    for rpc in RPCS:
        m[f"rpc.{rpc}.p50_ms"] = med([c["latency_s"] * 1e3 for c in untraced if c["method"] == rpc])
    m["client.timed_calls"] = (len(untraced), "count")
    m["client.traced_calls"] = (len(calls), "count")
    # the two windows hold different stretches of the deck, so compare
    # like with like: traced / untraced median per RPC type, then the
    # median of those ratios
    ratios = []
    for rpc in RPCS:
        a = [c["latency_s"] for c in calls if c["method"] == rpc]
        b = [c["latency_s"] for c in untraced if c["method"] == rpc]
        if a and b:
            ratios.append(stats.median(a) / stats.median(b))
    m["trace.overhead"] = (stats.median(ratios), "1")
    return m


# --------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its service, JVM and client (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    sampler = PssSampler()
    sampler.start()
    client = None
    spark = None
    service = None
    try:
        sys.path.insert(0, ROOT)
        spark_env(work, bool(a.trace))
        out_path = os.path.join(work, "client.json")
        client = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "client.py"), "--workload", a.workload,
             "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
             "--out", out_path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=ROOT,
        )
        from btrdb_spark.service import BTrDBService
        from btrdb_spark.session import get_spark

        spark = get_spark(f"perfbench-{a.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        t_session = time.time()
        engine = build_store(spark, a.workload, a.seed, os.path.join(work, "store"))
        t_load = time.time()
        service = BTrDBService(engine)
        port = service.start()
        client.stdin.write(f"PORT {port}\n")
        client.stdin.flush()
        tracer = None
        t_warm = None
        for line in client.stdout:
            word = line.split()
            if not word:
                continue
            if word[0] == "WARM":
                t_warm = float(word[1])
            elif word[0] == "SWITCH":
                from spans import Tracer

                tracer = Tracer()
                tracer.install()
                tracer.enabled = True
                client.stdin.write("GO\n")
                client.stdin.flush()
            elif word[0] == "DONE":
                break
        if client.wait(timeout=60) != 0 or t_warm is None:
            raise RuntimeError(f"client failed with code {client.returncode}")
        print(f"[perfbench] session {t_session - T_START:.2f} s, store {t_load - t_session:.2f} s, "
              f"warm-up {t_warm - t_load:.2f} s", file=sys.stderr)
        if tracer is not None:
            tracer.enabled = False
        with open(out_path) as f:
            res = json.load(f)
        store_bytes = tree_bytes(os.path.join(work, "store"))
        peak_kb = sampler.peak_kb
        print(f"[perfbench] peak PSS {peak_kb / 1024:.0f} MB over pids (MB): "
              + ", ".join(f"{p}:{kb / 1024:.0f}" for p, kb in sampler.peak_parts.items()), file=sys.stderr)
        service.stop()
        service = None
        stop_spark(spark)
        spark = None

        calls = res["calls"]
        timed = [c for c in calls if c["window"] == "timed"]
        failed = sum(1 for c in calls if c["error"] or c["wrong"])
        for c in calls:
            if c["error"] or c["wrong"]:
                print(f"[perfbench] FAIL {c['method']} ({c['window']}): {c['error'] or c['wrong']}", file=sys.stderr)
        for c in calls:
            if c["window"] != "warmup":
                print(f"[perfbench] {c['window']:6s} {c['method']:15s} {c['latency_s'] * 1e3:8.1f} ms {c['rows']:6d} rows",
                      file=sys.stderr)
        metrics = {}
        if a.trace:
            from spans import read_event_log

            traced = [c for c in calls if c["window"] == "traced"]
            jobs = read_event_log(os.path.join(work, "eventlog"))
            metrics.update(per_layer(traced, timed, tracer.spans, jobs))
            metrics["setup.session_s"] = (t_session - T_START, "s")
            metrics["setup.load_s"] = (t_load - t_session, "s")
            metrics["setup.warm_s"] = (t_warm - t_load, "s")
        else:
            metrics.update(end_to_end(timed, a.seconds))
            metrics["setup_s"] = (t_warm - T_START, "s")
            metrics["peak_rss_mb"] = (peak_kb / 1024.0, "MB")
            metrics["bytes_per_point"] = (store_bytes / res["live_points"], "B")
        result = {
            "correct": failed == 0,
            "attempted": len(calls),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if client is not None and client.poll() is None:
            client.kill()
            client.wait()
        if service is not None:
            _quietly(service.stop)
        if spark is not None:
            _quietly(stop_spark, spark)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
