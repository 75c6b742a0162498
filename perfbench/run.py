"""The repository benchmark: two seeded workloads on local[4].

  live   open loop: wire-JSON files at a fixed rate into the reference
         consumer topology (readStream.text -> KafkaBridge.parseWire ->
         tools.Pipeline.startQueries, two keyed-upsert KPI queries).
  serve  set-up builds the search index (IndexBuild.buildTo); then a
         Zipf-skewed many-file events table is drained with
         EventPipeline.start (user_id, event_type), and one closed-loop
         client issues rounds of 22 calls, each round every dashboard
         call, UpsertSink.resolve of the two drained sinks, store-served
         search call and stream-static serving stream once.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload live --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --seed 1          # every workload in turn

The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer ones with --trace 1).
Exits non-zero on a correctness mismatch or an invalid live run.
See perfbench/README.md for the metric definitions.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402
import oracle  # noqa: E402

CORES = 4
# Set-ups per run; the median is reported. `serve` sets up once: its
# set-up includes a full index build, and three would not fit the
# benchmark's time budget (README.md, "Sizing").
SETUP_REPS = {"live": 3, "serve": 1}
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170

# live: offered rate, a ninth of the measured saturation rate of the
# two-query topology, where a trigger's cost is mostly fixed, so freshness
# follows the per-trigger scaffolding and not the batch size (README.md,
# "Sizing").
LIVE_RATE = 4000
LIVE_TICK_S = 0.1
# Load at the offered rate before the measured window, so the measured
# triggers run on JIT-compiled code at their steady batch size.
LIVE_WARM_S = 12.0
LIVE_DEADLINE_S = 40
GEN_LATE_LIMIT_MS = 500.0   # a live run whose generator ran later is invalid

# serve: the drained table; the dashboard reads a smaller events table that
# shares a dir with the indexed corpus.
SERVE_ROWS = 120_000
SERVE_READ_ROWS = 20_000
SERVE_FILES = 48
SERVE_MAX_FILES = 8
SERVE_DOCS = 64
# Every call type of the serve client. Each round issues all of them once,
# in a seeded order, so every call type is in every run's latencies
# (README.md, "Workloads").
SERVE_CALLS = (
    "d_kpi_avg", "d_kpi_extremes", "d_recent_windows", "d_top_users", "d_latest_snapshot",
    "d_row_counts", "d_anomaly", "d_stats_profile",
    "resolve_user_id", "resolve_event_type",
    "x_search_ingest", "x_search_lmql_in", "x_search_rm3_in", "x_search_chunks_in",
    "x_search_hybrid_in", "x_search_maxsim_in", "x_search_chunks_dense_in",
    "s_search_stream", "s_lmql_stream", "s_hybrid_stream", "s_rm3_stream",
    "s_chunk_search_stream")
# The traced run pairs these, the calls under ~0.7 s, each with an untraced
# copy in seeded order, for `trace.overhead_ms`.
SERVE_PAIRED = ("d_kpi_avg", "d_kpi_extremes", "d_recent_windows", "d_top_users",
                "d_latest_snapshot", "d_row_counts", "d_anomaly", "resolve_user_id",
                "resolve_event_type", "x_search_chunks_dense_in")
# The serve tail: the mean of the slowest quarter of calls. A run's ~22
# calls support no percentile above the median by the tail rule.
SERVE_TAIL_SHARE = 0.25

LIVE_TAIL_CAP = 99.0
WORKLOADS = ("live", "serve")

INDEX_STAGES = (
    "lexical_bm25", "bm25_forward", "lexical_lm", "member_bm25", "member_forward",
    "member_lm", "nav_graph", "knn_probe_index", "minhash_signatures",
    "multimodal_codec", "ltr_feature_log", "chunk_postings", "positional_phrases",
    "chunk_vectors", "quantizer_state", "chunk_router_state", "chunk_routed")

END_TO_END = (("setup_s", "s"), ("latency_p50_ms", "ms"), ("latency_tail_ms", "ms"),
              ("latency_mean_ms", "ms"), ("throughput_per_s", "1/s"))

# (name, unit, better) of every per-layer metric, in output order.
PER_LAYER = tuple(
    [(f"streaming.{n}", u, "lower") for n, u in (
        ("triggers", "count"), ("empty_trigger_ratio", "ratio"), ("trigger_ms", "ms"),
        ("planning_ms", "ms"), ("source_ms", "ms"), ("wal_ms", "ms"), ("batch_exec_ms", "ms"),
        ("state_update_ms", "ms"), ("state_commit_ms", "ms"), ("state_rows", "count"),
        ("state_bytes", "bytes"), ("source_lag_files", "count"),
        ("source_lag_offsets", "count"), ("rows_dropped_late", "count"))]
    + [("sink.deltas", "count", "lower"), ("sink.bytes", "bytes", "lower"),
       ("sink.resolve_ms", "ms", "lower"), ("ops.dashboard_ms", "ms", "lower"),
       ("ops.search_ms", "ms", "lower"), ("ops.serve_stream_ms", "ms", "lower")]
    + [(f"spark.{n}", u, "lower") for n, u in (
        ("planning_ms", "ms"), ("jobs_per_call", "count"), ("stages_per_call", "count"),
        ("tasks_per_call", "count"), ("shuffle_read_bytes", "bytes"),
        ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"), ("task_cpu_ms", "ms"))]
    + [("spark.busy_ratio", "ratio", "higher")]
    + [(f"index_build.{st}_s", "s", "lower") for st in INDEX_STAGES]
    + [("index_store.bytes", "bytes", "lower"), ("jvm.gc_ms", "ms", "lower"),
       ("jvm.heap_peak_mb", "MB", "lower"), ("jvm.mem_peak_mb", "MB", "lower"),
       ("gen.late_ms_p99", "ms", "lower"),
       ("serve.events_per_s_1core", "1/s", "higher"), ("self.call_ms", "ms", "lower"),
       ("self.job_ms", "ms", "lower"), ("self.stage_ms", "ms", "lower"),
       ("self.trigger_ms", "ms", "lower"), ("trace.overhead_ms", "ms", "lower")])


def serve_rounds(seed, n=20):
    """The serve client's rounds: each a seeded order of every call type."""
    import numpy as np
    rng = np.random.default_rng([seed, 4])
    return [[SERVE_CALLS[i] for i in rng.permutation(len(SERVE_CALLS))] for _ in range(n)]


def traced_round(seed):
    """The traced run's extra round: every call traced, and each paired
    call also untraced, before or after its traced twin by a seeded coin."""
    import numpy as np
    rng = np.random.default_rng([seed, 5])
    steps = []
    for name in serve_rounds(seed + 1, 1)[0]:
        pair = [{"name": name, "traced": True}]
        if name in SERVE_PAIRED:
            pair.append({"name": name, "traced": False})
            if rng.random() < 0.5:
                pair.reverse()
        steps += pair
    return steps


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Run:
    def __init__(self, root, workload, seed, seconds, trace):
        self.root, self.workload, self.seed = root, workload, seed
        self.seconds, self.trace = seconds, trace
        self.work = os.path.join(root, ".bench_work", f"{workload}-{seed}-{trace}-{os.getpid()}")
        self.t_start = time.time()
        self.proc = None

    def mark(self, what):
        log(f"{self.workload} +{time.time() - self.t_start:6.1f}s {what}")

    def p(self, *parts):
        return os.path.join(self.work, *parts)

    def launch(self, classpath, plan):
        plan.update(workload=self.workload, seed=self.seed, seconds=self.seconds,
                    trace=self.trace, work=self.work, cores=CORES, setup_reps=SETUP_REPS[self.workload],
                    out=self.p("result.json"))
        with open(self.p("plan.json"), "w") as f:
            json.dump(plan, f)
        env = dict(os.environ, SPARK_GRAFT_SCRATCH=self.p("scratch"))
        os.makedirs(self.p("tmp"), exist_ok=True)
        self.mark("inputs written")
        self.log_f = open(self.p("jvm.log"), "w")
        self.proc = subprocess.Popen(
            # no perf-data file: the JVM would write it outside the checkout
            ["java", "-XX:-UsePerfData", f"-Xmx{JVM_HEAP}", "-Xss8m", *build.ADD_OPENS,
             f"-Djava.io.tmpdir={self.p('tmp')}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             "-cp", classpath, "graft.perfbench.Harness", self.p("plan.json")],
            stdout=self.log_f, stderr=subprocess.STDOUT, env=env, cwd=self.work)

    def wait_jvm(self):
        left = RUN_TIMEOUT_S - (time.time() - self.t_start)
        try:
            self.proc.wait(timeout=max(1.0, left))
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
            raise RuntimeError("harness JVM timed out")
        finally:
            self.log_f.close()
        self.mark("harness done")
        with open(self.p("result.json")) as f:
            res = json.load(f)
        log(f"{self.workload}   setups {[round(x, 2) for x in res.get('setup_s', [])]}")
        for name, t in res.get("phases", []):
            log(f"{self.workload}   jvm {t:6.1f}s {name}")
        if "fatal" in res:
            raise RuntimeError("harness failed: " + res["fatal"])
        return res

    def stop(self):
        """Kill the harness JVM if a failed run left it running."""
        if self.proc is not None and self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()

    def wait_file(self, path, timeout):
        end = time.time() + timeout
        while not os.path.exists(path):
            if self.proc.poll() is not None or time.time() > end:
                raise RuntimeError(f"harness never wrote {os.path.basename(path)}")
            time.sleep(0.005)

    def jvm_tail(self):
        try:
            with open(self.p("jvm.log")) as f:
                return f.read()[-3000:]
        except OSError:
            return ""


# --- workloads -------------------------------------------------------------

def run_live(r, classpath):
    # set-up runs the queries over a warm-up file in the source, so the
    # open loop meets queries that have already processed data
    warm_ok = gen.write_live_warmup(r.seed, r.p("src"))
    r.launch(classpath, {"src": r.p("src"), "ready": r.p("ready"),
                         "started": r.p("started"), "gen_done": r.p("gen_done"),
                         "deadline_s": LIVE_DEADLINE_S})
    r.wait_file(r.p("ready"), RUN_TIMEOUT_S - 40)
    g = gen.LiveGenerator(r.seed, LIVE_RATE, r.seconds, r.p("src"), r.p("stage"), LIVE_TICK_S,
                          warm_s=LIVE_WARM_S)
    g.start()
    while g.t0_ms is None:
        time.sleep(0.001)
    with open(r.p("started"), "w") as f:
        f.write(repr(g.measure_ms))
    g.join()
    open(r.p("gen_done"), "w").close()
    res = r.wait_jvm()

    ckpts = [res["ckpt"]["user_id"], res["ckpt"]["item_id"]]
    committed = M.file_commit_ms(ckpts)
    measured = [f for f in g.files if f["measured"]]
    fresh, missing_measured = M.freshness(measured, committed)
    _, missing = M.freshness(g.files, committed)
    offered = sum(f["hi"] - f["lo"] for f in g.files)
    wellformed = warm_ok + sum(f["wellformed"] for f in g.files)
    late = [f["done_ms"] - f["due_ms"] for f in g.files for _ in range(f["hi"] - f["lo"])]
    late_level, late_p, _ = M.tail(late, 99.0)
    checks = list(res.get("checks", []))
    for k in ("user_id", "item_id"):
        # each well-formed event lands in exactly two sliding windows
        checks.append({"name": f"window_total_{k}", "ok": res[f"sink_total_{k}"] == 2 * wellformed,
                       "detail": f"{res[f'sink_total_{k}']} vs 2x{wellformed}"})
    checks.append({"name": "generator_on_time", "ok": late_p <= GEN_LATE_LIMIT_MS,
                   "detail": f"p{late_level:g} lateness {late_p:.1f} ms"})
    last = max(committed.values()) if committed else g.measure_ms
    third = len(fresh) // 3
    # a growing backlog shows as later events waiting longer than earlier ones
    growth = (M.percentile(fresh[-third:], 50.0) - M.percentile(fresh[third:-third], 50.0)) if third else 0.0
    delivered = sum(f["hi"] - f["lo"] for f in measured) - missing_measured
    out = {"attempted": offered, "failed": missing, "checks": checks, "res": res,
           "latency": fresh, "late_p": late_p, "growth": growth,
           "throughput": delivered / max(1e-9, (last - g.measure_ms) / 1000.0)}
    # split at the trace switch: the first half untraced, the second traced
    if r.trace:
        t_sw = res["trace_from_ms"]
        stamped = [(gf["name"], ts) for gf in measured for ts in gf["stamps_ms"]]
        out["latency_untraced"] = [committed[n] - ts for n, ts in stamped
                                   if n in committed and ts < t_sw]
        out["latency_traced"] = [committed[n] - ts for n, ts in stamped
                                 if n in committed and ts >= t_sw]
        written = {gf["name"]: gf["done_ms"] for gf in g.files}
        waits = []
        for key, ck in zip(("user_id", "item_id"), ckpts):
            docs = [json.loads(d) for d in res["progress"][key]]
            trig = [(p["batchId"], M.iso_ms(p["timestamp"])) for p in docs
                    if p["numInputRows"] > 0 and M.iso_ms(p["timestamp"]) >= t_sw]
            waits += M.files_waiting(trig, M.file_batches(ck), written)
        out["lag_files"] = sum(waits) / len(waits) if waits else 0.0
        out["gen_late_p99"] = late_p
    return out


def run_serve(r, classpath):
    gen.write_events_dir(r.seed, r.p("drain", "events.parquet"), SERVE_ROWS, SERVE_FILES)
    gen.write_events_dir(r.seed + 1, r.p("data", "events.parquet"), SERVE_READ_ROWS, 4)
    gen.write_corpus(r.seed, r.p("data"), SERVE_DOCS)
    gen.write_events_dir(r.seed + 2, r.p("warm", "events.parquet"), 16_000, SERVE_MAX_FILES)
    r.launch(classpath, {"drain": r.p("drain"), "data": r.p("data"), "warm": r.p("warm"),
                         "max_files": SERVE_MAX_FILES, "rounds": serve_rounds(r.seed),
                         "traced_round": traced_round(r.seed)})
    res = r.wait_jvm()
    checks = list(res.get("checks", [])) + oracle_checks(r, r.p("data"), res)
    calls = res["calls"]
    by = {}
    for c in calls:
        by.setdefault(c["name"], []).append(c["end_ms"] - c["start_ms"])
    for n, v in sorted(by.items(), key=lambda kv: statistics.median(kv[1])):
        log(f"serve   {n:28s} n={len(v):3d} median {statistics.median(v):8.1f} ms")
    for c in calls:
        if not c["ok"]:
            log(f"serve   call {c['name']} failed: {c['error']}")
    return {"attempted": SERVE_ROWS + len(calls), "failed": sum(1 for c in calls if not c["ok"]),
            "checks": checks, "res": res, "calls": calls,
            "throughput": SERVE_ROWS / res["drain_s"]}


def oracle_checks(r, data_dir, res):
    return [{"name": f"oracle_{n}", "ok": ok, "detail": d}
            for n, ok, d in oracle.compare(data_dir, r.p("oracle"), res.get("oracle_sql", {}))]


# --- metrics ---------------------------------------------------------------

def loop_latencies(calls):
    """Per-call latencies of the closed loop's rounds (not the traced one)."""
    return [c["end_ms"] - c["start_ms"] for c in calls if c["ok"] and c["round"] >= 0]


def end_to_end(r, o):
    res = o["res"]
    if r.workload == "live":
        lat = o["latency"]
        level, tail_v, n = M.tail(lat, LIVE_TAIL_CAP)
        tail_label = f"p{level:g}_ms (n={n})"
    else:
        lat = loop_latencies(o["calls"])
        tail_v, k = M.tail_mean(lat, SERVE_TAIL_SHARE)
        tail_label = f"tail_ms (mean of slowest {k} of {len(lat)})"
    vals = {
        "setup_s": statistics.median(res["setup_s"]),
        "latency_p50_ms": M.percentile(lat, 50.0),
        "latency_tail_ms": tail_v,
        "latency_mean_ms": statistics.fmean(lat),
        "throughput_per_s": o["throughput"],
    }
    return vals, tail_label


def human_table(r, o, vals, tail_label):
    """The design's names of the end-to-end metrics, for a reader."""
    lines = [("setup_s", vals["setup_s"], "s")]
    if r.workload == "live":
        lines += [("freshness_p50_ms", vals["latency_p50_ms"], "ms"),
                  (f"freshness_{tail_label}", vals["latency_tail_ms"], "ms"),
                  ("freshness_mean_ms", vals["latency_mean_ms"], "ms"),
                  ("events_per_s", vals["throughput_per_s"], "events/s"),
                  ("freshness_growth_ms", o["growth"], "ms")]
    else:
        lines += [("events_per_s", vals["throughput_per_s"], "events/s"),
                  ("query_p50_ms", vals["latency_p50_ms"], "ms"),
                  (f"query_{tail_label}", vals["latency_tail_ms"], "ms"),
                  ("query_mean_ms", vals["latency_mean_ms"], "ms"),
                  # closed loop, one client: completions per second of call time
                  ("queries_per_s", 1000.0 / vals["latency_mean_ms"], "calls/s")]
    lines += [("fail_ratio", o["failed"] / max(1, o["attempted"]), "ratio"),
              ("mem_peak_mb", o["res"]["mem_peak_mb"], "MB")]
    for name, v, unit in lines:
        print(f"{r.workload:8s} {name:40s} {v:14.4f} {unit}")


def paired_overhead(calls):
    """Median over the traced round's pairs of traced minus untraced latency."""
    pair = {}
    for c in calls:
        if c["round"] < 0 and c["ok"]:
            pair.setdefault(c["name"], {})[c["traced"]] = c["end_ms"] - c["start_ms"]
    diffs = [p[True] - p[False] for p in pair.values() if len(p) == 2]
    return statistics.median(diffs) if diffs else 0.0


def per_layer(r, o):
    res = o["res"]
    cnt = res.get("counters", {})
    out = {}
    if r.workload == "live":
        dig = M.progress_digest(list(res["progress"].values()), since_ms=res["trace_from_ms"])
        units = max(1, dig["triggers"])
        wall_ms = res["drain_done_ms"] - res["trace_from_ms"]
        tr, un = o["latency_traced"], o["latency_untraced"]
    else:
        dig = M.progress_digest(list(res["progress"].values()))
        traced_calls = [c for c in o["calls"] if c["traced"]]
        units = max(1, len(traced_calls))
        # the listeners are on only during traced calls
        wall_ms = sum(c["end_ms"] - c["start_ms"] for c in traced_calls) or 1.0
    for k in ("triggers", "empty_trigger_ratio", "trigger_ms", "planning_ms", "source_ms",
              "wal_ms", "batch_exec_ms", "state_update_ms", "state_commit_ms", "state_rows",
              "state_bytes", "rows_dropped_late"):
        out[f"streaming.{k}"] = dig[k]
    out["streaming.source_lag_files"] = o.get("lag_files", 0.0)
    lags = res.get("lag_offsets", [])
    out["streaming.source_lag_offsets"] = sum(lags) / len(lags) if lags else 0.0
    sinks = [res[k] for k in res if k.startswith("sink_") and isinstance(res[k], dict)]
    out["sink.deltas"] = sum(s["deltas"] for s in sinks)
    out["sink.bytes"] = sum(s["bytes"] for s in sinks)
    calls = [c for c in o.get("calls", []) if c["traced"] and c["ok"]]

    def mean_of(pred):
        v = [c["end_ms"] - c["start_ms"] for c in calls if pred(c["name"])]
        return sum(v) / len(v) if v else 0.0
    out["sink.resolve_ms"] = mean_of(lambda n: n.startswith("resolve_"))
    out["ops.dashboard_ms"] = mean_of(lambda n: n.startswith("d_"))
    out["ops.search_ms"] = mean_of(lambda n: n.startswith("x_"))
    out["ops.serve_stream_ms"] = mean_of(lambda n: n.startswith("s_"))
    out["spark.planning_ms"] = cnt.get("planning_ms", 0.0) / units
    out["spark.jobs_per_call"] = cnt.get("jobs", 0.0) / units
    out["spark.stages_per_call"] = cnt.get("stages", 0.0) / units
    out["spark.tasks_per_call"] = cnt.get("tasks", 0.0) / units
    out["spark.shuffle_read_bytes"] = cnt.get("shuffle_read_bytes", 0.0) / units
    out["spark.shuffle_write_bytes"] = cnt.get("shuffle_write_bytes", 0.0) / units
    out["spark.spill_bytes"] = cnt.get("spill_bytes", 0.0) / units
    out["spark.task_cpu_ms"] = cnt.get("task_cpu_ms", 0.0) / units
    out["spark.busy_ratio"] = cnt.get("task_run_ms", 0.0) / (CORES * max(1.0, wall_ms))
    stages = dict((n, s) for n, s in res.get("index_stages", []))
    for st in INDEX_STAGES:
        out[f"index_build.{st}_s"] = stages.get(st, 0.0)
    out["index_store.bytes"] = res.get("index_store_bytes", 0)
    out["jvm.gc_ms"] = res["jvm"]["gc_ms"]
    out["jvm.heap_peak_mb"] = res["jvm"]["heap_peak_mb"]
    out["jvm.mem_peak_mb"] = res["mem_peak_mb"]
    out["gen.late_ms_p99"] = o.get("gen_late_p99", 0.0)
    d1 = res.get("drain_1core_s")
    out["serve.events_per_s_1core"] = SERVE_ROWS / d1 if d1 else 0.0
    selfs = M.self_times(res.get("spans", []))
    out["self.call_ms"] = sum(t for nm, (t, _) in selfs.items() if not nm.startswith("spark.")) / units
    out["self.job_ms"] = selfs.get("spark.job", (0.0, 0))[0] / units
    out["self.stage_ms"] = selfs.get("spark.stage", (0.0, 0))[0] / units
    out["self.trigger_ms"] = max(0.0, dig["trigger_ms"] - dig["planning_ms"] - dig["source_ms"]
                                 - dig["wal_ms"] - dig["batch_exec_ms"])
    if r.workload == "live":
        out["trace.overhead_ms"] = M.percentile(tr, 50.0) - M.percentile(un, 50.0) if tr and un else 0.0
    else:
        out["trace.overhead_ms"] = paired_overhead(o["calls"])
    return out


def run_one(root, classpath, workload, seed, seconds, trace):
    r = Run(root, workload, seed, seconds, trace)
    os.makedirs(r.work, exist_ok=True)
    try:
        o = {"live": run_live, "serve": run_serve}[workload](r, classpath)
    except Exception:
        log("run failed; harness log tail:\n" + r.jvm_tail())
        raise
    finally:
        r.stop()
    r.mark("checks done")
    vals, tail_label = end_to_end(r, o)
    human_table(r, o, vals, tail_label)
    bad = [c for c in o["checks"] if not c["ok"]]
    dropped = M.progress_digest(list(o["res"].get("progress", {}).values()))["rows_dropped_late"]
    if dropped:
        bad.append({"name": "rows_dropped_late", "ok": False, "detail": str(dropped)})
    for c in bad:
        log(f"CHECK FAILED {c['name']}: {c['detail']}")
    if trace:
        layer = per_layer(r, o)
        keep = os.path.join(root, ".bench_work", f"trace-{workload}-{seed}.json")
        with open(keep, "w") as f:
            json.dump({"per_layer": layer, "spans": o["res"].get("spans", [])}, f)
        metrics = {k: {"value": layer[k], "unit": u} for k, u, _ in PER_LAYER}
    else:
        metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END}
    shutil.rmtree(r.work, ignore_errors=True)
    return {"correct": not bad, "attempted": int(o["attempted"]), "failed": int(o["failed"]),
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    try:
        classpath = build.build(root)
    except build.BuildError as e:
        log(str(e))
        return 2
    ok = True
    for w in ([a.workload] if a.workload else WORKLOADS):
        result = run_one(root, classpath, w, a.seed, a.seconds, a.trace)
        print(json.dumps(result), flush=True)
        ok = ok and result["correct"]
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
