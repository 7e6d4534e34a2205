#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and this harness from source on first use (sbt, under
`.bench_build/`), generates the run's inputs from the seed, starts a fresh
engine process on local[nproc], measures for the given seconds, checks the
outputs, and prints one JSON object as the last line of standard output:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
A full record of the run is kept under `.bench_build/results/`.
See perfbench/README.md for the metrics and workloads.
"""
import argparse
import datetime
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import stats  # noqa: E402
from loadgen import HOSTS, PERIOD_S  # noqa: E402

WORKLOADS = ("ingest_push", "dashboard_read")

# Data sizes of the query workloads' generated inputs (rows): the repo's
# sf0.01 scale (README, "Scope" gives why not sf0.1).
DATA = {"n_events": 10_000, "n_docs": 500, "n_vecs": 500, "n_orders": 15_000}

JVM_HEAP = "3g"
# a run must end within 180 s once built; engines share what is left
RUN_LIMIT_S = 175
deadline = float("inf")

# name -> (unit, better): the end-to-end metrics, reported by every workload
END_TO_END = {
    "setup_s": ("s", "lower"),
    "latency_ms": ("ms", "lower"),
}

# the SparkEntry.prepareTimed steps that build what dashboard_read reads
PREPARE_STEPS = ("tag_index", "kmv_route", "quantile_route", "sql_views")
STREAMS = ("raw_metrics", "raw_logs", "lts_rollup")
STREAM_PARTS = {"latest_offset_ms": "latestOffset", "get_batch_ms": "getBatch",
                "query_planning_ms": "queryPlanning", "add_batch_ms": "addBatch",
                "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets"}
LAYERS = ("sources", "streaming", "plans", "query", "operators")


def per_layer_spec():
    """name -> (unit, better) for every per-layer metric, in report order."""
    m = {
        "error_ratio": ("ratio", "lower"),
        "gen.late_max_ms": ("ms", "lower"),
        "http.posts": ("count", "higher"),
        "http.non204": ("count", "lower"),
        "http.post_p50_ms": ("ms", "lower"),
        "http.post_max_ms": ("ms", "lower"),
        "ingest.rows_per_s": ("rows/s", "higher"),
        "spool.files": ("count", "lower"),
        "spool.bytes": ("bytes", "lower"),
        "wire.parse_rows_per_s": ("rows/s", "higher"),
        "wire.rows_out_over_in": ("ratio", "higher"),
    }
    for q in STREAMS:
        m[f"stream.{q}.triggers"] = ("count", "higher")
        m[f"stream.{q}.trigger_p50_ms"] = ("ms", "lower")
        m[f"stream.{q}.trigger_max_ms"] = ("ms", "lower")
        for k in STREAM_PARTS:
            m[f"stream.{q}.{k}"] = ("ms", "lower")
        m[f"stream.{q}.busy_ratio"] = ("ratio", "lower")
        m[f"stream.{q}.processed_rows_per_s"] = ("rows/s", "higher")
        m[f"stream.{q}.input_rows"] = ("rows", "higher")
    m["stream.lts_rollup.state_rows"] = ("rows", "lower")
    m["stream.lts_rollup.state_mem_mb"] = ("MB", "lower")
    for t in ("raw_metrics", "raw_logs"):
        m[f"table.{t}.files"] = ("count", "lower")
        m[f"table.{t}.bytes_per_row"] = ("bytes", "lower")
    m["visible.raw_lag_p50_s"] = ("s", "lower")
    m["query.p50_ms"] = ("ms", "lower")
    m["query.total_ms"] = ("ms", "lower")
    m["route.routed_ratio"] = ("ratio", "higher")
    m["route.plan_ms_p50"] = ("ms", "lower")
    for k in ("build_ms_p50", "plan_ms_p50", "exec_ms_p50"):
        m[f"query.{k}"] = ("ms", "lower")
    m["query.build_share"] = ("ratio", "lower")
    for k in ("eager_jobs", "jobs", "stages", "tasks"):
        m[f"query.{k}"] = ("count", "lower")
    for k, u in (("task_run_s", "s"), ("task_cpu_s", "s"), ("cpu_over_wall", "ratio"),
                 ("gc_s", "s"), ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
                 ("spill_mb", "MB"), ("peak_exec_mem_mb", "MB")):
        m[f"spark.{k}"] = (u, "higher" if k == "cpu_over_wall" else "lower")
    m["cache.storage_mb_peak"] = ("MB", "lower")
    for s in PREPARE_STEPS:
        m[f"prepare.{s}_ms"] = ("ms", "lower")
    m["jvm.gc_s"] = ("s", "lower")
    m["jvm.heap_used_peak_mb"] = ("MB", "lower")
    m["jvm.peak_rss_mb"] = ("MB", "lower")
    for layer in LAYERS:
        m[f"self.{layer}_s"] = ("s", "lower")
    for k in END_TO_END:
        m[f"overhead.{k}"] = ("ratio", "lower")
    m["scaling.1c_over_nc"] = ("ratio", "higher")
    return m


PER_LAYER = per_layer_spec()


class RunError(Exception):
    """The run cannot produce a result (build, engine or protocol failure)."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    return env


def build():
    """Compile the engine and the harness; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise RunError(f"engine source {need} not found next to perfbench/")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=850)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise RunError("sbt build failed")
    cp = [x for x in lines if not x.startswith("[") and os.pathsep in x]
    if not cp:
        raise RunError("sbt printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp[-1].strip()


# ---------------------------------------------------------------- engine

ADD_OPENS = ("java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio "
             "java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch "
             "sun.nio.cs sun.security.action sun.util.calendar").split()


def java_cmd(cp, work, tmp):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Engine"]


class Engine:
    """A running engine process; always stopped by `close`."""

    def __init__(self, cp, work, args, tmp=None):
        """`tmp` is the JVM's java.io.tmpdir, and so its artifact root;
        fresh under `work` unless given."""
        tmp = tmp or os.path.join(work, "tmp")
        os.makedirs(work, exist_ok=True)
        os.makedirs(tmp, exist_ok=True)
        self.out = os.path.join(work, "engine.json")
        self.log_path = os.path.join(work, "engine.log")
        self.log = open(self.log_path, "w")
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        kv = [f"{k}={v}" for k, v in dict(args, work=work, out=self.out).items()]
        self.proc = subprocess.Popen(java_cmd(cp, work, tmp) + kv, cwd=work, env=env,
                                     stdout=self.log, stderr=subprocess.STDOUT,
                                     stdin=subprocess.DEVNULL, start_new_session=True)
        self.deadline = deadline

    def wait(self):
        try:
            rc = self.proc.wait(timeout=max(1, self.deadline - time.time()))
        except subprocess.TimeoutExpired:
            self.close()
            raise RunError("engine timed out")
        if not os.path.exists(self.out):
            self.tail()
            raise RunError(f"engine exited {rc} without observations")
        with open(self.out) as f:
            obs = json.load(f)
        if rc != 0 or "fatal" in obs:
            self.tail()
            raise RunError(f"engine failed: {obs.get('fatal', rc)}")
        return obs

    def alive(self):
        return self.proc.poll() is None

    def tail(self):
        self.log.flush()
        with open(self.log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))

    def close(self):
        if self.proc.poll() is None:
            try:
                os.killpg(self.proc.pid, signal.SIGTERM)
                self.proc.wait(timeout=15)
            except (subprocess.TimeoutExpired, ProcessLookupError):
                os.killpg(self.proc.pid, signal.SIGKILL)
                self.proc.wait()
        self.log.close()


# ---------------------------------------------------------------- workloads

def median(xs):
    return statistics.median(xs) if xs else 0.0


def run_dashboard(cp, work, a, cores):
    import datagen
    import oracle
    data = os.path.join(work, "data")
    sizes = datagen.write(data, a.seed, **DATA)
    eng = Engine(cp, work, {"workload": a.workload, "data": data, "cores": cores,
                            "seconds": a.seconds, "seed": a.seed, "trace": a.trace})
    try:
        obs = eng.wait()
    finally:
        eng.close()
    names = sorted({e["query"] for e in obs["executions"]})
    failures = dict(obs["warmup_errors"])
    failures.update(oracle.check_queries(data, os.path.join(work, "results"),
                                         obs["oracle_sql"], [n for n in names if n not in failures]))
    execs = obs["executions"]
    ok = [e for e in execs if e["error"] is None]
    if not ok:
        raise RunError("no execution succeeded")
    times = [latency(e) for e in ok]
    geo, total = per_type(ok)
    e2e = {"setup_s": obs["setup_s"], "latency_ms": geo}
    checks_ok, attempted, failed = query_outcome(execs, names, failures)
    layer = query_layer(obs, ok)
    layer.update({
        "cache.storage_mb_peak": obs["cache_storage_mb_peak"],
        "jvm.gc_s": obs["jvm_gc_s"],
        "jvm.heap_used_peak_mb": obs["heap_used_peak_mb"],
        "jvm.peak_rss_mb": obs["peak_rss_mb"],
    })
    for s in PREPARE_STEPS:
        layer[f"prepare.{s}_ms"] = obs.get("prepare_ms", {}).get(s, 0)
    record = {"data_rows": sizes, "rounds": obs["rounds"], "measured_s": obs["measured_s"],
              "executions": len(ok), "execution_ms": times, "check_failures": failures,
              "per_query_ms": per_query(ok), "session_s": obs["session_s"],
              "warmup_ms": obs["warmup_ms"],
              "execution_errors": [e for e in execs if e["error"]]}
    if a.trace:
        layer["scaling.1c_over_nc"] = scaling(cp, work, a, data, total)
    return e2e, layer, attempted, failed, checks_ok, record, obs


def query_outcome(execs, names, check_failures):
    """(correct, attempted, failed) of a query run. Every measured execution
    and every query's result check is an operation. A measured execution
    that threw fails the run as a failed check does: leaving it out of the
    latency would read as a speed-up."""
    errors = sum(1 for e in execs if e["error"] is not None)
    return (not check_failures and not errors, len(execs) + len(names),
            errors + len(check_failures))


def latency(e):
    return e["buildMs"] + e["planMs"] + e["execMs"]


def per_query(execs):
    """{query: median latency ms over its executions}"""
    by_q = {}
    for e in execs:
        by_q.setdefault(e["query"], []).append(latency(e))
    return {q: statistics.median(v) for q, v in by_q.items()}


def per_type(execs):
    """(geometric mean, sum) over query types of each type's median
    latency."""
    means = list(per_query(execs).values())
    return stats.geomean(means), sum(means)


def query_layer(obs, ok):
    """Per-layer metrics every query-bearing workload reports."""
    tot = [e["buildMs"] + e["planMs"] + e["execMs"] for e in ok]
    eligible = [e for e in ok if e["routed"] is not None]
    sp = obs["spark"]
    return {
        "query.p50_ms": median(tot),
        "query.total_ms": per_type(ok)[1],
        "route.routed_ratio": (sum(1 for e in eligible if e["routed"]) / len(eligible))
        if eligible else 0.0,
        "route.plan_ms_p50": median([e["planMs"] for e in eligible]),
        "query.build_ms_p50": median([e["buildMs"] for e in ok]),
        "query.plan_ms_p50": median([e["planMs"] for e in ok]),
        "query.exec_ms_p50": median([e["execMs"] for e in ok]),
        "query.build_share": sum(e["buildMs"] for e in ok) / sum(tot) if tot else 0.0,
        "query.eager_jobs": median([e["eagerJobs"] for e in ok]),
        "query.jobs": median([e["jobs"] for e in ok]),
        "query.stages": median([e["stages"] for e in ok]),
        "query.tasks": median([e["tasks"] for e in ok]),
        "spark.task_run_s": sp["task_run_s"],
        "spark.task_cpu_s": sp["task_cpu_s"],
        "spark.cpu_over_wall": sp["task_cpu_s"] / obs["measured_s"],
        "spark.gc_s": sp["gc_s"],
        "spark.shuffle_read_mb": sp["shuffle_read_mb"],
        "spark.shuffle_write_mb": sp["shuffle_write_mb"],
        "spark.spill_mb": sp["spill_mb"],
        "spark.peak_exec_mem_mb": sp["peak_exec_mem_mb"],
    }


def scaling(cp, work, a, data, total_nc_ms):
    """One round of the same queries on local[1] (warmed up, unchecked):
    its summed per-query times over the summed medians on local[nproc].
    It reuses the measured run's artifact root, so its warm-up builds no
    artifacts and the traced run stays inside its time limit."""
    w1 = os.path.join(work, "one-core")
    eng = Engine(cp, w1, {"workload": a.workload, "data": data, "cores": 1, "seconds": 0,
                          "rounds": 1, "seed": a.seed, "trace": 0, "check": 0},
                 tmp=os.path.join(work, "tmp"))
    try:
        obs = eng.wait()
    finally:
        eng.close()
    return per_type([e for e in obs["executions"] if e["error"] is None])[1] / total_nc_ms


def run_ingest(cp, work, a, cores):
    import oracle
    ctl = os.path.join(work, "ctl")
    os.makedirs(ctl)
    eng = Engine(cp, work, {"workload": "ingest_push", "cores": cores, "seconds": a.seconds,
                            "seed": a.seed, "trace": a.trace, "ctl": ctl})
    gen_out = os.path.join(work, "gen.json")
    try:
        ready = os.path.join(ctl, "ready.json")
        while not os.path.exists(ready):
            if not eng.alive():
                eng.wait()
                raise RunError("engine stopped before it was ready")
            if time.time() > eng.deadline:
                raise RunError("engine was not ready in time")
            time.sleep(0.05)
        with open(ready) as f:
            port = json.load(f)["port"]
        gen = subprocess.run(
            [sys.executable, os.path.join(HERE, "loadgen.py"),
             "--url", f"http://127.0.0.1:{port}/v1/submit-batch",
             "--seconds", str(a.seconds), "--seed", str(a.seed),
             "--threads", str(cores), "--out", gen_out],
            stdin=subprocess.DEVNULL, timeout=max(1, deadline - time.time()))
        if gen.returncode != 0:
            raise RunError("load generator failed")
        with open(gen_out) as f:
            recs = json.load(f)["records"]
        accepted = [r for r in recs if r["status"] == 204]
        with open(os.path.join(ctl, "expected.tmp"), "w") as f:
            json.dump({"metric_rows": sum(r["metrics"] for r in accepted)}, f)
        os.replace(os.path.join(ctl, "expected.tmp"), os.path.join(ctl, "expected.json"))
        obs = eng.wait()
    finally:
        eng.close()
    warm = obs["warmup"]
    expected_rows = accepted + [{"host": "warmup", "t_us": iso_to_us(warm["time"]),
                                 "metrics": warm["metrics"], "logs": warm["logs"]}]
    bad, extra = oracle.check_ingest(os.path.join(work, "raw_metrics"),
                                     os.path.join(work, "raw_logs"), expected_rows)
    fresh_all = stats.freshness(accepted, obs["transitions"])
    fresh = [f for f in fresh_all if f is not None]
    unseen = [(e["host"], e["t_us"]) for e, f in zip(accepted, fresh_all) if f is None]
    polls = obs["polls"]
    ok_polls = [p for p in polls if p["error"] is None]
    if not fresh or not ok_polls:
        raise RunError("no freshness samples or no successful polls")
    lat = [stats.latency_ms(r["due"], r["end"]) for r in recs]
    late = [stats.lateness_ms(r["due"], r["start"]) for r in recs]
    window = obs["measured_s"]
    t1_ms = obs["window_ms"][1]
    visible_rows = sum(e["metrics"] for e, f in zip(accepted, fresh_all)
                       if f is not None and e["t_us"] / 1000 + f * 1000 <= t1_ms)
    e2e = {"setup_s": obs["setup_s"], "latency_ms": median(fresh) * 1000}
    non204 = len(recs) - len(accepted)
    # an accepted envelope fails once, whether rows are missing, duplicated
    # or never counted by a poll; three whole-run checks close the list
    failed_checks = len(set(bad) | set(unseen)) + (1 if extra else 0) \
        + (1 if obs["rollup_mismatch"] else 0) + (0 if obs["drained"] else 1)
    failed = non204 + (len(polls) - len(ok_polls)) + failed_checks
    attempted = len(recs) + len(polls) + 3
    layer = query_layer(obs, ok_polls)
    sent_rows = sum(r["metrics"] + r["logs"] for r in accepted) + warm["metrics"] + warm["logs"]
    layer.update({
        "gen.late_max_ms": max(late),
        "http.posts": len(recs),
        "http.non204": non204,
        "http.post_p50_ms": median(lat),
        "http.post_max_ms": max(lat),
        "ingest.rows_per_s": visible_rows / window,
        "spool.files": obs["spool"]["files"],
        "spool.bytes": obs["spool"]["bytes"],
        "jvm.gc_s": obs["jvm_gc_s"],
        "jvm.heap_used_peak_mb": obs["heap_used_peak_mb"],
        "jvm.peak_rss_mb": obs["peak_rss_mb"],
    })
    if "wire" in obs:
        layer["wire.parse_rows_per_s"] = obs["wire"]["rows"] / obs["wire"]["seconds"]
        layer["wire.rows_out_over_in"] = obs["wire"]["rows"] / sent_rows
    layer.update(stream_layer(obs, accepted))
    record = {"hosts": HOSTS, "period_s": PERIOD_S, "session_s": obs["session_s"],
              "offered_envelopes_per_s": HOSTS / PERIOD_S,
              "offered_rows_per_s": sum(r["metrics"] + r["logs"] for r in recs) / a.seconds,
              "measured_s": window, "bad_envelopes": bad[:20], "extra_rows": extra,
              "unseen_envelopes": unseen[:20], "rollup_mismatch": obs["rollup_mismatch"],
              "drained": obs["drained"], "poll_ms": [latency(p) for p in ok_polls],
              "freshness_s": fresh, "post_ms": lat,
              "gen.late_max_ms": layer["gen.late_max_ms"]}
    record["poll_errors"] = sorted({p["error"][:200] for p in polls if p["error"]})
    obs["post_spans"] = [{"name": r["host"], "layer": "sources", "startMs": r["start"] * 1000,
                          "endMs": r["end"] * 1000} for r in recs]
    return e2e, layer, attempted, failed, failed_checks == 0, record, obs


def iso_to_us(s):
    d = datetime.datetime.fromisoformat(s.replace("Z", "+00:00"))
    return int(d.timestamp()) * 1_000_000 + d.microsecond


def stream_layer(obs, accepted):
    """Stream metrics over the triggers after set-up: those that ended
    after the measured window opened, the drain included."""
    m = {}
    t0 = obs["window_ms"][0]
    for q in STREAMS:
        ps = [p for p in obs["streams"].get(q, []) if p["endMs"] > t0]
        trig = [p["durationMs"].get("triggerExecution", 0) for p in ps]
        span_s = (max(p["endMs"] for p in ps) - t0) / 1000.0 if ps else 0.0
        m[f"stream.{q}.triggers"] = len(ps)
        m[f"stream.{q}.trigger_p50_ms"] = median(trig)
        m[f"stream.{q}.trigger_max_ms"] = max(trig, default=0.0)
        for k, part in STREAM_PARTS.items():
            m[f"stream.{q}.{k}"] = median([p["durationMs"].get(part, 0) for p in ps])
        m[f"stream.{q}.busy_ratio"] = sum(trig) / 1000.0 / span_s if span_s else 0.0
        m[f"stream.{q}.processed_rows_per_s"] = median([p["processedRowsPerSec"] for p in ps])
        m[f"stream.{q}.input_rows"] = sum(p["inputRows"] for p in ps)
    roll = obs["streams"].get("lts_rollup", [])
    m["stream.lts_rollup.state_rows"] = roll[-1]["stateRows"] if roll else 0
    m["stream.lts_rollup.state_mem_mb"] = roll[-1]["stateMemBytes"] / 1048576.0 if roll else 0.0
    for t in ("raw_metrics", "raw_logs"):
        ts = obs["tables"][t]
        m[f"table.{t}.files"] = ts["files"]
        m[f"table.{t}.bytes_per_row"] = ts["bytes"] / ts["rows"] if ts["rows"] else 0.0
    # raw visibility: the end of the first raw_metrics trigger that started
    # after the envelope's file was spooled
    raw = sorted((p["endMs"] - p["durationMs"].get("triggerExecution", 0), p["endMs"])
                 for p in obs["streams"].get("raw_metrics", []))
    lags = []
    for e in accepted:
        t_ms = e["t_us"] / 1000.0
        done = e["end"] * 1000.0
        ends = [end for start, end in raw if start >= done]
        if ends:
            lags.append((ends[0] - t_ms) / 1000.0)
    m["visible.raw_lag_p50_s"] = median(lags)
    return m


# ---------------------------------------------------------------- traces

def self_times(spans):
    """Seconds each layer spent in itself: a span's duration minus the
    union of its children's, summed per layer."""
    children = {}
    for s in spans:
        children.setdefault(s.get("parent", 0), []).append(s)
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        ivs = sorted((max(c["startMs"], s["startMs"]), min(c["endMs"], s["endMs"]))
                     for c in children.get(s.get("id"), []) if "id" in s)
        covered, cur = 0.0, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur and a <= cur[1]:
                cur[1] = max(cur[1], b)
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
        if cur:
            covered += cur[1] - cur[0]
        if s["layer"] in out:
            out[s["layer"]] += max(0.0, s["endMs"] - s["startMs"] - covered) / 1000.0
    return out


def trigger_spans(obs):
    """One span per stream trigger after set-up, from its progress event,
    with the durationMs parts as children charged to the layer that does
    them."""
    part_layer = {"latestOffset": "sources", "getBatch": "sources",
                  "queryPlanning": "plans", "addBatch": "streaming",
                  "walCommit": "streaming", "commitOffsets": "streaming"}
    out, nid = [], 10**12
    for q, ps in obs.get("streams", {}).items():
        for p in (p for p in ps if p["endMs"] > obs["window_ms"][0]):
            d = p["durationMs"]
            end = p["endMs"]
            start = end - d.get("triggerExecution", 0)
            nid += 1
            tid = nid
            out.append({"id": tid, "parent": 0, "name": f"{q}#{p['batchId']}",
                        "layer": "streaming", "startMs": start, "endMs": end})
            t = start
            for part in ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                         "walCommit", "commitOffsets"):
                if part in d:
                    nid += 1
                    out.append({"id": nid, "parent": tid, "name": part,
                                "layer": part_layer[part], "startMs": t, "endMs": t + d[part]})
                    t += d[part]
    return out


def overhead(workload, traced):
    """Traced value over the median untraced value kept for this workload,
    minus one; zero when no untraced run has been kept yet."""
    d = os.path.join(BUILD, "results", workload)
    base = {}
    for f in sorted(os.listdir(d)) if os.path.isdir(d) else []:
        if f.endswith("-trace0.json"):
            with open(os.path.join(d, f)) as g:
                for k, v in json.load(g)["end_to_end"].items():
                    base.setdefault(k, []).append(v)
    return {f"overhead.{k}": (traced[k] / median(base[k]) - 1.0) if base.get(k) else 0.0
            for k in END_TO_END}


# ---------------------------------------------------------------- record

def host_state():
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    free_mb = 0.0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                free_mb = int(line.split()[1]) / 1024.0
    return {"loadavg_1m": load, "mem_available_mb": free_mb}


def git_head():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    return "source-" + source_stamp()[:12]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops the engine it started (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    start_state = host_state()
    global deadline
    try:
        cp = build()
        deadline = time.time() + RUN_LIMIT_S
        runs = os.path.join(BUILD, "runs")
        os.makedirs(runs, exist_ok=True)
        work = os.path.join(runs, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            fn = run_ingest if a.workload == "ingest_push" else run_dashboard
            e2e, layer, attempted, failed, correct, record, obs = fn(cp, work, a, cores)
            spans = obs.get("spans", []) + trigger_spans(obs) + obs.get("post_spans", [])
        finally:
            shutil.rmtree(work, ignore_errors=True)
    except (RunError, subprocess.TimeoutExpired, OSError) as err:
        log(f"run failed: {err}")
        return 1
    layer["error_ratio"] = failed / attempted
    if a.trace:
        layer.update({f"self.{k}_s": v for k, v in self_times(spans).items()})
        layer.update(overhead(a.workload, e2e))
    layer = {k: float(layer.get(k, 0.0)) for k in PER_LAYER}
    record = dict(record, workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                  git_head=git_head(), nproc=cores, host_start=start_state,
                  host_end=host_state(), jvm_flags=obs.get("jvm_flags"),
                  end_to_end=e2e, per_layer=layer, attempted=attempted, failed=failed,
                  correct=correct)
    out_dir = os.path.join(BUILD, "results", a.workload)
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"seed{a.seed}-trace{a.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    if a.trace:
        with open(stem + ".spans.json", "w") as f:
            json.dump(spans, f)
    shown = layer if a.trace else e2e
    spec = PER_LAYER if a.trace else END_TO_END
    for k, v in shown.items():
        print(f"{a.workload} {k} {v:.6g} {spec[k][0]}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": spec[k][0]} for k, v in shown.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
