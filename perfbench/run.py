#!/usr/bin/env python3
"""The repository's benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload query-heavy --seed 1 --seconds 6 --trace 0

Builds the program from source (build.py), runs one workload of
workloads.json against it in a fresh JVM, checks the outputs, and prints as
its last stdout line one JSON object: correct, attempted, failed, metrics.
--trace 0 prints the end-to-end metrics; --trace 1 turns on Spark listener
tracing and prints the per-layer metrics, and also writes them, with the
per-module job attribution, to .bench_build/traces/. See README.md.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

CFG = json.load(open(os.path.join(HERE, "workloads.json")))
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
CORES = 4                  # local[4]
HEAP = "3g"
DEADLINE_S = 170           # the whole run, inside the 180 s a run may take
WARMUP = "q01_pricing_summary"  # query-heavy's set-up query
LATENCY_PCT = 90           # the ladder's latency percentile (a rung has < 1000 events)
BACKLOG_TOLERANCE = 0.3    # backlog slope a passing rung may show, x its rate: sustained
                           # rungs measured <= 0.2, the overloaded top rung >= 0.4
DRAIN_TIMEOUT_S = 60       # after the ladder, for the backlog to commit
END_TO_END = {"setup_s": "s", "ops_per_s": "1/s"}
# Per-layer metrics every traced run prints (0 where a layer is idle).
PER_LAYER = {
    "queries.build_s": "s", "queries.plan_s": "s", "queries.exec_s": "s",
    "spark.job_gap_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.task_s": "s", "spark.busy_frac": "fraction",
    "spark.jobs_overlap_s": "s", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "core.jobs": "count", "core.barrier_jobs": "count", "core.par_jobs": "count",
    "operators.jobs": "count", "operators.task_s": "s", "sources.scan_mb": "MB",
    "sources.register_s": "s", "sources.post_p50_ms": "ms", "sources.post_p90_ms": "ms",
    "streaming.jobs": "count", "streaming.batch_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms", "streaming.commit_ms_p50": "ms",
    "streaming.rows_per_batch_p50": "rows", "streaming.tasks_per_row": "1/row",
    "streaming.files_per_row": "1/row", "streaming.backlog_slope": "rows/s",
    "streaming.index_files": "count", "streaming.latency_p50_s": "s",
    "streaming.read_s": "s", "streaming.ladder_rate": "1/s",
    "gen.late_max_ms": "ms", "jvm.peak_rss_mb": "MB",
}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tail(xs):
    """The op latency's highest percentile that the sample supports."""
    level = metrics.highest_supported(len(xs))
    return {"samples": len(xs), "tail_level": level,
            "tail_s": metrics.percentile(xs, level) if level else None}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p(xs, q):
    return metrics.percentile(xs, q) if xs else 0.0


class Run:
    def __init__(self, a):
        self.a = a
        self.w = CFG["workloads"][a.workload]
        self.deadline = time.time() + DEADLINE_S
        self.work = os.path.abspath(os.path.join(
            build.OUT, "runs", f"{a.workload}-s{a.seed}-t{a.trace}"))
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.log = open(os.path.join(self.work, "jvm.log"), "w")
        self.children = []
        self.env = dict(os.environ, TMPDIR=os.path.join(self.work, "tmp"))

    def java(self, classes):
        tmp = os.path.join(self.work, "tmp")
        cmd = ["java"] + [x for o in ADD_OPENS for x in ("--add-opens", o + "=ALL-UNNAMED")]
        cmd += ["-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
                f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC"]
        if self.a.trace:
            cmd.append("-Dspark.callstack.depth=200")
        return cmd + ["-cp", f"{classes}:{build.spark_jars()}/*", "graft.perfbench.Main",
                      "--cores", str(CORES), "--trace", str(self.a.trace),
                      "--out", os.path.join(self.work, "raw.json")]

    def spawn(self, cmd):
        p = subprocess.Popen(cmd, stdout=self.log, stderr=self.log, env=self.env)
        self.children.append(p)
        return p

    def stop_children(self):
        for p in self.children:
            if p.poll() is None:
                p.kill()
                p.wait()

    def left(self):
        return max(1.0, self.deadline - time.time())

    def wait(self, proc, what):
        try:
            rc = proc.wait(timeout=self.left())
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"{what} ran past the deadline; see {self.log.name}")
        if rc != 0:
            self.log.flush()
            text = open(self.log.name).read()[-3000:]
            die(f"{what} exited {rc}:\n{text}")

    def raw(self):
        return json.load(open(os.path.join(self.work, "raw.json")))


# ---- query workloads --------------------------------------------------------

def query_gate(run, gate):
    """Names of gate queries whose Verify output differs from the DuckDB
    oracle (a gate query without an oracle twin counts as wrong)."""
    gate_dir = os.path.join(run.work, "gate")
    oracle = json.load(open(os.path.join(gate_dir, "oracle_sql.json")))
    bad = [q for q in gate if q not in oracle]
    checked = [q for q in gate if q in oracle]
    r = subprocess.run([sys.executable, "scripts/check.py", CFG["sf_dir"], gate_dir] + checked,
                       capture_output=True, text=True, env=run.env, timeout=run.left())
    run.log.write(r.stdout + r.stderr)
    return bad + [q for q in checked if f"PASS {q}" not in r.stdout]


def run_queries(run, classes):
    # A fixed order, so each query's cold cost (JIT, codegen) lands on the
    # same query in every run. The inputs are the fixed tables: the seed
    # changes nothing here.
    gate = run.w["queries"]
    cmd = run.java(classes) + [
        "--kind", "query", "--sf", CFG["sf_dir"], "--warmup", WARMUP,
        "--queries", ",".join(gate),
        "--gate-dir", os.path.join(run.work, "gate")]
    run.wait(run.spawn(cmd), "the JVM")
    raw = run.raw()
    bad = query_gate(run, gate)
    execs = raw["execs"]
    ok = [e for e in execs if e["ok"]]
    walls = [e["wall_s"] for e in ok]
    failed = len(execs) - len(ok) + len(bad)
    e2e = {
        "setup_s": raw["setup"]["setup_s"],
        "ops_per_s": len(ok) / sum(walls) if walls else 0.0,
    }
    layer = dict.fromkeys(PER_LAYER, 0.0)
    layer["queries.build_s"] = sum(e["build_s"] for e in ok)
    layer["queries.exec_s"] = sum(e["exec_s"] for e in ok)
    layer["sources.register_s"] = raw["setup"]["register_s"]
    layer["jvm.peak_rss_mb"] = raw["peak_rss_mb"]
    windows = [(e["start_ms"], e["end_ms"]) for e in execs]
    detail = {"gate_failed": bad,
              "queries": {e["name"]: round(e["wall_s"], 4) for e in execs},
              **tail(walls)}
    return raw, e2e, layer, windows, detail, len(execs) + len(gate), failed, not bad


# ---- tweet-ingest -----------------------------------------------------------

def run_ingest(run, classes):
    w, a = run.w, run.a
    warm = os.path.join(run.work, "warm.json")
    with open(warm, "w") as fh:
        fh.write(gen.tweet(random.Random(-a.seed - 1), -1000) + "\n")
    ready = os.path.join(run.work, "ready.json")
    cmd = run.java(classes) + [
        "--kind", "ingest", "--work", run.work, "--warm", warm, "--ready", ready,
        "--gen-done", os.path.join(run.work, "gen.done"),
        "--accepted", os.path.join(run.work, "accepted.json"),
        "--gen-timeout-s", str(int(len(w["rates"]) * a.seconds + 30)),
        "--drain-timeout-s", str(DRAIN_TIMEOUT_S)]
    jvm = run.spawn(cmd)
    while not os.path.exists(ready):
        if jvm.poll() is not None or time.time() > run.deadline:
            run.wait(jvm, "the JVM")
            die("the JVM never became ready")
        time.sleep(0.05)
    port = json.load(open(ready))["port"]
    g = run.spawn(
        [sys.executable, os.path.join(HERE, "gen.py"), "--port", str(port),
         "--seed", str(a.seed), "--rates", ",".join(map(str, w["rates"])),
         "--rung-s", str(a.seconds), "--out", run.work])
    run.wait(g, "the generator")
    run.wait(jvm, "the JVM")
    raw = run.raw()
    log = json.load(open(os.path.join(run.work, "gen.json")))
    return (raw,) + ingest_metrics(raw, log, w)


def ingest_metrics(raw, log, w):
    status = log["status"]
    acc = [i for i, s in enumerate(status) if s == 200]
    batches = raw["batches"]
    owner = metrics.batch_of_events(len(acc), [b[1] for b in batches])
    commit = {i: batches[b][3] / 1000.0 for i, b in zip(acc, owner) if b is not None}
    commits = [(b[3] / 1000.0, b[1]) for b in batches]
    # an event counts as backlog from its due time: with one connection, a
    # saturated front door holds the backlog in the generator, not the stream
    arrivals = [log["due"][i] for i in acc]
    rungs, base = [], None
    for k, rate in enumerate(log["rates"]):
        ev = [i for i, r in enumerate(log["rung"]) if r == k]
        if not ev:
            break
        lat = [commit[i] - log["due"][i] if i in commit else None for i in ev]
        start = log["t0"] + k * log["rung_s"]
        pts = metrics.rung_backlog(arrivals, commits, start, start + log["rung_s"])
        ok = metrics.rung_passes(lat, pts, rate, w["latency_limit_s"], LATENCY_PCT,
                                 BACKLOG_TOLERANCE)
        done = [x for x in lat if x is not None]
        rungs.append({"rate": rate, "passes": ok, "committed": len(done),
                      f"latency_p{LATENCY_PCT}_s": p(done, LATENCY_PCT),
                      "backlog_slope": metrics.slope(pts)})
        if k == 0:
            base = {"lat": done, "pts": pts, "ev": ev}
    top = log["t0"] + (len(log["rates"]) - 1) * log["rung_s"]
    overload = metrics.overload_rate([(b[2] / 1000.0, b[3] / 1000.0, b[1]) for b in batches], top)
    posts = [(ack - s) * 1e3 for s, ack in zip(log["sent"], log["ack"])]
    late = metrics.lateness([log["due"][i] for i in base["ev"]], [log["sent"][i] for i in base["ev"]])
    durs = [b[4] for b in batches]
    rows = sum(b[1] for b in batches)
    e2e = {
        "setup_s": raw["setup"]["setup_s"],
        "ops_per_s": overload,
    }
    layer = dict.fromkeys(PER_LAYER, 0.0)
    layer.update({
        "sources.post_p50_ms": p(posts, 50), "sources.post_p90_ms": p(posts, 90),
        "streaming.batch_ms_p50": median([d.get("triggerExecution", 0) for d in durs]),
        "streaming.add_batch_ms_p50": median([d.get("addBatch", 0) for d in durs]),
        "streaming.commit_ms_p50": median([d.get("walCommit", 0) + d.get("commitOffsets", 0)
                                           for d in durs]),
        "streaming.rows_per_batch_p50": median([b[1] for b in batches]),
        "streaming.files_per_row": raw["index_files"] / max(1, raw["committed_rows"]),
        "streaming.backlog_slope": metrics.slope(base["pts"]),
        "streaming.index_files": raw["index_files"],
        "streaming.latency_p50_s": p(base["lat"], 50),
        "streaming.read_s": raw["gate"].get("read_s", 0.0),
        "streaming.ladder_rate": metrics.max_rate([(r["rate"], r["passes"]) for r in rungs]),
        "gen.late_max_ms": max(late) * 1e3 if late else 0.0,
        "jvm.peak_rss_mb": raw["peak_rss_mb"],
    })
    uncommitted = len(acc) - len(commit)
    failed = (len(status) - len(acc)) + uncommitted + (0 if raw["gate"]["ok"] else 1)
    attempted = len(status) + 1
    first = batches[0][2] if batches else 0
    last = batches[-1][3] if batches else 0
    detail = {"rungs": rungs,
              "gate": raw["gate"], **tail(base["lat"]),
              "measured_rows": rows}
    return e2e, layer, [(first, last)], detail, attempted, failed, raw["gate"]["ok"]


# ---- traced per-layer roll-up -------------------------------------------------

def union_ms(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def overlap_ms(intervals):
    """Wall time with two or more intervals open at once."""
    ev = sorted([(s, 1) for s, _ in intervals] + [(e, -1) for _, e in intervals])
    total, depth, prev = 0, 0, None
    for t, d in ev:
        if depth >= 2:
            total += t - prev
        depth += d
        prev = t
    return total


def roll_up(trace, windows, layer, measured_rows, cores):
    inside = lambda t: any(s <= t <= e for s, e in windows)
    jobs = [j for j in trace["jobs"] if inside(j[0]) and j[1] >= 0]
    spans = [(j[0], j[1]) for j in jobs]
    by_module = {}
    for start, end, mod, barrier, par, stages, tasks, task_ms, sw, spill, inp in jobs:
        m = by_module.setdefault(mod, {"jobs": 0, "tasks": 0, "task_s": 0.0})
        m["jobs"] += 1
        m["tasks"] += tasks
        m["task_s"] += task_ms / 1e3
    wall_ms = sum(e - s for s, e in windows)
    task_s = sum(j[7] for j in jobs) / 1e3
    layer.update({
        "spark.jobs": len(jobs), "spark.stages": sum(j[5] for j in jobs),
        "spark.tasks": sum(j[6] for j in jobs), "spark.task_s": task_s,
        "spark.busy_frac": task_s / (wall_ms / 1e3 * cores) if wall_ms else 0.0,
        "spark.jobs_overlap_s": overlap_ms(spans) / 1e3,
        "spark.shuffle_write_mb": sum(j[8] for j in jobs) / 1e6,
        "spark.spill_mb": sum(j[9] for j in jobs) / 1e6,
        "sources.scan_mb": sum(j[10] for j in jobs) / 1e6,
        "core.jobs": by_module.get("core", {}).get("jobs", 0),
        "core.barrier_jobs": sum(1 for j in jobs if j[3]),
        "core.par_jobs": sum(1 for j in jobs if j[4]),
        "operators.jobs": by_module.get("operators", {}).get("jobs", 0),
        "operators.task_s": by_module.get("operators", {}).get("task_s", 0.0),
        "streaming.jobs": by_module.get("streaming", {}).get("jobs", 0),
    })
    if layer["streaming.jobs"]:
        layer["streaming.tasks_per_row"] = by_module["streaming"]["tasks"] / max(1, measured_rows)
    if layer["queries.exec_s"]:
        plans = [ms for start, ms in trace["plans"] if inside(start)]
        layer["queries.plan_s"] = sum(plans) / 1e3
        layer["spark.job_gap_s"] = sum(
            (e - s) - union_ms([(max(a, s), min(b, e)) for a, b in spans if a < e and b > s])
            for s, e in windows) / 1e3
    return by_module


# ---- contention guard -----------------------------------------------------------

def cpu_ticks():
    """(steal, total) jiffies from /proc/stat: on a virtual machine the
    host's stolen time is invisible to every in-guest load probe."""
    f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    return f[7], sum(f[:8])


def guard(raw, detail, w, ticks0, ticks1):
    """Reasons this run's timings cannot be trusted (empty when valid)."""
    why = []
    nproc = len(os.sched_getaffinity(0))
    if nproc < CORES:
        why.append(f"nproc {nproc} < {CORES} cores")
    g0, g1 = raw["guard_before"], raw["guard_after"]
    if 0 < g0["cgroup_cpus"] < CORES:
        why.append(f"cgroup cpu.max allows {g0['cgroup_cpus']:.2f} cpus")
    if g0["throttled_usec"] >= 0 and g1["throttled_usec"] - g0["throttled_usec"] > 100000:
        why.append(f"cgroup throttled {(g1['throttled_usec'] - g0['throttled_usec']) / 1e3:.0f} ms")
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    if steal > 0.05:
        why.append(f"the host stole {steal:.0%} of this machine's cpu time")
    busy = [f for f in raw["foreign_load"] if f > 0.2]
    if len(busy) >= 3:
        why.append(f"foreign cpu load > 0.2 in {len(busy)} of {len(raw['foreign_load'])} samples")
    late = detail.get("late_max_ms")
    if late is not None and late > 1e3 / w["rates"][0]:
        why.append(f"generator ran {late:.0f} ms late on the base rung")
    return why, {"nproc": nproc, "cgroup_cpus": g0["cgroup_cpus"], "steal": round(steal, 4),
                 "throttled_usec_delta": g1["throttled_usec"] - g0["throttled_usec"],
                 "foreign_load_max": max(raw["foreign_load"], default=0.0)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(CFG["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")
            and os.path.isfile("scripts/check.py")):
        die("run from the root of a checkout of the program (build.sbt, src/, scripts/)")
    if not os.path.isdir(CFG["sf_dir"]):
        die(f"test data {CFG['sf_dir']} not found")
    classes = os.path.abspath(build.build())
    run = Run(a)
    kind = "query" if "queries" in run.w else "ingest"
    ticks0 = cpu_ticks()
    # a SIGTERM must still reach the finally that stops the children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        raw, e2e, layer, windows, detail, attempted, failed, gate_ok = \
            (run_queries if kind == "query" else run_ingest)(run, classes)
    finally:
        run.stop_children()
    detail["late_max_ms"] = layer["gen.late_max_ms"] if kind == "ingest" else None
    invalid, env = guard(raw, detail, run.w, ticks0, cpu_ticks())
    if invalid:
        print(f"perfbench: INVALID run ({'; '.join(invalid)})")
    out, units = e2e, END_TO_END
    if a.trace:
        by_module = roll_up(raw["trace"], windows, layer, detail.get("measured_rows", 0), CORES)
        out, units = layer, PER_LAYER
        last = os.path.join(build.OUT, "last", f"{a.workload}.json")
        overhead = None
        if os.path.exists(last):
            base = json.load(open(last))
            overhead = {k: e2e[k] / base[k] - 1 for k in END_TO_END if base.get(k)}
        os.makedirs(os.path.join(build.OUT, "traces"), exist_ok=True)
        path = os.path.join(build.OUT, "traces", f"{a.workload}-s{a.seed}.json")
        json.dump({"workload": a.workload, "seed": a.seed, "per_layer": layer,
                   "modules": by_module, "end_to_end_traced": e2e,
                   "overhead_vs_last_untraced": overhead, "detail": detail,
                   "guard": env, "invalid": invalid}, open(path, "w"), indent=1)
        print(f"perfbench: trace written to {path}; overhead vs last untraced run: {overhead}")
    else:
        os.makedirs(os.path.join(build.OUT, "last"), exist_ok=True)
        json.dump(e2e, open(os.path.join(build.OUT, "last", f"{a.workload}.json"), "w"))
        print(f"perfbench: {json.dumps({'valid': not invalid, 'invalid': invalid, 'detail': detail, 'guard': env})}")
    print(json.dumps({"correct": gate_ok and failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in out.items()}}))


if __name__ == "__main__":
    main()
