#!/usr/bin/env python3
"""Benchmark of the graft engine: closed-loop gate passes, one client.

Run from the root of a checkout:

    python3 perfbench/run.py --workload stream_triggers --seed 1 --seconds 20 --trace 0

It compiles the engine (src/main) together with the benchmark's own
Scala sources (perfbench/src) into .bench_build/perfbench, runs one JVM
per invocation (perfbench.Main), checks every gate result against
perfbench/expected.json, and prints one JSON object as its last line:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1 (see BENCHMARK.json and perfbench/METRICS.md). The run's raw
record (spans, triggers, jobs, host samples) is kept under
.bench_build/perfbench/out/.

    python3 perfbench/run.py --record

re-records perfbench/expected.json: two runs of every workload; a gate
whose digest differs between them is listed as nondeterministic and is
then checked by row count only.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
EXPECTED = os.path.join(BENCH, "expected.json")
WORKLOADS = ["stream_triggers", "index_build_serve"]
JAR = os.path.join(OUT, "perfbench.jar")
CDS = os.path.join(OUT, "perfbench.jsa")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Classpath entry of the jars of the Spark distribution at $SPARK_HOME
    (the engine's build compiles against the same jars)."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        fail("set SPARK_HOME to a Spark 4.1 distribution")
    return os.path.join(jars, "*")


def sources():
    """Every file the build reads, sorted: engine sources and resources,
    then the benchmark's own Scala sources."""
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(ROOT, "src", "main", "resources"),
             os.path.join(BENCH, "src")]
    for r in (roots[0], roots[2]):
        if not os.path.isdir(r):
            fail(f"missing {os.path.relpath(r, ROOT)}: run from the root of a checkout")
    files = []
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile into .bench_build/perfbench/perfbench.jar unless the sources
    are unchanged since the last build, then dump a class-data-sharing
    archive of the classes a run loads (cuts JVM and session start)."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    for f in (stamp_file, JAR, CDS):
        if os.path.exists(f):
            os.remove(f)
    classes = os.path.join(OUT, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = spark_jars()
    scala = [f for f in files if f.endswith(".scala")]
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", classes, "-classpath", cp] + scala,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compile failed")
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    shutil.make_archive(JAR[:-4], "zip", classes)
    os.rename(JAR[:-4] + ".zip", JAR)
    shutil.rmtree(classes)
    # The archive only speeds start-up; a failed dump leaves runs correct.
    with Workdir() as work:
        try:
            subprocess.run(java_cmd(work, ["-XX:ArchiveClassesAtExit=" + CDS],
                                    ["--workload", "train"]),
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                           env=java_env(work), timeout=600)
        except subprocess.TimeoutExpired:
            pass
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


class Workdir:
    """Scratch directory for one JVM inside .bench_build, removed on exit."""

    def __enter__(self):
        self.path = os.path.join(OUT, f"work-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(os.path.join(self.path, "tmp"))
        return self.path

    def __exit__(self, *exc):
        shutil.rmtree(self.path, ignore_errors=True)


def java_env(work):
    return dict(os.environ,
                GRAFT_STREAM_SCRATCH=os.path.join(work, "stream"),
                SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))


def java_cmd(work, jvm_opts, main_args):
    return (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-Xms1g", "-Xmx7g", "-XX:+UseG1GC", "-XX:MaxGCPauseMillis=200",
               "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
               "-Djava.io.tmpdir=" + os.path.join(work, "tmp")] + jvm_opts
            + ["-cp", JAR + os.pathsep + spark_jars(), "perfbench.Main",
               "--data", os.path.join(BENCH, "data"), "--work", work] + main_args)


def run_jvm(workload, seed, seconds, trace, deadline):
    """One benchmark JVM; returns its raw record."""
    tag = f"{workload}-seed{seed}-trace{trace}"
    os.makedirs(os.path.join(OUT, "out"), exist_ok=True)
    out = os.path.join(OUT, "out", tag + ".json")
    log = os.path.join(OUT, "out", tag + ".log")
    if os.path.exists(out):
        os.remove(out)
    cds = ["-XX:SharedArchiveFile=" + CDS] if os.path.exists(CDS) else []
    with Workdir() as work, open(log, "w") as lf:
        try:
            r = subprocess.run(
                java_cmd(work, cds, ["--workload", workload, "--seed", str(seed),
                                     "--seconds", str(seconds), "--trace", str(trace),
                                     "--out", out]),
                stdout=lf, stderr=subprocess.STDOUT, env=java_env(work),
                timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM timed out; log in {os.path.relpath(log, ROOT)}")
    if r.returncode != 0:
        with open(log) as lf:
            print("".join(lf.readlines()[-40:]), file=sys.stderr)
        fail(f"benchmark JVM exited with {r.returncode}")
    with open(out) as fh:
        return json.load(fh)


# ---- metrics ---------------------------------------------------------------

def union_len(ivs, lo, hi):
    """Length of [lo, hi) covered by the union of intervals `ivs`."""
    cl = sorted((max(a, lo), min(b, hi)) for a, b in ivs if min(b, hi) > max(a, lo))
    total, cur = 0, None
    for a, b in cl:
        if cur is None or a > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + (cur[1] - cur[0] if cur else 0)


def pct(values, q):
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, min(len(v) - 1, -(-len(v) * q // 100) - 1))] if v else 0.0


TIMED = ("queries.build", "queries.exec", "scratch.release")
SELF_LAYERS = TIMED + ("streaming.trigger", "spark.job")


class Record:
    """Index over one JVM record."""

    def __init__(self, rec):
        self.rec = rec
        self.spans = {s[0]: s for s in rec["spans"]}
        self.children = {}
        for s in rec["spans"]:
            self.children.setdefault(s[1], []).append(s)
        self.calls = rec["calls"]
        self.call_of = {c["span"]: c for c in self.calls}
        self.triggers = rec["triggers"]
        self.counters = {}
        for c in rec["counters"]:
            self.counters.setdefault(c["gate"], {})[c["name"]] = c["value"]

    def passes(self, kind):
        return [s for s in self.rec["spans"] if s[2] == "pass" and s[3] == kind]

    def gates(self, p):
        return [s for s in self.children.get(p[0], []) if s[2] == "gate"]

    def timed_segments(self, g):
        return [s for s in self.children.get(g[0], []) if s[2] in TIMED]

    def gate_wall(self, g):
        return sum(s[5] - s[4] for s in self.timed_segments(g)) / 1e9

    def pass_wall(self, p):
        return sum(self.gate_wall(g) for g in self.gates(p))

    def pass_cpu(self, p):
        return sum(self.call_of[g[0]]["cpu_s"] for g in self.gates(p))

    def pass_triggers(self, p):
        ids = {g[0] for g in self.gates(p)}
        return [t for t in self.triggers if t["gate"] in ids]

    def touch_wall(self, p, touch):
        return sum(self.gate_wall(g) for g in self.gates(p)
                   if self.call_of[g[0]]["touch"] == touch)

    def self_times(self, g):
        """Per-layer self time (s) over the gate's timed segments: jobs
        first, then trigger time outside jobs, then the calling layer."""
        kids = self.children.get(g[0], [])
        jobs = [(s[4], s[5]) for s in kids if s[2] == "spark.job"]
        trig = [(s[4], s[5]) for s in kids if s[2] == "streaming.trigger"]
        out = dict.fromkeys(SELF_LAYERS, 0.0)
        for s in self.timed_segments(g):
            j = union_len(jobs, s[4], s[5])
            jt = union_len(jobs + trig, s[4], s[5])
            out[s[2]] += (s[5] - s[4] - jt) / 1e9
            out["streaming.trigger"] += (jt - j) / 1e9
            out["spark.job"] += j / 1e9
        return out


def end_to_end(r):
    timed = r.passes("timed")
    return {
        "setup_s": (statistics.median(r.rec["setup_s"]), "s"),
        "wall_s": (statistics.median(r.pass_wall(p) for p in timed), "s"),
        "heap_live_mb": (r.rec["heap_live_mb"], "MB"),
    }


def workload_metrics(r):
    """Metrics that exist on one workload only: printed on the report line,
    not part of the gated end-to-end set."""
    timed = r.passes("timed")
    out = {"heap_peak_mb": (r.rec["heap_peak_mb"], "MB")}
    trig = [t for p in timed for t in r.pass_triggers(p)]
    if trig:
        ms = [t["durations"].get("triggerExecution", 0) for t in trig]
        out["trigger_ms.p50"] = (pct(ms, 50), "ms")
        out["trigger_ms.p90"] = (pct(ms, 90), "ms")
        out["trigger_samples"] = (len(ms), "count")
        out["rows_per_s"] = (statistics.median(
            sum(t["input_rows"] for t in r.pass_triggers(p)) / r.pass_wall(p)
            for p in timed), "1/s")
    if r.rec["touches"] > 1:
        out["index_build_s"] = (statistics.median(r.touch_wall(p, 1) for p in timed), "s")
        out["index_serve_s"] = (statistics.median(r.touch_wall(p, 2) for p in timed), "s")
    return out


def per_layer(r):
    traced = r.passes("traced")
    timed = r.passes("timed")
    spans = r.rec["spans"]

    def per_pass(f):
        return statistics.median(f(p) for p in traced)

    def seg_sum(p, layer):
        return sum(s[5] - s[4] for g in r.gates(p) for s in r.timed_segments(g)
                   if s[2] == layer) / 1e9

    def counter(p, name, touch=None):
        return sum(r.counters.get(g[0], {}).get(name, 0.0) for g in r.gates(p)
                   if touch is None or r.call_of[g[0]]["touch"] == touch)

    def trig_sum(p, key):
        return sum(t["durations"].get(key, 0) for t in r.pass_triggers(p))

    def state_peak(p, key):
        peak = {}
        for t in r.pass_triggers(p):
            peak[t["gate"]] = max(peak.get(t["gate"], 0), t[key])
        return sum(peak.values())

    def outside_jobs(p):
        tot = 0
        for g in r.gates(p):
            jobs = [(s[4], s[5]) for s in r.children.get(g[0], []) if s[2] == "spark.job"]
            for s in r.timed_segments(g):
                tot += s[5] - s[4] - union_len(jobs, s[4], s[5])
        return tot / 1e9

    def self_time(p, layer):
        return sum(r.self_times(g)[layer] for g in r.gates(p))

    def disk(p):
        before = [c["index_bytes"] for c in r.calls
                  if c["touch"] == 1 and r.spans[c["pass"]][4] < p[4]]
        now = [r.call_of[g[0]]["index_bytes"] for g in r.gates(p)
               if r.call_of[g[0]]["touch"] == 1]
        return max(now, default=0) - max(before, default=0)

    trig = [t["durations"].get("triggerExecution", 0) for p in traced
            for t in r.pass_triggers(p)]
    cpu = per_pass(lambda p: counter(p, "spark.executor_cpu_s"))
    run = per_pass(lambda p: counter(p, "spark.executor_run_s"))
    local1 = r.passes("local1")
    l1_trig = [t["durations"].get("triggerExecution", 0) for p in local1
               for t in r.pass_triggers(p)]
    sessions = [s[5] - s[4] for s in spans if s[2] == "engine.session"]
    warm = [s[5] - s[4] for s in spans if s[2] == "warmup"]
    host = r.rec["host"]
    ready = min(p[4] for p in timed) - spans[0][4]
    m = {
        "engine.session_s": (statistics.median(sessions) / 1e9, "s"),
        "engine.ready_s": (ready / 1e9, "s"),
        "engine.warmup_s": (sum(warm) / 1e9, "s"),
        "queries.build_s": (per_pass(lambda p: seg_sum(p, "queries.build")), "s"),
        "queries.exec_s": (per_pass(lambda p: seg_sum(p, "queries.exec")), "s"),
        "scratch.release_s": (per_pass(lambda p: seg_sum(p, "scratch.release")), "s"),
        "scratch.rdds_released": (per_pass(lambda p: sum(
            r.call_of[g[0]]["rdds_released"] for g in r.gates(p))), "count"),
        "streaming.triggers": (per_pass(lambda p: len(r.pass_triggers(p))), "count"),
        "streaming.trigger_ms.p50": (pct(trig, 50), "ms"),
        "streaming.trigger_ms.p90": (pct(trig, 90), "ms"),
        "streaming.input_rows": (per_pass(lambda p: sum(
            t["input_rows"] for t in r.pass_triggers(p))), "count"),
    }
    for k in ("queryPlanning", "walCommit", "commitOffsets", "latestOffset",
              "getBatch", "addBatch"):
        m[f"streaming.{k}_ms"] = (per_pass(lambda p, k=k: trig_sum(p, k)), "ms")
    m["streaming.state_rows"] = (per_pass(lambda p: state_peak(p, "state_rows")), "count")
    m["streaming.state_mem_bytes"] = (per_pass(lambda p: state_peak(p, "state_mem_bytes")), "B")
    m["streaming.state_commit_ms"] = (per_pass(lambda p: sum(
        t["state_commit_ms"] for t in r.pass_triggers(p))), "ms")
    for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("executor_run_s", "s"), ("executor_cpu_s", "s"),
                    ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"),
                    ("spill_bytes", "B"), ("input_bytes", "B"), ("gc_s", "s")):
        m[f"spark.{k}"] = (per_pass(lambda p, k=k: counter(p, "spark." + k)), unit)
    m["spark.cpu_per_run"] = (cpu / run if run else 0.0, "ratio")
    m["driver.outside_jobs_s"] = (per_pass(outside_jobs), "s")
    m["index.disk_bytes"] = (per_pass(disk), "B")
    m["index.build_jobs"] = (per_pass(lambda p: counter(p, "spark.jobs", 1)
                                      if r.rec["touches"] > 1 else 0.0), "count")
    m["index.serve_jobs"] = (per_pass(lambda p: counter(p, "spark.jobs", 2)
                                      if r.rec["touches"] > 1 else 0.0), "count")
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = (per_pass(lambda p, l=layer: self_time(p, l)), "s")
    traced_wall = per_pass(r.pass_wall)
    m["trace.wall_s"] = (traced_wall, "s")
    m["trace.overhead_s"] = (traced_wall - statistics.median(r.pass_wall(p) for p in timed), "s")
    m["local1.wall_s"] = (statistics.median(r.pass_wall(p) for p in local1) if local1 else 0.0, "s")
    m["local1.trigger_ms.p50"] = (pct(l1_trig, 50), "ms")
    m["host.loadavg_start"] = (host["loadavg_start"], "load")
    m["host.loadavg_end"] = (host["loadavg_end"], "load")
    m["host.steal_frac"] = (host["steal_frac"], "ratio")
    m["host.nproc"] = (host["nproc"], "count")
    m["jvm.gc_s"] = (host["gc_s_timed"], "s")
    m["jvm.heap_peak_mb"] = (r.rec["heap_peak_mb"], "MB")
    m["jvm.cpu_s"] = (per_pass(r.pass_cpu), "s")
    return m


def per_gate(r):
    """Layer metrics per gate over the traced passes, with the layer that
    has the largest self time."""
    out = {}
    for p in r.passes("traced"):
        for g in r.gates(p):
            key = g[3]
            call = r.call_of[g[0]]
            if call["touch"] > 1:
                key += f"#touch{call['touch']}"
            row = out.setdefault(key, {"calls": 0})
            row["calls"] += 1
            for s in r.timed_segments(g):
                row[s[2] + "_s"] = row.get(s[2] + "_s", 0.0) + (s[5] - s[4]) / 1e9
            for k, v in r.self_times(g).items():
                row["self." + k + "_s"] = row.get("self." + k + "_s", 0.0) + v
            for k, v in r.counters.get(g[0], {}).items():
                row[k] = row.get(k, 0.0) + v
            row["streaming.triggers"] = row.get("streaming.triggers", 0) + sum(
                1 for t in r.triggers if t["gate"] == g[0])
    for row in out.values():
        selfs = {k: v for k, v in row.items() if k.startswith("self.")}
        row["dominant_layer"] = max(selfs, key=selfs.get)[5:-2]
    return out


# ---- output check ----------------------------------------------------------

def check(r, expected):
    """(attempted, failed, problems) over every gate call of the run."""
    nondet = set(expected.get("nondeterministic", []))
    failed, problems = 0, []
    for c in r.calls:
        key = f"{c['scale']}/{c['gate']}"
        exp = expected.get("results", {}).get(key)
        why = None
        if c["error"]:
            why = c["error"]
        elif exp is None:
            why = "no expected result recorded"
        elif c["rows"] != exp["rows"]:
            why = f"rows {c['rows']} != {exp['rows']}"
        elif key not in nondet and c["digest"] != exp["digest"]:
            why = "digest mismatch"
        if why:
            failed += 1
            problems.append(f"{key}: {why}")
    return len(r.calls), failed, problems


def fmt(metrics):
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def record_expected(seconds):
    seen = {}
    for rep in (1, 2):
        for w in WORKLOADS:
            r = Record(run_jvm(w, rep, seconds, 0, time.time() + JVM_TIMEOUT_S))
            for c in r.calls:
                if c["error"]:
                    fail(f"{c['gate']} failed while recording: {c['error']}")
                seen.setdefault(f"{c['scale']}/{c['gate']}", []).append(
                    (c["rows"], c["digest"]))
    results, nondet = {}, []
    for key, obs in sorted(seen.items()):
        if len({n for n, _ in obs}) > 1:
            fail(f"{key}: row count differs between runs: {obs}")
        if len({d for _, d in obs}) > 1:
            nondet.append(key)
        results[key] = {"rows": obs[0][0], "digest": obs[0][1]}
    with open(EXPECTED, "w") as fh:
        json.dump({"results": results, "nondeterministic": nondet}, fh, indent=1)
        fh.write("\n")
    print(f"recorded {len(results)} results, nondeterministic: {nondet}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    build()
    if a.record:
        return record_expected(a.seconds)
    if not a.workload:
        fail("--workload is required")
    if not os.path.exists(EXPECTED):
        fail("no perfbench/expected.json; record it with --record")
    with open(EXPECTED) as fh:
        expected = json.load(fh)
    r = Record(run_jvm(a.workload, a.seed, a.seconds, a.trace,
                       time.time() + JVM_TIMEOUT_S))
    attempted, failed, problems = check(r, expected)
    for p in problems:
        print(f"perfbench: FAIL {p}", file=sys.stderr)
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "fail_frac": {"value": failed / attempted, "unit": "ratio"},
              "metrics": fmt({**end_to_end(r), **workload_metrics(r)}),
              "host": r.rec["host"]}
    if a.trace:
        report["per_gate"] = per_gate(r)
        layers = per_layer(r)
        report["self_time_sum_s"] = sum(v for k, (v, _) in layers.items()
                                        if k.startswith("self."))
    print(json.dumps(report))
    metrics = layers if a.trace else end_to_end(r)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": fmt(metrics)}))


if __name__ == "__main__":
    main()
