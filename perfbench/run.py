"""The repository's benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the harness and
the program from source with sbt (`perfbench/build.sbt`); later runs
reuse the build while the sources are unchanged. Each run starts one
JVM: a `local[nproc]` Spark session; staged inputs; untimed warm passes
(the first builds the indexes the calls serve from); then a fixed number
of timed passes over the workload's calls, and more while fewer than
`--seconds` have gone by, one call at a time (a closed loop with one
client). Every call's output is checked. `--trace 1` makes the first
half of the timed passes untraced and the second half with Spark
listeners attached, and reports per-layer metrics instead of end-to-end
ones. See README.md.

The last line of standard output is
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`.
The exit code is 0 only when every check passed.
"""

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing outside the build directory

import etldata  # noqa: E402
import tracediff  # noqa: E402

WORKLOADS = ("etl_pipeline", "index_lifecycle", "serve_mix")
# untimed warm passes and the least number of timed passes, per workload
PASSES = {"etl_pipeline": (1, 1), "index_lifecycle": (1, 2), "serve_mix": (1, 2)}
HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700  # package and class-data archive together
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("call_p50_s", "s")]

# modules of the keys a pass calls, as grouped in keys.tsv
MODULES = sorted(set(tracediff.load_modules(HERE, in_pass_only=True).values()))
STEP_METRICS = {
    "step.csv": "sources.csv_s", "step.pages": "sources.pages_s",
    "step.clean": "pipeline.clean_s", "step.views": "pipeline.views_s",
    "step.jdbc_load": "sources.jdbc_load_s", "step.dsv2": "sources.dsv2_s",
}
# counters the traced passes accumulate, reported per traced pass
PER_PASS = {
    "spark.jobs", "spark.tasks", "spark.task_cpu_s", "spark.gc_s",
    "spark.shuffle_write_bytes", "spark.spill_bytes",
    "plans.actions", "plans.catalyst_s", "plans.exchanges", "plans.smj", "plans.bnlj",
    "layout.writes", "layout.write_s", "layout.files_written", "layout.bytes_written",
    "layout.ptr_writes",
    "streaming.batches", "streaming.batch_s", "streaming.wal_commit_s", "streaming.planning_s",
    "sources.http_requests", "sources.http_bytes",
}
PER_LAYER = [
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.task_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.shuffle_write_bytes", "B"), ("spark.spill_bytes", "B"),
    ("spark.peak_task_mem_bytes", "B"), ("spark.job_s", "s"), ("spark.driver_gap_s", "s"),
    ("plans.actions", "count"), ("plans.catalyst_s", "s"), ("plans.exchanges", "count"),
    ("plans.smj", "count"), ("plans.bnlj", "count"),
    ("layout.writes", "count"), ("layout.write_s", "s"), ("layout.files_written", "count"),
    ("layout.bytes_written", "B"), ("layout.ptr_writes", "count"),
    ("streaming.batches", "count"), ("streaming.batch_s", "s"),
    ("streaming.wal_commit_s", "s"), ("streaming.planning_s", "s"),
    ("layout.stored_bytes_per_input_byte", "ratio"),
] + [("operators.%s.s" % m, "s") for m in MODULES] + [
    ("sources.http_requests", "count"), ("sources.http_bytes", "B"),
    ("sources.ingest_rescans", "ratio"),
] + [(m, "s") for m in STEP_METRICS.values()] + [
    ("setup.session_s", "s"), ("setup.datagen_s", "s"), ("setup.warm_s", "s"), ("jvm.peak_rss_mb", "MB"), ("trace.overhead_s", "s"),
    ("calls.tail_s", "s"),
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def tail_percentile(n):
    """The highest of the usual percentiles with at least ten of `n`
    samples beyond it (50 when there are fewer than 20 samples)."""
    for p in (99.9, 99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return p
    return 50


def percentile(values, p):
    """Nearest-rank percentile."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def source_fingerprint(root):
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True) +
                   glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True) +
                   [os.path.join(root, "perfbench/build.sbt")])
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_cmd(classpath, work, jvm_opts):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
            jvm_opts + ["-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp,
                        "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
                        "-cp", classpath, "perfbench.Harness"])


def build(root, build_dir):
    """Packages harness and program unless the sources are unchanged, and
    records a class-data archive of the classes a run loads: it halves
    JVM and session start-up. Fails when either step fails, and
    runs require the archive (`-Xshare:on`), so every run of a build
    runs the same JVM configuration. Returns (classpath, JVM options)."""
    stamp = os.path.join(build_dir, "fingerprint")
    archive = os.path.join(build_dir, "classes.jsa")
    jvm_opts = ["-XX:SharedArchiveFile=" + archive, "-Xshare:on"]
    fp = source_fingerprint(root)
    jars = glob.glob(os.path.join(root, "perfbench/target/scala-2.13/perfbench_*.jar"))
    if not (jars and os.path.exists(archive) and os.path.exists(stamp) and
            open(stamp).read() == fp):
        deadline = time.monotonic() + BUILD_TIMEOUT_S
        for stale in jars + [stamp, archive]:
            if os.path.exists(stale):
                os.remove(stale)
        log = os.path.join(build_dir, "build.log")
        with open(log, "w") as out:
            try:
                rc = subprocess.run(["sbt", "-batch", "package"], cwd=os.path.join(root, "perfbench"),
                                    stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                    timeout=deadline - time.monotonic()).returncode
            except subprocess.TimeoutExpired:
                rc = -1
        jars = glob.glob(os.path.join(root, "perfbench/target/scala-2.13/perfbench_*.jar"))
        if rc != 0 or len(jars) != 1:
            fail("build failed, see %s" % log)
        classpath = jars[0] + os.pathsep + os.path.join(SPARK_JARS, "*")
        work = os.path.join(build_dir, "class-archive")
        shutil.rmtree(work, ignore_errors=True)
        etldata.write(0, os.path.join(work, "etl"))
        log = os.path.join(build_dir, "class-archive.log")
        with open(log, "w") as out:
            cmd = java_cmd(classpath, work, ["-XX:ArchiveClassesAtExit=" + archive]) + [
                "--workload", "class-archive", "--seed", "0", "--root", root, "--work", work]
            try:
                rc = subprocess.run(cmd, cwd=root, stdout=out, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL,
                                    timeout=max(1, deadline - time.monotonic())).returncode
            except subprocess.TimeoutExpired:
                rc = -1
        shutil.rmtree(work, ignore_errors=True)
        if rc != 0 or not os.path.exists(archive):
            fail("recording the class-data archive failed, see %s" % log)
        with open(stamp, "w") as f:
            f.write(fp)
    return jars[0] + os.pathsep + os.path.join(SPARK_JARS, "*"), jvm_opts


def run_jvm(root, classpath, jvm_opts, work, args, extra):
    result = os.path.join(work, "result.json")
    trace_file = os.path.join(work, "trace.json")
    warm, passes = PASSES[args.workload]
    cmd = (java_cmd(classpath, work, jvm_opts) +
           ["--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--warm", str(warm), "--passes", str(passes), "--root", root, "--work", work, "--result", result,
            "--trace-file", trace_file] + extra)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=root, stdout=err, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(result):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("harness exited with %s" % rc, 1)
    with open(result) as f:
        res = json.load(f)
    kept = os.path.join(os.path.dirname(work), "results")
    os.makedirs(kept, exist_ok=True)
    with open(os.path.join(kept, "%s-seed%d.json" % (args.workload, args.seed)), "w") as f:
        json.dump(res, f, indent=1)
    trace = None
    if args.trace:
        with open(trace_file) as f:
            trace = json.load(f)
    return res, trace


def call_p50(calls):
    """Median over the keys of each key's median latency."""
    by_key = {}
    for c in calls:
        by_key.setdefault(c["name"], []).append(c["s"])
    return statistics.median(statistics.median(v) for v in by_key.values())


def end_to_end(res):
    untraced = [p["wall"] for p in res["passes"]]
    values = {
        # from before the inputs are generated to the first timed call
        "setup_s": res["first_timed_ms"] / 1e3 - res["started_at"],
        "pass_s": statistics.median(untraced),
        "call_p50_s": call_p50([c for c in res["calls"] if c["phase"] == "timed"]),
    }
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END}


def per_layer(res, trace):
    traced = [p["wall"] for p in res["passes"] if p["traced"]]
    untraced = [p["wall"] for p in res["passes"] if not p["traced"]]
    n = len(traced)
    trace["traced_passes"] = n
    c = trace["counters"]
    v = {k: c.get(k, 0.0) / n for k in PER_PASS}
    v["spark.peak_task_mem_bytes"] = c.get("spark.peak_task_mem_bytes", 0.0)

    spans = trace["spans"]
    traced_pass_ids = {s["id"] for s in spans if s["kind"] == "pass" and s["name"] != "steps"
                       and s["id"] >= trace["first_traced_span"]}
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    job_s = gap_s = 0.0
    modules = tracediff.load_modules(HERE)
    per_module = {m: 0.0 for m in MODULES}
    for p in traced_pass_ids:
        for call in by_parent.get(p, []):
            wall = call["end"] - call["start"]
            jobs = [(j["start"], j["end"]) for j in by_parent.get(call["id"], []) if j["kind"] == "job"]
            covered = tracediff.union_length(jobs, call["start"], call["end"])
            job_s += covered / 1e3
            gap_s += (wall - covered) / 1e3
            if call["name"] in modules:
                per_module[modules[call["name"]]] += wall / 1e3
    v["spark.job_s"] = job_s / n
    v["spark.driver_gap_s"] = gap_s / n
    for m in MODULES:
        v["operators.%s.s" % m] = per_module[m] / n
    for s in spans:
        if s["name"] in STEP_METRICS and s["kind"] == "call":
            v[STEP_METRICS[s["name"]]] = (s["end"] - s["start"]) / 1e3
    for m in STEP_METRICS.values():
        v.setdefault(m, 0.0)
    ingested = c.get("sources.rows_ingested", 0.0)
    v["sources.ingest_rescans"] = c.get("sources.ingest_rows_scanned", 0.0) / ingested if ingested else 0.0
    staged = res["input_bytes"]
    v["layout.stored_bytes_per_input_byte"] = c.get("layout.stored_bytes", 0.0) / staged if staged else 0.0
    v["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    v["setup.session_s"] = res["session_s"]
    v["setup.datagen_s"] = res["datagen_s"]
    v["setup.warm_s"] = sum(res["warm_s"])
    v["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    calls = [x["s"] for x in res["calls"] if x["phase"] != "setup"]
    pct = tail_percentile(len(calls))
    v["calls.tail_s"] = percentile(calls, pct)
    return {k: {"value": v[k], "unit": u} for k, u in PER_LAYER}


def main(argv=None):
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    for need in ("src/main/scala/graft/SparkEntry.scala", "perfbench/build.sbt",
                 "perfbench/keys.tsv"):
        if not os.path.isfile(os.path.join(root, need)):
            fail("%s not found: run from the root of a full checkout" % need)
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classpath, jvm_opts = build(root, build_dir)

    work = os.path.join(build_dir, "run-%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        started_at = time.time()
        extra = []
        if args.workload == "etl_pipeline":
            t = time.perf_counter()
            etldata.write(args.seed, os.path.join(work, "etl"))
            extra = ["--datagen-s", repr(time.perf_counter() - t)]
        res, trace = run_jvm(root, classpath, jvm_opts, work, args, extra)
        res["started_at"] = started_at
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for e in res["errors"]:
        print("check failed: " + e, file=sys.stderr)
    if args.trace:
        metrics = per_layer(res, trace)
        trace["metrics"] = metrics
        traces = os.path.join(build_dir, "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, "%s-seed%d.json" % (args.workload, args.seed))
        with open(path, "w") as f:
            json.dump(trace, f)
        print("trace record: " + os.path.relpath(path, root))
    else:
        metrics = end_to_end(res)
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
