#!/usr/bin/env python3
"""Benchmark runner for graft.

Usage, from the repository root:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

It builds the repository's main sources together with the harness in
perfbench/harness (sbt, output under .bench_build/), generates the
workload's inputs from the seed (cached by seed and size), runs one JVM
for the workload in its own temporary root under .bench_build/runs/,
checks the outputs, and prints the metrics. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, and the span trace is written to
.bench_build/traces/.

Exit codes: 0 outputs correct; 1 a check failed (the JSON line still
prints); 2 the benchmark could not run (no JSON line).
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = ("olap_dashboard", "corpus_curate", "ingest_admit")
CORES = 4

END_TO_END = [("setup_s", "s"), ("throughput", "items/s"), ("p50_ms", "ms"), ("tail_ms", "ms")]

PER_LAYER = [
    ("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"), ("spark.driver_gap_ms", "ms"),
    ("spark.sched_delay_ms", "ms"), ("spark.task_ms", "ms"), ("spark.cpu_ms", "ms"),
    ("spark.gc_ms", "ms"), ("spark.core_util", "ratio"), ("spark.input_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("sql.analysis_ms", "ms"), ("sql.optimization_ms", "ms"),
    ("sql.planning_ms", "ms"), ("sql.register_ms", "ms"), ("trace.accounted_share", "ratio"),
    ("trace.unattributed_jobs", "count"), ("jvm.heap_peak_mb", "MB"), ("host.cal_ms", "ms"),
]

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

RUN_LIMIT_S = 175  # a run must end within 180 s once built
BUILD_LIMIT_S = 840


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files(root):
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "harness")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files.extend(os.path.join(base, n) for n in names)
    return sorted(files)


def digest(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, work):
    """Compile once per source digest; return the runtime classpath."""
    os.makedirs(work, exist_ok=True)
    stamp_path = os.path.join(work, "build.stamp")
    cp_path = os.path.join(work, "classpath.txt")
    want = digest(root)
    with open(os.path.join(work, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp_path) and os.path.exists(cp_path):
            with open(stamp_path) as f:
                if f.read().strip() == want:
                    with open(cp_path) as g:
                        return g.read().strip()
        env = dict(os.environ)
        env["COURSIER_MODE"] = "offline"
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
        print("perfbench: building (sbt compile)", file=sys.stderr)
        t0 = time.time()
        log_path = os.path.join(work, "build.log")
        with open(log_path, "w") as log:
            code = wait_group(subprocess.Popen(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True),
                BUILD_LIMIT_S)
        with open(log_path) as f:
            lines = f.read().splitlines()
        cps = [l.strip() for l in lines if l.strip().startswith("/") and ".jar" in l]
        if code != 0 or not cps:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            die("build failed")
        print("perfbench: built in %.0f s" % (time.time() - t0), file=sys.stderr)
        with open(cp_path, "w") as f:
            f.write(cps[-1])
        with open(stamp_path, "w") as f:
            f.write(want)
        return cps[-1]


def run_jvm(classpath, args, log_path, limit_s):
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    root = args["--root"]
    cmd += ["-Xmx3g", "-XX:ReservedCodeCacheSize=256m", "-Duser.timezone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(root, "tmp"),
            "-Dderby.system.home=" + os.path.join(root, "derby"),
            "-Dspark.ui.enabled=false",
            "-cp", classpath, "graft.perfbench.Main"]
    for k, v in args.items():
        cmd += [k, str(v)]
    with open(log_path, "w") as log:
        return wait_group(
            subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True), limit_s)


def wait_group(p, limit_s):
    """Wait for a child started in its own session; on timeout or any
    interruption kill its whole process group and wait for it."""
    try:
        return p.wait(timeout=limit_s)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def fmt(v):
    return "null" if v is None else ("%.6g" % v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="corrupt the expected side of every check (the checks must then fail)")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        die("run from the root of a graft checkout (src/main/scala/graft not found)")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt must be on PATH")

    work = os.path.join(root, ".bench_build")
    classpath = build(root, work)
    started = time.time()
    inputs = gen.ensure_inputs(os.path.join(work, "inputs"), a.workload, a.seed)

    run_root = os.path.join(work, "runs", "%s-s%d-t%d-%d" % (a.workload, a.seed, a.trace, os.getpid()))
    os.makedirs(os.path.join(run_root, "tmp"))
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(2))
    result_path = os.path.join(run_root, "result.json")
    log_path = os.path.join(run_root, "jvm.log")
    spans = os.path.join(work, "traces", "%s-seed%d.spans.jsonl" % (a.workload, a.seed))
    try:
        code = run_jvm(classpath, {
            "--workload": a.workload, "--inputs": inputs, "--root": run_root,
            "--seconds": a.seconds, "--trace": a.trace, "--result": result_path,
            "--spans": spans, "--cores": CORES, "--corrupt": int(a.corrupt_expected),
        }, log_path, max(30, RUN_LIMIT_S - (time.time() - started)))
        if not os.path.exists(result_path):
            with open(log_path) as f:
                tail = f.readlines()[-60:]
            sys.stderr.write("".join(tail))
            die("workload run failed (exit %d)" % code)
        with open(result_path) as f:
            res = json.load(f)
        if code not in (0, 1):
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            die("workload run failed (exit %d)" % code)
    finally:
        logs = os.path.join(work, "logs")
        os.makedirs(logs, exist_ok=True)
        if os.path.exists(log_path):
            shutil.copy(log_path, os.path.join(logs, "%s-seed%d-trace%d.log" % (a.workload, a.seed, a.trace)))
        shutil.rmtree(run_root, ignore_errors=True)

    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, "%s-seed%d-trace%d.json" % (a.workload, a.seed, a.trace)), "w") as f:
        json.dump(res, f)

    print("workload %s seed %d: %d ops attempted, %d failed, timed %.1f s" % (
        a.workload, a.seed, res["attempted"], res["failed"], res["timed_ms"] / 1000))
    for m in res["report"]:
        print("  %-24s %12s %s" % (m["name"], fmt(m["value"]), m["unit"]))
    for c in res["checks"]:
        print("  check %-4s %s: %s" % ("ok" if c["ok"] else "FAIL", c["name"], c["detail"]))

    e2e = res["e2e"]
    e2e["setup_s"] = res["setup_s"]
    if a.trace == 1:
        for m in res["layer"]:
            print("  layer %-32s %12s %s" % (m["name"], fmt(m["value"]), m["unit"]))
        print("  breakdown " + json.dumps(res.get("breakdown", {}), sort_keys=True))
        print("  spans " + json.dumps(res.get("spans_self", {}), sort_keys=True))
        base_path = os.path.join(results, "%s-seed%d-trace0.json" % (a.workload, a.seed))
        if os.path.exists(base_path):
            with open(base_path) as f:
                base = json.load(f)["e2e"]
            print("  tracing overhead (traced - untraced, seed %d): " % a.seed + ", ".join(
                "%s %+.4g" % (k, e2e[k] - base[k]) for k, _ in END_TO_END if k in base and k in e2e))
        else:
            print("  tracing overhead: no untraced run of seed %d in this checkout yet" % a.seed)
        values = res["per_layer"]
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    for k, m in metrics.items():
        if m["value"] is None:
            die("metric %s was not measured" % k)
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
