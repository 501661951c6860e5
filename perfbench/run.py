#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the harness from source,
runs one workload in a fresh JVM and prints one JSON result line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The build (sbt, offline) is cached in
perfbench/target keyed by a hash of every source file; each run works in
its own directory under perfbench/work and removes it on exit.
`--workload plan-audit` writes perfbench/plan_audit.json and
`--workload registry-record` rewrites perfbench/registry_hashes.json
instead of printing a result.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "graftbench.classpath")
RUN_LIMIT_S = 170
# workloads run by hand only; NOTES.md says why they are not in BENCHMARK.json
EXTRA_WORKLOADS = {"dashboard"}
# maintenance modes: name -> the file under perfbench/ each one writes
TOOLS = {"plan-audit": "plan_audit.json", "registry-record": "registry_hashes.json"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build compiles, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the cached classpath matches the sources."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            cached_stamp, cp = f.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip(), False
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as logf:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=logf,
            stdin=subprocess.DEVNULL, text=True, timeout=800)
        logf.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines()
             if "scala-2.13" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        tail = proc.stdout.strip().splitlines()[-15:]
        raise SystemExit("build failed:\n" + "\n".join(tail))
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(stamp + "\n" + cp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp, True


def run_jvm(cp, workload, seed, seconds, trace, deadline, extra=()):
    """One harness JVM; returns the parsed result object."""
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{workload}-{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    # a fixed set of JIT compiler threads: the harness subtracts their CPU
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
           "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", run_dir,
            "--data", os.path.join(HERE, "data", "sf0.001"), *extra]
    log_path = os.path.join(WORK, f"last-{workload}-{trace}.log")
    t0 = time.time()
    try:
        with open(log_path, "w") as logf:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env,
                                    stdout=subprocess.PIPE, stderr=logf,
                                    stdin=subprocess.DEVNULL, text=True)
            try:
                stdout, _ = proc.communicate(
                    timeout=max(5, deadline - time.time()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise SystemExit(f"{workload}: harness timed out, see {log_path}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    log(f"{workload}: harness JVM ran {time.time() - t0:.1f} s")
    results = [l for l in stdout.splitlines() if l.startswith("GRAFTBENCH_RESULT ")]
    if proc.returncode != 0 or not results:
        with open(log_path) as f:
            tail = [l for l in f.read().splitlines() if "WARN" not in l][-25:]
        raise SystemExit(f"{workload}: harness exited {proc.returncode}:\n" + "\n".join(tail))
    return json.loads(results[-1][len("GRAFTBENCH_RESULT "):])


def untraced_baseline(workload):
    path = os.path.join(WORK, f"untraced-{workload}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return []


def remember_untraced(workload, cpu_ms_per_op):
    values = (untraced_baseline(workload) + [cpu_ms_per_op])[-5:]
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, f"untraced-{workload}.json"), "w") as f:
        json.dump(values, f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources not found: run from the root of a checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp, built = build()
    deadline = (time.time() if built else started) + RUN_LIMIT_S
    if a.workload in TOOLS:
        out = os.path.join(HERE, TOOLS[a.workload])
        res = run_jvm(cp, a.workload, a.seed, a.seconds, 0, time.time() + 1800,
                      extra=("--out", out))
        with open(out) as f:
            doc = json.load(f)
        with open(out, "w") as f:
            json.dump(doc, f, indent=1)
            f.write("\n")
        log("detail " + json.dumps(res.get("detail", {}), sort_keys=True))
        return
    if a.workload not in {w["name"] for w in spec["workloads"]} | EXTRA_WORKLOADS:
        raise SystemExit(f"unknown workload {a.workload}")
    if a.trace and not untraced_baseline(a.workload):
        # the tracing overhead needs an untraced run of the same workload
        base = run_jvm(cp, a.workload, a.seed, a.seconds, 0, deadline)
        remember_untraced(a.workload, base["metrics"]["cpu_ms_per_op"])
    res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, deadline)
    m = res["metrics"]
    if a.trace:
        m["trace.overhead_pct"] = 100.0 * (
            m["trace.cpu_ms_per_op"] / statistics.median(untraced_baseline(a.workload)) - 1.0)
    else:
        remember_untraced(a.workload, m["cpu_ms_per_op"])
    declared = spec["per_layer" if a.trace else "end_to_end"]
    names = {d["name"] for d in declared}
    undeclared = sorted(k for k in m if k not in names and
                        k not in {d["name"] for d in spec["end_to_end"]})
    if undeclared:
        raise SystemExit(f"{a.workload}: metrics not in BENCHMARK.json: {undeclared}")
    if a.trace:
        # a layer this workload does not reach did no work in it
        for n in names - m.keys():
            m[n] = 0.0
    missing = [d["name"] for d in declared if d["name"] not in m]
    if missing:
        raise SystemExit(f"{a.workload}: metrics not reported: {missing}")
    bad = [d["name"] for d in declared
           if not isinstance(m[d["name"]], (int, float)) or not math.isfinite(m[d["name"]])]
    if bad:
        raise SystemExit(f"{a.workload}: metrics without a finite value: {bad}")
    detail = res.get("detail", {})
    log("detail " + json.dumps(detail, sort_keys=True))
    if not res["correct"]:
        log("output checks failed: " + "; ".join(detail.get("problems", [])))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {d["name"]: {"value": m[d["name"]], "unit": d["unit"]}
                    for d in declared},
    }))


if __name__ == "__main__":
    main()
