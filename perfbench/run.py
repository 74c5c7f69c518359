#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the harness and the library from source
with sbt (offline) into .bench_build/; later runs reuse the build while the
sources are unchanged.  Each run starts one JVM, which generates its seeded
inputs under .bench_build/work/, measures, checks its outputs and reports.

The last line is one JSON object: correct, attempted, failed and metrics.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics (a layer the workload does
not exercise reads 0) and the run also writes its spans to
.bench_build/traces/<workload>-seed<n>.jsonl.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(BENCH, "data")
DEADLINE_S = 175.0
BUILD_DEADLINE_S = 850.0
HEAP = {"serve_skills": "512m"}
# Spark workloads run on the C1 JIT only: under the default tiered JIT the
# Spark code paths keep speeding up for minutes, so a short run would time
# a moving target; with C1 the times are flat after the first pass.
JIT = {"etl_daily": ["-XX:TieredStopAtLevel=1"],
       "catalog_mix": ["-XX:TieredStopAtLevel=1"]}
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, cwd, timeout, env=None, stdout=None, stderr=None):
    """Run cmd in its own process group; kill the whole group on timeout
    and wait for it, so nothing outlives the benchmark."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                            stderr=stderr, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, proc.returncode
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return out, proc.returncode


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile harness + library once per source state; return classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts + ["-Xmx2g"])
    with open(os.path.join(BUILD, "build.log"), "wb") as log:
        out, code = run_group(
            ["sbt", "--batch", "export Runtime/fullClasspath"], BENCH,
            BUILD_DEADLINE_S, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT)
        log.write(out or b"")
    if out is None or code != 0:
        fail("build failed; see .bench_build/build.log", 3)
    lines = [l for l in out.decode().splitlines() if l.strip()]
    if not lines or ".bench_build" not in lines[-1]:
        fail("build printed no classpath; see .bench_build/build.log", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found; run from the root of a checkout")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found in this checkout")
    if not os.path.isdir(os.path.join(DATA, "sf0.1-slice")):
        fail("input slice perfbench/data/sf0.1-slice not found")

    cp = build()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    trace_out = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    cores = min(4, os.cpu_count() or 1)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    cmd = (["java", f"-Xmx{HEAP.get(a.workload, '2g')}",
            "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + JIT.get(a.workload, [])
           + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", DATA, "--work", work, "--trace-out", trace_out,
              "--cores", str(cores)])
    budget = DEADLINE_S - (time.monotonic() - t_start)
    try:
        with open(os.path.join(BUILD, "logs", f"{tag}.log"), "w") as log:
            out, code = run_group(cmd, work, max(budget, 30.0), env=env,
                                  stdout=subprocess.PIPE, stderr=log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if out is None:
        fail(f"run exceeded its deadline; see .bench_build/logs/{tag}.log", 4)
    result = None
    for line in out.decode(errors="replace").splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
    if code != 0 or result is None:
        fail(f"run failed (exit {code}); see .bench_build/logs/{tag}.log", 5)

    measured = result["metrics"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] in measured:
            value = measured[m["name"]]
        elif a.trace:
            value = 0.0  # layer not exercised on this workload
        else:
            fail(f"workload {a.workload} did not measure {m['name']}", 6)
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print(json.dumps({"correct": result["correct"],
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
