#!/usr/bin/env python3
"""Run one workload of the engine benchmark and print its result line.

    python3 etlbench/run.py --workload detector_sweep --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline) into .bench_build/; later runs
reuse that build while the sources are unchanged. The measuring JVM is
started directly from the saved classpath, so sbt start-up is never
timed. The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HERE = os.path.relpath(os.path.dirname(os.path.abspath(__file__)), ROOT)
WORKLOADS = ("detector_sweep", "corpus_curation", "index_churn")
JVM_TIMEOUT_S = 170

# what spark-submit would add on JDK 17 (the engine's build.sbt lists the same)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an edited source rebuilds."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src/main", os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        p = os.path.join(ROOT, r)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) if "target" not in d for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state; return the classpath."""
    out = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(out) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(out).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "--batch"] + opts + ["benchClasspath"],
                            cwd=os.path.join(ROOT, HERE), env=env, stdout=fh,
                            stderr=subprocess.STDOUT, timeout=840).returncode
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}")
    shutil.copyfile(os.path.join(ROOT, HERE, "target", "classpath.txt"), out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(out).read().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    except OSError:
        fail("BENCHMARK.json not found; run from the repository root")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    classpath = build()

    work = os.path.join(BUILD, "work", a.workload)
    for d in ("spark-local", "indexes", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{a.workload}-{a.seed}-trace{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(ROOT, HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Dspark.callstack.depth=80"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "etlbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work, "--out", out])
    # a traced run compares against an earlier untraced run of the same
    # seed when there is one, instead of repeating the untraced protocol
    untraced = os.path.join(results, f"{a.workload}-{a.seed}-trace0.json")
    if a.trace and os.path.exists(untraced):
        prev = json.load(open(untraced))
        if prev.get("correct") and "op_p50_ms" in prev.get("metrics", {}):
            cmd += ["--untraced-op-ms", str(prev["metrics"]["op_p50_ms"]["value"])]
    log = os.path.join(results, f"{a.workload}-{a.seed}-trace{a.trace}.log")
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep its
    # scratch files inside the checkout either way
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {JVM_TIMEOUT_S} s; see {log}")
    if rc != 0 or not os.path.exists(out):
        fail(f"run failed (exit {rc}); see {log}")

    res = json.load(open(out))
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    got = res["metrics"]
    if sorted(got) != sorted(want):
        fail(f"metrics {sorted(set(got) ^ set(want))} do not match BENCHMARK.json")
    if any(not isinstance(got[m]["value"], (int, float)) or not math.isfinite(got[m]["value"]) for m in got):
        fail(f"non-numeric metric in {out}")
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "input_fingerprint": res["input_fingerprint"],
                      "setup_runs_s": res["setup_runs_s"], "named": res["named"],
                      "problems": res["problems"]}))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": {m: got[m] for m in want}}))


if __name__ == "__main__":
    main()
