#!/usr/bin/env python3
"""Search-engine benchmark: one command, one seeded workload per call.

    python3 searchbench/run.py --workload topk_warm --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. The first call builds the harness and the
engine sources with sbt (searchbench/build.sbt); later calls reuse the
build while no source is newer than it. The harness JVM writes its result
object; this script prints it as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones. The full report (both sets, the answer
check failures and, when traced, the span file) stays under
searchbench/target/out/. Exits non-zero without a result when the build or
the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
# the answer key: the repository's brute-force reference scorer
REF_ORACLE = os.path.join(ROOT, "src", "test", "scala", "graft", "RefOracle.scala")
WORKLOADS = ("topk_warm", "search_api")

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sources():
    for base in (os.path.join(ROOT, "src", "main"), REF_ORACLE, os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        if os.path.isfile(base):
            yield base
        for d, _, fs in os.walk(base):
            for f in fs:
                yield os.path.join(d, f)


def build():
    """Compiles with sbt unless the exported classpath is newer than every source."""
    srcs = list(sources())
    if not any(p.endswith(".scala") and os.sep + "graft" + os.sep in p for p in srcs):
        sys.exit("searchbench: engine sources (src/main/scala/graft) not found next to the benchmark")
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) > max(map(os.path.getmtime, srcs)):
        return open(CLASSPATH).read().strip()
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt's own state stays inside the checkout
    sbt_opts = ["-Dsbt.global.base=" + os.path.join(TARGET, "sbt-global"),
                "-Dsbt.server.forcestart=false", "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(sbt_opts + ["-Xmx2g"])
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"],
                            cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    lines = open(log).read().strip().splitlines()
    if rc != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        sys.exit("searchbench: build failed (see %s)" % log)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]

    cp = build()
    out_dir = os.path.join(TARGET, "out")
    os.makedirs(out_dir, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=TARGET)
    out = os.path.join(out_dir, "%s-%d-trace%d.json" % (a.workload, a.seed, a.trace))
    if os.path.exists(out):
        os.remove(out)
    # JIT thresholds at a tenth for the engine's query layer only: its
    # per-query methods reach compiled steady state within the harness's
    # warm-up instead of ~30 s of calls later; the rest keeps the defaults
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:CompileCommand=quiet",
            "-XX:CompileCommand=CompileThresholdScaling,graft.queryengine.*::*,0.1",
            "-Dfile.encoding=UTF-8",
            "-Dstdout.encoding=UTF-8", "-Djava.io.tmpdir=" + work]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "searchbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work, "--out", out])
    t0 = time.time()
    try:
        with open(os.path.join(out_dir, "%s-%d-trace%d.log" % (a.workload, a.seed, a.trace)), "w") as lf:
            rc = subprocess.run(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=170).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        sys.exit("searchbench: harness failed with code %d after %.0f s (see %s)"
                 % (rc, time.time() - t0, out_dir))
    res = json.load(open(out))
    missing = [m for m in want if m not in res["metrics"]]
    if missing:
        sys.exit("searchbench: harness did not report " + ", ".join(missing))
    units = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    for f in res["failures"]:
        sys.stderr.write("answer check failed: %s\n" % f)
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {m: {"value": res["metrics"][m]["value"], "unit": units[m]} for m in want},
    }))


if __name__ == "__main__":
    main()
