#!/usr/bin/env python3
"""Build and run the train/predict benchmark.

    python3 perfbench/run.py --workload tall_ingest --seed 1 --seconds 12 --trace 0

Run from the repository root. The library sources (src/main/scala) and
the benchmark sources (perfbench/src/main/scala) are compiled together
with the Scala compiler that ships in Spark's jars directory
($SPARK_HOME/jars, default /opt/spark/jars) into $CARGO_TARGET_DIR
(default .bench_build) under the current directory; a build is reused
while the sources are unchanged. Fixtures, Spark scratch space, logs
and traces stay under the same directory.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. With --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones. Exits non-zero
without a result when the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

WORKLOADS = ("tall_ingest", "wide_rounds", "multiclass_sweep")
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"
# Spark 4 on JDK 17 needs these outside spark-submit (the same list as
# the repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
MARKER = "PERFBENCH_RESULT "


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"),
            os.path.join(root, "perfbench", "src", "main", "scala")]
    for d in dirs:
        if not os.path.isdir(d):
            fail(f"missing source directory {os.path.relpath(d, root)}; "
                 "run from the repository root")
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files
                    if f.endswith(".scala")]
    return sorted(out)


def build(root, srcs, out, jars):
    """Compile into out/classes unless the stamp matches the sources."""
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return classes
    staging = classes + ".tmp"
    subprocess.run(["rm", "-rf", staging, classes], check=True)
    os.makedirs(staging)
    compiler = ":".join(os.path.join(jars, j) for j in (
        "scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar",
        "scala-reflect-2.13.17.jar"))
    t0 = time.time()
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", compiler,
             "scala.tools.nsc.Main", "-nowarn", "-classpath",
             os.path.join(jars, "*"), "-d", staging] + srcs,
            stdout=fh, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (log: {os.path.relpath(log, root)})")
    with open(os.path.join(staging, ".stamp"), "w") as fh:
        fh.write(stamp)
    os.rename(staging, classes)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.0f} s")
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    srcs = sources(root)
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars directory at {jars}")
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                       "perfbench")
    os.makedirs(out, exist_ok=True)
    classes = build(root, srcs, out, jars)

    tmp = os.path.join(out, "tmp")
    logs = os.path.join(out, "logs")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    # no hsperfdata file in /tmp: the run writes only under `out`
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + ":" + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--out", out]
    log = os.path.join(logs, f"{a.workload}-s{a.seed}-t{a.trace}.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                text=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log})")
    lines = stdout.splitlines()
    results = [ln[len(MARKER):] for ln in lines if ln.startswith(MARKER)]
    for ln in lines:
        if not ln.startswith(MARKER):
            print(ln)
    if proc.returncode != 0 or len(results) != 1:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"run failed with exit code {proc.returncode} (log: {log})")
    result = json.loads(results[0])
    check_metrics(root, result["metrics"], "per_layer" if a.trace == "1"
                  else "end_to_end")
    print(json.dumps(result))


def check_metrics(root, metrics, kind):
    """The reported metrics must be exactly those BENCHMARK.json lists."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        want = {m["name"]: m["unit"] for m in json.load(fh)[kind]}
    got = {n: m["unit"] for n, m in metrics.items()}
    if got != want:
        fail(f"reported {kind} metrics differ from BENCHMARK.json: "
             f"missing {sorted(set(want) - set(got))}, "
             f"extra {sorted(set(got) - set(want))}, units "
             f"{sorted(n for n in set(got) & set(want) if got[n] != want[n])}")


if __name__ == "__main__":
    main()
