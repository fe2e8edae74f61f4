#!/usr/bin/env python3
"""graft benchmark runner.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload dedup_uniform --seed 1 --seconds 5 --trace 0

Builds graft's main sources plus the harness under perfbench/src with the
Scala compiler that ships with Spark (no sbt, no dependency resolution),
caches the classes under .bench_build/ keyed by a digest of the sources,
then runs one workload in one JVM at local[nproc] and prints the harness's
JSON result as the last line of standard output.

Everything the run writes (classes, Spark scratch, ingest generations,
span files) stays under .bench_build/ in the checkout; the JVMs run with
-XX:-UsePerfData so they leave no hsperfdata file in the system temp dir.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH_DIR = os.path.join(ROOT, "perfbench")
PRODUCT_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(BENCH_DIR, "src")
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "4g"

# the --add-opens set build.sbt passes: Spark 4 on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-2.13*.jar")):
            return jars
    fail("no Spark jars directory with a Scala 2.13 compiler (set SPARK_HOME)")


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def digest(paths, salt=""):
    h = hashlib.sha256(salt.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def compile_once(name, srcs, classpath, jars):
    """Compile `srcs` into .bench_build/<name>-<digest>/ unless already there."""
    key = digest(srcs, classpath)
    out = os.path.join(BUILD, f"{name}-{key}")
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    for stale in glob.glob(os.path.join(BUILD, f"{name}-*")):
        shutil.rmtree(stale, ignore_errors=True)
    os.makedirs(out)
    print(f"[perfbench] compiling {name} ({len(srcs)} files)", file=sys.stderr)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail(f"compilation of {name} failed")
    open(os.path.join(out, ".ok"), "w").close()
    return out


def benchmark():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json is missing: run from the root of a graft checkout")
    with open(path) as f:
        return json.load(f)


def main():
    bench = benchmark()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(PRODUCT_SRC, "graft")):
        fail("run from the root of a graft checkout: src/main/scala/graft is missing")
    if not os.path.isdir(HARNESS_SRC):
        fail("perfbench/src is missing")

    jars = spark_jars()
    spark_cp = os.path.join(jars, "*")
    product = compile_once("product", sources(PRODUCT_SRC), spark_cp, jars)
    harness = compile_once("harness", sources(HARNESS_SRC),
                           product + os.pathsep + spark_cp, jars)

    work = os.path.join(BUILD, "run", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([harness, product, spark_cp]),
              "graft.bench.Harness",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_HOSTNAME="localhost")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            env=env, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=170)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("harness exceeded 170 s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if proc.returncode != 0 or not lines:
        fail(f"harness exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("harness result has unexpected keys")
    result["metrics"] = with_units(bench, result["metrics"], args.trace)
    print(json.dumps(result, separators=(",", ":")))


def with_units(bench, measured, trace):
    """Declared metrics of this mode, in BENCHMARK.json order, with units.

    An end-to-end metric the harness did not measure is an error; a
    per-layer metric of a layer the workload never runs reads 0.
    """
    declared = bench["per_layer" if trace else "end_to_end"]
    names = [m["name"] for m in declared]
    unknown = sorted(set(measured) - set(names))
    if unknown:
        fail(f"harness reported undeclared metrics: {unknown}")
    missing = [n for n in names if n not in measured]
    if missing and not trace:
        fail(f"harness did not report: {missing}")
    return {m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]}
            for m in declared}


if __name__ == "__main__":
    main()
