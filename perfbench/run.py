#!/usr/bin/env python3
"""Zonal-service benchmark: builds graft and the harness from source, runs
one workload, and prints one JSON result as the last line of stdout.

    python3 perfbench/run.py --workload zonal_run_huc12 --seed 1 --seconds 15 --trace 0

Run from the repository root. The build goes to $CARGO_TARGET_DIR (default
.bench_build) and is reused while the sources are unchanged. Spark's logs go
to <build>/perfbench/logs/, never to stdout.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

WORKLOADS = ("zonal_run_huc12", "zonal_multi_huc8")
JVM_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these opens (the same list
# as build.sbt's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jar_dir():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    if os.path.exists("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        return m and m.group(1)
    return None


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def scalac(jars, classpath, out, files, log):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.dirname(out)}",
           "-cp", jars, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out] + (["-cp", classpath] if classpath else []) + files
    with open(log, "a") as f:
        rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, timeout=800).returncode
    if rc != 0:
        fail(f"compilation failed, see {log}")


def build(build_dir, jars):
    """Compiles src/main/scala, then the harness against it; skipped when
    the stamp of both source sets is unchanged."""
    main_src, bench_src = sources("src/main/scala"), sources("perfbench/src")
    if not main_src or not bench_src:
        fail("run from the repository root: src/main/scala or perfbench/src is missing")
    h = hashlib.sha256()
    for p in main_src + bench_src:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(build_dir, "stamp")
    main_out, bench_out = os.path.join(build_dir, "main"), os.path.join(build_dir, "bench")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return main_out, bench_out
    os.makedirs(build_dir, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    log = os.path.join(build_dir, "build.log")
    scalac(jars, None, main_out, main_src, log)
    scalac(jars, main_out, bench_out, bench_src, log)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return main_out, bench_out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spark_jars = spark_jar_dir()
    if not spark_jars or not os.path.isdir(spark_jars):
        fail(f"no Spark jars at {spark_jars}")
    jars = os.path.join(spark_jars, "*")
    build_dir = os.path.abspath(os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"))
    main_out, bench_out = build(build_dir, jars)

    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(build_dir, "runs", f"{name}-{os.getpid()}")
    logs = os.path.join(build_dir, "logs")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    cp = [bench_out, main_out] + (["src/main/resources"] if os.path.isdir("src/main/resources") else []) + [jars]
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--out", out,
              "--spans", os.path.join(logs, f"{name}.spans.jsonl")])
    env = dict(os.environ, GRAFT_SCRATCH=os.path.join(run_dir, "scratch"))
    try:
        with open(os.path.join(logs, f"{name}.log"), "w") as log:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                timeout=JVM_TIMEOUT_S).returncode
        if not os.path.exists(out):
            fail(f"no result (exit {rc}), see {logs}/{name}.log")
        with open(out) as f:
            res = json.load(f)
    except subprocess.TimeoutExpired:
        fail(f"timed out after {JVM_TIMEOUT_S} s, see {logs}/{name}.log")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for k, v in res["info"].items():
        print(f"{k}: {v}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
