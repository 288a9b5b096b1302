#!/usr/bin/env python3
"""End-to-end benchmark of graft's POS pipeline and corpus-curation chain.

    python3 perfbench/run.py --workload pos_pipeline --seed 1 --seconds 14 --trace 0

Run it from the root of a checkout. The first run builds the program and
the benchmark's own sources with sbt into `.bench_build/` at the
checkout root; later runs reuse that build while the sources are unchanged.
Each run is one JVM: it sets up the workload, measures it for `--seconds`,
checks the program's outputs, and prints one JSON result as the last line
of standard output. With `--trace 1` the metrics are the per-layer ones.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("pos_pipeline", "corpus_curation")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    return sorted(os.path.relpath(f, ROOT) for f in files)


def source_stamp():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def build(env):
    """Compile with sbt once per source state; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    try:
        out = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}/src/main/scala: run from a full checkout")

    env = dict(os.environ, SPARK_HOME=spark_home())
    cp = build(env)

    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    if not java:
        fail("java not found")
    # A fixed, pre-touched heap: the process's resident set then does not
    # depend on when the collector chose to grow the heap.
    # Two collector threads to match local[2]: with the driver, the
    # scheduler and the JIT compiler, the process keeps about as many busy
    # threads as a 4-core host has cores.
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dderby.system.home={work}",
           "-Dspark.callstack.depth=80",
           "-Duser.language=en", "-Duser.country=US", "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work-dir", work,
            "--trace-out", os.path.join(BUILD, "traces")]
    try:
        proc = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                              text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    for line in lines[:-1]:
        print(line)
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with code {proc.returncode}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("benchmark JVM printed no result line")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    print(json.dumps(result))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
