#!/usr/bin/env python3
"""Benchmark command for the tile pipeline, the spatial operators and the
tile store.

    python3 perfbench/run.py --workload <tiles|spatial_queries|tiles_store>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Compiles the engine (src/main/scala) together
with the benchmark (perfbench/src) with the Scala compiler in Spark's jars/
when the sources changed since the last build, then runs one JVM on local[nproc] with a heap derived from
the host's memory. Everything it writes stays under .bench_build/. The last line of stdout is the result object, carrying
the metrics BENCHMARK.json lists for the run's mode (end_to_end with
--trace 0, per_layer with --trace 1); the exit code is non-zero when an op
failed, its output was wrong, or a listed metric was not measured.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
TMP = os.path.join(OUT, "tmp")  # java.io.tmpdir of the compiler and the benchmark
SPEC = os.path.join(ROOT, "BENCHMARK.json")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 175

# Spark 4 on JDK 17 outside spark-submit (as build.sbt's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = []
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def spark_home():
    """$SPARK_HOME, else the first spark-submit on PATH next to a jars/."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(
                os.path.realpath(submit))))
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark installation: set SPARK_HOME")


def run_child(cmd, timeout, **kw):
    """Runs cmd, killing its process group on timeout or interruption."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] timed out after {timeout}s: {cmd[0]}",
              file=sys.stderr)
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build(src_hash, env, java):
    """Compiles the engine and the benchmark with the Scala compiler that
    ships in Spark's jars/, against those jars, unless CLASSES already
    holds this source hash. Resolves nothing from a repository."""
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == src_hash:
                return
    jars = os.path.join(env["SPARK_HOME"], "jars")
    compiler = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(jars, f"{name}-2.13.*.jar")))
        if len(found) != 1:
            fail(f"expected one {name} 2.13 jar in {jars}, found {len(found)}",
                 3)
        compiler += found
    staging = CLASSES + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    sources = os.path.join(TMP, "sources.txt")
    with open(sources, "w") as fh:
        fh.writelines(f"{f}\n" for f in source_files())
    # compiler output goes to stderr so stdout ends with the result line
    code = run_child([java, "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                      f"-Djava.io.tmpdir={TMP}",
                      "-cp", os.pathsep.join(compiler),
                      "scala.tools.nsc.Main", "-nowarn",
                      "-classpath", os.path.join(jars, "*"),
                      "-d", staging, f"@{sources}"],
                     BUILD_TIMEOUT_S, cwd=ROOT, stdout=sys.stderr, env=env)
    if code != 0:
        shutil.rmtree(staging, ignore_errors=True)
        fail(f"build failed (exit {code})", 3)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(src_hash + "\n")


def commit():
    """The git commit of the checkout, or "none" outside a git work tree."""
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def result_line(trace):
    """The result object limited to the metrics BENCHMARK.json lists for
    this mode, or None when one of them is missing or not finite."""
    with open(os.path.join(OUT, "result.json")) as fh:
        result = json.load(fh)
    with open(SPEC) as fh:
        listed = json.load(fh)["per_layer" if trace == "1" else "end_to_end"]
    measured = result["metrics"]
    metrics = {}
    for m in listed:
        v = measured.get(m["name"], {}).get("value")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            print(f"[perfbench] metric {m['name']} was not measured",
                  file=sys.stderr)
            return None
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    result["metrics"] = metrics
    return json.dumps(result)


def heap_mb():
    """A quarter of physical memory, between 2 and 6 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        kb = 8 << 20
    return max(2048, min(6144, kb // 4 // 1024))


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["tiles", "spatial_queries", "tiles_store"])
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=["0", "1"])
    p.add_argument("--fail-op", type=int, default=0,
                   help="make the op with this 1-based index throw")
    a = p.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}")
    if not os.path.isfile(SPEC):
        fail("BENCHMARK.json not found at the repository root")
    env = dict(os.environ)
    # Spark would put its scratch files there instead of under OUT
    env.pop("SPARK_LOCAL_DIRS", None)
    # local mode: bind the driver to loopback, not to a host interface
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    env["SPARK_HOME"] = spark_home()
    java = os.path.join(env["JAVA_HOME"], "bin", "java") \
        if env.get("JAVA_HOME") else "java"
    src_hash = source_hash()
    os.makedirs(TMP, exist_ok=True)
    build(src_hash, env, java)

    for name in os.listdir(OUT):  # left behind by a run that was killed
        if name.startswith("work-"):
            shutil.rmtree(os.path.join(OUT, name), ignore_errors=True)
    result = os.path.join(OUT, "result.json")
    if os.path.exists(result):
        os.remove(result)
    cp = os.pathsep.join([CLASSES, os.path.join(env["SPARK_HOME"], "jars", "*")])
    # the throughput collector: with G1, op times were ~20% longer
    cmd = [java, f"-Xmx{heap_mb()}m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={TMP}",
           "-Dspark.ui.enabled=false"]
    for mod in ADD_OPENS:
        cmd += ["--add-opens", f"{mod}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--out", OUT, "--source", src_hash, "--commit", commit(),
            "--fail-op", str(a.fail_op)]
    sys.stdout.flush()
    code = run_child(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env)
    line = result_line(a.trace) \
        if code in (0, 1) and os.path.exists(result) else None
    if line is None:
        sys.exit(code if code > 0 else 4)
    print(line)
    sys.exit(code)


if __name__ == "__main__":
    main()
