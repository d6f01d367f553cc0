#!/usr/bin/env python3
"""Build-once/apply-many regrid benchmark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload raster_slab --seed 1 --seconds 10 --trace 0

Builds the harness in perfbench/harness (which compiles the library's
sources from src/main/scala) when the sources changed, runs one workload
in a fresh JVM, checks its outputs and prints one JSON object as the last
line of standard output. See perfbench/README.md.
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
HERE = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("raster_slab", "raster_tall")
# the driver heap, fixed at start so that heap growth does not slow the
# first measured applies; the slab workload caches 960 MB of input
HEAP = "4g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HARNESS, "src")]
    files = [os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout} s")
    return p.returncode, out


def build():
    """Compile the harness and the library once per source state."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no library sources under src/main/scala: run from the root of a checkout")
    classes = os.path.join(HARNESS, "target", "scala-2.13", "classes")
    want = stamp(source_files())
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return classes
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" +
        os.path.expanduser("~/.sbt/repositories"), "-Dsbt.offline=true",
        "-Dsbt.server.autostart=false", "-Xmx3g"])
    code, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                          BUILD_TIMEOUT_S, cwd=HARNESS, env=env,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if code != 0:
        sys.stderr.write(out.decode(errors="replace")[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(want)
    return classes


def spark_home():
    """The Spark installation the harness compiles and runs against."""
    home = os.environ.get("SPARK_HOME", "")
    if not glob.glob(os.path.join(home, "jars", "spark-core_2.13-*.jar")):
        fail("no Spark 2.13 jars under $SPARK_HOME/jars: set SPARK_HOME")
    return home


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", type=int, choices=(0, 1), default=0,
                    help="apply one wrong weight to prove the output check")
    ap.add_argument("--max-ops", type=int, default=None,
                    help="stop after this many measured operations")
    a = ap.parse_args()

    home = spark_home()
    classes = build()
    work = os.path.join(BUILD, "work")
    out = os.path.join(BUILD, "result.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jars = os.path.join(home, "jars", "*")
    cmd += ["-cp", f"{classes}:{jars}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out, "--work", work,
            "--perturb", str(a.perturb)]
    if a.max_ops is not None:
        cmd += ["--max-ops", str(a.max_ops)]
    code, stdout = run_group(cmd, JVM_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE)
    sys.stdout.write(stdout.decode(errors="replace"))
    if code != 0 or not os.path.isfile(out):
        fail(f"benchmark JVM exited with code {code}")
    with open(out) as f:
        result = json.load(f)
    spans = os.path.join(work, "spans.jsonl")
    if os.path.isfile(spans):
        os.replace(spans, os.path.join(BUILD, f"spans-{a.workload}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
