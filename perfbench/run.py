#!/usr/bin/env python3
"""Seeded workload benchmark for the graft triple store.

Usage (from the repository root):

    python3 perfbench/run.py --workload query --seed 1 --seconds 10 --trace 0

Workloads: query, maintain (see perfbench/README.md).
The first run compiles the program sources (src/main/scala) together with
the benchmark (perfbench/src/main/scala) with the Scala compiler that ships
in Spark's jar directory ($SPARK_HOME/jars); later runs reuse the classes
while the sources are unchanged. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(BENCH, "src", "main", "scala")]
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(3)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark jars found: set SPARK_HOME")
    return jars


def scala_files():
    files = []
    for d in SOURCES:
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compiles every source once per source digest; returns (classes, digest)."""
    if not os.path.isdir(SOURCES[0]) or not any(
            f.startswith(SOURCES[0]) for f in scala_files()):
        fail("program sources (src/main/scala) are missing")
    files = scala_files()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    out = os.path.join(WORK, "build", digest[:16])
    if os.path.isfile(os.path.join(out, "ok")):
        return os.path.join(out, "classes"), digest
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    compiler = [j for n in ("scala-compiler", "scala-library", "scala-reflect")
                for j in glob.glob(os.path.join(jars, n + "-*.jar"))]
    if len(compiler) < 3:
        fail("the Scala compiler jars are not in " + jars)
    print("perfbench: compiling %d sources" % len(files), file=sys.stderr)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m",
                        "-cp", os.pathsep.join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-d",
                        os.path.join(tmp, "classes"), "-classpath",
                        os.path.join(jars, "*")] + files,
                       stdout=sys.stderr, timeout=850)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    open(os.path.join(tmp, "ok"), "w").close()
    os.rename(tmp, out)
    return os.path.join(out, "classes"), digest


def commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["query", "maintain"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    jars = spark_jars()
    classes, digest = build(jars)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", "-XX:-UsePerfData", "-Xmx" + HEAP, "-XX:+UseParallelGC",
            "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", WORK])
    env = dict(os.environ, PERFBENCH_COMMIT=commit(), PERFBENCH_SOURCE_SHA=digest)
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                         start_new_session=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail("run exceeded %d s" % RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    for line in lines[:-1] if result else lines:
        print(line)
    if result is None:
        fail("no result (exit code %d)" % p.returncode)
    print(result)
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
