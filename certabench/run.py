#!/usr/bin/env python3
"""Build and run the certaspark closed-loop benchmark.

Run from the root of a checkout:

    python3 certabench/run.py --workload explain --seed 1 --seconds 10 --trace 0

Workloads: explain, eval, dedup, stream. The program (src/main/scala) and
the benchmark (certabench/src) are compiled together with the Scala
compiler that ships in the Spark jar directory named by build.sbt (or
$SPARK_HOME/jars); the build is cached under .bench_build/certabench and
redone whenever a source changes. The last line of standard output is one
JSON object: correct, attempted, failed and metrics. The line before it,
prefixed "detail ", records host steal, failures, leaks and the output
digest.
"""

import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
STATE = os.path.join(".bench_build", "certabench")
RUN_TIMEOUT_S = 170
JAVA_OPTS = [
    "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false",
    "-Dlog4j2.level=error",
] + [opt for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for opt in ("--add-opens", pkg + "=ALL-UNNAMED")]


def fail(msg):
    print("certabench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory the repo's build compiles against."""
    home = os.environ.get("SPARK_HOME")
    candidates = [os.path.join(home, "jars")] if home else []
    if os.path.isfile("build.sbt"):
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    for d in candidates:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    fail("no Spark jar directory with a Scala compiler (set SPARK_HOME)")


def sources():
    found = []
    for root in ("src/main/scala", os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(root):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    if not any(p.startswith("src/main/scala") for p in found):
        fail("no program sources under src/main/scala; run from a checkout root")
    return sorted(found)


def build(jars):
    """Compile program + benchmark once per source state; return the class dir."""
    os.makedirs(STATE, exist_ok=True)
    srcs = sources()
    h = hashlib.sha256()
    h.update(subprocess.run(["java", "-version"], capture_output=True).stderr)
    h.update(jars.encode())
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(STATE, "classes")
    with open(os.path.join(STATE, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(classes, "STAMP")
        if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
            return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(STATE, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        t0 = time.time()
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile],
            capture_output=True, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
            fail("compilation failed")
        with open(os.path.join(tmp, "STAMP"), "w") as f:
            f.write(stamp)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        print("certabench: built in %.1f s" % (time.time() - t0), file=sys.stderr)
        return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["explain", "eval", "dedup", "stream"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)

    run_id = "%s-%d-%s-%d" % (a.workload, a.seed, a.trace, os.getpid())
    work = os.path.abspath(os.path.join(STATE, "work", run_id))
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir)
    logs = os.path.join(STATE, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, "%s-%d-%s.log" % (a.workload, a.seed, a.trace))
    cmd = (["java"] + JAVA_OPTS + ["-Djava.io.tmpdir=" + tmpdir,
           "-cp", classes + os.pathsep + os.path.join(jars, "*"), "certabench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--work", work])
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                    text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail("run exceeded %d s (log: %s)" % (RUN_TIMEOUT_S, log_path))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail("benchmark exited with code %d (log: %s)" % (proc.returncode, log_path))
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line: " + lines[-1])
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
