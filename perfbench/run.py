#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The engine (src/main/scala) and the
benchmark (perfbench/src) are compiled from source with the Scala compiler
that ships in the Spark jars directory (build.sbt's unmanagedBase), into
.bench_build/ (reused while the sources are unchanged). Each run works in a private directory under
.bench_build/ that also serves as the JVM's java.io.tmpdir, so no staged
layout survives from one run to the next; the directory is removed at exit.

The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; the line before it is a
report with sample counts, the run configuration and any errors.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]
JVM_HEAP = "4g"
RUN_TIMEOUT_S = 170


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars directory: `unmanagedBase` in the repo's build.sbt, else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    fail("cannot find the Spark jars: no unmanagedBase in build.sbt and no SPARK_HOME")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        fail("no engine sources at src/main/scala; run from the root of a checkout")
    out = []
    for base in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def java_opts():
    out = []
    for o in ADD_OPENS:
        out += ["--add-opens", o]
    return out


def build():
    """Compile engine + benchmark once per source tree; return the classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:16]
    classes = os.path.join(BUILD, "classes-" + key)
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(classes, "DONE")):
            tmp = tempfile.mkdtemp(prefix="tmp-classes-", dir=BUILD)
            cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", jars + "/*",
                   "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                   "-cp", jars + "/*"] + srcs
            r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
            if r.returncode != 0:
                shutil.rmtree(tmp, ignore_errors=True)
                fail("compilation failed")
            open(os.path.join(tmp, "DONE"), "w").close()
            for old in os.listdir(BUILD):
                if old.startswith("classes-"):
                    shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
            os.rename(tmp, classes)
    return classes, key, jars


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return "none"


def run_java(classes, jars, main, args, run_dir, env_extra):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + java_opts() +
           ["-Xmx" + JVM_HEAP, "-Djava.io.tmpdir=" + tmp,
            "-cp", jars + "/*:" + classes, main] + args)
    env = dict(os.environ, **env_extra)
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                         env=env, cwd=run_dir, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, 9)
        p.wait()
        fail("run exceeded %d s" % RUN_TIMEOUT_S)
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        fail("--workload, --seed and --seconds are required")

    classes, key, jars = build()
    run_dir = tempfile.mkdtemp(prefix="run-", dir=BUILD)
    try:
        if a.self_test:
            code, out = run_java(classes, jars, "perfbench.SelfTest", [ROOT], run_dir, {})
            sys.stdout.write(out)
            sys.exit(code)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", a.trace, "--run-dir", run_dir, "--source-root", ROOT]
        code, out = run_java(classes, jars, "perfbench.Main", args, run_dir,
                             {"PERFBENCH_COMMIT": commit() + "+src:" + key})
        lines = [l for l in out.splitlines() if l.strip()]
        if code != 0 or not lines:
            sys.stdout.write(out)
            fail("benchmark exited with code %d" % code)
        result = json.loads(lines[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            fail("malformed result line")
        sys.stdout.write("\n".join(lines[:-1]) + "\n" if len(lines) > 1 else "")
        print(lines[-1])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
