#!/usr/bin/env python3
"""Alert-broker benchmark entry point.

    python3 alertbench/run.py --workload <alert_batch|alert_stream|corpus_build>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the engine. Builds the engine and the
benchmark from source with sbt (once per checkout; later runs reuse the
build while the sources are unchanged), runs one measurement in a fresh
JVM with a fixed heap, and prints a diagnostics line followed by the
result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Everything it writes stays inside the checkout: the build under
alertbench/target and run scratch under .alertbench-work/.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".alertbench-work")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(HERE, "target", "build.stamp")
WORKLOADS = ("alert_batch", "alert_stream", "corpus_build")
HEAP = "2g"  # fixed heap: -Xms equals -Xmx, so heap sizing never drifts
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[alertbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the classpath of an identical build exists."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building engine and benchmark with sbt")
    t0 = time.time()
    # sbt's output goes to stderr so that stdout carries only the result
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                   cwd=HERE, env=env, stdout=sys.stderr,
                   stdin=subprocess.DEVNULL, check=True, timeout=BUILD_TIMEOUT_S)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    log(f"build done in {time.time() - t0:.1f} s")
    return True


def java_cmd(args, out):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return [java, *opens, "--add-modules", "jdk.incubator.vector",
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", "-Duser.timezone=UTC",
            "-cp", cp, "alertbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", WORK, "--out", out]


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no engine sources under {ROOT}/src/main/scala/graft; "
            "run from the root of a checkout of the engine")
        return 2
    try:
        build()
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        return 3

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    out = os.path.join(WORK, "result.json")
    env = dict(os.environ)
    # pin the model bundle to a directory inside the checkout, so that a
    # parent and a change run always load the same models (none present:
    # every classifier uses its documented stand-in)
    env["GRAFT_MODELS_DIR"] = os.path.join(HERE, "models")
    jvm_log = os.path.join(WORK, "jvm.log")
    with open(jvm_log, "w") as fh:
        proc = subprocess.Popen(java_cmd(args, out), cwd=WORK, env=env, stdout=fh,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0 or not os.path.exists(out):
        with open(jvm_log, errors="replace") as fh:
            tail = fh.readlines()[-60:]
        sys.stderr.writelines(tail)
        log(f"measurement JVM failed (exit {rc})")
        return 1
    with open(jvm_log, errors="replace") as fh:
        for line in fh:
            if "[alertbench]" in line or "Exception" in line:
                sys.stderr.write(line)
    with open(out) as fh:
        result = json.load(fh)
    print(json.dumps({"diagnostics": result["diagnostics"]}))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
