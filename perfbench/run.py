#!/usr/bin/env python3
"""Lifecycle benchmark of the sentiment / curation / index engine.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: sentiment_score, curate_stream, index_serve (see
BENCHMARK.json). The first run builds the program and the harness from
source with sbt (perfbench/build.sbt compiles ../src/main together with
perfbench/src/main); later runs reuse the build while the sources are
unchanged. Everything the run writes stays under perfbench/target and
perfbench/work. The last line of standard output is the JSON result;
per-op samples, spans and state censuses land in
perfbench/work/results/<workload>-seed<n>-trace<t>.jsonl.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench.classpath")
STAMP = os.path.join(TARGET, "bench.stamp")
WORK = os.path.join(HERE, "work")

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# a fixed heap: the JVM does not resize it, so peak resident memory
# depends on what the program touches, not on heap-sizing decisions
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every input of the build: a changed file rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(HERE, "src", "main"), os.path.join(ROOT, "src", "main")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH", 3)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(WORK, "build.log")
    os.makedirs(WORK, exist_ok=True)
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false",
                                 "writeClasspath"], cwd=HERE, env=env,
                                stdin=subprocess.DEVNULL, stdout=out,
                                stderr=subprocess.STDOUT,
                                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (log: {log})", 3)
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("program sources (src/main/scala) not found next to perfbench/", 2)
    build()

    data = os.path.join(WORK, "data")
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    with open(CLASSPATH) as f:
        cp = ":".join(line.strip() for line in f if line.strip())
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
           f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", data]
    log = os.path.join(WORK, "jvm.log")
    with open(log, "w") as err:
        try:
            proc = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                                  stdout=subprocess.PIPE, stderr=err,
                                  timeout=RUN_TIMEOUT_S, text=True)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_TIMEOUT_S}s (log: {log})", 4)
    lines = proc.stdout.splitlines()
    results = [l for l in lines if l.startswith('{"correct"')]
    if proc.returncode != 0 or not results:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"run failed with exit code {proc.returncode} (log: {log})", 1)
    # the CLIs print sample rows; keep stdout to the harness's own lines
    for l in lines:
        if l.startswith('{"workload"'):
            print(l)
        elif l is not results[-1]:
            print(l, file=sys.stderr)
    print(results[-1])


if __name__ == "__main__":
    main()
