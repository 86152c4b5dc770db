#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py record [tpch_scan] [shared_cache]
    python3 perfbench/run.py selftest

Run from the root of a checkout. The first call builds the library together
with the harness in perfbench/ (sbt, offline) into .bench_build/; later calls
reuse the build while the sources are unchanged. Each run is one JVM running
one workload. The last stdout line is the result object; the full record of
the run is written to .bench_build/work/results/.

`record` re-derives perfbench/expected/*.tsv candidates into
.bench_build/record/ from the current library; `selftest` runs the harness's
own tests.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
           os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
WORKLOADS = ["pipeline_backfill", "tpch_scan", "shared_cache"]
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for top in SOURCES:
        if not os.path.exists(top):
            fail(f"missing source: {os.path.relpath(top, ROOT)} (run from a full checkout)")
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as c:
                    return c.read().strip(), stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                "-Dsbt.server.autostart=false"]).strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "export Compile/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if "classes" in l and os.pathsep in l and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {r.returncode}); log in {os.path.relpath(log, ROOT)}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1], stamp


def java(cp, main, args, log_name, timeout=RUN_TIMEOUT_S):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}",
              f"-Dderby.stream.error.file={os.path.join(BUILD, 'derby.log')}",
              f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
              "-Dspark.ui.enabled=false",
              "-cp", cp, main] + args)
    log = os.path.join(BUILD, log_name)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(BUILD, "spark-local"))
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True, env=env)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{main} exceeded {timeout} s; log in {os.path.relpath(log, ROOT)}")
    if p.returncode != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.stderr.write(out)
        fail(f"{main} exited {p.returncode}; log in {os.path.relpath(log, ROOT)}")
    return out.splitlines()


def main():
    if len(sys.argv) > 1 and sys.argv[1] in ("record", "selftest"):
        cp, _ = build()
        if sys.argv[1] == "record":
            out = java(cp, "perfbench.Record",
                       [os.path.join(BUILD, "work"), os.path.join(BUILD, "record")] + sys.argv[2:],
                       "record.log", timeout=None)
        else:
            out = java(cp, "perfbench.SelfTest", [os.path.join(BUILD, "work")], "selftest.log")
        print("\n".join(out))
        return
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    cp, stamp = build()
    lines = java(cp, "perfbench.Main",
                 ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--work", os.path.join(BUILD, "work"),
                  "--expected", os.path.join(HERE, "expected"), "--commit", stamp],
                 f"run-{a.workload}.log")
    if not lines:
        fail("no output from the benchmark")
    result = json.loads(lines[-1])
    for l in lines[:-1]:
        if l.startswith(("env ", "summary ")):
            print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
