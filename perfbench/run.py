#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload ingest_upsert --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the benchmark and the
engine from source with sbt (perfbench/build.sbt); later runs reuse the
build unless a source file is newer than it. Inputs are generated into a
scratch directory under perfbench/work/ that is removed when the run
ends; traced runs write their spans under perfbench/out/.

Extra options for the benchmark's own test: --scale smoke runs tiny
inputs, --perturb 1 changes one output row before every output check.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSPATH_FILE = os.path.join(HERE, "target", "bench-classpath.txt")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
WORKLOADS = ("ingest_upsert", "graph_iterate", "config_storm", "stream_upsert")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 720
HEAP = "2g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

child = None


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def newest_mtime(*roots):
    newest = 0.0
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile benchmark + engine once per checkout (again if sources change)."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    sources = newest_mtime(ENGINE_SRC, BENCH_SRC, os.path.join(HERE, "build.sbt"))
    if os.path.exists(CLASSPATH_FILE) and os.path.getmtime(CLASSPATH_FILE) >= sources:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(HERE, '.sbt-global')}",
           "writeClasspath"]
    print("[perfbench] building benchmark and engine ...", file=sys.stderr)
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if r.returncode != 0 or not os.path.exists(CLASSPATH_FILE):
        fail(f"build failed (sbt exit {r.returncode})")


def stop_child(*_):
    if child is not None and child.poll() is None:
        child.kill()
        child.wait()
    sys.exit(1)


def main():
    global child
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--scale", choices=("full", "smoke"), default="full")
    ap.add_argument("--perturb", choices=("0", "1"), default="0")
    a = ap.parse_args()

    build()
    with open(CLASSPATH_FILE) as f:
        classpath = f.read().strip()
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse", "stream-ckpt"):
        os.makedirs(os.path.join(work, sub))
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    env["SPARK_GRAFT_STREAM_CKPT"] = os.path.join(work, "stream-ckpt")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed, pre-touched heap: heap resizing and first-touch page faults
    # would add noise to op times. Resident memory is then set by this
    # flag, so the benchmark reports retained memory instead.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch"] + opens + [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dderby.system.home={os.path.join(work, 'tmp')}",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--scale", a.scale, "--perturb", a.perturb,
        "--work", os.path.join(work, "data"),
        "--out", os.path.join(HERE, "out")])
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    try:
        child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                 text=True)
        out, _ = child.communicate(timeout=RUN_TIMEOUT_S)
        code = child.returncode
    except subprocess.TimeoutExpired:
        child.kill()
        child.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or "metrics" not in result:
        sys.stderr.write(out)
        fail(f"benchmark exited {code} without a result line")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
