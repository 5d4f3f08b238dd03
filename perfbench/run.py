#!/usr/bin/env python3
"""Seeded benchmark for titanspark: oltp, olap and dataprep workloads.

Usage (from the repository root):
    python3 perfbench/run.py --workload oltp --seed 1 --seconds 10 --trace 0

Builds the engine plus the benchmark from source on first use (sbt, offline),
then runs one workload in a forked JVM with an explicit heap and a fresh
scratch directory. Everything the program prints is passed through; the last
stdout line is the JSON result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
CP_FILE = os.path.join(HERE, "target", "perfbench-classpath.txt")
HEAP = "2g"
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when the session is created outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every source and build file the benchmark is compiled from."""
    h = hashlib.sha256()
    files = [os.path.join(d, f) for d in (ROOT, HERE)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, fs in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(fs) if f.endswith((".scala", ".java"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    return env


def build():
    """Compile engine + benchmark with sbt unless the classpath is current."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    stamp = source_stamp()
    if os.path.exists(CP_FILE):
        with open(CP_FILE) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    print("[perfbench] building engine + benchmark (sbt compile)", flush=True)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    out = proc.stdout.splitlines()
    if proc.returncode != 0:
        print("\n".join(out[-40:]), file=sys.stderr)
        fail("build failed")
    cp = [l for l in out if os.path.join("target", "scala-") in l and ":" in l and not l.startswith("[")]
    if not cp:
        fail("could not read the runtime classpath from sbt")
    os.makedirs(os.path.dirname(CP_FILE), exist_ok=True)
    with open(CP_FILE, "w") as fh:
        fh.write(stamp + "\n" + cp[-1].strip() + "\n")
    print(f"[perfbench] build done in {time.time() - t0:.1f}s", flush=True)
    return cp[-1].strip()


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT, text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL).stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def java_cmd(cp, scratch, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={scratch}/tmp", "-Dspark.ui.enabled=false"] + opens +
            ["-cp", cp, "perfbench.Main"] + args)


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["oltp", "olap", "dataprep"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    runs = os.path.join(HERE, ".runs")
    scratch = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(scratch, "tmp"))
    env = dict(os.environ)
    env["GRAFT_LAYOUT_DIR"] = os.path.join(scratch, "layout")
    env["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    env["PERFBENCH_COMMIT"] = commit()
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--dir", scratch]
    lines = []
    proc = subprocess.Popen(java_cmd(cp, scratch, args), cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)

    def pump():
        for line in proc.stdout:
            line = line.rstrip("\n")
            lines.append(line)
            if not line.startswith("{"):
                print(line, flush=True)

    reader = threading.Thread(target=pump, daemon=True)
    reader.start()
    timed_out = False
    try:
        proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        timed_out = True
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        reader.join(timeout=5)
        trace_file = os.path.join(scratch, "trace.json")
        if os.path.exists(trace_file):
            out = os.path.join(HERE, ".out")
            os.makedirs(out, exist_ok=True)
            shutil.copy(trace_file, os.path.join(out, f"trace-{a.workload}-{a.seed}.json"))
        shutil.rmtree(scratch, ignore_errors=True)
    if timed_out:
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    last = next((l for l in reversed(lines) if l.startswith("{")), None)
    if proc.returncode != 0 or last is None:
        fail(f"benchmark program exited with code {proc.returncode}")
    result = json.loads(last)
    missing = [m for m in expected_metrics(a.trace) if m not in result["metrics"]]
    if missing:
        fail(f"result lacks metrics {missing}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
