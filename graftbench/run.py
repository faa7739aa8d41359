#!/usr/bin/env python3
"""graft's log-to-metrics benchmark: build, then run one workload.

    python3 graftbench/run.py --workload oneshot_weblog --seed 1 \
        --seconds 12 --trace 0

Run from the root of a graft source tree. The first run builds graft
and the benchmark from source with sbt (offline); later runs reuse the
build until a source file changes. The run itself is one JVM with a
pinned heap, driving graft's public entry points on inputs generated
from the seed. Its last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"} - the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. All files it
writes stay under this directory (.work/, traces in .work/traces/, the
build in target/).
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
STAMP = os.path.join(HERE, "target", "bench-classpath.txt")
WORKLOADS = ("oneshot_weblog", "tail_scrape")
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark on JDK 17 outside spark-submit needs these opens (the same list
# as the root build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(1)


def build_inputs():
    """Every file whose change makes the build stale."""
    pats = ["build.sbt", "project/*.sbt", "project/*.scala",
            "project/build.properties", "src/main/**/*"]
    files = []
    for base in (ROOT, HERE):
        for p in pats:
            files += glob.glob(os.path.join(base, p), recursive=True)
    return [f for f in files if os.path.isfile(f)]


def classpath():
    """The runtime classpath, building first when the build is stale."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no graft sources next to the benchmark (looked in {ROOT})")
    if os.path.isfile(STAMP):
        built = os.path.getmtime(STAMP)
        if all(os.path.getmtime(f) <= built for f in build_inputs()):
            with open(STAMP) as f:
                return f.read().strip()
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS") or "-Dsbt.override.build.repos=true"
                       " -Dsbt.offline=true -Xmx2g") + \
        f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    t0 = time.time()
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build exceeded {BUILD_TIMEOUT_S} s")
    lines = out.stdout.splitlines()
    cps = [l for l in lines if l and not l.startswith("[")
           and ".jar" in l and os.pathsep in l]
    if out.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {out.returncode})")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(cps[-1])
    print(f"graftbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cps[-1]


def check_result(line, trace):
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError("result keys")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    missing = want - set(res["metrics"])
    if missing:
        raise ValueError(f"metrics missing: {sorted(missing)}")
    res["metrics"] = {k: v for k, v in res["metrics"].items() if k in want}
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = classpath()
    # work directories a killed run left behind; traces/ accumulates
    for d in glob.glob(os.path.join(WORK, "run-*")):
        shutil.rmtree(d, ignore_errors=True)
    work = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work]
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    lines = []
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    for l in lines[:-1]:
        print(l)
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {proc.returncode}")
    try:
        res = check_result(lines[-1], args.trace)
    except (ValueError, KeyError) as e:
        fail(f"malformed result ({e}): {lines[-1][:500]}")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
