#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result as one JSON line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload viewer_session --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the program and the benchmark from source
with sbt (offline); later runs reuse the build while the sources are
unchanged. The benchmark itself runs in one JVM (perfbench.Main). This script
adds the units from BENCHMARK.json, checks that the JVM reported exactly the
metrics BENCHMARK.json names, and exits non-zero, printing no result, when
anything is missing or fails.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
CLASSPATH = os.path.join(HERE, "target", "perfbench-classpath.txt")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850

# Spark 4 on JDK 17 needs these outside spark-submit (as the program's
# build.sbt sets them for its own forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads: the program's and the benchmark's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout, or when this script
    is told to stop, kill the whole group. Always waits until the process
    has ended."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"stopped by signal {signum}")

    handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} did not finish within {timeout:.0f} s")
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)
    return p.returncode, out


def build():
    """Compile with sbt and return the runtime classpath."""
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH):
        with open(CLASSPATH) as fh:
            cached = fh.read().split("\n")
        if len(cached) >= 2 and cached[0] == stamp:
            return cached[1], False
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    print("perfbench: building the program and the benchmark with sbt", file=sys.stderr)
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True)
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "/perfbench/target/" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"sbt build failed (exit {code})")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(stamp + "\n" + lines[-1] + "\n")
    return lines[-1], True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()

    started = time.monotonic()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("run from the root of a checkout: BENCHMARK.json not found")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala/graft) are not in this checkout")

    classpath, built = build()
    limit = (BUILD_LIMIT_S + RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - started)

    tmp = os.path.join(WORK, "tmp")
    logs = os.path.join(WORK, "logs")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           # the throughput collector on two threads: faster driver-bound
           # steps than the default G1 on this small a heap, and GC that
           # leaves cores to Spark's task threads
           ["-Xmx3g", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--root", ROOT])
    log_path = os.path.join(logs, f"{a.workload}-{a.seed}-{a.trace}.log")
    with open(log_path, "w") as log:
        code, out = run_group(cmd, limit, stdout=subprocess.PIPE, stderr=log, text=True,
                              env=env)
    results = [l for l in out.splitlines() if l.startswith("{")]
    if code != 0 or not results:
        with open(log_path) as fh:
            sys.stderr.write("".join(l for l in fh.readlines()[-30:]))
        fail(f"benchmark JVM failed (exit {code}); log in {log_path}")
    r = json.loads(results[-1])

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}
    got = r["metrics"]
    unknown = sorted(set(got) - set(units))
    if unknown:
        fail(f"metrics not named in BENCHMARK.json: {unknown}")
    missing = sorted(set(units) - set(got))
    if missing and not a.trace:
        fail(f"end-to-end metrics not reported: {missing}")
    for f in r.get("failures", []):
        print(f"perfbench: failed: {f}", file=sys.stderr)
    # a layer the workload never calls reports 0
    metrics = {n: {"value": float(got.get(n, 0.0)), "unit": units[n]} for n in units}
    print(json.dumps({"correct": bool(r["correct"]), "attempted": int(r["attempted"]),
                      "failed": int(r["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
