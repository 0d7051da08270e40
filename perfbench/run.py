#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

    python3 perfbench/run.py --workload eos_stream --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the benchmark (sbt,
perfbench/build.sbt, which compiles the checkout's src/main/scala with the
benchmark's sources) and caches the build keyed by a hash of those sources.
The JVM prints a metric table and a result; this script passes the table
through and prints the result as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. Every run also writes a full artifact (stamp,
all metrics, checks, spans) to perfbench/runs/ for perfbench/compare.py.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
DATA = os.path.join(HERE, "data", "sf0.01")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
RUNS = os.path.join(HERE, "runs")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(HERE, "target", "build.stamp")
# Runs on request only: one pass of its 18 operators costs too much to fit
# the benchmark's time budget next to the declared workloads (README.md).
UNDECLARED = ["corpus_pipeline"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit needs these (the repository's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """sha256 over the program's and the benchmark's sources and build files."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile once per source state; returns (classpath, source digest)."""
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"no program sources at {os.path.relpath(PROGRAM_SRC)}; run from a graft checkout", 3)
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                with open(CLASSPATH) as c:
                    return c.read().strip(), digest
    print("[perfbench] building (sbt compile)", file=sys.stderr)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    code = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                     HERE, BUILD_TIMEOUT_S, lambda line: print(line, file=sys.stderr), env)
    if code != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {code})")
    with open(STAMP, "w") as f:
        f.write(digest)
    with open(CLASSPATH) as c:
        return c.read().strip(), digest


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(cp, work, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed, pre-touched heap keeps peak RSS from following GC timing
    return (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
             f"-Djava.io.tmpdir={work}/tmp",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
            + opens + ["-cp", cp, "graftbench.Main"] + args)


_child = None


def _stop_child(*_):
    """Kill the running child's process group and wait for it."""
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()


def _on_signal(signum, _frame):
    _stop_child()
    sys.exit(128 + signum)


def run_child(cmd, cwd, timeout_s, on_line, env=None):
    """Run a child in its own process group, passing its stdout lines to
    on_line; kill the group on timeout or when this script is stopped."""
    global _child
    _child = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                              text=True, start_new_session=True)
    signal.signal(signal.SIGALRM, _stop_child)
    signal.alarm(max(1, int(timeout_s)))
    try:
        for line in _child.stdout:
            on_line(line.rstrip("\n"))
        _child.wait()
    finally:
        signal.alarm(0)
        _stop_child()
    return _child.returncode


def run_jvm(cmd, timeout_s, on_line):
    return run_child(cmd, ROOT, timeout_s, on_line)


def declared(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in b[key]}, [w["name"] for w in b["workloads"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    t_start = time.monotonic()
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)

    if a.selftest:
        cp, _ = build()
        os.makedirs(WORK, exist_ok=True)
        code = run_jvm(java_cmd(cp, WORK, ["selftest"]), RUN_TIMEOUT_S, print)
        sys.exit(code)

    if a.workload is None or a.seed is None or a.seconds is None or a.trace is None:
        ap.error("--workload, --seed, --seconds and --trace are required")
    names, workloads = declared(a.trace)
    if a.workload not in workloads + UNDECLARED:
        fail(f"unknown workload {a.workload}; BENCHMARK.json declares {workloads}", 2)
    cp, digest = build()

    work = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    artifact = os.path.join(RUNS, f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time() * 1000)}.json")
    args = ["run", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cpus()), "--data", DATA, "--work", work,
            "--expected", os.path.join(HERE, "expected_digests.json"), "--artifact", artifact,
            "--source-digest", f"tree:{digest} git:{git_sha()}"]
    result = []

    def on_line(line):
        if line.startswith("RESULT "):
            result.append(line[len("RESULT "):])
        else:
            print(line, flush=True)

    # the first run in a checkout also pays the build
    timeout = RUN_TIMEOUT_S if time.monotonic() - t_start < 30 else 880 - (time.monotonic() - t_start)
    try:
        code = run_jvm(java_cmd(cp, work, args), timeout, on_line)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or len(result) != 1:
        fail(f"benchmark JVM exit {code}, {len(result)} result lines")
    res = json.loads(result[0])
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != names:
        fail(f"metrics {sorted(got)} differ from BENCHMARK.json's {sorted(names)}")
    for k, v in res["metrics"].items():
        if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"]):
            fail(f"metric {k} is not a finite number: {v['value']}")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
