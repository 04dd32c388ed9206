#!/usr/bin/env python3
"""The repo benchmark: seeded end-to-end RAG workloads on the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repo root. It builds the engine and the benchmark from source
(perfbench/build.py), starts one JVM with one SparkSession on local[nproc],
runs the workload, checks its outputs and prints one JSON result as the last
line of stdout: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. The workloads, metrics and the question latency limit are
read from BENCHMARK.json; see perfbench/README.md.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

# the run limit, and the larger one for a run that compiles first
RUN_LIMIT_S = 175
BUILD_RUN_LIMIT_S = 850

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load_spec(root):
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found; run from the repo root")
    with open(path) as f:
        spec = json.load(f)
    slo = next((m for m in spec["end_to_end"] if m["name"] == "query_slo_frac"), None)
    m_slo = re.search(r"within ([0-9.]+) ms", " ".join(w["why"] for w in spec["workloads"]))
    if not (slo and m_slo):
        fail("BENCHMARK.json: a workload's why must state the question limit 'within <ms> ms'")
    return spec, float(m_slo.group(1))


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.time()

    root = os.getcwd()
    spec, slo_ms = load_spec(root)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    if not os.path.isdir(os.path.join(root, build.ENGINE_SRC)):
        fail(f"no engine sources under {build.ENGINE_SRC}; run from a full checkout")

    build_dir = os.path.abspath(build.BUILD_DIR)
    state = os.path.join(build_dir, "perfbench")
    os.makedirs(state, exist_ok=True)
    classes, built, build_key = build.build(root, build_dir)
    jars = build.spark_jars(root)

    work = os.path.join(state, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # a fixed, pre-touched heap: the resident high-water mark is then the
    # whole heap plus off-heap memory, and the JVM side subtracts the heap
    # again and adds the heap the program really used (see README.md)
    jvm = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=warning:stderr"]
    cmd = (["java"] + jvm
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8", "-Djava.awt.headless=true",
              f"-Djava.io.tmpdir={work}/tmp",
              f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={work}/local",
              f"-Dspark.sql.warehouse.dir={work}/warehouse",
              f"-Dderby.system.home={work}",
              "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
              "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(nproc()), "--slo-ms", str(slo_ms),
              "--work", work, "--state", state, "--build-key", build_key[:16]])
    env = dict(os.environ, LC_ALL="C.UTF-8")
    limit = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - t0)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            cwd=work, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=max(limit, 1))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded its time limit of {limit:.0f} s", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        fail(f"the benchmark JVM printed nothing (exit {proc.returncode})", 4)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"last line is not a JSON result (exit {proc.returncode}): {lines[-1][:200]}", 4)
    want = {m["name"]: m["unit"]
            for m in spec["per_layer" if args.trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result.get("metrics", {}).items()}
    if set(result) != {"correct", "attempted", "failed", "metrics"} or got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        fail(f"result does not match BENCHMARK.json: missing {missing}, extra {extra}", 4)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    if not result["correct"] or proc.returncode != 0:
        print("perfbench: CORRECTNESS CHECK FAILED", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
