"""Benchmark of the stock-market pipeline engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload etl_incremental --seed 1 --seconds 20 --trace 0

Builds the program (perfbench/build.py), gives the run its own directory
under .bench_build/runs (a fresh java.io.tmpdir, and with it a fresh
graft_artifacts root, a fresh SPARK_LOCAL_DIRS and fresh pipeline and
stream roots), runs the workload in one JVM with pinned settings, checks
the outputs and prints every metric by name. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap():
    """JVM heap sized from MemTotal the way the Tier-1 test command does:
    half the memory in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(max(kb // 2097152, 2), 8)}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def cores():
    return len(os.sched_getaffinity(0))


def jvm_command(classpath, run_dir, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", os.pathsep.join(classpath), "perfbench.PerfBench", *args]


def run_jvm(classpath, run_dir, args):
    for d in ("tmp", "spark-local", "work"):
        os.makedirs(os.path.join(run_dir, d))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    err_path = os.path.join(run_dir, "stderr.log")
    with open(err_path, "w") as err:
        p = subprocess.Popen(jvm_command(classpath, run_dir, args), cwd=run_dir,
                             env=env, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"workload did not finish within {JVM_TIMEOUT_S} s")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    for l in out.splitlines():
        if l.startswith("PERFBENCH_PHASE "):
            print("  phase " + l[len("PERFBENCH_PHASE "):])
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if p.returncode != 0 or not lines:
        with open(err_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"workload JVM exited with {p.returncode}:\n{tail}")
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    try:
        classpath = build.build()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    run_dir = os.path.abspath(os.path.join(
        build.BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}-{time.time_ns()}"))
    try:
        launch_ms = time.time_ns() // 1_000_000
        r = run_jvm(classpath, run_dir, [
            a.workload, str(a.seed), str(a.seconds), str(a.trace),
            os.path.join(run_dir, "work"), str(cores()), str(launch_ms)])
    except RuntimeError as e:
        sys.exit(str(e))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # set-up time: JVM launch to session ready, plus the workload's set-up
    # (input generation, then backfill or warm-up pass)
    values = dict(r["end_to_end"], setup_s=r["session_s"] + r["setup_s"])
    if a.trace:
        values = r["per_layer"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            sys.exit(f"metric {m['name']} missing or not a number: {v}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds} trace {a.trace} "
          f"cores {cores()} heap {heap()}")
    for n, m in metrics.items():
        print(f"  {n:32s} {m['value']:.6g} {m['unit']}")
    for f in r["failures"]:
        print(f"  FAILED: {f}")
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
