"""Benchmark of the weekly lottery pipeline and the analytics queries.

    python3 perfbench/run.py --workload pipeline_cold --seed 1 --seconds 10 --trace 0

Builds the engine from source (first run only), runs one workload in a
fresh JVM on local[<cpus>], and prints one JSON object as the last stdout
line: {"correct", "attempted", "failed", "metrics"}. End-to-end metrics with
--trace 0, per-layer metrics with --trace 1. Exits non-zero without a
result when the engine cannot be built or run, and with code 1 (after the
result) when an output check fails. See perfbench/README.md.

    python3 perfbench/run.py --selftest      # the bronze generator's test
    python3 perfbench/run.py --record FILE   # re-record expected query results
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build as bench_build  # noqa: E402

HERE = bench_build.HERE
ROOT = bench_build.ROOT
WORK = HERE / ".work"
TRACES = HERE / ".traces"
RUN_LIMIT_S = 175
HEAP = "3g"
# The pipeline ops are dominated by Spark's per-job and per-file overhead;
# C2 compiles of that code keep landing inside the few ops a run times and
# compete with the executor threads for the cores, so those JVMs run C1
# only. The queries run generated code that needs C2.
JIT = {"pipeline_cold": ("-XX:TieredStopAtLevel=1",),
       "pipeline_weekly": ("-XX:TieredStopAtLevel=1",)}


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def expected_metrics(trace: int) -> set:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_jvm(classes, main, args, deadline, jit=()) -> subprocess.CompletedProcess:
    jars = bench_build.spark_jars()
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [bench_build.java(), f"-Xmx{HEAP}", "-Xss4m", *jit, *bench_build.jvm_flags(tmp),
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", f"{classes}:{jars}/*", main, *args]
    env = dict(os.environ, SPARK_GRAFT_REPO=str(ROOT), SPARK_LOCAL_DIRS=str(WORK / "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, cwd=ROOT,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("perfbench: run exceeded its time limit")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return subprocess.CompletedProcess(cmd, proc.returncode, out.decode(), "")


def main() -> int:
    # a SIGTERM unwinds through run_jvm, which kills the JVM's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record")
    a = ap.parse_args()
    deadline = time.monotonic() + RUN_LIMIT_S
    try:
        classes = bench_build.build()
    except (bench_build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    # the build may take its own time; the run gets a fresh limit after it
    deadline = max(deadline, time.monotonic() + RUN_LIMIT_S - 5)
    shutil.rmtree(WORK, ignore_errors=True)
    WORK.mkdir(parents=True)
    try:
        if a.selftest:
            r = run_jvm(classes, "perfbench.BronzeGenTest", [str(WORK / "selftest")], deadline)
            print(r.stdout, end="")
            return r.returncode
        common = ["--root", str(ROOT), "--work", str(WORK), "--cpus", str(cpus())]
        if a.record:
            r = run_jvm(classes, "perfbench.Main",
                        common + ["--record", str(pathlib.Path(a.record).resolve())],
                        time.monotonic() + 3600)
            return r.returncode
        if not a.workload:
            ap.error("--workload is required")
        r = run_jvm(classes, "perfbench.Main", common + [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace),
            "--trace-out", str(TRACES / f"{a.workload}-seed{a.seed}.jsonl")],
            deadline, jit=JIT.get(a.workload, ()))
        lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
        if not lines:
            print(f"perfbench: no result (exit {r.returncode})", file=sys.stderr)
            return r.returncode or 3
        result = json.loads(lines[-1])
        missing = expected_metrics(a.trace) - set(result["metrics"])
        if missing:
            print(f"perfbench: result lacks metrics {sorted(missing)}", file=sys.stderr)
            return 4
        print(json.dumps(result))
        return r.returncode
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
