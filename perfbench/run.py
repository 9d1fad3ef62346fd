"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Prepares the environment (package on the
workers' PYTHONPATH, ``SPARK_GRAFT_CPUS`` = usable cores, Spark local and
temp dirs pinned under ``.perfbench_out/``, console progress bars off),
runs ``bench_main.py`` in its own process group, stops every process of
that group, and prints the run's result JSON as the last stdout line.
Exits non-zero without a result when the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "hybrid_sanctions_search_engine_spark"
RUN_LIMIT_S = 170.0


def group_members(pgid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            pids.append(int(name))
    return pids


def stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, the whole process group; wait until it is gone."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not group_members(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while group_members(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(spec):
        print(f"run.py: {PACKAGE}/ and BENCHMARK.json must be in the working directory", file=sys.stderr)
        return 2
    with open(spec) as fh:
        if args.workload not in {w["name"] for w in json.load(fh)["workloads"]}:
            print(f"run.py: unknown workload {args.workload!r}", file=sys.stderr)
            return 2

    out = os.path.join(ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    for d in (tmp, os.path.join(out, "spark-local"), os.path.join(out, "duckdb")):
        os.makedirs(d)
    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(out, "spark-local"),
        SPARK_DRIVER_MEM="2g",
        TMPDIR=tmp,
        PERFBENCH_SPEC=spec,
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
        # every JVM (the spark-submit launcher too) keeps its temp files in
        # the output directory and writes no perf-data file; JIT compiler
        # threads live as long as the JVM, so their CPU can be read from
        # /proc and told apart from the program's
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "bench_main.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", out, "--cores", str(cores),
    ]
    sys.stdout.flush()
    proc = subprocess.Popen(cmd, cwd=out, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"run.py: run exceeded {RUN_LIMIT_S:.0f} s", file=sys.stderr)
        code = None
    finally:
        stop_group(proc.pid)
        if proc.poll() is None:
            proc.wait()
    result = os.path.join(out, "result.json")
    if code != 0 or not os.path.isfile(result):
        print(f"run.py: run failed (exit {code})", file=sys.stderr)
        return 1
    with open(result) as fh:
        print(json.dumps(json.load(fh)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
