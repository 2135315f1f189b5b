"""Benchmark entry point for dataquality_cli_spark.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the repository root. Each workload runs in its own fresh
process (its own JVM and SparkSession) on ``local[nproc]``, so one
workload's persists, broadcasts and session conf cannot leak into
another's timings. The workload process imports the working tree through
PYTHONPATH and keeps every file it writes under ``.perfbench_work/`` in
the checkout.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
its per-layer metrics. The exit code is non-zero when a run or an output
check fails.
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
WORKLOADS = ("filter_files", "describe_csv", "build_corpus", "stream_filter")
# a workload process still running after this is stopped and its run
# counted as failed, so every run ends within 180 s
CHILD_TIMEOUT_S = 165


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _stop_group(pgid: int, grace_s: float = 10.0) -> None:
    """TERM, then KILL, every process left in the workload's process
    group (the JVM and Python workers), and wait until none is left."""
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline and _group_alive(pgid):
            time.sleep(0.1)


def child_env(root: str, work: str) -> dict:
    cores = os.cpu_count() or 1
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        # the worker tree, never a packaged zip, on driver and workers
        "PYTHONPATH": root,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            # no hsperfdata file in the system /tmp either
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            "--conf spark.ui.retainedJobs=5000",
            "--conf spark.ui.retainedStages=10000",
            "--conf spark.sql.ui.retainedExecutions=5000",
            "pyspark-shell",
        ]),
        "PYTHONHASHSEED": "0",
    })
    env.pop("OMP_NUM_THREADS", None)
    return env


def run_one(root: str, workload: str, seed: int, seconds: int, trace: int) -> tuple[int, dict | None]:
    work_root = os.path.join(root, ".perfbench_work")
    run_dir = os.path.join(work_root, "runs", f"{workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--root", root, "--run-dir", run_dir,
           "--cache-dir", os.path.join(work_root, "cache")]
    log_path = os.path.join(run_dir, "stderr.log")
    out_path = os.path.join(run_dir, "stdout.log")
    result = None
    # output goes to files, not pipes: the JVM inherits the descriptors,
    # and a pipe would stay open until the JVM has wound down
    with open(log_path, "w") as log, open(out_path, "w") as stdout:
        proc = subprocess.Popen(cmd, cwd=root, env=child_env(root, run_dir),
                                stdout=stdout, stderr=log,
                                text=True, start_new_session=True)
        try:
            proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: {workload} did not finish in {CHILD_TIMEOUT_S} s",
                  file=sys.stderr)
            _stop_group(proc.pid, grace_s=2.0)
            proc.wait()
        finally:
            # the workload process stopped its SparkSession before exiting;
            # what is left (the JVM winding down) holds nothing to keep
            _stop_group(proc.pid, grace_s=0.5)
    with open(out_path) as f:
        out = f.read()
    if proc.returncode:
        with open(log_path) as f:
            tail = [line for line in f.read().splitlines() if "WARN" not in line][-25:]
        print("\n".join(tail), file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.rstrip("\n").split("\n") if out else []
    for line in lines[:-1]:
        print(line)
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            print(lines[-1])
    return proc.returncode, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    help=f"one of {', '.join(WORKLOADS)}, or all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a stop request unwinds through run_one, which stops the workload's
    # process group before exiting
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dataquality_cli_spark", "__init__.py")):
        print("perfbench: run from the repository root; dataquality_cli_spark/ "
              "is not in the current directory", file=sys.stderr)
        return 2
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    unknown = [n for n in names if n not in WORKLOADS]
    if unknown:
        print(f"perfbench: unknown workload {unknown[0]!r}", file=sys.stderr)
        return 2

    results = {}
    worst = 0
    for name in names:
        t0 = time.monotonic()
        code, result = run_one(root, name, args.seed, args.seconds, args.trace)
        print(f"  process wall (s): {time.monotonic() - t0:.1f}")
        if result is None:
            result = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
            code = code or 1
        results[name] = result
        worst = worst or code
    if len(names) == 1:
        final = results[names[0]]
    else:
        final = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{n}.{k}": v for n, r in results.items()
                        for k, v in r["metrics"].items()},
        }
    print(json.dumps(final))
    return 0 if final["correct"] and worst == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
