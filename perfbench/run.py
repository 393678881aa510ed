"""Benchmark entry point.

    python3 perfbench/run.py --workload {catalog_ops,lakehouse_sql,llm_pipeline}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. Each run gets a fresh directory under
``.perfbench_run/`` holding the generated input tables, the catalog
warehouse, ``TMPDIR`` (so no materialized index survives from another run)
and ``SPARK_LOCAL_DIRS``; it is removed when the run ends. The workload runs
in a child process in its own session, and every process left in that
session is stopped before this script exits. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). The exit code is nonzero when an output check failed or the
workload could not run.
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
WORKLOADS = ("catalog_ops", "lakehouse_sql", "llm_pipeline")
NEEDS_DATA = ("lakehouse_sql", "llm_pipeline")
SPARK_CORES = "4"
# The JVM shares the machine's memory with other tenants; sf0.1 needs far
# less than the engine's 8g default.
SPARK_DRIVER_MEM = "2g"
CHILD_TIMEOUT_S = 160


def stop_session(proc: subprocess.Popen) -> None:
    """SIGTERM, then SIGKILL, every process of the workload's session and
    wait until none is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 5.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + grace
        while time.monotonic() < end:
            proc.poll()  # reap the session leader, or it lingers as a zombie
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def run_workload(args, root: str, run_dir: str) -> dict | None:
    env = dict(
        os.environ,
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        # Spark's Python workers import denali_spark from the checkout
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        # the same string hashes, and so the same set and dict layouts, in
        # every run and in every Spark Python worker
        PYTHONHASHSEED="0",
        # the JVM's own scratch files (native libraries it unpacks, perf
        # data) stay in the run directory too
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        SPARK_GRAFT_CPUS=SPARK_CORES,
        SPARK_GRAFT_DRIVER_MEM=SPARK_DRIVER_MEM,
    )
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    if args.workload in NEEDS_DATA:
        sys.path.insert(0, HERE)
        import datagen

        datagen.generate(os.path.join(run_dir, "data"), args.seed)
    cmd = [
        sys.executable, os.path.join(HERE, f"{args.workload}.py"),
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--run-dir", run_dir,
    ]
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"error: {args.workload} exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
        rc = None
    finally:
        stop_session(proc)
        proc.wait()
    result_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        print(f"error: {args.workload} exited with {rc} and no result", file=sys.stderr)
        return None
    with open(result_path) as f:
        return json.load(f)


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    if args.seconds <= 0:
        parser.error("--seconds must be positive")
    # SIGTERM unwinds through the finally blocks, which stop the workload's
    # processes and remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "denali_spark", "__init__.py")):
        print("error: run from the repository root (no denali_spark/ here)",
              file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench_run")
    run_dir = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        result = run_workload(args, root, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    if result is None:
        return 1
    for problem in result.pop("problems"):
        print(f"check failed: {problem}", file=sys.stderr)
    host = result.pop("host")
    print("host drift: " + " ".join(f"{k}={v:.6g}" for k, v in host.items()), file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
