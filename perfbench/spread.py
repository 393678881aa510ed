"""Run one workload over several seeds and report each metric's median,
quartiles and spread (inter-quartile range as a share of the median), next
to the host-drift diagnostic of every run.

    python3 perfbench/spread.py --workload lakehouse_sql --seeds 1-10
    python3 perfbench/spread.py --workload catalog_ops --seeds 1,1,2,2 --trace 1

Run from the repository root. With ``--trace 1`` and a seed listed twice,
the exact counters (BENCHMARK.json per-layer counts) must read the same on
both runs of that seed; the script says which do not. Each run's raw line
is appended to ``--log`` when given.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
EXACT = (
    "catalog.client.tcp_opens_per_request",
    "sources.catalog_io.requests_per_stmt.list_namespaces",
    "sources.catalog_io.requests_per_stmt.list_tables",
    "sources.catalog_io.requests_per_stmt.list_views",
    "sources.catalog_io.requests_per_stmt.load_table",
    "sources.manifests.entries_written_per_append",
    "sources.manifests.bytes_written_per_append",
    "sources.maintenance.files_rewritten",
    "engine.spark.jobs_per_op",
    "engine.spark.tasks_per_op",
    "engine.index_cache.builds_measured",
)


def parse_seeds(text: str) -> list[int]:
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi) + 1)) if hi else [int(lo)]
    return seeds


def run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    host = {k: float(v) for k, v in re.findall(r"(host\.\S+)=(\S+)", proc.stderr)}
    # the whole run, input generation and teardown included: what one
    # run costs of an evaluation's time budget
    host["run.wall_s"] = time.perf_counter() - t0
    return json.loads(lines[-1]), host


def spread(values: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, 0, med)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,1,2,2")
    parser.add_argument("--seconds", type=float, default=None,
                        help="default: run_seconds from BENCHMARK.json")
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--log", default=None)
    args = parser.parse_args()
    seconds = args.seconds
    if seconds is None:
        with open("BENCHMARK.json") as f:
            seconds = json.load(f)["run_seconds"]

    results = []
    for seed in parse_seeds(args.seeds):
        out, host = run(args.workload, seed, seconds, args.trace)
        results.append((seed, out, host))
        line = {"seed": seed, **out, "host": host}
        print(json.dumps(line), file=sys.stderr, flush=True)
        if args.log:
            with open(args.log, "a") as f:
                f.write(json.dumps({"workload": args.workload, **line}) + "\n")

    print(f"{args.workload}: {len(results)} runs, "
          f"attempted {sum(r[1]['attempted'] for r in results)}, "
          f"failed {sum(r[1]['failed'] for r in results)}, "
          f"all correct: {all(r[1]['correct'] for r in results)}")
    names = list(results[0][1]["metrics"])
    for name in names:
        vals = [r[1]["metrics"][name]["value"] for r in results]
        med, q1, q3, share = spread(vals)
        unit = results[0][1]["metrics"][name]["unit"]
        print(f"  {name:58s} {med:12.5g} {unit:6s} q1 {q1:10.5g} q3 {q3:10.5g} "
              f"spread {100 * share:5.1f}%")
    for key in sorted(results[0][2]):
        med, q1, q3, share = spread([r[2][key] for r in results])
        print(f"  {key:58s} {med:12.5g}        q1 {q1:10.5g} q3 {q3:10.5g} "
              f"spread {100 * share:5.1f}%")
    if args.trace:
        by_seed: dict[int, list[dict]] = {}
        for seed, out, _ in results:
            by_seed.setdefault(seed, []).append(out["metrics"])
        for seed, runs in by_seed.items():
            if len(runs) < 2:
                continue
            differ = [n for n in EXACT if len({m[n]["value"] for m in runs}) > 1]
            print(f"  exact counters, seed {seed} x{len(runs)}: "
                  + ("all repeat" if not differ else "DIFFER: " + ", ".join(differ)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
