"""Workload ``llm_pipeline``: the registry's LLM-pipeline operators on the
sf0.1-shaped corpus, one operator per family (dedup, similarity, text
analysis, multimodal, graph). The catalog is not involved, so this workload
is the no-change control for catalog-side work.

Set-up starts the JVM and calls every operator once in a fresh ``TMPDIR``:
the first call builds the operator's materialized index
(``engine.index_cache``), so no build happens in the measured phase. The
measured phase runs whole CYCLE passes until the run's seconds have elapsed.
Reads collect the result to the driver; writes persist it as parquet, as a
pipeline stage hands its output to the next. Every result is checked
afterwards against the operator's DuckDB oracle from the registry.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import os  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import spark_common  # noqa: E402
from common import Tracer, kind_p50, median, percentile  # noqa: E402

CYCLE = (
    ("read", "dedup", "dedup_minhash_lsh_pairs"),
    ("read", "similarity", "sim_lsh_bucket_topk"),
    ("write", "text_analysis", "text_decontaminate"),
    ("write", "multimodal", "mm_image_phash_pairs"),
    ("read", "graph", "graph_frequent_pairs"),
)
# Operator latencies keep falling after the index-building first calls (JVM
# JIT): one run's cycles took 6.2 s, 5.2 s, 4.4 s.
WARMUP_CYCLES = 1
# Each operator runs ~0.1-1.3 s, and one sample of it swings by +-25% with
# the host; every latency metric takes each operator's median over at least
# three samples.
MIN_CYCLES = 3


def fingerprint(pdf) -> tuple:
    """Order-insensitive content hash of a result frame."""
    import pandas as pd

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = pd.util.hash_pandas_object(pdf, index=False)
    return len(pdf), tuple(pdf.columns), int(rows.sum())  # uint64 sum wraps


class Runner:
    def __init__(self, spark, data_dir: str, out_dir: str, tracer: Tracer | None, jobs=None):
        from denali_spark.operators.registry import REGISTRY

        self.registry = REGISTRY
        self.spark = spark
        self.data_dir = data_dir
        self.out_dir = out_dir
        self.tracer = tracer
        self.jobs = jobs
        self.results: dict[str, list] = {}  # query -> fingerprints
        self.first: dict[str, object] = {}  # query -> first result frame
        self.samples: list[tuple] = []  # class, query, ms, ok, traced
        self.n_written = 0

    def statement(self, cls: str, family: str, name: str, traced: bool) -> None:
        fn = self.registry[name].fn
        out_path = os.path.join(self.out_dir, f"{name}-{self.n_written}")
        t0 = time.perf_counter()
        if self.tracer is None:
            df = fn(self.spark, self.data_dir)
            out = df.toPandas() if cls == "read" else df.write.parquet(out_path)
        else:
            with self.tracer.op(f"op.{name}", traced=traced) as op:
                group = self.jobs.begin(op) if op is not None else None
                with self.tracer.span(f"operators.{family}.build"):
                    df = fn(self.spark, self.data_dir)
                with self.tracer.span(f"operators.{family}.exec"):
                    out = df.toPandas() if cls == "read" else df.write.parquet(out_path)
                if group is not None:
                    self.jobs.end(group)
        ms = (time.perf_counter() - t0) * 1000
        if cls == "write":
            import pandas as pd

            out = pd.read_parquet(out_path)
            self.n_written += 1
        self.first.setdefault(name, out)
        self.results.setdefault(name, []).append(fingerprint(out))
        self.samples.append((cls, name, ms, True, traced))

    def cycle(self, traced: bool) -> None:
        for cls, family, name in CYCLE:
            self.statement(cls, family, name, traced)


def compare_rows(got, want) -> list[str]:
    """The oracle module's comparison, vectorized for all-integer frames
    (the multimodal pair list has ~700k rows; cell-by-cell string
    comparison of it would cost seconds per run)."""
    import numpy as np

    from denali_spark.oracle import compare

    cols = sorted(got.columns)
    if sorted(want.columns) != cols or len(got) != len(want) or not all(
        np.issubdtype(f[c].dtype, np.integer) for f in (got, want) for c in cols
    ):
        return compare(got, want)
    a, b = (f[cols].to_numpy(np.int64) for f in (got, want))
    a, b = (x[np.lexsort(x.T[::-1])] for x in (a, b))
    return [] if np.array_equal(a, b) else ["integer rows differ"]


def oracle_check(data_dir: str, runner: Runner) -> tuple[list[str], int]:
    """Each operator's first result against its DuckDB oracle; every later
    result must equal the first. Returns (problems, wrong results)."""
    from denali_spark.oracle import duck_connection

    con = duck_connection(data_dir)
    problems, wrong = [], 0
    for name, frame in runner.first.items():
        want = con.execute(runner.registry[name].oracle).df()
        diff = compare_rows(frame, want)
        prints = runner.results[name]
        bad = len(prints) if diff else sum(p != prints[0] for p in prints)
        wrong += bad
        problems += [f"{name}: {p}" for p in diff]
        if bad and not diff:
            problems.append(f"{name}: {bad} results differ from the first")
    con.close()
    return problems, wrong


def main() -> int:
    args = common.parse_args()
    traced = bool(args.trace)
    data_dir = os.path.join(args.run_dir, "data")
    out_dir = os.path.join(args.run_dir, "out")
    tracer = Tracer() if traced else None
    builds: list = []
    spark_common.install_index_cache_hook(tracer, builds)
    spark = spark_common.start_spark()
    common.log(T_START, "spark started")
    try:
        import denali_spark.operators  # noqa: F401 — registers the operators

        jobs = spark_common.JobCounter(spark) if traced else None
        runner = Runner(spark, data_dir, out_dir, tracer, jobs)
        runner.cycle(False)  # the first calls build the indexes
        common.log(T_START, "indexes built")
        for _ in range(WARMUP_CYCLES):
            runner.cycle(False)
        n_setup = len(runner.samples)
        builds_setup = len(builds)
        setup_s = time.perf_counter() - T_START
        ref_before = common.host_ref_ms()
        steal0 = common.steal_ms()
        # a traced run alternates untraced and traced cycles over twice the time
        cycles = spark_common.run_phase(
            runner, args.seconds * (1 + traced), traced, MIN_CYCLES * (1 + traced))
        steal = common.steal_ms() - steal0
        ref_after = common.host_ref_ms()
        common.log(T_START, f"measured {len(runner.samples) - n_setup} operators")
    finally:
        from denali_spark.engine.session import stop_spark

        stop_spark()
    problems, failed = oracle_check(data_dir, runner)
    builds_measured = len(builds) - builds_setup
    if builds_measured:
        # set-up must leave every index built; a build here is a failed check
        problems.append(f"{builds_measured} index builds in the measured phase")
        failed += builds_measured
    common.log(T_START, "outputs checked")
    common.log(T_START, "latencies ms: " + " ".join(f"{s[1]}={s[2]:.0f}" for s in runner.samples))
    attempted = len(runner.samples)
    phase = runner.samples[n_setup:]
    metrics = {
        "host.ref_ms_before": ref_before,
        "host.ref_ms_after": ref_after,
        "host.steal_ms": steal,
        "error_rate": failed / attempted,
    }
    if traced:
        reads = [s[2] for s in phase if s[0] == "read"]
        writes = [s[2] for s in phase if s[0] == "write"]
        metrics.update({
            "trace.overhead_pct": spark_common.overhead_pct(cycles),
            "engine.spark.exec_ms": median(
                [ms for f in common.OPERATOR_FAMILIES
                 for ms in tracer.durations_ms(f"operators.{f}.exec")]),
            "engine.spark.jobs_per_op": jobs.jobs_per_op(),
            "engine.spark.tasks_per_op": jobs.tasks_per_op(),
            "engine.index_cache.builds_measured": builds_measured,
            "engine.index_cache.build_s": sum(b[1] for b in builds[:builds_setup]),
            "read.p99_ms": percentile(reads, 99), "read.samples": len(reads),
            "write.p99_ms": percentile(writes, 99), "write.samples": len(writes),
        })
        for f in common.OPERATOR_FAMILIES:
            metrics[f"operators.{f}.build_ms"] = median(tracer.durations_ms(f"operators.{f}.build"))
            metrics[f"operators.{f}.exec_ms"] = median(tracer.durations_ms(f"operators.{f}.exec"))
    else:
        metrics.update({
            "setup_s": setup_s,
            "ops_per_s": len(phase) / sum(c[1] for c in cycles),
            "p50_ms": kind_p50([(s[1], s[2]) for s in phase]),
            "read_p50_ms": kind_p50([(s[1], s[2]) for s in phase if s[0] == "read"]),
            "write_p50_ms": kind_p50([(s[1], s[2]) for s in phase if s[0] == "write"]),
        })
    common.finish(args.run_dir, correct=not problems, attempted=attempted, failed=failed,
                  metrics=metrics, trace=traced, problems=problems)
    return 0


if __name__ == "__main__":
    sys.exit(main())
