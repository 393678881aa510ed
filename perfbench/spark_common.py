"""Spark-side helpers shared by the ``lakehouse_sql`` and ``llm_pipeline``
workloads: the session, per-operation job accounting, and the trace hooks
on the engine's public entry points."""

from __future__ import annotations

import os
import time

from common import Tracer


def start_spark():
    """The engine's own session factory (``engine.session.get_spark``)."""
    from denali_spark.engine.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class JobCounter:
    """Jobs and completed tasks per operation, read from Spark's status
    tracker by job group (one group per traced operation)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.per_op: list[tuple[int, int]] = []

    def begin(self, op_id: int) -> str:
        group = f"perfbench-op-{op_id}"
        self.sc.setJobGroup(group, group)
        return group

    def end(self, group: str) -> None:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage in (info.stageIds if info else ()):
                si = tracker.getStageInfo(stage)
                tasks += si.numCompletedTasks if si else 0
        self.per_op.append((len(jobs), tasks))
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs_per_op(self) -> float:
        return sum(j for j, _ in self.per_op) / max(1, len(self.per_op))

    def tasks_per_op(self) -> float:
        return sum(t for _, t in self.per_op) / max(1, len(self.per_op))


def install_index_cache_hook(tracer: Tracer | None, builds: list) -> None:
    """Count index builds: a ``materialize_parquet`` call whose cache
    directory has no ``_SUCCESS`` marker yet builds the index. Records
    (start, seconds, path) for every build, traced or not; installed in
    every run, because a build in the measured phase fails the run."""
    from denali_spark.engine import index_cache

    original = index_cache.materialize_parquet

    def materialize_parquet(spark, path, build, *args, **kwargs):
        building = not os.path.exists(os.path.join(path, "_SUCCESS"))
        t0 = time.perf_counter()
        if tracer is None:
            out = original(spark, path, build, *args, **kwargs)
        else:
            with tracer.span("engine.index_cache.materialize_parquet"):
                out = original(spark, path, build, *args, **kwargs)
        if building:
            builds.append((t0, time.perf_counter() - t0, path))
        return out

    materialize_parquet.__wrapped__ = original
    index_cache.materialize_parquet = materialize_parquet


def run_phase(runner, seconds: float, alternate: bool,
              min_cycles: int = 1) -> list[tuple[bool, float, int]]:
    """Whole cycles of `runner` until `seconds` have elapsed and at least
    `min_cycles` ran; returns (traced, seconds, operations) per cycle. With
    `alternate` every second cycle is traced and the phase ends after a
    traced cycle, so traced and untraced cycles share the phase and the
    first traced cycle always runs on the same table state."""
    cycles = []
    t0 = time.perf_counter()
    while True:
        traced = alternate and len(cycles) % 2 == 1
        n0, c0 = len(runner.samples), time.perf_counter()
        runner.cycle(traced)
        cycles.append((traced, time.perf_counter() - c0, len(runner.samples) - n0))
        if (time.perf_counter() - t0 >= seconds and len(cycles) >= min_cycles
                and (traced or not alternate)):
            return cycles


def overhead_pct(cycles: list[tuple[bool, float, int]]) -> float:
    """Throughput loss of traced cycles against untraced ones."""
    rate = {
        t: sum(c[2] for c in cycles if c[0] == t) / sum(c[1] for c in cycles if c[0] == t)
        for t in (False, True)
    }
    return 100.0 * (rate[False] / rate[True] - 1.0)
