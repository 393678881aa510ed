"""Shared benchmark plumbing: metric names, timing statistics, host probes,
the span tracer, and the catalog-server process the workloads talk to.

Nothing here edits the program. Tracing replaces public functions and
methods with wrappers that record a span around the original call; the
wrappers are installed only in traced runs.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import signal
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

from denali_spark.catalog.client import CatalogClient

# name -> unit, in BENCHMARK.json order. Every run prints all of one list.
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "ops/s",
    "p50_ms": "ms",
    "read_p50_ms": "ms",
    "write_p50_ms": "ms",
}

OPERATOR_FAMILIES = ("dedup", "similarity", "text_analysis", "multimodal", "graph")
SERVICE_ROUTES = (
    "load_table", "update_table", "list_tables", "list_namespaces",
    "head_namespace", "list_views",
)

PER_LAYER = {
    "catalog.client.tcp_opens_per_request": "count",
    "catalog.client.requests_per_op": "count",
    "catalog.client.load_ms": "ms",
    "catalog.client.commit_ms": "ms",
    "catalog.client.list_ms": "ms",
    "catalog.service.cpu_ms_per_op": "ms",
    **{f"catalog.service.{r}.self_ms": "ms" for r in SERVICE_ROUTES},
    "catalog.service.not_modified_ratio": "ratio",
    "catalog.service.conflict_ratio": "ratio",
    "catalog.service.retries_per_commit": "count",
    "catalog.metadata.read_ms": "ms",
    "catalog.metadata.write_ms": "ms",
    "catalog.metadata.bytes_per_commit": "bytes",
    "catalog.store.get_object_ms": "ms",
    "catalog.store.cas_ms": "ms",
    "catalog.store.list_objects_ms": "ms",
    "sources.catalog_io.resolve_ms": "ms",
    "sources.catalog_io.requests_per_stmt.list_namespaces": "count",
    "sources.catalog_io.requests_per_stmt.list_tables": "count",
    "sources.catalog_io.requests_per_stmt.list_views": "count",
    "sources.catalog_io.requests_per_stmt.load_table": "count",
    "sources.catalog_io.read_table_ms": "ms",
    "sources.catalog_io.write_table_ms": "ms",
    "sources.manifests.list_read_ms": "ms",
    "sources.manifests.list_write_ms": "ms",
    "sources.manifests.entries_written_per_append": "count",
    "sources.manifests.bytes_written_per_append": "bytes",
    "sources.maintenance.compact_ms": "ms",
    "sources.maintenance.expire_ms": "ms",
    "sources.maintenance.files_rewritten": "count",
    "storage.bytes_written_per_user_byte": "ratio",
    "engine.spark.exec_ms": "ms",
    "engine.spark.jobs_per_op": "count",
    "engine.spark.tasks_per_op": "count",
    **{
        f"operators.{f}.{m}": "ms"
        for f in OPERATOR_FAMILIES for m in ("build_ms", "exec_ms")
    },
    "engine.index_cache.builds_measured": "count",
    "engine.index_cache.build_s": "s",
    "host.ref_ms_before": "ms",
    "host.ref_ms_after": "ms",
    "host.steal_ms": "ms",
    "read.p99_ms": "ms",
    "read.samples": "count",
    "write.p99_ms": "ms",
    "write.samples": "count",
    "trace.overhead_pct": "%",
    "error_rate": "ratio",
}


# host-drift diagnostic, reported by every run (on stderr when untraced)
HOST_DRIFT = ("host.ref_ms_before", "host.ref_ms_after", "host.steal_ms")


# --- statistics -------------------------------------------------------------

def median(xs) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def kind_p50(samples, kinds=None) -> float:
    """Geometric mean over operation kinds of each kind's median latency.

    `samples` are (kind, ms) pairs; `kinds` limits the kinds taken (default
    all). A plain median over a mix of statement kinds is whichever kind
    ranks in the middle, so a change to the slowest or fastest kind would
    not move it; here every kind moves the figure by its own share."""
    by_kind: dict[str, list[float]] = {}
    for kind, ms in samples:
        if kinds is None or kind in kinds:
            by_kind.setdefault(kind, []).append(ms)
    if not by_kind:
        return 0.0
    logs = [math.log(median(v)) for v in by_kind.values()]
    return math.exp(sum(logs) / len(logs))


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100); 0.0 for no samples."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    rank = max(1, -(-len(xs) * q // 100))
    return xs[int(rank) - 1]


# --- host probes ------------------------------------------------------------

_REF_DOC = {f"k{i}": [i, str(i) * 5, {"x": i / 3}] for i in range(2000)}


def host_ref_ms(rounds: int = 5) -> float:
    """Median time of a fixed pure-Python JSON kernel: the host-speed
    reference recorded before and after every measured phase."""
    times = []
    for _ in range(rounds):
        t = time.perf_counter()
        for _ in range(10):
            json.loads(json.dumps(_REF_DOC))
        times.append((time.perf_counter() - t) * 1000)
    return median(times)


def steal_ms() -> float:
    """Cumulative CPU steal time of the host, all CPUs (from /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) * 1000 / os.sysconf("SC_CLK_TCK")


def tcp_active_opens() -> int:
    """TCP connections opened by this network namespace (/proc/net/snmp)."""
    with open("/proc/net/snmp") as f:
        rows = [line.split() for line in f if line.startswith("Tcp:")]
    return int(rows[1][rows[0].index("ActiveOpens")])


def proc_cpu_ms(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) * 1000 / os.sysconf("SC_CLK_TCK")


# --- tracing ----------------------------------------------------------------

class Tracer:
    """In-memory spans: (op_id, span_id, parent_id, name, t0, t1, extra).

    An operation is traced only inside ``op(traced=True)``; spans opened on
    other threads or outside a traced operation are not recorded, so the
    wrappers cost a flag check when tracing is off."""

    def __init__(self):
        self.spans: list[tuple] = []
        self._local = threading.local()
        self._next = itertools.count(1).__next__
        self._lock = threading.Lock()

    def _new_id(self) -> int:
        with self._lock:
            return self._next()

    @property
    def current_op(self) -> int | None:
        return getattr(self._local, "op", None)

    @contextmanager
    def op(self, name: str, traced: bool = True, op_id: int | None = None):
        """Root span of one operation; yields the operation id."""
        if not traced:
            yield None
            return
        self._local.op = op_id if op_id is not None else self._new_id()
        self._local.stack = []
        try:
            with self.span(name):
                yield self._local.op
        finally:
            self._local.op = None

    @contextmanager
    def span(self, name: str, extra: dict | None = None):
        op = self.current_op
        if op is None:
            yield extra
            return
        stack = self._local.stack
        sid = self._new_id()
        parent = stack[-1] if stack else 0
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield extra
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append((op, sid, parent, name, t0, t1, extra))

    def wrap(self, fn, name: str, after=None):
        """Return `fn` wrapped in a span; `after(extra, args, kwargs,
        result)` may fill the span's extra fields once the call returns."""
        tracer = self

        def wrapper(*args, **kwargs):
            if tracer.current_op is None:
                return fn(*args, **kwargs)
            extra = {} if after else None
            with tracer.span(name, extra):
                result = fn(*args, **kwargs)
            if after:
                after(extra, args, kwargs, result)
            return result

        wrapper.__wrapped__ = fn
        return wrapper

    def patch(self, owner, attr: str, name: str, after=None) -> None:
        """Replace owner.attr (a module function or a class method) with a
        traced wrapper."""
        setattr(owner, attr, self.wrap(getattr(owner, attr), name, after))

    # --- analysis -------------------------------------------------------

    def durations_ms(self, name: str) -> list[float]:
        return [(s[5] - s[4]) * 1000 for s in self.spans if s[3] == name]



def self_times_ms(spans: list, name: str) -> list[float]:
    """Self time of each span called `name`: its duration minus the time its
    child spans cover (children of one span run sequentially on its
    thread)."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s[2]:
            child_time[s[2]] = child_time.get(s[2], 0.0) + (s[5] - s[4])
    return [
        max(0.0, (s[5] - s[4]) - child_time.get(s[1], 0.0)) * 1000
        for s in spans if s[3] == name
    ]


# --- catalog client with request accounting ---------------------------------

def request_kind(method: str, path: str) -> str:
    """REST request kind: list_namespaces, list_tables, list_views,
    load_table, commit_table, ... (else METHOD plus the path's shape)."""
    parts = path.split("?")[0].strip("/").split("/")
    if method == "GET" and parts[-1] in ("namespaces", "tables", "views"):
        return f"list_{parts[-1]}"
    if len(parts) == 5 and parts[3] == "tables":
        return {"GET": "load_table", "POST": "commit_table"}.get(method, f"{method} table")
    if len(parts) == 3 and parts[1] == "namespaces":
        return {"HEAD": "namespace_exists"}.get(method, f"{method} namespace")
    return f"{method} {'/'.join(parts[:2])}"


class TracingClient(CatalogClient):
    """CatalogClient whose requests carry the current operation id to the
    server (``X-Perfbench-Op``) and are counted per operation by kind."""

    OP_HEADER = "X-Perfbench-Op"

    def __init__(self, uri: str, tracer: Tracer, token: str | None = None):
        super().__init__(uri, token=token)
        self.tracer = tracer
        self.requests: dict[tuple[int | None, str], int] = {}
        self.total_requests = 0
        self._count_lock = threading.Lock()

    def _request_h(self, method, path, body=None, query="", extra_headers=None):
        op = self.tracer.current_op
        key = (op, request_kind(method, path))
        with self._count_lock:
            self.requests[key] = self.requests.get(key, 0) + 1
            self.total_requests += 1
        if op is not None:
            extra_headers = {**(extra_headers or {}), self.OP_HEADER: str(op)}
        return super()._request_h(method, path, body, query, extra_headers)

    def requests_of(self, op: int) -> dict[str, int]:
        return {k[1]: v for k, v in self.requests.items() if k[0] == op}


def _client_span(attr: str):
    base = getattr(CatalogClient, attr)

    def method(self, *args, **kwargs):
        with self.tracer.span(f"catalog.client.{attr}"):
            return base(self, *args, **kwargs)

    method.__name__ = attr
    return method


# spans around the public request methods, in the client's own tracer
for _attr in (
    "load_table", "commit_table", "list_tables", "list_namespaces",
    "list_views", "namespace_exists", "table_exists",
):
    setattr(TracingClient, _attr, _client_span(_attr))


# --- catalog server process -------------------------------------------------

class CatalogProcess:
    """The catalog server in its own process. Untraced runs start it with
    the program's CLI; traced runs start the benchmark's launcher, which
    wraps the service's route handlers, metadata IO and store methods."""

    def __init__(self, run_dir: str, traced: bool, tag: str = "catalog"):
        self.warehouse = os.path.join(run_dir, f"{tag}-warehouse")
        self.spans_path = os.path.join(run_dir, f"{tag}-spans.json")
        os.makedirs(self.warehouse)
        if traced:
            cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "traced_server.py"),
                   "--warehouse", self.warehouse, "--spans-out", self.spans_path]
        else:
            cmd = [sys.executable, "-m", "denali_spark.catalog", "start", "--port", "0",
                   "--warehouse", self.warehouse, "--db", ":memory:"]
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
        line = self.proc.stdout.readline()
        if not line.startswith("catalog listening on "):
            self.stop()
            raise RuntimeError(f"catalog server did not start: {line!r}")
        self.uri = line.split()[3]

    @property
    def pid(self) -> int:
        return self.proc.pid

    def stop(self) -> dict | None:
        """Stop the server; returns the traced launcher's span dump."""
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
        try:
            self.proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()
        if os.path.exists(self.spans_path):
            with open(self.spans_path) as f:
                return json.load(f)
        return None


def server_self_ms(dump: dict, route: str) -> list[float]:
    """Self time of one route handler's spans from the server's span dump."""
    return self_times_ms(dump["spans"], f"catalog.service.{route}")


def server_span_ms(dump: dict, name: str) -> list[float]:
    return [(s[5] - s[4]) * 1000 for s in dump["spans"] if s[3] == name]


# --- workload entry ---------------------------------------------------------

def log(t_start: float, msg: str) -> None:
    """Phase timestamps on stderr, for reading where a run's time went."""
    print(f"[perfbench {time.perf_counter() - t_start:7.2f}s] {msg}", file=sys.stderr,
          flush=True)


def parse_args(argv=None):
    import argparse

    parser = argparse.ArgumentParser()
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), required=True)
    parser.add_argument("--run-dir", required=True)
    return parser.parse_args(argv)


# --- results ----------------------------------------------------------------

def finish(run_dir: str, *, correct: bool, attempted: int, failed: int,
           metrics: dict[str, float], trace: bool, problems: list[str]) -> None:
    """Write the workload's result for run.py: every end-to-end metric in
    untraced runs, every per-layer metric in traced runs (0 for a layer the
    workload does not drive)."""
    names = PER_LAYER if trace else END_TO_END
    missing = [n for n in names if n not in metrics and not trace]
    if missing:
        raise RuntimeError(f"workload did not measure {missing}")
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            n: {"value": float(metrics.get(n, 0.0)), "unit": unit}
            for n, unit in names.items()
        },
        "problems": problems[:20],
        "host": {k: metrics[k] for k in HOST_DRIFT},
    }
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(out, f)
