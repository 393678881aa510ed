"""Workload ``catalog_ops``: the Iceberg REST control plane alone, no JVM.

The catalog server runs in its own process (``python -m denali_spark.catalog
start``, in-memory SQLite, warehouse in the run directory). Set-up fills it
with NAMESPACES x TABLES_PER_NS tables whose schemas and snapshot histories
vary in length, so metadata documents vary in size. Then CLIENTS threads,
each holding its own ``CatalogClient`` like two engine drivers, run a closed
loop of a read-dominated mix over Zipf-skewed table popularity. The whole
set-up + measured window is repeated REPEATS times on fresh servers, each
window the run's full seconds. ``setup_s`` is the median of the REPEATS
set-ups, each timed from the start of its server process; the other
metrics pool the operations of all windows.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import os  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

import numpy as np  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
from common import (  # noqa: E402
    CatalogProcess, Tracer, TracingClient, kind_p50, median, percentile,
)

from denali_spark.catalog.client import CatalogClient, CatalogHTTPError  # noqa: E402

NAMESPACES = 20
TABLES_PER_NS = 40
MAX_HISTORY = 64
MEAN_HISTORY = 6.0
ZIPF_S = 1.1
CLIENTS = 2
REPEATS = 3
COMMIT_RETRIES = 5
STREAM_LEN = 200_000
# op mix (shares of operations)
MIX = (("load", 0.70), ("commit", 0.10), ("list", 0.10), ("probe", 0.10))
READ_OPS = ("load", "list", "probe")

TYPES = ["long", "int", "string", "double", "boolean", "date", "timestamp", "float"]


def schema_for(rng: np.random.Generator) -> dict:
    n = int(rng.integers(4, 25))
    return {
        "type": "struct",
        "schema-id": 0,
        "fields": [
            {"id": i + 1, "name": f"c{i}", "required": False,
             "type": TYPES[int(rng.integers(0, len(TYPES)))]}
            for i in range(n)
        ],
    }


def snapshot(md: dict, snap_id: int, parent: int | None, seq: int) -> dict:
    return {
        "snapshot-id": snap_id,
        "parent-snapshot-id": parent,
        "sequence-number": seq,
        "timestamp-ms": 1_700_000_000_000 + seq,
        "manifest-list": f"{md['location']}/metadata/snap-{snap_id}.avro",
        "schema-id": 0,
        "summary": {"operation": "append", "added-data-files": "1",
                    "added-records": "100"},
    }


class Catalog:
    """One filled catalog: identities, history lengths, uuids. Set-up gives
    a table with a history of h snapshots the sequence numbers 1..h.

    CLIENTS set-up clients fill the namespaces concurrently, as the
    measured phase runs: one client waiting on each request in turn would
    time the host's wake-up latency more than the catalog. Each namespace
    draws from its own generator, so the catalog's content does not depend
    on how the clients interleave."""

    def __init__(self, uri: str, seed: int, rep: int):
        self.history: dict[str, int] = {}
        self.uuid: dict[str, str] = {}
        errors: list[BaseException] = []

        def fill(namespaces) -> None:
            try:
                client = CatalogClient(uri)
                for n in namespaces:
                    self._fill_namespace(client, n, np.random.default_rng([seed, rep, n]))
            except BaseException as exc:  # noqa: BLE001 — re-raised below
                errors.append(exc)

        threads = [threading.Thread(target=fill, args=(range(i, NAMESPACES, CLIENTS),))
                   for i in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        self.tables = [([f"team{n:02d}"], f"t{t:02d}")
                       for n in range(NAMESPACES) for t in range(TABLES_PER_NS)]
        ranks = np.arange(1, len(self.tables) + 1, dtype=np.float64)
        weights = ranks ** -ZIPF_S
        rng = np.random.default_rng([seed, rep])
        self.popularity = rng.permutation(len(self.tables)), weights / weights.sum()

    def _fill_namespace(self, client: CatalogClient, n: int, rng) -> None:
        ns = [f"team{n:02d}"]
        client.create_namespace(ns, {"owner": f"team{n:02d}"})
        for t in range(TABLES_PER_NS):
            name = f"t{t:02d}"
            md = client.create_table(ns, name, schema_for(rng))["metadata"]
            h = 1 + min(MAX_HISTORY - 1, int(rng.exponential(MEAN_HISTORY)))
            snaps = [snapshot(md, 1000 + i, 1000 + i - 1 if i else None, i + 1)
                     for i in range(h)]
            updates = []
            for s in snaps:
                updates.append({"action": "add-snapshot", "snapshot": s})
                updates.append({"action": "set-snapshot-ref", "ref-name": "main",
                                "snapshot-id": s["snapshot-id"], "type": "branch"})
            client.commit_table(ns, name, [], updates)
            key = f"{ns[0]}.{name}"
            self.history[key] = h
            self.uuid[key] = md["table-uuid"]


class Worker(threading.Thread):
    """A closed-loop client: the next operation starts when one returns."""

    def __init__(self, idx: int, uri: str, catalog: Catalog, seed: int,
                 deadline_box: list, tracer: Tracer | None, start_evt: threading.Event):
        super().__init__(daemon=True)
        self.idx = idx
        self.catalog = catalog
        self.rng = np.random.default_rng([seed, idx])
        self.client = TracingClient(uri, tracer) if tracer else CatalogClient(uri)
        self.tracer = tracer
        self.deadline_box = deadline_box
        self.start_evt = start_evt
        self.samples: list[tuple[str, float, bool, bool]] = []  # kind, ms, traced, ok
        self.failures: list[str] = []
        self.commits_ok: dict[str, list[tuple[int, str]]] = {}
        self.traced_commits = 0
        self.traced_commit_attempts = 0
        self.traced_conflicts = 0
        self.next_snap = (idx + 1) * 10**12
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            self._loop()
        except BaseException as exc:  # noqa: BLE001 — reported by the main thread
            self.error = exc

    def _loop(self) -> None:
        # The op stream (kind, table, probe target) is drawn up front, so
        # no measured operation pays for random-number generation.
        n = STREAM_LEN
        kinds = self.rng.choice(len(MIX), n, p=[share for _, share in MIX])
        order, probs = self.catalog.popularity
        tables = order[self.rng.choice(len(order), n, p=probs)]
        missing = self.rng.random(n) < 0.5
        self.start_evt.wait()
        deadline = self.deadline_box[0]
        i = 0
        while time.perf_counter() < deadline:
            kind = MIX[kinds[i % n]][0]
            table = self.catalog.tables[tables[i % n]]
            traced = self.tracer is not None and i % 2 == 1
            t0 = time.perf_counter()
            if self.tracer is not None:
                with self.tracer.op(f"op.{kind}", traced=traced):
                    ok = self.do(kind, table, missing[i % n], traced)
            else:
                ok = self.do(kind, table, missing[i % n], traced)
            self.samples.append((kind, (time.perf_counter() - t0) * 1000, traced, ok))
            i += 1

    def do(self, kind: str, table, missing: bool, traced: bool) -> bool:
        try:
            if kind == "probe":
                return self.op_probe(table, missing)
            return getattr(self, f"op_{kind}")(table, traced)
        except (CatalogHTTPError, OSError) as exc:
            self.failures.append(f"{kind}: {exc}")
            return False

    def op_load(self, table, traced: bool) -> bool:
        ns, name = table
        md = self.client.load_table(ns, name)["metadata"]
        key = f"{ns[0]}.{name}"
        if md["table-uuid"] != self.catalog.uuid[key] or \
                len(md["snapshots"]) != self.catalog.history[key]:
            self.failures.append(f"load {key}: wrong table or history length")
            return False
        return True

    def op_list(self, table, traced: bool) -> bool:
        ns, _ = table
        if len(self.client.list_tables(ns)) != TABLES_PER_NS:
            self.failures.append(f"list {ns}: wrong table count")
            return False
        return True

    def op_probe(self, table, missing: bool) -> bool:
        ns, _ = table
        probe = [ns[0] + "_missing"] if missing else ns
        if self.client.namespace_exists(probe) == missing:
            self.failures.append(f"probe {probe}: wrong answer")
            return False
        return True

    def op_commit(self, table, traced: bool) -> bool:
        """Append one snapshot and expire the oldest (history length stays
        constant), CAS-guarded on the main ref; reload and retry on 409."""
        ns, name = table
        key = f"{ns[0]}.{name}"
        self.next_snap += 1
        snap_id = self.next_snap
        tag = f"w{self.idx}-{snap_id}"
        for _attempt in range(COMMIT_RETRIES):
            md = self.client.load_table(ns, name)["metadata"]
            parent = md["current-snapshot-id"]
            seq = md["last-sequence-number"] + 1
            # the oldest snapshot; with a history of one, the parent itself
            oldest = min(md["snapshots"], key=lambda s: s["sequence-number"])["snapshot-id"]
            updates = [
                {"action": "add-snapshot", "snapshot": snapshot(md, snap_id, parent, seq)},
                {"action": "set-snapshot-ref", "ref-name": "main",
                 "snapshot-id": snap_id, "type": "branch"},
                {"action": "set-properties", "updates": {"perfbench.last-writer": tag}},
                {"action": "remove-snapshots", "snapshot-ids": [oldest]},
            ]
            self.traced_commit_attempts += traced
            try:
                self.client.commit_table(
                    ns, name,
                    [{"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": parent}],
                    updates,
                )
            except CatalogHTTPError as exc:
                if exc.status != 409:
                    raise
                self.traced_conflicts += traced
                continue
            self.commits_ok.setdefault(key, []).append((seq, tag))
            self.traced_commits += traced
            return True
        self.failures.append(f"commit {key}: retries exhausted")
        return False


def verify(client: CatalogClient, catalog: Catalog, workers: list[Worker]) -> list[str]:
    """No lost update: every table's sequence number advanced once per
    acknowledged commit, its history length is unchanged, and its
    last-writer property names the commit that took the last sequence."""
    problems = []
    merged: dict[str, list[tuple[int, str]]] = {}
    for w in workers:
        for key, commits in w.commits_ok.items():
            merged.setdefault(key, []).extend(commits)
    for key, commits in merged.items():
        ns, name = key.split(".")
        md = client.load_table([ns], name)["metadata"]
        expect_seq = catalog.history[key] + len(commits)
        last_tag = max(commits)[1]
        if md["last-sequence-number"] != expect_seq:
            problems.append(f"{key}: seq {md['last-sequence-number']} != {expect_seq}")
        if len(md["snapshots"]) != catalog.history[key]:
            problems.append(f"{key}: history {len(md['snapshots'])} != {catalog.history[key]}")
        if md["properties"].get("perfbench.last-writer") != last_tag:
            problems.append(f"{key}: last writer {md['properties'].get('perfbench.last-writer')}"
                            f" != {last_tag}")
        if len({s for s, _ in commits}) != len(commits):
            problems.append(f"{key}: two commits acknowledged at one sequence number")
    return problems


def one_repeat(args, rep: int, traced: bool) -> dict:
    t_setup0 = time.perf_counter()
    server = CatalogProcess(args.run_dir, traced, tag=f"catalog{rep}")
    try:
        setup_client = CatalogClient(server.uri)
        catalog = Catalog(server.uri, args.seed, rep)
        tracer = Tracer() if traced else None
        start_evt = threading.Event()
        deadline_box = [0.0]
        workers = [Worker(i, server.uri, catalog, args.seed * 1000 + rep, deadline_box,
                          tracer, start_evt) for i in range(CLIENTS)]
        for w in workers:
            w.start()
        setup_s = time.perf_counter() - t_setup0
        ref_before = common.host_ref_ms()
        steal0 = common.steal_ms()
        opens0 = common.tcp_active_opens()
        cpu0 = common.proc_cpu_ms(server.pid)
        t0 = time.perf_counter()
        deadline_box[0] = t0 + args.seconds
        start_evt.set()
        for w in workers:
            w.join(args.seconds + 60)
        elapsed = time.perf_counter() - t0
        cpu = common.proc_cpu_ms(server.pid) - cpu0
        opens = common.tcp_active_opens() - opens0
        steal = common.steal_ms() - steal0
        ref_after = common.host_ref_ms()
        for w in workers:
            if w.is_alive() or w.error is not None:
                raise RuntimeError(f"client {w.idx} did not finish: {w.error!r}")
        problems = [f for w in workers for f in w.failures]
        lost = verify(setup_client, catalog, workers)
        problems += lost
    finally:
        dump = server.stop()
    samples = [s for w in workers for s in w.samples]
    return {
        "setup_s": setup_s, "elapsed": elapsed, "samples": samples,
        "workers": workers, "tracer": tracer, "dump": dump, "cpu_ms": cpu,
        "tcp_opens": opens, "steal_ms": steal, "ref_before": ref_before,
        "ref_after": ref_after, "problems": problems, "lost_updates": len(lost),
    }


def e2e_metrics(reps: list[dict]) -> dict:
    """`setup_s` is the median of the repeats' set-ups; the rest pool every
    window's operations."""
    s = [(x[0], x[1]) for r in reps for x in r["samples"]]
    return {
        "setup_s": median([r["setup_s"] for r in reps]),
        "ops_per_s": len(s) / sum(r["elapsed"] for r in reps),
        "p50_ms": kind_p50(s),
        "read_p50_ms": kind_p50(s, READ_OPS),
        "write_p50_ms": kind_p50(s, ("commit",)),
    }


def layer_metrics(rep: dict) -> dict:
    tracer, dump, workers = rep["tracer"], rep["dump"], rep["workers"]
    s = rep["samples"]
    # the workers' clients issue requests only inside the measured window
    requests = sum(w.client.total_requests for w in workers)
    traced = [x[1] for x in s if x[2]]
    untraced = [x[1] for x in s if not x[2]]
    cnt = dump["counters"]
    loads = cnt.get("load_table.200", 0) + cnt.get("load_table.304", 0)
    commit_ops = sum(w.traced_commits for w in workers) or 1
    attempts = sum(w.traced_commit_attempts for w in workers) or 1
    m = {
        "catalog.client.tcp_opens_per_request": rep["tcp_opens"] / max(1, requests),
        "catalog.client.requests_per_op": requests / max(1, len(s)),
        "catalog.client.load_ms": median(tracer.durations_ms("catalog.client.load_table")),
        "catalog.client.commit_ms": median(tracer.durations_ms("catalog.client.commit_table")),
        "catalog.client.list_ms": median(
            tracer.durations_ms("catalog.client.list_tables")
            + tracer.durations_ms("catalog.client.list_namespaces")),
        "catalog.service.cpu_ms_per_op": rep["cpu_ms"] / max(1, len(s)),
        "catalog.service.not_modified_ratio": cnt.get("load_table.304", 0) / max(1, loads),
        "catalog.service.conflict_ratio": sum(w.traced_conflicts for w in workers) / attempts,
        "catalog.service.retries_per_commit":
            sum(w.traced_conflicts for w in workers) / commit_ops,
        "catalog.metadata.read_ms": median(common.server_span_ms(dump, "catalog.metadata.read")),
        "catalog.metadata.write_ms": median(common.server_span_ms(dump, "catalog.metadata.write")),
        "catalog.metadata.bytes_per_commit": median(
            [sp[6]["bytes"] for sp in dump["spans"]
             if sp[3] == "catalog.metadata.write" and sp[6]]),
        "catalog.store.get_object_ms": median(common.server_span_ms(dump, "catalog.store.get_object")),
        "catalog.store.cas_ms": median(common.server_span_ms(dump, "catalog.store.cas_update_object")),
        "catalog.store.list_objects_ms": median(
            common.server_span_ms(dump, "catalog.store.list_objects")),
        "trace.overhead_pct": 100.0 * (
            (sum(traced) / max(1, len(traced))) / (sum(untraced) / max(1, len(untraced))) - 1.0),
    }
    for route in common.SERVICE_ROUTES:
        m[f"catalog.service.{route}.self_ms"] = median(common.server_self_ms(dump, route))
    return m


def main() -> int:
    args = common.parse_args()
    traced = bool(args.trace)
    reps = [one_repeat(args, rep, traced) for rep in range(REPEATS)]
    attempted = sum(len(r["samples"]) for r in reps)
    # a lost update counts as one failed operation of its table
    failed = sum(1 for r in reps for x in r["samples"] if not x[3])
    failed += sum(r["lost_updates"] for r in reps)
    problems = [p for r in reps for p in r["problems"]]
    # a verification problem outside any single op (lost update) fails the run
    correct = not problems
    if traced:
        per = [layer_metrics(r) for r in reps]
        metrics = {k: median([p[k] for p in per]) for k in per[0]}
        all_s = [x for r in reps for x in r["samples"]]
        reads = [x[1] for x in all_s if x[0] in READ_OPS]
        writes = [x[1] for x in all_s if x[0] == "commit"]
        metrics.update({
            "read.p99_ms": percentile(reads, 99), "read.samples": len(reads),
            "write.p99_ms": percentile(writes, 99), "write.samples": len(writes),
        })
    else:
        for i, r in enumerate(reps):
            common.log(T_START, f"repeat {i}: " + ", ".join(
                f"{k}={v:.4g}" for k, v in e2e_metrics([r]).items()))
        metrics = e2e_metrics(reps)
    metrics.update({
        "host.ref_ms_before": median([r["ref_before"] for r in reps]),
        "host.ref_ms_after": median([r["ref_after"] for r in reps]),
        "host.steal_ms": sum(r["steal_ms"] for r in reps),
        "error_rate": failed / max(1, attempted),
    })
    common.finish(args.run_dir, correct=correct, attempted=attempted, failed=failed,
                  metrics=metrics, trace=traced, problems=problems)
    return 0


if __name__ == "__main__":
    sys.exit(main())
