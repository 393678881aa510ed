"""Workload ``lakehouse_sql``: Spark reading and writing tables through the
catalog, the ``SparkCatalogIO.sql`` contract of the reference's PySpark
example.

Set-up starts the catalog server in its own process, starts the JVM, fills
the catalog with OTHER_NAMESPACES namespaces of TABLES_PER_NS empty tables
(statement resolution walks the whole catalog, so its size is part of the
workload), and registers the star schema zero-copy under ``tpch`` with
``register_parquet_table``. One warm-up cycle runs before measuring.

The measured phase runs whole CYCLE passes until the run's seconds have
elapsed. A cycle holds TPC-H-style SELECTs (scan/filter/aggregate, a 3-way
join, a point lookup), two INSERT INTO appends of APPEND_ROWS rows into
``tpch.lineitem``, each followed by a read-after-write COUNT, and one ``rewrite_data_files`` + ``expire_snapshots`` pass, which
returns the table to the same file layout at the end of every cycle.
Every result is checked afterwards against DuckDB over the same parquet
plus the appended rows.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import os  # noqa: E402
import sys  # noqa: E402

import numpy as np  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import spark_common  # noqa: E402
from common import (  # noqa: E402
    CatalogProcess, Tracer, TracingClient, kind_p50, median, percentile,
)

OTHER_NAMESPACES = 100
TABLES_PER_NS = 3
STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
APPEND_ROWS = 50
COMPACT_TARGET_BYTES = 1 << 20
# Statement latencies keep falling over the first cycles (JVM JIT): the
# pricing summary took 4.9 s, 2.2 s, 1.7 s in cycles 1-3 of one run. One
# warm-up cycle takes the largest step; more did not fit the time budget.
WARMUP_CYCLES = 1

LINEITEM_COLS = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate",
)

Q_PRICING = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS count_order,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price
FROM tpch.lineitem
WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

Q_JOIN = """
SELECT o.o_orderkey, o.o_orderpriority,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
FROM tpch.customer c
JOIN tpch.orders o ON c.c_custkey = o.o_custkey
JOIN tpch.lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = '{segment}'
  AND o.o_orderdate < TIMESTAMP '{date} 00:00:00'
  AND l.l_shipdate > TIMESTAMP '{date} 00:00:00'
GROUP BY o.o_orderkey, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderkey
LIMIT 10
"""

Q_LOOKUP = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
FROM tpch.orders WHERE o_orderkey = {key}
"""

Q_PRIORITY = """
SELECT o_orderpriority, COUNT(*) AS order_count,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM tpch.orders
WHERE o_orderdate >= TIMESTAMP '{date} 00:00:00'
  AND o_orderdate < TIMESTAMP '{date} 00:00:00' + INTERVAL 3 MONTH
GROUP BY o_orderpriority
"""

Q_COUNT = """
SELECT COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
FROM tpch.lineitem
"""

CALL_COMPACT = (
    "CALL system.rewrite_data_files(table => 'tpch.lineitem', "
    f"target_file_size_bytes => {COMPACT_TARGET_BYTES})"
)
CALL_EXPIRE = "CALL system.expire_snapshots(table => 'tpch.lineitem', retain_last => 1)"

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


class Inputs:
    """Statement parameters and append batches drawn from the seed."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 7])

    def date(self) -> str:
        y = int(self.rng.integers(1995, 2001))
        m = int(self.rng.integers(1, 13))
        return f"{y:04d}-{m:02d}-01"

    def select(self, kind: str) -> str:
        if kind == "pricing":
            return Q_PRICING
        if kind == "join":
            return Q_JOIN.format(
                segment=SEGMENTS[int(self.rng.integers(0, 5))], date=self.date())
        if kind == "lookup":
            return Q_LOOKUP.format(key=int(self.rng.integers(0, 150_000)))
        if kind == "priority":
            return Q_PRIORITY.format(date=self.date())
        if kind == "count":
            return Q_COUNT
        raise ValueError(kind)

    def batch(self, batch_no: int) -> list[tuple]:
        r = self.rng
        rows = []
        for i in range(APPEND_ROWS):
            day = int(r.integers(0, 2400))
            rows.append((
                1_000_000 + batch_no * APPEND_ROWS + i,     # orderkey beyond orders
                int(r.integers(0, 20_000)), int(r.integers(0, 1_000)),
                int(r.integers(1, 8)), float(r.integers(1, 51)),
                round(float(r.uniform(900, 105_000)), 2),
                int(r.integers(0, 11)) / 100, int(r.integers(0, 9)) / 100,
                "ANR"[int(r.integers(0, 3))], "FO"[int(r.integers(0, 2))],
                np.datetime64("1995-01-02") + np.timedelta64(day, "D"),
            ))
        return rows


def insert_sql(rows: list[tuple]) -> str:
    def lit(v):
        if isinstance(v, str):
            return f"'{v}'"
        if isinstance(v, np.datetime64):
            return f"TIMESTAMP_NTZ '{v} 00:00:00'"
        return repr(v)

    values = ", ".join("(" + ", ".join(lit(v) for v in row) + ")" for row in rows)
    return f"INSERT INTO tpch.lineitem VALUES {values}"


CYCLE = (
    ("read", "pricing"), ("read", "join"),
    ("write", "append"), ("read", "count"),
    ("read", "priority"), ("read", "lookup"),
    ("write", "append"), ("read", "count"),
    ("maintenance", "compact"), ("maintenance", "expire"),
)


class Runner:
    def __init__(self, io, inputs: Inputs, tracer: Tracer | None, jobs=None):
        self.io = io
        self.inputs = inputs
        self.tracer = tracer
        self.jobs = jobs
        self.batches: list[list[tuple]] = []
        self.results: list[tuple[str, str, int, object]] = []  # kind, sql, version, pdf
        self.samples: list[tuple] = []  # class, kind, ms, ok, traced
        self.problems: list[str] = []
        self.compactions: list[dict] = []  # snapshot summaries of traced compactions
        # (kind, bytes of new files, bytes of new data files) per traced write
        self.written: list[tuple[str, int, int]] = []
        self.table_dir: str | None = None  # append table's location, traced runs

    def statement(self, cls: str, kind: str, traced: bool) -> None:
        if kind == "append":
            rows = self.inputs.batch(len(self.batches))
            sql = insert_sql(rows)
        elif kind == "compact":
            sql = CALL_COMPACT
        elif kind == "expire":
            sql = CALL_EXPIRE
        else:
            sql = self.inputs.select(kind)
        track = traced and self.table_dir is not None and cls != "read"
        before = tree_files(self.table_dir) if track else {}
        t0 = time.perf_counter()
        ok = True
        if self.tracer is None:
            out = self.io.sql(sql).toPandas()
        else:
            with self.tracer.op(f"op.{kind}", traced=traced) as op:
                group = self.jobs.begin(op) if op is not None else None
                with self.tracer.span("sources.catalog_io.resolve"):
                    df = self.io.sql(sql)
                with self.tracer.span("engine.spark.action"):
                    out = df.toPandas()
                if group is not None:
                    self.jobs.end(group)
        ms = (time.perf_counter() - t0) * 1000
        if track:
            new = {p: n for p, n in tree_files(self.table_dir).items() if p not in before}
            data = sum(n for p, n in new.items() if "/metadata/" not in p)
            self.written.append((kind, sum(new.values()), data))
        if kind == "append":
            self.batches.append(rows)
            if int(out["rows"].iloc[0]) != APPEND_ROWS:
                self.problems.append(f"append reported {out['rows'].iloc[0]} rows")
                ok = False
        elif cls == "read":
            self.results.append((kind, sql, len(self.batches), out))
        if kind == "compact" and traced and self.tracer is not None:
            md = self.io.client.load_table(["tpch"], "lineitem")["metadata"]
            snap = next(x for x in md["snapshots"]
                        if x["snapshot-id"] == md["current-snapshot-id"])
            self.compactions.append(snap.get("summary", {}))
        self.samples.append((cls, kind, ms, ok, traced))

    def cycle(self, traced: bool) -> None:
        for cls, kind in CYCLE:
            self.statement(cls, kind, traced)


def oracle_check(data_dir: str, runner: Runner) -> tuple[list[str], int]:
    """Replay the appends into DuckDB and compare every read's result with
    DuckDB's answer at the same table version; (problems, wrong results)."""
    import duckdb
    import pandas as pd

    from denali_spark.oracle import compare

    con = duckdb.connect()
    con.execute("CREATE SCHEMA tpch")
    for t in STAR_TABLES:
        src = f"read_parquet('{data_dir}/{t}.parquet')"
        kind = "TABLE" if t == "lineitem" else "VIEW"
        con.execute(f"CREATE {kind} tpch.{t} AS SELECT * FROM {src}")
    problems, applied, wrong = [], 0, 0
    for kind, sql, version, got in sorted(runner.results, key=lambda r: r[2]):
        while applied < version:
            frame = pd.DataFrame(runner.batches[applied], columns=LINEITEM_COLS)
            frame["l_linenumber"] = frame["l_linenumber"].astype("int32")
            frame["l_shipdate"] = frame["l_shipdate"].astype("datetime64[us]")
            con.register("batch", frame)
            con.execute("INSERT INTO tpch.lineitem SELECT * FROM batch")
            con.unregister("batch")
            applied += 1
        want = con.execute(sql).df()
        diff = compare(got, want)
        wrong += bool(diff)
        problems += [f"{kind} at version {version}: {p}" for p in diff]
    con.close()
    return problems, wrong


def fill_catalog(client) -> None:
    schema = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "id", "required": False, "type": "long"},
        {"id": 2, "name": "payload", "required": False, "type": "string"},
    ]}
    for n in range(OTHER_NAMESPACES):
        ns = [f"dept{n:03d}"]
        client.create_namespace(ns)
        for t in range(TABLES_PER_NS):
            client.create_table(ns, f"table{t}", schema)


def install_trace(tracer: Tracer) -> None:
    from denali_spark.sources import catalog_io, maintenance, manifests

    io_cls = catalog_io.SparkCatalogIO
    tracer.patch(io_cls, "read_table", "sources.catalog_io.read_table")
    tracer.patch(io_cls, "write_table", "sources.catalog_io.write_table")
    tracer.patch(manifests, "read_manifest_list", "sources.manifests.read_manifest_list")
    tracer.patch(maintenance, "compact_data_files", "sources.maintenance.compact_data_files")
    tracer.patch(maintenance, "expire_snapshots", "sources.maintenance.expire_snapshots")
    original = manifests.write_manifest_list

    def write_manifest_list(metadata_dir, snapshot_id, entries, *args, **kwargs):
        """Span plus the entries and bytes (manifests + list) it wrote."""
        if tracer.current_op is None:
            return original(metadata_dir, snapshot_id, entries, *args, **kwargs)
        before = set(os.listdir(metadata_dir)) if os.path.isdir(metadata_dir) else set()
        extra = {"entries": len(entries)}
        with tracer.span("sources.manifests.write_manifest_list", extra):
            out = original(metadata_dir, snapshot_id, entries, *args, **kwargs)
        extra["bytes"] = sum(
            os.path.getsize(os.path.join(metadata_dir, f))
            for f in set(os.listdir(metadata_dir)) - before
        )
        return out

    write_manifest_list.__wrapped__ = original
    manifests.write_manifest_list = write_manifest_list


def tree_files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def main() -> int:
    args = common.parse_args()
    traced = bool(args.trace)
    data_dir = os.path.join(args.run_dir, "data")
    server = CatalogProcess(args.run_dir, traced)
    dump = None
    try:
        from denali_spark.catalog.client import CatalogClient
        from denali_spark.sources.catalog_io import SparkCatalogIO

        tracer = Tracer() if traced else None
        if traced:
            install_trace(tracer)
        spark = spark_common.start_spark()
        common.log(T_START, "spark started")
        io = SparkCatalogIO(spark, server.uri)
        if traced:
            io.client = TracingClient(server.uri, tracer)
        fill_catalog(CatalogClient(server.uri))
        common.log(T_START, "catalog filled")
        for t in STAR_TABLES:
            io.register_parquet_table(["tpch"], t, os.path.join(data_dir, f"{t}.parquet"))
        common.log(T_START, "star schema registered")
        jobs = spark_common.JobCounter(spark) if traced else None
        runner = Runner(io, Inputs(args.seed), tracer, jobs)
        for _ in range(WARMUP_CYCLES):
            runner.cycle(False)
        common.log(T_START, "warm-up done")
        if traced:
            from denali_spark.catalog.metadata import _fs_path

            md = io.client.load_table(["tpch"], "lineitem")["metadata"]
            runner.table_dir = _fs_path(md["location"])

        setup_s = time.perf_counter() - T_START
        ref_before = common.host_ref_ms()
        steal0 = common.steal_ms()
        n_warm = len(runner.samples)
        # a traced run alternates untraced and traced cycles over twice the time
        cycles = spark_common.run_phase(runner, args.seconds * (1 + traced), traced)
        steal = common.steal_ms() - steal0
        ref_after = common.host_ref_ms()
        common.log(T_START, f"measured {len(runner.samples) - n_warm} statements")
    finally:
        spark_stop()
        dump = server.stop()
    problems, wrong = oracle_check(data_dir, runner)
    problems += runner.problems
    common.log(T_START, "outputs checked")
    common.log(T_START, "latencies ms: " + " ".join(f"{s[1]}={s[2]:.0f}" for s in runner.samples))
    attempted = len(runner.samples)
    failed = sum(1 for s in runner.samples if not s[3]) + wrong
    metrics = {
        "host.ref_ms_before": ref_before,
        "host.ref_ms_after": ref_after,
        "host.steal_ms": steal,
        "error_rate": failed / max(1, attempted),
    }
    phase = runner.samples[n_warm:]
    if traced:
        metrics["trace.overhead_pct"] = spark_common.overhead_pct(cycles)
        metrics.update(layer_metrics(runner, tracer, dump, jobs, phase))
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


def spark_stop() -> None:
    from denali_spark.engine.session import stop_spark

    stop_spark()


def layer_metrics(runner, tracer, dump, jobs, phase) -> dict:
    kind_of = {s[0]: s[3][3:] for s in tracer.spans if s[2] == 0}
    read_ops = {op for op, k in kind_of.items() if k in ("pricing", "join", "lookup",
                                                            "priority", "count")}
    append_ops = {op for op, k in kind_of.items() if k == "append"}

    def spans(name, ops=None):
        return [s for s in tracer.spans if s[3] == name and (ops is None or s[0] in ops)]

    def med(name, ops=None):
        return median([(s[5] - s[4]) * 1000 for s in spans(name, ops)])

    per_stmt = {}
    for kind in ("list_namespaces", "list_tables", "list_views", "load_table"):
        per_stmt[kind] = sum(
            runner.io.client.requests_of(op).get(kind, 0) for op in read_ops
        ) / max(1, len(read_ops))
    # The first traced cycle runs on the same table state in every run of a
    # seed, so its two appends give the exact per-append counts.
    first_appends = set(sorted(append_ops)[:2])
    writes = [s[6] for s in spans("sources.manifests.write_manifest_list", first_appends)]
    user_bytes = sum(data for kind, _, data in runner.written if kind == "append")
    compacted = [int(s.get("compacted-input-files", 0)) for s in runner.compactions]
    reads = [s[2] for s in phase if s[0] == "read"]
    wr = [s[2] for s in phase if s[0] == "write"]
    m = {
        "catalog.client.load_ms": med("catalog.client.load_table"),
        "catalog.client.commit_ms": med("catalog.client.commit_table"),
        "catalog.client.list_ms": median(
            [(s[5] - s[4]) * 1000 for s in spans("catalog.client.list_tables")
             + spans("catalog.client.list_namespaces") + spans("catalog.client.list_views")]),
        "catalog.client.requests_per_op": sum(
            sum(runner.io.client.requests_of(op).values()) for op in kind_of
        ) / max(1, len(kind_of)),
        "catalog.metadata.read_ms": median(common.server_span_ms(dump, "catalog.metadata.read")),
        "catalog.metadata.write_ms": median(common.server_span_ms(dump, "catalog.metadata.write")),
        "catalog.metadata.bytes_per_commit": median(
            [sp[6]["bytes"] for sp in dump["spans"]
             if sp[3] == "catalog.metadata.write" and sp[6]]),
        "catalog.store.get_object_ms": median(common.server_span_ms(dump, "catalog.store.get_object")),
        "catalog.store.cas_ms": median(common.server_span_ms(dump, "catalog.store.cas_update_object")),
        "catalog.store.list_objects_ms": median(
            common.server_span_ms(dump, "catalog.store.list_objects")),
        "sources.catalog_io.resolve_ms": med("sources.catalog_io.resolve", read_ops),
        **{f"sources.catalog_io.requests_per_stmt.{k}": v for k, v in per_stmt.items()},
        "sources.catalog_io.read_table_ms": med("sources.catalog_io.read_table"),
        "sources.catalog_io.write_table_ms": med("sources.catalog_io.write_table"),
        "sources.manifests.list_read_ms": med("sources.manifests.read_manifest_list"),
        "sources.manifests.list_write_ms": med("sources.manifests.write_manifest_list"),
        "sources.manifests.entries_written_per_append": median([w["entries"] for w in writes]),
        "sources.manifests.bytes_written_per_append": median([w["bytes"] for w in writes]),
        "sources.maintenance.compact_ms": med("sources.maintenance.compact_data_files"),
        "sources.maintenance.expire_ms": med("sources.maintenance.expire_snapshots"),
        "sources.maintenance.files_rewritten": median(compacted),
        "storage.bytes_written_per_user_byte":
            sum(n for _, n, _ in runner.written) / max(1, user_bytes),
        "engine.spark.exec_ms": med("engine.spark.action", read_ops),
        "engine.spark.jobs_per_op": jobs.jobs_per_op(),
        "engine.spark.tasks_per_op": jobs.tasks_per_op(),
        "read.p99_ms": percentile(reads, 99),
        "read.samples": len(reads),
        "write.p99_ms": percentile(wr, 99),
        "write.samples": len(wr),
    }
    for route in common.SERVICE_ROUTES:
        m[f"catalog.service.{route}.self_ms"] = median(common.server_self_ms(dump, route))
    return m


if __name__ == "__main__":
    sys.exit(main())
