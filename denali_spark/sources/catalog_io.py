"""Spark ⇄ catalog data plane: the client-engine side of SURVEY §3.3.

Read path (mirrors the reference example's `SELECT * FROM westeros.my_table`,
/root/reference/examples/pyspark_example.py:29-36):

    loadTable REST → metadata JSON → resolve snapshot (current / by id /
    by branch-tag) → manifest list → data file paths, grouped by schema id
    → spark.read.schema(<that schema>).parquet

Each file group's read schema comes from the table metadata, not from the
files' footers, so planning a scan starts no Spark job.

Write path (the flow every Spark write triggers against the reference,
SURVEY §3.2): executors write parquet directly into the warehouse; only the
final atomic commit (add-snapshot + set-snapshot-ref) goes through the
catalog, guarded by assert-ref-snapshot-id and retried on 409 — classic
optimistic concurrency.

Manifest lists follow the Iceberg two-level Avro layout (manifest_file
records pointing at manifest_entry Avro files), read and written only by
sources/manifests.py through the pure-Python OCF codec. No other layout is
read: tables from before round 7 are not readable, and there is no
migration. Each manifest entry carries record-count and per-file min/max
stats for the partition-pruning scan path.

Scale notes: the catalog only ever sees O(1)-sized metadata per commit; data
volume never transits the catalog. Reads hand Spark a file list — pruning,
column projection and parallelism are Spark-native from there. File-count
per snapshot is controlled by the writer's partitioning, exactly like the
real Iceberg Spark writer.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from denali_spark.catalog.client import CatalogClient, CatalogHTTPError
from denali_spark.catalog.metadata import _fs_path  # file://-aware path mapping
from denali_spark.sources import manifests
from denali_spark.sources.schema_convert import spark_schema_to_iceberg

MAIN = "main"

# Row-lineage columns used to apply merge-on-read delete files (Iceberg's
# ContentFile position/equality delete variants, openapi.yml:3400+). Never
# visible to callers — added for the anti-joins, dropped before returning.
LINEAGE_FILE = "__dsp_file_path"
LINEAGE_POS = "__dsp_pos"
# V3 row-lineage column name: virtual on ordinary reads (first-row-id +
# position), physical in files rewritten by compaction (carry-through)
ROW_ID = "_row_id"
# The columns of a position-delete file, as the Iceberg spec fixes them
POSITION_DELETE_SCHEMA = "file_path string, pos long"


def stamp_row_lineage(md: dict, files: list[dict]) -> tuple[int, int]:
    """Iceberg V3 row lineage: assign each NEWLY added data file a
    first-row-id range from the table's next-row-id high-water mark (files
    carried over by reference — and cherry-picked files — keep the range
    they were born with, so row identity is stable across snapshots and
    branches). Returns (snapshot first-row-id, rows assigned); the commit
    stamps both on the snapshot so the catalog can advance next-row-id.

    Supported depth: ids are file-range based (_row_id = first-row-id +
    position), the V3 default for files without materialized lineage
    columns. Compaction carries ids THROUGH the rewrite by materializing a
    physical _row_id column into its output files (entries flagged
    materialized-lineage; readers prefer the column over the range — see
    compact_data_files). Other rewrites (CoW update/merge) still assign
    fresh ranges: their rows are replacements, not carried rows."""
    next_id = int(md.get("next-row-id", 0))
    first = next_id
    for f in files:
        if f.get("content", "data") != "data" or "first-row-id" in f:
            continue
        f["first-row-id"] = next_id
        next_id += int(f.get("record-count", 0))
    return first, next_id - first


def summary_totals(files: list[dict]) -> dict[str, str]:
    """Iceberg's standard total-* snapshot summary properties, derived from
    the snapshot's FULL entry set (carried + added): what UIs and planners
    read to show table size without walking manifests."""
    data = [e for e in files if e.get("content", "data") == "data"]
    deletes = [e for e in files if e.get("content", "data") != "data"]
    return {
        "total-data-files": str(len(data)),
        "total-delete-files": str(len(deletes)),
        "total-records": str(sum(e.get("record-count", 0) for e in data)),
        "total-files-size": str(sum(e.get("file-size-bytes", 0) for e in data)),
    }


def entries_from_spec_plan(
    tasks: list[dict],
    delete_specs: list[dict],
    schema_id: int,
    target_schema: dict | None,
) -> tuple[list[dict], list[dict]]:
    """Reconstruct internal scan entries from the spec's own FileScanTask /
    ContentFile fields ONLY — `x-denali-entry` is deliberately never read.
    This is the consumption path a NON-denali engine would take, proving
    the PlanTableScan response is complete per the spec's interop intent
    (r9 verdict item 3; same reasoning as the golden spec-Avro manifests).

    The one spec subtlety: the plan carries NO sequence numbers — delete
    applicability is pre-resolved into each task's delete-file-references.
    The engine's apply step compares sequence numbers, so this function
    reconstructs a RELATIVE order that reproduces the references exactly:
    an equality delete's reference count #{data file D : seq(D) < seq(d)}
    is monotone in seq(d), so dense-ranking equality deletes by reference
    count recovers their order, and each data file's synthetic sequence is
    the highest rank among equality deletes it does NOT reference (it sits
    just above everything that no longer applies to it). Position deletes
    and DVs need no order — they bind by (file, pos) / referenced-data-file.

    Spec-only limits (documented, extension path covers them): files are
    assumed to be on the plan's snapshot schema (real engines project by
    the field IDs embedded in the data file — our parquet records the
    write schema-id in the manifest instead), and equality-delete key
    names resolve via the current schema (a key column renamed AFTER the
    delete was written needs `x-denali-entry`)."""
    ref_sets = [set(t.get("delete-file-references") or ()) for t in tasks]
    eq_idx = [
        i for i, d in enumerate(delete_specs)
        if d.get("content") == "equality-deletes"
    ]
    refcount = {i: sum(1 for rs in ref_sets if i in rs) for i in eq_idx}
    rank = {
        cnt: r
        for r, cnt in enumerate(sorted(set(refcount.values())), start=1)
    }
    eq_rank = {i: rank[refcount[i]] for i in eq_idx}

    def _base(spec: dict, content: str) -> dict:
        e = {
            "content": content,
            "path": spec["file-path"],
            "file-format": spec.get("file-format", "PARQUET").lower(),
        }
        for theirs, ours in (
            ("file-size-in-bytes", "file-size-bytes"),
            ("record-count", "record-count"),
            ("partition", "partition"),
            ("first-row-id", "first-row-id"),
            ("content-offset", "content-offset"),
            ("content-size-in-bytes", "content-size-in-bytes"),
            ("referenced-data-file", "referenced-data-file"),
            ("spec-id", "spec-id"),
        ):
            if spec.get(theirs) is not None:
                e[ours] = spec[theirs]
        return e

    data_entries = []
    referenced: set[int] = set().union(*ref_sets) if ref_sets else set()
    for t, rs in zip(tasks, ref_sets):
        e = _base(t["data-file"], "data")
        e["schema-id"] = schema_id
        e["sequence-number"] = max(
            (eq_rank[i] for i in eq_idx if i not in rs), default=0
        )
        data_entries.append(e)
    delete_entries = []
    by_id = {
        f["id"]: f["name"] for f in (target_schema or {}).get("fields", [])
    }
    for i, d in enumerate(delete_specs):
        if i not in referenced:
            continue  # prune-dropped data files took their deletes with them
        e = _base(d, d.get("content", "position-deletes"))
        if d.get("equality-ids") is not None:
            fids = list(d["equality-ids"])
            e["equality-field-ids"] = fids
            e["equality-columns"] = [by_id[f] for f in fids]
            e["sequence-number"] = eq_rank[i]
        delete_entries.append(e)
    return data_entries, delete_entries


def split_entries(entries: list[dict]) -> tuple[list[dict], list[dict]]:
    """Manifest entries → (data files, delete files). The `content` field
    mirrors Iceberg's ContentFile discriminator; absent means data."""
    data = [e for e in entries if e.get("content", "data") == "data"]
    deletes = [e for e in entries if e.get("content", "data") != "data"]
    return data, deletes


# Data file formats per the REST spec (openapi.yml:3393-3398): avro|orc|parquet.
# Parquet and ORC use Spark's native vectorized readers/writers; Avro (the
# external spark-avro module is absent from this environment) runs through
# the pure-Python OCF codec in denali_spark.sources.avro_ocf, executed
# executor-side inside mapInPandas kernels.
DATA_FORMATS = ("parquet", "orc", "avro")


def _batch_already_committed(md: dict, key: str, value) -> bool:
    """True when `value` under summary key `key` already landed: either a
    live snapshot carries it, or (integer values) it sits at or below the
    `<key>.high-watermark` table property — which survives snapshot
    expiry, closing the late-replay-after-expiry window the snapshot
    membership check alone would leave open."""
    sval = str(value)
    hwm = md.get("properties", {}).get(f"{key}.high-watermark")
    if hwm is not None and sval.lstrip("-").isdigit() and int(sval) <= int(hwm):
        return True
    return any(
        s.get("summary", {}).get(key) == sval
        for s in md.get("snapshots", [])
    )


def table_write_format(md: dict) -> str:
    """Iceberg's write.format.default table property, parquet by default."""
    return md.get("properties", {}).get("write.format.default", "parquet")


def _is_safe_widening(src, tgt) -> bool:
    """True when casting src→tgt is provably value-preserving, so
    write_table may align rows to the table schema implicitly (INSERT
    INTO semantics). Mirrors Iceberg's type-promotion rules (spec §Schema
    Evolution: int→long, float→double, decimal precision growth) plus the
    value-preserving decimal generalization (scale growth with integer-
    digit headroom) and integral→decimal with headroom. Lists, maps and
    structs (same field names) widen element by element; nullability never
    decides. A void (NullType) source, such as a bare NULL literal, casts
    losslessly to any type. Everything else — narrowing, cross-family (string→int),
    timestamp drifts — must be an explicit CAST by the caller: a plain
    cast would silently NULL or wrap the lossy values instead of failing."""
    from pyspark.sql.types import (
        ArrayType, ByteType, DateType, DecimalType, DoubleType, FloatType,
        IntegerType, LongType, MapType, NullType, ShortType, StructType,
        TimestampType,
    )

    if src == tgt or isinstance(src, NullType):
        return True
    if isinstance(src, ArrayType) and isinstance(tgt, ArrayType):
        return _is_safe_widening(src.elementType, tgt.elementType)
    if isinstance(src, MapType) and isinstance(tgt, MapType):
        return (_is_safe_widening(src.keyType, tgt.keyType)
                and _is_safe_widening(src.valueType, tgt.valueType))
    if isinstance(src, StructType) and isinstance(tgt, StructType):
        return src.fieldNames() == tgt.fieldNames() and all(
            _is_safe_widening(a.dataType, b.dataType)
            for a, b in zip(src.fields, tgt.fields)
        )
    int_digits = {ByteType: 3, ShortType: 5, IntegerType: 10, LongType: 19}
    widen_chain = (ByteType, ShortType, IntegerType, LongType)
    if isinstance(src, widen_chain) and isinstance(tgt, widen_chain):
        return widen_chain.index(type(src)) <= widen_chain.index(type(tgt))
    if isinstance(src, FloatType) and isinstance(tgt, DoubleType):
        return True
    if isinstance(src, DecimalType) and isinstance(tgt, DecimalType):
        return (tgt.scale >= src.scale
                and tgt.precision - tgt.scale >= src.precision - src.scale)
    if isinstance(src, widen_chain) and isinstance(tgt, DecimalType):
        return tgt.precision - tgt.scale >= int_digits[type(src)]
    if isinstance(src, DateType) and isinstance(tgt, TimestampType):
        return True
    return False


class CommitRetriesExhausted(Exception):
    pass


class SparkCatalogIO:
    def __init__(
        self, spark: SparkSession, catalog_uri: str, token: str | None = None
    ):
        """`token`: bearer token for OAuth-enabled catalogs (obtain one
        via CatalogClient.authenticate). The session caches no MV listing:
        the rewrite pass finds MVs through their sources' `ivm.dependent.*`
        entries, so another client's MV DDL shows on the next SELECT."""
        self.spark = spark
        self.client = CatalogClient(catalog_uri, token=token)
        self.warehouse = self.client.config()["defaults"]["warehouse"]
        # Materialized-view query rewrite policy for sql() SELECTs
        # (sources/mv_rewrite.py):
        # off | fresh-only | refresh | stale-ok | topup.
        # SQL spelling: SET mv_rewrite = '<mode>' (_sql_set).
        self.mv_rewrite = "fresh-only"
        # Outcome of the last SELECT's rewrite attempt (None = base path).
        self.last_mv_rewrite: dict | None = None

    # --- read path ---------------------------------------------------------

    def _resolve_snapshot(
        self,
        md: dict,
        snapshot_id: int | None = None,
        ref: str | None = None,
        as_of_ms: int | None = None,
    ) -> dict | None:
        if snapshot_id is None and as_of_ms is not None:
            # TIMESTAMP AS OF: the snapshot-log records every move of main
            # (§1.2 SnapshotLog) — take the last state at or before t.
            live = {s["snapshot-id"] for s in md.get("snapshots", [])}
            past = [
                e for e in md.get("snapshot-log", [])
                if e["timestamp-ms"] <= as_of_ms
            ]
            if not past:
                raise ValueError(
                    f"no snapshot committed at or before timestamp {as_of_ms}"
                )
            best = max(past, key=lambda e: e["timestamp-ms"])
            if best["snapshot-id"] not in live:
                # Expired metadata written before the log-trimming fix may
                # still reference removed snapshots — report retention, not
                # a bare lookup failure.
                raise ValueError(
                    f"timestamp {as_of_ms} is outside the snapshot retention "
                    f"window (snapshot {best['snapshot-id']} was expired)"
                )
            snapshot_id = best["snapshot-id"]
        if snapshot_id is None and ref is not None:
            r = md.get("refs", {}).get(ref)
            if r is None:
                raise ValueError(f"ref {ref!r} not found")
            snapshot_id = r["snapshot-id"]
        if snapshot_id is None:
            snapshot_id = md.get("current-snapshot-id")
        if snapshot_id is None:
            return None
        for snap in md.get("snapshots", []):
            if snap["snapshot-id"] == snapshot_id:
                return snap
        raise ValueError(f"snapshot {snapshot_id} not found")

    def read_table(
        self,
        namespace: list[str],
        name: str,
        snapshot_id: int | None = None,
        ref: str | None = None,
        where: dict | None = None,
        as_of_ms: int | None = None,
        report_metrics: bool = False,
        with_row_ids: bool = False,
        server_plan: bool | str = False,
        metadata: dict | None = None,
    ) -> DataFrame:
        """spark.table('cat.ns.t') equivalent; snapshot_id/ref give
        `VERSION AS OF` / branch-tag time travel; as_of_ms gives
        `TIMESTAMP AS OF` via the snapshot-log. report_metrics=True posts
        a scan report to the catalog's metrics endpoint after planning
        (Iceberg REST reporting contract).

        server_plan=True delegates file planning to the catalog's
        PlanTableScan endpoint (REST-spec server-side scan planning):
        the service walks the manifests and stat-prunes against `where`,
        and this client consumes the returned file-scan-tasks (the
        `x-denali-entry` extension carries each entry losslessly) —
        the manifest IO and pruning move off the engine driver, which is
        the spec feature's point for high-file-count tables. The exact
        residual `where` filter still runs engine-side.
        server_plan="spec" additionally forbids the extension: the scan
        is reconstructed from the spec's own FileScanTask/ContentFile
        fields alone (entries_from_spec_plan) — the path a non-denali
        engine consuming the plan would take.

        with_row_ids=True appends the V3 row-lineage `_row_id` column
        (file first-row-id + in-file position — stable across carried-over
        snapshots and unaffected by merge-on-read deletes, which is the
        point: a deleted row's id is never reused). Files written before
        lineage stamping yield NULL ids.

        `where` is a scan expression (denali_spark.sources.expressions —
        the REST spec's Expression grammar): files whose manifest min/max
        stats prove no row can match are pruned driver-side BEFORE Spark
        plans the scan, then the same expression runs as an exact residual
        `filter` (which Spark additionally pushes into the parquet reader).

        `metadata`: the table's metadata when the caller has just loaded
        it, which saves the loadTable request.
        """
        md = metadata or self.client.load_table(namespace, name)["metadata"]
        snap = self._resolve_snapshot(md, snapshot_id, ref, as_of_ms)
        if snap is None:  # empty table → typed empty DataFrame
            return self._empty_df(md)
        if where is not None:
            from denali_spark.sources.expressions import to_spark_sql
        if server_plan:
            plan = self.client.plan_table_scan(
                namespace, name,
                snapshot_id=snap["snapshot-id"], filter=where,
            )
            tasks = list(plan.get("file-scan-tasks", []))
            delete_specs = list(plan.get("delete-files", []))
            for handle in plan.get("plan-tasks", []):
                # large plans paginate as stateless shard handles; every
                # shard repeats the SAME full delete list (references
                # index into it), so take the first non-empty one rather
                # than concatenating duplicates
                shard = self.client.fetch_scan_tasks(namespace, name, handle)
                tasks.extend(shard.get("file-scan-tasks", []))
                if not delete_specs:
                    delete_specs = list(shard.get("delete-files", []))
            if server_plan == "spec":
                from denali_spark.sources.schema_evolution import schema_by_id

                sid = snap.get("schema-id", md["current-schema-id"])
                entries, delete_entries = entries_from_spec_plan(
                    tasks, delete_specs, sid, schema_by_id(md, sid)
                )
            else:
                entries = [t["data-file"]["x-denali-entry"] for t in tasks]
                delete_entries = [d["x-denali-entry"] for d in delete_specs]
        else:
            entries, delete_entries = split_entries(
                manifests.read_manifest_list(snap["manifest-list"])
            )
            if where is not None:
                from denali_spark.sources.bloom import bloom_prune
                from denali_spark.sources.expressions import file_might_match

                entries = [
                    e for e in entries if file_might_match(where, e.get("stats"))
                ]
                # transform-aware partition pruning: what stats can't do —
                # a bucket[N] point lookup hashes the literal and keeps
                # only the matching bucket's files
                from denali_spark.sources.partitioning import partition_prune

                entries = partition_prune(self.spark, md, where, entries)
                # point-predicate pruning via per-file bloom blobs, when an
                # analyze_table(bloom_columns=...) index exists for this
                # snapshot
                entries = bloom_prune(self, md, snap, where, entries)
        if not entries:
            return self._empty_df(md)
        # Iceberg read semantics: a current-state read uses the CURRENT
        # schema; only explicit time travel sees the snapshot's own schema.
        time_travel = (
            snapshot_id is not None or ref is not None or as_of_ms is not None
        )
        df = self._read_reconciled(
            md, snap, entries, snapshot_schema=time_travel,
            with_lineage=bool(delete_entries) or with_row_ids,
            with_row_ids=with_row_ids,
        )
        if delete_entries:
            from denali_spark.sources.schema_evolution import schema_by_id

            target_id = (
                snap.get("schema-id", md["current-schema-id"])
                if time_travel else md["current-schema-id"]
            )
            df = self._apply_deletes(
                df, entries, delete_entries, target_schema=schema_by_id(md, target_id)
            )
        if with_row_ids:
            # bounded map: one (path, first-row-id) row per scanned file.
            # Files with a carried physical _row_id column (compaction
            # rewrites) keep it; the rest compute first-row-id + position.
            frid = self.spark.createDataFrame(
                [(e["path"], e.get("first-row-id")) for e in entries],
                f"{LINEAGE_FILE} string, __dsp_frid long",
            )
            df = df.join(F.broadcast(frid), LINEAGE_FILE, "left").withColumn(
                ROW_ID,
                F.coalesce(
                    F.col(ROW_ID), F.col("__dsp_frid") + F.col(LINEAGE_POS)
                ),
            ).drop("__dsp_frid")
        if delete_entries or with_row_ids:
            df = df.drop(LINEAGE_FILE, LINEAGE_POS)
        if where is not None:
            df = df.filter(to_spark_sql(where))
        if report_metrics:
            self._post_scan_report(namespace, name, md, snap, entries, where)
        return df

    def sql(self, query: str) -> DataFrame:
        """Run one Spark SQL statement whose names are CATALOG tables and
        views — the `spark.sql("select * from westeros.my_table")` client
        flow of the reference's PySpark example, without the Iceberg
        runtime jar.

        The statement is parsed once with Spark's own parser and runs by
        its plan's class (sources/sql_frontend.py): queries resolve each
        catalog name with one lookup (sources/resolve.py), with time
        travel and metadata tables, and may be answered from a
        materialized view (sources/mv_rewrite.py); INSERT, CTAS, DDL,
        DELETE/UPDATE/MERGE, CALL system.<procedure>, SHOW, DESCRIBE,
        EXPLAIN and SET mv_rewrite go to the catalog and the write path.
        Spark refuses a few forms that are still accepted here: REFRESH,
        DROP and SHOW of MATERIALIZED VIEWs, Iceberg's ALTER TABLE
        extensions (PARTITION FIELD, BRANCH/TAG, WRITE ORDERED BY), the
        MERGE shorthand `ON (k) WHEN MATCHED THEN UPDATE`, and DDL that
        sets a property key Spark reserves, such as 'owner'."""
        from denali_spark.sources.sql_frontend import run

        return run(self, query)

    def _view_df(
        self, md: dict, ns: list[str], name: str, depth: int,
        version_id: int | None = None, as_of_ms: int | None = None,
    ) -> DataFrame:
        """Materialize a catalog view from its loaded metadata `md` through
        its stored SQL representation (spark dialect preferred, else the
        first). The body resolves like a top-level statement one level
        deeper (sources/resolve.py), except that its unqualified table
        names are looked up in the view's default-namespace — only names
        in relation position, and never a name the body defines as a CTE.

        Time travel: `version_id` pins an exact entry of the view's
        version list; `as_of_ms` resolves through the version-log (the
        latest version whose timestamp is at or before the instant) —
        Iceberg view metadata versions exactly as the reference models it
        (/root/reference/iceberg-overload/view/metadata.go:35-44,
        Versions + VersionLog)."""
        from denali_spark.sources.resolve import resolve_sql

        if version_id is not None:
            version = next(
                (v for v in md["versions"] if v["version-id"] == version_id),
                None,
            )
            if version is None:
                raise ValueError(
                    f"view {'.'.join([*ns, name])} has no version {version_id}"
                )
        elif as_of_ms is not None:
            eligible = [
                e for e in md.get("version-log", [])
                if e["timestamp-ms"] <= as_of_ms
            ]
            if not eligible:
                raise ValueError(
                    f"view {'.'.join([*ns, name])} has no version at or "
                    f"before timestamp {as_of_ms}"
                )
            vid = max(eligible, key=lambda e: e["timestamp-ms"])["version-id"]
            version = next(v for v in md["versions"] if v["version-id"] == vid)
        else:
            current = md["current-version-id"]
            version = next(v for v in md["versions"] if v["version-id"] == current)
        reps = version.get("representations", [])
        if not reps:
            raise ValueError(f"view {'.'.join([*ns, name])} has no SQL representation")
        rep = next((r for r in reps if r.get("dialect") == "spark"), reps[0])
        default_ns = version.get("default-namespace") or ns
        return resolve_sql(self, rep["sql"], depth=depth + 1, default_ns=default_ns)

    def _post_scan_report(self, namespace, name, md, snap, entries, where) -> None:
        """Fire-and-forget scan report to the catalog's metrics endpoint
        (the Iceberg REST reporting contract; the reference accepts and
        discards, routes/tables.go:432-435). Planning metadata only —
        never blocks or fails the read."""
        try:
            self.client.report_metrics(
                namespace, name,
                {
                    "report-type": "scan-report",
                    "table-name": ".".join([*namespace, name]),
                    "snapshot-id": snap["snapshot-id"],
                    "schema-id": md.get("current-schema-id", 0),
                    "filter": where if where is not None else True,
                    "metrics": {
                        "result-data-files": {"unit": "count",
                                              "value": len(entries)},
                        "total-planning-duration": {"unit": "ms", "value": 0},
                    },
                },
            )
        except Exception:  # noqa: BLE001 — reporting must never break reads
            pass

    def _read_reconciled(
        self,
        md: dict,
        snap: dict,
        entries: list[dict],
        snapshot_schema: bool = False,
        with_lineage: bool = False,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """Read data files grouped by the schema they were written under and
        project every group into the snapshot's schema by FIELD ID — renames
        and drops are pure metadata; added columns backfill as typed NULLs
        (schema evolution without rewriting a single file).

        Each group is read under its schema as the table metadata records
        it (schema_convert.iceberg_schema_to_spark), so planning the scan
        opens no file: a column the schema lists and a file lacks reads as
        NULL, and a column only the file has is never read. A regular read
        thus never surfaces the physical `_row_id` that compaction writes;
        with_row_ids=True lists it, and files without it read NULL there.

        with_lineage=True attaches (file path, row position) columns from
        Spark's parquet `_metadata` — computed executor-side during the scan,
        no extra IO — which is what merge-on-read position deletes join
        against."""
        from functools import reduce

        from denali_spark.sources.schema_convert import iceberg_schema_to_spark
        from denali_spark.sources.schema_evolution import (
            reconcile_to_schema,
            schema_by_id,
        )

        if snapshot_schema:
            target_id = snap.get("schema-id", md["current-schema-id"])
        else:
            target_id = md["current-schema-id"]
        target = schema_by_id(md, target_id)
        groups: dict[tuple[int, str], list[str]] = {}
        for e in entries:
            key = (e.get("schema-id", 0), e.get("file-format", "parquet"))
            groups.setdefault(key, []).append(e["path"])
        extra = (LINEAGE_FILE, LINEAGE_POS) if with_lineage else ()
        if with_row_ids:
            extra = extra + (ROW_ID,)
        dfs = []
        for (sid, fmt), paths in sorted(groups.items()):
            schema = iceberg_schema_to_spark(schema_by_id(md, sid))
            if with_row_ids:
                schema.add(ROW_ID, "long")
            if fmt == "avro" or (fmt == "orc" and with_lineage):
                # Spark surfaces row positions for parquet only; ORC
                # without lineage stays on its vectorized JVM reader
                df = self._read_by_kernel(fmt, paths, schema, with_lineage)
            else:
                reader = self.spark.read.schema(schema)
                df = reader.orc(paths) if fmt == "orc" else reader.parquet(*paths)
                if with_lineage:
                    df = df.withColumns({
                        # normalize file:///x → /x so lineage matches manifest paths
                        LINEAGE_FILE: F.regexp_replace(
                            F.col("_metadata.file_path"), "^file:/+", "/"
                        ),
                        LINEAGE_POS: F.col("_metadata.row_index"),
                    })
            if sid != target_id:
                df = reconcile_to_schema(
                    df, schema_by_id(md, sid), target, extra_cols=extra,
                )
            dfs.append(df)
        return reduce(lambda a, b: a.unionByName(b), dfs)

    @staticmethod
    def _resolve_eq_columns(fids, write_names, target_schema):
        """Equality-delete keys are identified by FIELD ID (the Iceberg
        spec's rule — equality_ids reference field ids, not names): resolve
        ids to the read schema's names so deletes keep matching after
        rename_column, and a reused name can never silently match the wrong
        column."""
        by_id = {f["id"]: f["name"] for f in target_schema["fields"]}
        out = []
        for fid, wname in zip(fids, write_names):
            if fid not in by_id:
                raise ValueError(
                    f"equality-delete key field id {fid} ({wname!r} at write "
                    "time) is not in the read schema — run rewrite_deletes() "
                    "before dropping an equality-delete key column"
                )
            out.append(by_id[fid])
        return out

    def _apply_deletes(
        self,
        df: DataFrame,
        data_entries: list[dict],
        delete_entries: list[dict],
        target_schema: dict,
    ) -> DataFrame:
        """Apply merge-on-read delete files to a lineage-bearing DataFrame
        (already reconciled to `target_schema`).

        Position deletes (file_path, pos) anti-join on row lineage; no
        sequence check is needed because data file paths are unique per
        commit (uuid'd directories) — a delete row can never alias a newer
        file. Equality deletes remove rows matching the delete's key values
        from data files with a STRICTLY LOWER sequence number (Iceberg's
        ordering rule: a delete never hits rows appended after it).

        Scale: delete sets are usually tiny next to data — both joins
        broadcast when the delete files total <64 MB, else they shuffle
        hash-partitioned on the join key; either way the data side streams
        through one stage with no driver materialization.
        """
        all_pos = [e for e in delete_entries if e["content"] == "position-deletes"]
        pos = [e for e in all_pos if e.get("file-format") != "puffin"]
        dvs = [e for e in all_pos if e.get("file-format") == "puffin"]
        eq = [e for e in delete_entries if e["content"] == "equality-deletes"]

        def maybe_broadcast(d, entries_):
            total = sum(e.get("file-size-bytes", 0) for e in entries_)
            return F.broadcast(d) if total < 64 * 1024 * 1024 else d

        pos_parts = []
        pos_bytes = 0
        if pos:
            pos_parts.append(self._read_position_deletes(pos))
            pos_bytes += sum(e.get("file-size-bytes", 0) for e in pos)
        if dvs:
            # Deletion vectors (Iceberg V3): each entry is one roaring-bitmap
            # blob inside a Puffin file, scoped to one data file. Decode on
            # EXECUTORS — one ranged blob read per task, positions never
            # transit the driver. Bitmaps are ~2 bytes/position worst case,
            # so the broadcast threshold uses the blobs' content sizes.
            pos_parts.append(self._dv_positions_df(dvs))
            pos_bytes += sum(e.get("content-size-in-bytes", 0) for e in dvs)
        if pos_parts:
            pd_df = pos_parts[0]
            for p in pos_parts[1:]:
                pd_df = pd_df.unionByName(p)
            if pos_bytes < 64 * 1024 * 1024:
                pd_df = F.broadcast(pd_df)
            df = df.join(
                pd_df,
                on=(df[LINEAGE_FILE] == pd_df["file_path"])
                & (df[LINEAGE_POS] == pd_df["pos"]),
                how="left_anti",
            )
        if eq:
            seq_df = self.spark.createDataFrame(
                [(e["path"], int(e.get("sequence-number", 0))) for e in data_entries],
                schema=f"{LINEAGE_FILE} string, __dsp_seq long",
            )
            df = df.join(F.broadcast(seq_df), LINEAGE_FILE, "left")
            groups: dict[tuple, list[dict]] = {}
            for e in eq:
                key = (int(e.get("sequence-number", 0)),
                       tuple(e["equality-field-ids"]),
                       tuple(e["equality-columns"]))
                groups.setdefault(key, []).append(e)
            for (dseq, fids, wcols), group in sorted(groups.items()):
                # Delete files carry their write-time column names; the data
                # side carries the read schema's names — bridge by field id.
                cols = self._resolve_eq_columns(fids, wcols, target_schema)
                d = self.spark.read.parquet(*[e["path"] for e in group])
                d = d.select(
                    *[F.col(w).alias(c) for w, c in zip(wcols, cols)]
                ).dropDuplicates()
                d = maybe_broadcast(d, group).alias("__del")
                a = df.alias("__dat")
                cond = F.col("__dat.__dsp_seq") < F.lit(dseq)
                for c in cols:
                    # null-safe: equality deletes match nulls to nulls
                    cond = cond & F.col(f"__dat.{c}").eqNullSafe(F.col(f"__del.{c}"))
                df = a.join(d, on=cond, how="left_anti")
            df = df.drop("__dsp_seq")
        return df

    def _read_position_deletes(self, entries: list[dict]) -> DataFrame:
        """The rows of parquet position-delete files, read under the
        schema the Iceberg spec fixes for them, so planning opens no
        file."""
        return self.spark.read.schema(POSITION_DELETE_SCHEMA).parquet(
            *[e["path"] for e in entries]
        )

    def _dv_positions_df(
        self, dvs: list[dict], with_source: bool = False
    ) -> DataFrame:
        """(file_path, pos) rows from deletion-vector entries. One task per
        vector: the executor does a ranged read of just its blob (never the
        whole Puffin file) and expands the bitmap to rows Arrow-batched —
        the same join shape parquet position deletes use, so the anti-join
        downstream is shared. `with_source` adds the Puffin file's own path
        as `delete_file_path` (the position_deletes metadata table shape)."""
        import pandas as pd

        from denali_spark.sources.puffin import read_dv_positions

        rows = [
            (e["path"], int(e["content-offset"]),
             int(e["content-size-in-bytes"]), e["referenced-data-file"])
            for e in dvs
        ]

        def kernel(batches):
            for pdf in batches:
                for p, o, s, ref in zip(pdf["p"], pdf["o"], pdf["s"], pdf["ref"]):
                    positions = read_dv_positions(p, int(o), int(s))
                    out = {"file_path": ref,
                           "pos": pd.Series(positions, dtype="int64")}
                    if with_source:
                        out["delete_file_path"] = p
                    yield pd.DataFrame(out)

        meta = self.spark.createDataFrame(rows, "p string, o long, s long, ref string")
        if len(rows) > 1:
            meta = meta.repartition(min(len(rows), 32))
        schema = POSITION_DELETE_SCHEMA
        if with_source:
            schema += ", delete_file_path string"
        return meta.mapInPandas(kernel, schema)

    def _read_by_kernel(self, fmt: str, paths, schema, with_lineage: bool) -> DataFrame:
        """Avro, and ORC with lineage: one partition per file, decoded in a
        mapInPandas kernel (Arrow-batched; planning opens no file) by the
        pure-Python OCF codec or by pyarrow.orc, so every row can carry its
        true in-file position (Spark's _metadata.row_index is parquet-only).
        ORC position deletes are written and applied through this kernel,
        so the two sides always agree on positions. Each file's rows are
        projected onto `schema` by name, as Spark's own readers do: a
        listed column the file lacks reads as NULL, and a column the schema
        does not list is dropped."""
        from pyspark.sql.types import LongType, StringType, StructType

        names = schema.fieldNames()
        if with_lineage:
            schema = StructType(schema.fields).add(LINEAGE_FILE, StringType()).add(
                LINEAGE_POS, LongType()
            )

        def decode(path):
            import pandas as pd

            if fmt == "orc":
                import pyarrow.orc as po

                return po.ORCFile(path).read().to_pandas()
            from denali_spark.sources.avro_ocf import field_names, read_ocf

            avro_schema, rows = read_ocf(path)
            return pd.DataFrame(rows, columns=field_names(avro_schema))

        def kernel(batches):
            import pandas as pd

            for pdf in batches:
                for p in pdf["path"]:
                    rows = decode(p)
                    out = pd.DataFrame(
                        {c: rows[c] if c in rows else None for c in names},
                        index=rows.index,
                    )
                    if with_lineage:
                        out[LINEAGE_FILE] = p
                        out[LINEAGE_POS] = range(len(out))
                    yield out

        paths_df = self.spark.createDataFrame(
            [(p,) for p in sorted(paths)], "path string"
        ).repartition(len(paths), "path")
        return paths_df.mapInPandas(kernel, schema=schema)

    def _write_avro_files(self, df: DataFrame, out_dir: str) -> list[dict]:
        """Distributed Avro write: each task encodes its partition into one
        OCF via the pure-Python codec and reports (path, record count) —
        only that metadata is collected, the rows never visit the driver."""
        import pandas as pd

        from denali_spark.sources.avro_ocf import spark_schema_to_avro, write_ocf

        avro_schema = spark_schema_to_avro(df.schema)
        os.makedirs(out_dir, exist_ok=True)

        def _py(v):
            import numpy as np

            if v is None or v is pd.NaT or (isinstance(v, float) and v != v):
                return None
            if isinstance(v, pd.Timestamp):
                return v.to_pydatetime()
            if isinstance(v, np.ndarray):
                return v.tolist()
            if type(v).__module__ == "numpy":
                return v.item()
            return v

        def kernel(batches):
            # Stream Arrow batches straight into 8k-row OCF blocks — memory
            # is bounded by one batch + one block, never the partition.
            def rows():
                for pdf in batches:
                    for row in pdf.itertuples(index=False, name=None):
                        yield tuple(_py(v) for v in row)

            path = os.path.join(out_dir, f"part-{uuid.uuid4().hex}.avro")
            n = write_ocf(path, avro_schema, rows())
            if n:
                yield pd.DataFrame({"path": [path], "record_count": [n]})
            else:
                os.remove(path)  # empty partition: no file, no manifest entry

        out = df.mapInPandas(kernel, schema="path string, record_count long").collect()
        return [
            {
                "path": r["path"],
                "file-format": "avro",
                "record-count": r["record_count"],
                "file-size-bytes": os.path.getsize(r["path"]),
            }
            for r in sorted(out, key=lambda r: r["path"])
        ]

    def _empty_df(self, md: dict) -> DataFrame:
        """A typed empty relation of the table's current schema — the
        schema a scan of the same table reports."""
        from denali_spark.sources.schema_convert import iceberg_schema_to_spark
        from denali_spark.sources.schema_evolution import current_schema

        return self.spark.createDataFrame(
            [], schema=iceberg_schema_to_spark(current_schema(md))
        )

    # --- write path --------------------------------------------------------

    def write_table(
        self,
        df: DataFrame,
        namespace: list[str],
        name: str,
        mode: str = "append",
        max_retries: int = 3,
        partition_by: list | None = None,
        sort_by: list[str] | None = None,
        num_files: int | None = None,
        file_format: str | None = None,
        branch: str = MAIN,
        summary_extra: dict | None = None,
        dedupe_summary_key: str | None = None,
        metadata: dict | None = None,
    ) -> dict:
        """Append/overwrite `df` into a catalog table (created on demand),
        committing via the optimistic protocol with bounded retries.

        `metadata`: the table's metadata when the caller has just loaded
        it, which saves the namespace and table checks and the loadTable
        request; a commit that loses a CAS race still reloads.

        dedupe_summary_key: exactly-once guard for at-least-once callers
        (streaming sinks): names a summary_extra key (e.g.
        streaming-batch-id) whose value identifies the write. The write is
        skipped when any snapshot already carries it, the check re-runs
        INSIDE the CAS retry loop (a concurrent duplicate that wins the
        race is caught on the reload, never re-appended), and for integer
        values a `<key>.high-watermark` table property advances in the
        SAME commit — so a late replay stays a no-op even after snapshot
        expiry trims the batch-stamped snapshots the membership check
        would have consulted.

        Contract: batch ids must be MONOTONE per table — one logical
        stream per sink table (exactly Structured Streaming's per-query
        batch-id semantics). Restarting a stream with a FRESH checkpoint
        reuses ids from 0 and every write would dedupe away; point a
        fresh checkpoint at a fresh table, or remove the
        `<key>.high-watermark` table property (ALTER TABLE ... UNSET) to
        declare the old stream finished before reusing the table.

        file_format: parquet (default), orc, or avro — recorded as the
        table's write.format.default property on create; later appends
        inherit it. Avro rides the pure-Python OCF codec (spark-avro is
        absent from this environment) executor-side via mapInPandas.

        branch: commit target ref (default main). Writing to a non-main
        branch is the write-audit-publish staging step — see create_branch /
        publish_branch; the branch must already exist.

        partition_by: column names or (column, transform) pairs using the
        Iceberg transform vocabulary (identity/year/month/day/hour/
        bucket[N]/truncate[W]); registered as the table's partition spec on
        create and applied as the write layout. sort_by: within-file sort
        (the Iceberg write-order analog) — clusters values so footer
        min/max ranges get tight and the file pruner bites.
        """
        if mode not in ("append", "overwrite"):
            raise ValueError("mode must be 'append' or 'overwrite'")
        from denali_spark.sources.partitioning import (
            build_partition_spec,
            normalize_partition_by,
        )

        if file_format is not None and file_format not in DATA_FORMATS:
            raise NotImplementedError(
                f"file_format {file_format!r}: the spec lists avro|orc|parquet"
            )
        parts = normalize_partition_by(partition_by) if partition_by else None
        if metadata is None:
            if not self.client.namespace_exists(namespace):
                self.client.create_namespace(namespace)
            if not self.client.table_exists(namespace, name):
                schema = spark_schema_to_iceberg(df.schema)
                write_order = None
                if sort_by:
                    by_name = {f["name"]: f["id"] for f in schema["fields"]}
                    write_order = {
                        "order-id": 1,
                        "fields": [
                            {"transform": "identity", "source-id": by_name[c],
                             "direction": "asc", "null-order": "nulls-first"}
                            for c in sort_by
                        ],
                    }
                self.client.create_table(
                    namespace,
                    name,
                    schema,
                    partition_spec=build_partition_spec(parts, schema) if parts else None,
                    write_order=write_order,
                    properties={
                        "denali-spark.manifest-format": "avro",
                        "write.format.default": file_format or "parquet",
                    },
                )
            metadata = self.client.load_table(namespace, name)["metadata"]
        md = metadata
        # Align the incoming rows to the TABLE schema (INSERT INTO
        # semantics): a df whose column type drifts from the table's —
        # e.g. decimal(18,2) rows into a decimal(28,8) column, or
        # array<int> into array<bigint> — would otherwise write a
        # physically mismatched file that later scans, which read under
        # the table's types, refuse to read. Columns the df omits stay
        # absent (the V3 read-default path); unknown columns fail loudly
        # (evolve the schema first).
        from denali_spark.sources.schema_convert import iceberg_schema_to_spark
        from denali_spark.sources.schema_evolution import current_schema

        target_types = {
            f.name: f.dataType
            for f in iceberg_schema_to_spark(current_schema(md)).fields
        }
        unknown = [c for c in df.columns if c not in target_types]
        if unknown:
            raise ValueError(
                f"columns {unknown} are not in {'.'.join(namespace)}.{name}'s "
                "schema — ALTER TABLE ... ADD COLUMN first"
            )
        aligned = []
        for f in df.schema.fields:
            t = target_types[f.name]
            if t == f.dataType:
                aligned.append(F.col(f.name))
                continue
            # Fail-loud INSERT INTO contract: only value-preserving
            # widenings cast implicitly (a plain cast would silently
            # NULL/wrap lossy or cross-family drifts like string→int or
            # overflowing long→int). The whitelist mirrors Iceberg's
            # schema-promotion rules plus integral→decimal with
            # integer-digit headroom.
            if not _is_safe_widening(f.dataType, t):
                raise ValueError(
                    f"column {f.name!r}: cannot implicitly cast "
                    f"{f.dataType.simpleString()} to the table's "
                    f"{t.simpleString()} — only lossless widenings "
                    "are applied; CAST explicitly or evolve the "
                    "table schema"
                )
            aligned.append(F.col(f.name).cast(t))
        df = df.select(*aligned)
        dedupe_value = None
        if dedupe_summary_key is not None:
            dedupe_value = (summary_extra or {}).get(dedupe_summary_key)
            if dedupe_value is None:
                raise ValueError(
                    f"dedupe_summary_key {dedupe_summary_key!r} requires "
                    "summary_extra to carry that key"
                )
            if _batch_already_committed(md, dedupe_summary_key, dedupe_value):
                return {"noop": "duplicate batch", "key": dedupe_summary_key,
                        "value": dedupe_value}
        from denali_spark.sources.partitioning import spec_to_partition_by

        layout_derived = parts is None
        order_derived = sort_by is None
        if layout_derived:
            # Partition-spec evolution: with no explicit layout, write by
            # the spec in force NOW (which may differ from create-time).
            parts = spec_to_partition_by(md)
        if order_derived:
            # Same for the write order: honor the CURRENT default sort
            # order so sorted-write clustering survives order evolution.
            sort_by = sort_order_to_sort_by(md)
        layout_ids = (md.get("default-spec-id", 0), md.get("default-sort-order-id", 0))
        data_files = self._write_data_files(
            df, md["location"], partition_by=parts, sort_by=sort_by,
            num_files=num_files, schema_id=md.get("current-schema-id", 0),
            file_format=file_format or table_write_format(md),
        )

        for _attempt in range(max_retries):
            if dedupe_value is not None and _batch_already_committed(
                md, dedupe_summary_key, dedupe_value
            ):
                # a concurrent writer committed this batch between our
                # reload and this attempt — drop our (never-committed)
                # files and bow out instead of double-appending
                for stale in data_files:
                    try:
                        os.remove(_fs_path(stale["path"]))
                    except OSError:
                        pass
                return {"noop": "duplicate batch", "key": dedupe_summary_key,
                        "value": dedupe_value}
            if (layout_derived or order_derived) and (
                md.get("default-spec-id", 0),
                md.get("default-sort-order-id", 0),
            ) != layout_ids:
                # A concurrent spec/sort-order evolution won the race after
                # our files were laid out: re-derive and REWRITE under the
                # now-current layout, or the manifest would stamp a spec the
                # files don't follow. The superseded (never-committed) files
                # are deleted eagerly — their paths are known and no reader
                # can reference them; remove_orphan_files remains the
                # backstop if this process dies mid-cleanup.
                for stale in data_files:
                    try:
                        os.remove(_fs_path(stale["path"]))
                    except OSError:
                        pass
                if layout_derived:
                    parts = spec_to_partition_by(md)
                if order_derived:
                    sort_by = sort_order_to_sort_by(md)
                layout_ids = (
                    md.get("default-spec-id", 0),
                    md.get("default-sort-order-id", 0),
                )
                data_files = self._write_data_files(
                    df, md["location"], partition_by=parts, sort_by=sort_by,
                    num_files=num_files, schema_id=md.get("current-schema-id", 0),
                    file_format=file_format or table_write_format(md),
                )
            base_ref = md.get("refs", {}).get(branch)
            if base_ref is None and branch != MAIN:
                raise ValueError(
                    f"branch {branch!r} not found — create_branch() first"
                )
            parent_id = base_ref["snapshot-id"] if base_ref else None
            prev_files = []
            if mode == "append" and parent_id is not None:
                prev = self._resolve_snapshot(md, parent_id)
                prev_files = manifests.read_manifest_list(prev["manifest-list"])
            snapshot_id = int(time.time() * 1000) * 1000 + (uuid.uuid4().int % 1000)
            seq = md.get("last-sequence-number", 0) + 1
            # Stamp the commit's sequence number on the files it adds — the
            # ordering equality deletes rely on (carried-over files keep
            # theirs). Re-stamped on CAS retry since seq moves with md.
            for f in data_files:
                f["sequence-number"] = seq
                # re-stamped per attempt: a lost CAS race moves next-row-id,
                # and ranges assigned against stale metadata would collide
                # with the winner's
                f.pop("first-row-id", None)
            first_row_id, assigned_rows = stamp_row_lineage(md, data_files)
            manifest_loc = self._write_manifest_list(
                md, snapshot_id, prev_files + data_files
            )
            snapshot = {
                "snapshot-id": snapshot_id,
                "parent-snapshot-id": parent_id,
                "sequence-number": seq,
                "first-row-id": first_row_id,
                "timestamp-ms": int(time.time() * 1000),
                "manifest-list": manifest_loc,
                "schema-id": md.get("current-schema-id", 0),
                "summary": {
                    "operation": "append" if mode == "append" else "overwrite",
                    "added-data-files": str(len(data_files)),
                    "added-records": str(sum(f.get("record-count", 0) for f in data_files)),
                    "added-rows": str(assigned_rows),
                    **summary_totals(prev_files + data_files),
                    **(summary_extra or {}),
                },
            }
            hwm_updates = []
            if dedupe_value is not None and str(dedupe_value).lstrip("-").isdigit():
                prev_hwm = md.get("properties", {}).get(
                    f"{dedupe_summary_key}.high-watermark"
                )
                new_hwm = max(
                    int(dedupe_value),
                    int(prev_hwm) if prev_hwm is not None else int(dedupe_value),
                )
                hwm_updates = [{
                    "action": "set-properties",
                    "updates": {
                        f"{dedupe_summary_key}.high-watermark": str(new_hwm)
                    },
                }]
            try:
                return self.client.commit_table(
                    namespace,
                    name,
                    requirements=[
                        {"type": "assert-table-uuid", "uuid": md["table-uuid"]},
                        {"type": "assert-ref-snapshot-id", "ref": branch,
                         "snapshot-id": parent_id},
                    ],
                    updates=[
                        {"action": "add-snapshot", "snapshot": snapshot},
                        {"action": "set-snapshot-ref", "ref-name": branch,
                         "snapshot-id": snapshot_id, "type": "branch"},
                        *hwm_updates,
                    ],
                )
            except CatalogHTTPError as exc:
                if exc.status != 409:
                    raise
                # Concurrent commit won: refresh and retry on the new base.
                md = self.client.load_table(namespace, name)["metadata"]
        raise CommitRetriesExhausted(
            f"commit of {'.'.join(namespace)}.{name} lost {max_retries} CAS races"
        )

    def replace_table(
        self, df: DataFrame, namespace: list[str], name: str,
        max_retries: int = 3,
    ) -> dict:
        """Iceberg REPLACE TABLE semantics in ONE CAS commit: the
        replacement's schema is added (fresh field ids past last-column-id,
        per the spec's replace-transaction rule), made current, the default
        spec/sort order reset to unpartitioned/unsorted, and main is
        pointed at an overwrite snapshot listing only the new files — all
        in a single commit_table round-trip, so concurrent readers never
        see the table missing and a crash at any point leaves either the
        old or the new table fully intact (closes the round-7
        write-then-swap's drop/rename window). Table identity (uuid,
        snapshot history, metadata-log) is preserved: time travel to
        pre-replace snapshots still works."""
        from denali_spark.sources.schema_convert import (
            shift_schema_field_ids,
            spark_schema_to_iceberg,
        )

        md = self.client.load_table(namespace, name)["metadata"]
        data_files = self._write_data_files(
            df, md["location"], file_format=table_write_format(md),
        )
        for _attempt in range(max_retries):
            new_schema = spark_schema_to_iceberg(df.schema)
            offset = md.get("last-column-id", 0)
            last_col = shift_schema_field_ids(new_schema, offset)
            sid = max(s["schema-id"] for s in md["schemas"]) + 1
            new_schema["schema-id"] = sid
            spec_id = max(s["spec-id"] for s in md["partition-specs"]) + 1
            new_spec = {"spec-id": spec_id, "fields": []}
            # Preview of the post-commit metadata, so the manifest list and
            # row-lineage ranges are stamped against the schema/spec the
            # commit installs (the server applies the same updates).
            md_next = dict(md)
            md_next["schemas"] = md["schemas"] + [new_schema]
            md_next["current-schema-id"] = sid
            md_next["partition-specs"] = md["partition-specs"] + [new_spec]
            md_next["default-spec-id"] = spec_id
            parent_ref = md.get("refs", {}).get(MAIN)
            parent_id = parent_ref["snapshot-id"] if parent_ref else None
            snapshot_id = int(time.time() * 1000) * 1000 + (uuid.uuid4().int % 1000)
            seq = md.get("last-sequence-number", 0) + 1
            for f in data_files:
                f["sequence-number"] = seq
                f["schema-id"] = sid
                f.pop("first-row-id", None)  # re-stamped per CAS attempt
            first_row_id, assigned_rows = stamp_row_lineage(md_next, data_files)
            manifest_loc = self._write_manifest_list(
                md_next, snapshot_id, data_files
            )
            snapshot = {
                "snapshot-id": snapshot_id,
                "parent-snapshot-id": parent_id,
                "sequence-number": seq,
                "first-row-id": first_row_id,
                "timestamp-ms": int(time.time() * 1000),
                "manifest-list": manifest_loc,
                "schema-id": sid,
                "summary": {
                    "operation": "overwrite",
                    "replace": "true",
                    "added-data-files": str(len(data_files)),
                    "added-records": str(
                        sum(f.get("record-count", 0) for f in data_files)
                    ),
                    "added-rows": str(assigned_rows),
                    **summary_totals(data_files),
                },
            }
            updates = [
                {"action": "add-schema", "schema": new_schema,
                 "last-column-id": last_col},
                {"action": "set-current-schema", "schema-id": -1},
                {"action": "add-spec", "spec": new_spec},
                {"action": "set-default-spec", "spec-id": -1},
            ]
            if md.get("default-sort-order-id", 0) != 0:
                # the old write order references old-schema column ids
                updates += [
                    {"action": "add-sort-order",
                     "sort-order": {"fields": []}},
                    {"action": "set-default-sort-order", "sort-order-id": -1},
                ]
            updates += [
                {"action": "add-snapshot", "snapshot": snapshot},
                {"action": "set-snapshot-ref", "ref-name": MAIN,
                 "snapshot-id": snapshot_id, "type": "branch"},
            ]
            try:
                return self.client.commit_table(
                    namespace, name,
                    requirements=[
                        {"type": "assert-table-uuid", "uuid": md["table-uuid"]},
                        {"type": "assert-ref-snapshot-id", "ref": MAIN,
                         "snapshot-id": parent_id},
                    ],
                    updates=updates,
                )
            except CatalogHTTPError as exc:
                if exc.status != 409:
                    raise
                md = self.client.load_table(namespace, name)["metadata"]
        raise CommitRetriesExhausted(
            f"replace of {'.'.join(namespace)}.{name} lost {max_retries} CAS races"
        )

    def _write_data_files(
        self,
        df: DataFrame,
        table_location: str,
        partition_by: list[tuple[str, str]] | None = None,
        sort_by: list[str] | None = None,
        num_files: int | None = None,
        schema_id: int | None = None,
        file_format: str = "parquet",
    ) -> list[dict]:
        """Executors write parquet straight into <location>/data/<uuid>/ —
        the catalog never sees row data (reference architecture §3.3).
        Partitioned writes hash-distribute rows by partition value first
        (Iceberg's write.distribution-mode=hash) so each partition is
        written by one task instead of every task emitting a sliver of
        every partition — the difference between O(partitions) and
        O(tasks x partitions) files at scale."""
        out_dir = os.path.join(_fs_path(table_location), "data", uuid.uuid4().hex[:12])
        if file_format == "avro":
            if partition_by:
                raise NotImplementedError(
                    "partitioned writes are parquet/orc-only; avro files are "
                    "written unpartitioned (the spec's avro role is "
                    "row-oriented append/changelog data)"
                )
            if sort_by:
                df = (
                    df.repartitionByRange(num_files, *sort_by)
                    if num_files else df.repartitionByRange(*sort_by)
                )
                df = df.sortWithinPartitions(*sort_by)
            elif num_files:
                df = df.repartition(num_files)
            entries = self._write_avro_files(df, out_dir)
            if schema_id is not None:
                for e in entries:
                    e["schema-id"] = schema_id
            return entries
        dir_cols: list[str] = []
        if partition_by:
            from denali_spark.sources.partitioning import apply_partition_layout

            df, dir_cols = apply_partition_layout(df, partition_by)
            df = df.repartition(*dir_cols)
        elif sort_by:
            # Range-distribute so the sort clusters globally (each file owns
            # a disjoint value range), not just within arbitrary partitions.
            # num_files pins the output file count (the target-file-size
            # knob); otherwise AQE picks it from data volume.
            df = (
                df.repartitionByRange(num_files, *sort_by)
                if num_files
                else df.repartitionByRange(*sort_by)
            )
        elif num_files:
            df = df.repartition(num_files)
        if sort_by:
            df = df.sortWithinPartitions(*sort_by)
        writer = df.write.mode("overwrite")
        if dir_cols:
            writer = writer.partitionBy(*dir_cols)
        if file_format == "orc":
            writer.orc(out_dir)
        else:
            writer.parquet(out_dir)
        entries = []
        for root, _dirs, files in os.walk(out_dir):
            for fname in sorted(files):
                if fname.endswith(f".{file_format}"):
                    path = os.path.join(root, fname)
                    entry = {
                        "path": path,
                        "file-format": file_format,
                        **_file_stats(path, file_format),
                    }
                    if schema_id is not None:
                        entry["schema-id"] = schema_id
                    if dir_cols:
                        from denali_spark.sources.partitioning import (
                            partition_values_from_path,
                        )

                        entry["partition"] = partition_values_from_path(path, dir_cols)
                    entries.append(entry)
        return entries

    def _write_manifest_list(
        self, md: dict, snapshot_id: int, files: list[dict]
    ) -> str:
        """Write the snapshot's manifest list; the table's current schema
        rides along so bounds are field-id-keyed binary single-values."""
        schema = None
        for s in md.get("schemas", []):
            if s.get("schema-id") == md.get("current-schema-id", 0):
                schema = s
                break
        spec_fields = None
        for spec in md.get("partition-specs", []):
            if spec.get("spec-id") == md.get("default-spec-id", 0):
                spec_fields = spec.get("fields", [])
                break
        return manifests.write_manifest_list(
            os.path.join(_fs_path(md["location"]), "metadata"),
            snapshot_id,
            files,
            schema=schema,
            partition_spec=spec_fields,
            partition_spec_id=md.get("default-spec-id", 0),
            all_specs=md.get("partition-specs"),
        )

    # --- branches & tags (write-audit-publish) -----------------------------

    def create_ref(
        self, namespace: list[str], name: str, ref_name: str,
        ref_type: str = "branch", from_ref: str = MAIN,
    ) -> dict:
        """Create a branch or tag at another ref's current snapshot — pure
        metadata (one set-snapshot-ref commit), no data touched. The
        assert-ref requirement guarantees create-if-absent semantics."""
        md = self.client.load_table(namespace, name)["metadata"]
        src = md.get("refs", {}).get(from_ref)
        if src is None:
            raise ValueError(f"ref {from_ref!r} not found (empty table?)")
        return self.client.commit_table(
            namespace, name,
            requirements=[
                {"type": "assert-ref-snapshot-id", "ref": ref_name,
                 "snapshot-id": None},  # must not already exist
            ],
            updates=[{"action": "set-snapshot-ref", "ref-name": ref_name,
                      "snapshot-id": src["snapshot-id"], "type": ref_type}],
        )

    def create_branch(self, namespace, name, branch, from_ref=MAIN) -> dict:
        return self.create_ref(namespace, name, branch, "branch", from_ref)

    def create_tag(self, namespace, name, tag, from_ref=MAIN) -> dict:
        return self.create_ref(namespace, name, tag, "tag", from_ref)

    def set_ref_retention(
        self,
        namespace: list[str],
        name: str,
        ref_name: str,
        min_snapshots_to_keep: int | None = None,
        max_snapshot_age_ms: int | None = None,
        max_ref_age_ms: int | None = None,
    ) -> dict:
        """Attach Iceberg retention options to an existing branch/tag by
        re-upserting the ref with the same target (set-snapshot-ref keeps
        any option passed; catalog/updates.py). expire_snapshots honors
        them: branch ancestry keeps min-snapshots-to-keep / younger than
        max-snapshot-age-ms; a non-main ref past max-ref-age-ms is itself
        expired. CAS-pinned to the ref's current snapshot so a concurrent
        ref move 409s instead of silently rewinding it."""
        md = self.client.load_table(namespace, name)["metadata"]
        ref = md.get("refs", {}).get(ref_name)
        if ref is None:
            raise ValueError(f"ref {ref_name!r} not found")
        update = {
            "action": "set-snapshot-ref",
            "ref-name": ref_name,
            "snapshot-id": ref["snapshot-id"],
            "type": ref.get("type", "branch"),
        }
        # set-snapshot-ref REPLACES the ref: carry existing options forward
        # so setting one knob doesn't silently clear the others
        for key, val in (
            ("min-snapshots-to-keep", min_snapshots_to_keep),
            ("max-snapshot-age-ms", max_snapshot_age_ms),
            ("max-ref-age-ms", max_ref_age_ms),
        ):
            if val is not None:
                update[key] = int(val)
            elif ref.get(key) is not None:
                update[key] = ref[key]
        return self.client.commit_table(
            namespace, name,
            requirements=[
                {"type": "assert-ref-snapshot-id", "ref": ref_name,
                 "snapshot-id": ref["snapshot-id"]},
            ],
            updates=[update],
        )

    def drop_ref(self, namespace: list[str], name: str, ref_name: str) -> dict:
        return self.client.commit_table(
            namespace, name, requirements=[],
            updates=[{"action": "remove-snapshot-ref", "ref-name": ref_name}],
        )

    def publish_branch(
        self, namespace: list[str], name: str, branch: str, to: str = MAIN
    ) -> dict:
        """Fast-forward `to` (main) to the branch head — the publish step of
        write-audit-publish: data was staged and validated on the branch;
        publication is one atomic metadata commit, CAS-guarded so a
        concurrent main writer turns this into an explicit 409 instead of a
        silent lost update."""
        md = self.client.load_table(namespace, name)["metadata"]
        head = md.get("refs", {}).get(branch)
        if head is None:
            raise ValueError(f"branch {branch!r} not found")
        target = md.get("refs", {}).get(to)
        return self.client.commit_table(
            namespace, name,
            requirements=[
                {"type": "assert-ref-snapshot-id", "ref": to,
                 "snapshot-id": target["snapshot-id"] if target else None},
            ],
            updates=[{"action": "set-snapshot-ref", "ref-name": to,
                      "snapshot-id": head["snapshot-id"], "type": "branch"}],
        )

    def evolve_sort_order(
        self, namespace: list[str], name: str, sort_by: list[str]
    ) -> dict:
        """Sort-order evolution: register a new identity-asc write order and
        make it the default in one commit. Like spec evolution, nothing is
        rewritten — existing files keep their clustering (and its stats
        tightness); subsequent writes sort by the new order because
        write_table derives it via sort_order_to_sort_by."""
        md = self.client.load_table(namespace, name)["metadata"]
        schema = next(
            s for s in md["schemas"] if s["schema-id"] == md.get("current-schema-id", 0)
        )
        by_name = {f["name"]: f["id"] for f in schema["fields"]}
        missing = [c for c in sort_by if c not in by_name]
        if missing:
            raise ValueError(f"sort columns not in schema: {missing}")
        order = {
            "order-id": max(
                (s["order-id"] for s in md.get("sort-orders", [])), default=-1
            )
            + 1,
            "fields": [
                {"transform": "identity", "source-id": by_name[c],
                 "direction": "asc", "null-order": "nulls-first"}
                for c in sort_by
            ],
        }
        return self.client.commit_table(
            namespace, name,
            requirements=[{"type": "assert-table-uuid", "uuid": md["table-uuid"]}],
            updates=[
                {"action": "add-sort-order", "sort-order": order},
                {"action": "set-default-sort-order", "sort-order-id": -1},
            ],
        )

    def evolve_partition_spec(
        self, namespace: list[str], name: str, partition_by: list
    ) -> dict:
        """Iceberg partition-spec evolution: register a NEW spec and make it
        the default in one commit. Existing data files keep their old
        layout (nothing is rewritten — the defining property of Iceberg
        spec evolution); subsequent writes lay out by the new spec
        (write_table derives it via spec_to_partition_by), and reads span
        both layouts because scan planning is manifest-driven, not
        directory-driven."""
        from denali_spark.sources.partitioning import (
            build_partition_spec,
            normalize_partition_by,
        )

        md = self.client.load_table(namespace, name)["metadata"]
        parts = normalize_partition_by(partition_by)
        schema = next(
            s for s in md["schemas"] if s["schema-id"] == md.get("current-schema-id", 0)
        )
        spec = build_partition_spec(parts, schema)
        spec["spec-id"] = max(s["spec-id"] for s in md.get("partition-specs", [{"spec-id": -1}])) + 1
        last = md.get("last-partition-id", 999)
        for i, f in enumerate(spec["fields"]):
            f["field-id"] = last + 1 + i
        return self.client.commit_table(
            namespace, name,
            requirements=[
                {"type": "assert-table-uuid", "uuid": md["table-uuid"]},
                # Pin the field-id watermark: a concurrent evolution that
                # also minted ids from this last-partition-id must 409
                # rather than commit duplicate partition field-ids.
                {"type": "assert-last-assigned-partition-id",
                 "last-assigned-partition-id": last},
            ],
            updates=[
                {"action": "add-spec", "spec": spec},
                {"action": "set-default-spec", "spec-id": -1},
            ],
        )

    def rollback_to_snapshot(
        self, namespace: list[str], name: str, snapshot_id: int, ref: str = MAIN
    ) -> dict:
        """Iceberg's rollback_to_snapshot: move `ref` back to one of its own
        ANCESTOR snapshots — one CAS-guarded metadata commit, no data
        touched, and nothing is expired (the rolled-past snapshots stay
        reachable by id until expire_snapshots collects them, so a rollback
        is itself reversible). Refuses a non-ancestor target: that would be
        a branch REASSIGNMENT, not a rollback — use create_ref/cherry-pick
        for those semantics."""
        md = self.client.load_table(namespace, name)["metadata"]
        head = md.get("refs", {}).get(ref)
        if head is None:
            raise ValueError(f"ref {ref!r} not found (empty table?)")
        by_id = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
        cur, ancestors = head["snapshot-id"], []
        while cur is not None:
            ancestors.append(cur)
            cur = by_id[cur].get("parent-snapshot-id") if cur in by_id else None
        if snapshot_id not in ancestors:
            raise ValueError(
                f"snapshot {snapshot_id} is not an ancestor of {ref!r} "
                f"(ancestry: {ancestors}) — rollback only moves a ref "
                "backwards along its own history"
            )
        return self.client.commit_table(
            namespace, name,
            requirements=[
                {"type": "assert-ref-snapshot-id", "ref": ref,
                 "snapshot-id": head["snapshot-id"]},
            ],
            updates=[{"action": "set-snapshot-ref", "ref-name": ref,
                      "snapshot-id": snapshot_id, "type": "branch"}],
        )

    def cherry_pick_snapshot(
        self, namespace: list[str], name: str, snapshot_id: int,
        to: str = MAIN, max_retries: int = 3,
    ) -> dict:
        """Iceberg's cherrypick_snapshot: apply an APPEND snapshot from a
        diverged line of history (e.g. a WAP branch whose base main has
        moved on, so fast-forward publish would drop main's newer commits)
        onto `to` as a NEW snapshot. The picked snapshot's net-added files
        (its manifest entries minus its parent's) are re-stamped with the
        target's next sequence number and unioned with the target head's
        files — Iceberg's re-sequencing rule, which keeps equality-delete
        ordering correct on the target branch. Only `operation: append`
        snapshots are cherry-pickable (same restriction as Iceberg —
        overwrites/deletes don't commute across diverged history)."""
        md = self.client.load_table(namespace, name)["metadata"]
        picked = self._resolve_snapshot(md, snapshot_id)
        if picked.get("summary", {}).get("operation") != "append":
            raise NotImplementedError(
                "cherry-pick supports append snapshots only (got "
                f"{picked.get('summary', {}).get('operation')!r})"
            )
        parent_id = picked.get("parent-snapshot-id")
        picked_files = manifests.read_manifest_list(picked["manifest-list"])
        base_paths: set[str] = set()
        if parent_id is not None:
            parent = self._resolve_snapshot(md, parent_id)
            base_paths = {
                f["path"] for f in manifests.read_manifest_list(parent["manifest-list"])
            }
        added = [dict(f) for f in picked_files if f["path"] not in base_paths]
        # pre-lineage files (no first-row-id at birth) get ranges assigned
        # per attempt; files born with ranges keep them across retries
        lineage_unstamped = [f for f in added if "first-row-id" not in f]

        for _attempt in range(max_retries):
            head = md.get("refs", {}).get(to)
            head_id = head["snapshot-id"] if head else None
            head_files = []
            if head_id is not None:
                head_files = manifests.read_manifest_list(
                    self._resolve_snapshot(md, head_id)["manifest-list"]
                )
            dupes = {f["path"] for f in head_files} & {f["path"] for f in added}
            if dupes:
                raise ValueError(
                    f"cherry-pick of {snapshot_id} would re-add files already "
                    f"on {to!r}: {sorted(dupes)[:3]}... (already applied?)"
                )
            seq = md.get("last-sequence-number", 0) + 1
            for f in added:
                f["sequence-number"] = seq
            for f in lineage_unstamped:  # re-stamped per attempt (CAS races)
                f.pop("first-row-id", None)
            first_row_id, assigned_rows = stamp_row_lineage(md, added)
            new_id = int(time.time() * 1000) * 1000 + (uuid.uuid4().int % 1000)
            manifest_loc = self._write_manifest_list(md, new_id, head_files + added)
            snapshot = {
                "snapshot-id": new_id,
                "parent-snapshot-id": head_id,
                "sequence-number": seq,
                "first-row-id": first_row_id,
                "timestamp-ms": int(time.time() * 1000),
                "manifest-list": manifest_loc,
                "schema-id": md.get("current-schema-id", 0),
                "summary": {
                    "operation": "append",
                    "added-data-files": str(len(added)),
                    "added-rows": str(assigned_rows),
                    "source-snapshot-id": str(snapshot_id),
                },
            }
            try:
                return self.client.commit_table(
                    namespace, name,
                    requirements=[
                        {"type": "assert-table-uuid", "uuid": md["table-uuid"]},
                        {"type": "assert-ref-snapshot-id", "ref": to,
                         "snapshot-id": head_id},
                    ],
                    updates=[
                        {"action": "add-snapshot", "snapshot": snapshot},
                        {"action": "set-snapshot-ref", "ref-name": to,
                         "snapshot-id": new_id, "type": "branch"},
                    ],
                )
            except CatalogHTTPError as exc:
                if exc.status != 409:
                    raise
                md = self.client.load_table(namespace, name)["metadata"]
        raise CommitRetriesExhausted(
            f"cherry-pick onto {'.'.join(namespace)}.{name} lost {max_retries} CAS races"
        )

    # --- register existing parquet (zero-copy adoption) --------------------

    def register_parquet_table(
        self, namespace: list[str], name: str, parquet_path: str
    ) -> dict:
        """Adopt existing parquet file(s) as a catalog table WITHOUT copying
        data: create the table, then commit a snapshot whose manifest points
        at the original files. This is how the testdata star schema becomes
        catalog-managed."""
        df = self.spark.read.parquet(parquet_path)
        if not self.client.namespace_exists(namespace):
            self.client.create_namespace(namespace)
        self.client.create_table(
            namespace, name, spark_schema_to_iceberg(df.schema),
            properties={"denali-spark.manifest-format": "avro",
                        "denali-spark.external-data": "true"},
        )
        md = self.client.load_table(namespace, name)["metadata"]
        if os.path.isdir(parquet_path):
            files = [
                {"path": os.path.join(parquet_path, f), **_parquet_stats(os.path.join(parquet_path, f))}
                for f in sorted(os.listdir(parquet_path))
                if f.endswith(".parquet")
            ]
        else:
            files = [{"path": parquet_path, **_parquet_stats(parquet_path)}]
        for f in files:
            f["sequence-number"] = 1
        first_row_id, assigned_rows = stamp_row_lineage(md, files)
        snapshot_id = int(time.time() * 1000) * 1000 + (uuid.uuid4().int % 1000)
        manifest_loc = self._write_manifest_list(md, snapshot_id, files)
        snapshot = {
            "snapshot-id": snapshot_id,
            "parent-snapshot-id": None,
            "sequence-number": 1,
            "first-row-id": first_row_id,
            "timestamp-ms": int(time.time() * 1000),
            "manifest-list": manifest_loc,
            "schema-id": 0,
            "summary": {"operation": "append",
                        "added-data-files": str(len(files)),
                        "added-rows": str(assigned_rows)},
        }
        return self.client.commit_table(
            namespace, name,
            requirements=[{"type": "assert-ref-snapshot-id", "ref": MAIN,
                           "snapshot-id": None}],
            updates=[
                {"action": "add-snapshot", "snapshot": snapshot},
                {"action": "set-snapshot-ref", "ref-name": MAIN,
                 "snapshot-id": snapshot_id, "type": "branch"},
            ],
        )

    # --- views --------------------------------------------------------------

    def create_view(self, namespace: list[str], name: str, sql: str) -> dict:
        if not self.client.namespace_exists(namespace):
            self.client.create_namespace(namespace)
        return self.client.create_view(namespace, name, sql, dialect="spark")

    def read_view(self, namespace: list[str], name: str) -> DataFrame:
        """Engine-side view resolution: execute the stored SQL representation
        (dialect 'spark' preferred) — SURVEY §7.4 risk 3's fallback path,
        promoted to the primary mechanism here."""
        md = self.client.load_view(namespace, name)["metadata"]
        version = next(
            v for v in md["versions"] if v["version-id"] == md["current-version-id"]
        )
        reps = version.get("representations", [])
        spark_reps = [r for r in reps if r.get("dialect") == "spark"] or reps
        if not spark_reps:
            raise ValueError(f"view {name} has no SQL representation")
        return self.spark.sql(spark_reps[0]["sql"])


def sort_order_to_sort_by(md: dict) -> list[str] | None:
    """Map the table's CURRENT default sort order back to column names for
    the write path. Only identity/asc orders lower to the engine's
    sortWithinPartitions layout; anything else returns None (write
    unsorted) rather than silently approximating."""
    order = next(
        (
            s
            for s in md.get("sort-orders", [])
            if s.get("order-id") == md.get("default-sort-order-id", 0)
        ),
        None,
    )
    if not order or not order.get("fields"):
        return None
    schema = next(
        (
            s
            for s in md.get("schemas", [])
            if s.get("schema-id") == md.get("current-schema-id", 0)
        ),
        {},
    )
    by_id = {f["id"]: f["name"] for f in schema.get("fields", [])}
    cols = []
    for f in order["fields"]:
        if f.get("transform") != "identity" or f.get("direction", "asc") != "asc":
            return None
        # A sort column dropped from the current schema also degrades to an
        # unsorted write (the docstring's contract) instead of KeyError.
        name = by_id.get(f["source-id"])
        if name is None:
            return None
        cols.append(name)
    return cols


def _json_stat_value(v):
    """JSON-safe, order-preserving encoding of a parquet min/max value.
    Dates/timestamps become ISO strings (lexicographic order == chronological
    order), so string comparison in the pruner stays correct. Types whose
    encoding could reorder (decimal, bytes) are dropped — conservative."""
    import datetime

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, str):
        return v
    return None


def _file_stats(path: str, file_format: str) -> dict:
    """Footer stats for a manifest entry, by format. ORC footers aren't
    exposed column-wise by pyarrow, so ORC entries carry record count + size
    only — the file pruner is conservative without min/max (reads the file
    instead of skipping it; correctness unaffected)."""
    if file_format == "orc":
        try:
            import pyarrow.orc as po

            return {
                "record-count": po.ORCFile(path).nrows,
                "file-size-bytes": os.path.getsize(path),
            }
        except Exception:  # noqa: BLE001 — stats are best-effort
            return {"file-size-bytes": os.path.getsize(path)}
    return _parquet_stats(path)


def _parquet_stats(path: str) -> dict:
    """Footer-only stats for manifest entries: record count, file size, and
    per-column min/max + null counts — the information Iceberg manifests
    carry for scan planning (file pruning happens against these, never
    against row data)."""
    try:
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(path).metadata
        cols: dict[str, dict] = {}
        for rg in range(meta.num_row_groups):
            row_group = meta.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                name = col.path_in_schema
                if "." in name:  # nested leaves: not prunable by top-level name
                    continue
                entry = cols.setdefault(
                    name, {"min": None, "max": None, "null-count": 0, "ok": True}
                )
                # Per-column isolation: pyarrow's Statistics.min/.max RAISE
                # ArrowNotImplementedError for physical types it cannot cast
                # (e.g. FLBA-backed wide decimals, binary sketch columns)
                # even when has_min_max is true. One unextractable column
                # must cost only ITS min/max, never the file's record
                # count — losing record-count zeroes the snapshot's
                # total-records (which the MV-rewrite cost chooser and
                # UIs read) and blanks delete accounting.
                try:
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        entry["ok"] = False
                        continue
                    lo, hi = _json_stat_value(st.min), _json_stat_value(st.max)
                except Exception:  # noqa: BLE001 — stats are best-effort
                    entry["ok"] = False
                    continue
                if lo is None or hi is None:
                    entry["ok"] = False
                    continue
                entry["min"] = lo if entry["min"] is None else min(entry["min"], lo)
                entry["max"] = hi if entry["max"] is None else max(entry["max"], hi)
                if st.null_count is not None:
                    entry["null-count"] += st.null_count
                else:
                    entry["ok"] = False
        stats = {
            name: {"min": e["min"], "max": e["max"], "null-count": e["null-count"]}
            for name, e in cols.items()
            if e["ok"] and e["min"] is not None
        }
        out = {"record-count": meta.num_rows, "file-size-bytes": os.path.getsize(path)}
        if stats:
            out["stats"] = stats
        return out
    except Exception:  # noqa: BLE001 — stats are best-effort
        return {"file-size-bytes": os.path.getsize(path)}


def resolve_snapshot(
    md: dict,
    snapshot_id: int | None = None,
    ref: str | None = None,
    as_of_ms: int | None = None,
) -> dict | None:
    """Module-level snapshot resolution (the method body never touches
    self) — shared with the Python Data Source, which plans without a
    SparkCatalogIO instance."""
    return SparkCatalogIO._resolve_snapshot(None, md, snapshot_id, ref, as_of_ms)

