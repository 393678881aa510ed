"""Spark ⇄ catalog data plane: the client-engine side of SURVEY §3.3.

Read path (mirrors the reference example's `SELECT * FROM westeros.my_table`,
/root/reference/examples/pyspark_example.py:29-36):

    loadTable REST → metadata JSON → resolve snapshot (current / by id /
    by branch-tag) → manifest list → data file paths → spark.read.parquet

Write path (the flow every Spark write triggers against the reference,
SURVEY §3.2): executors write parquet directly into the warehouse; only the
final atomic commit (add-snapshot + set-snapshot-ref) goes through the
catalog, guarded by assert-ref-snapshot-id and retried on 409 — classic
optimistic concurrency.

Manifest lists follow the Iceberg two-level Avro layout (manifest_file
records pointing at manifest_entry Avro files — sources/manifests.py),
written through the pure-Python OCF codec; legacy JSON lists from earlier
snapshots stay readable. Each manifest entry carries record-count and
per-file min/max stats for the partition-pruning scan path.

Scale notes: the catalog only ever sees O(1)-sized metadata per commit; data
volume never transits the catalog. Reads hand Spark a file list — pruning,
column projection and parallelism are Spark-native from there. File-count
per snapshot is controlled by the writer's partitioning, exactly like the
real Iceberg Spark writer.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from denali_spark.catalog.client import CatalogClient, CatalogHTTPError
from denali_spark.catalog.metadata import _fs_path  # file://-aware path mapping
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


def _find_top_level(text: str, word: str, start: int = 0) -> int:
    """Index of the first occurrence of keyword `word` (case-insensitive,
    word-bounded) outside single-quoted strings and parentheses — how the
    DML router splits statement clauses without a literal containing
    " where " or a USING subquery's JOIN ... ON fooling it."""
    depth = 0
    in_str = False
    i = start
    n = len(text)
    low = text.lower()
    wlow = word.lower()
    wl = len(word)
    while i < n:
        ch = text[i]
        if in_str:
            if ch == "'":
                if i + 1 < n and text[i + 1] == "'":
                    i += 2
                    continue
                in_str = False
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and low.startswith(wlow, i):
            before_ok = i == 0 or not (text[i - 1].isalnum() or text[i - 1] == "_")
            j = i + wl
            after_ok = j >= n or not (text[j].isalnum() or text[j] == "_")
            if before_ok and after_ok:
                return i
        i += 1
    return -1


def _parse_sql_literal(raw: str | None):
    """Parse a scalar SQL literal ('str', number, TRUE/FALSE) into the
    Python value stored in Iceberg metadata (e.g. a column's V3
    initial-default). None passes through (no literal present)."""
    if raw is None:
        return None
    raw = raw.strip()
    if raw.startswith("'") and raw.endswith("'"):
        return raw[1:-1].replace("''", "'")
    if raw.lower() in ("true", "false"):
        return raw.lower() == "true"
    try:
        return int(raw)
    except ValueError:
        pass
    try:
        return float(raw)
    except ValueError:
        raise ValueError(f"unparseable SQL literal {raw!r}") from None


def _parse_prop_assignment(item: str) -> tuple[str, str]:
    """Parse one `'key' = 'value'` pair, unescaping doubled quotes —
    the inverse of SHOW CREATE TABLE's rendering, so DDL round-trips."""
    import re as _re

    m = _re.fullmatch(
        r"\s*'((?:[^']|'')+)'\s*=\s*'((?:[^']|'')*)'\s*", item
    )
    if not m:
        raise ValueError(
            f"malformed property assignment {item!r} (expected 'key' = 'value')"
        )
    return m.group(1).replace("''", "'"), m.group(2).replace("''", "'")


def _split_top_level_commas(text: str) -> list[str]:
    """Split on commas outside single-quoted strings and parentheses —
    how SET-assignment and VALUES lists are separated without a nested
    function call's argument commas fooling the parser."""
    parts: list[str] = []
    cur: list[str] = []
    depth = 0
    in_str = False
    i = 0
    n = len(text)
    while i < n:
        ch = text[i]
        if in_str:
            cur.append(ch)
            if ch == "'":
                if i + 1 < n and text[i + 1] == "'":
                    cur.append(text[i + 1])
                    i += 2
                    continue
                in_str = False
        elif ch == "'":
            in_str = True
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    parts.append("".join(cur))
    return parts


def _rewrite_merge_quals(expr: str, t_names: set[str], s_names: set[str]) -> str:
    """Rewrite `alias.` qualifiers in a MERGE SET/VALUES expression to the
    canonical `t.` (target row) / `s.` (source row) aliases the engine
    binds, outside single-quoted literals — so users can qualify by table
    name or their own alias and the expression still resolves."""
    out: list[str] = []
    i = 0
    n = len(expr)
    in_str = False
    while i < n:
        ch = expr[i]
        if in_str:
            out.append(ch)
            if ch == "'":
                if i + 1 < n and expr[i + 1] == "'":
                    out.append(expr[i + 1])
                    i += 2
                    continue
                in_str = False
            i += 1
            continue
        if ch == "'":
            in_str = True
            out.append(ch)
            i += 1
            continue
        if ch.isalpha() or ch == "_":
            j = i
            while j < n and (expr[j].isalnum() or expr[j] == "_"):
                j += 1
            word = expr[i:j]
            prev_dot = i > 0 and expr[i - 1] == "."
            if j < n and expr[j] == "." and not prev_dot:
                lw = word.lower()
                if lw in t_names:
                    out.append("t.")
                    i = j + 1
                    continue
                if lw in s_names:
                    out.append("s.")
                    i = j + 1
                    continue
            out.append(word)
            i = j
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _strip_stmt(text: str) -> str:
    t = text.strip()
    return t[:-1].strip() if t.endswith(";") else t


def _split_top_level(text: str, sep: str) -> list[str]:
    """Split on `sep` outside parentheses and single-quoted strings."""
    parts: list[str] = []
    buf: list[str] = []
    depth = 0
    in_str = False
    i = 0
    while i < len(text):
        ch = text[i]
        if in_str:
            if ch == "'":
                if i + 1 < len(text) and text[i + 1] == "'":
                    buf.append("''")
                    i += 2
                    continue
                in_str = False
            buf.append(ch)
        elif ch == "'":
            in_str = True
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == sep and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return parts


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
    digit headroom) and integral→decimal with headroom. Everything else —
    narrowing, cross-family (string→int), timestamp drifts — must be an
    explicit CAST by the caller: a plain cast would silently NULL or wrap
    the lossy values instead of failing."""
    from pyspark.sql.types import (
        ByteType, DecimalType, DoubleType, FloatType, IntegerType, LongType,
        ShortType, TimestampType, DateType,
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
        """
        loaded = self.client.load_table(namespace, name)
        md = loaded["metadata"]
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
                self._manifest_entries(snap["manifest-list"])
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

    def sql(self, query: str, _depth: int = 0) -> DataFrame:
        """Run Spark SQL whose table references name CATALOG tables/views —
        the `spark.sql("select * from westeros.my_table")` client flow of
        the reference (/root/reference/examples/pyspark_example.py:30-36),
        without needing the Iceberg runtime jar.

        Resolution is parser-driven (sources/resolve.py): Spark's own
        parser finds the statement's table references, and each
        multi-part name is looked up once in the catalog — no catalog
        listing is read. A hit is loaded through the full read path (MoR
        deletes, schema evolution, branch state all apply) into a temp
        view, and exactly that reference's text is replaced by the view
        name; literals, comments, columns and CTE names are never touched.
        Supports Iceberg SQL time travel per reference:
        `ns.t FOR VERSION AS OF <snapshot-id|'ref'>` and
        `ns.t FOR TIMESTAMP AS OF '<ts>'` (UTC when naive), and the
        metadata relations `ns.t.snapshots` etc. Views resolve through
        their stored SQL representation (spark dialect preferred),
        recursively, with unqualified names in a view body resolved
        against the view's default-namespace.

        Write statements are routed to the write path:
        `INSERT INTO ns.t <select>` appends the select's rows,
        `INSERT OVERWRITE [TABLE] ns.t <select>` replaces the data in one
        overwrite snapshot (schema/identity kept), `TRUNCATE TABLE ns.t`
        commits an empty overwrite snapshot, and
        `CREATE [OR REPLACE] TABLE ns.t AS <select>` creates/overwrites —
        all through write_table (CAS-retried snapshot commits), returning
        the engine's commit-summary DataFrame.

        DDL lifecycle (round 9): `CREATE NAMESPACE [IF NOT EXISTS]`,
        `CREATE TABLE ns.t (col type ...)` with explicit schema,
        `CREATE [OR REPLACE] VIEW ns.v AS <select>`, and
        `DROP TABLE|VIEW|NAMESPACE [IF EXISTS] [PURGE]` complete the
        day-1 session of the reference's client example. Round 13 adds
        `CREATE MATERIALIZED VIEW ns.mv AS <group-by select>` /
        `REFRESH MATERIALIZED VIEW ns.mv` / `DROP MATERIALIZED VIEW` —
        incrementally MAINTAINED rollups (sources/ivm.py) whose refresh
        folds source changelog deltas instead of re-aggregating.

        Row-level DML (round 7): `DELETE FROM ns.t WHERE ...`,
        `UPDATE ns.t SET c = <expr>[, ...] WHERE ...`, and
        `MERGE INTO ns.t USING (<select>)|ns.src ON (keys) WHEN MATCHED
        THEN UPDATE|DELETE [WHEN NOT MATCHED THEN INSERT]` route into the
        row-level ops, choosing copy-on-write or merge-on-read from the
        table's Iceberg `write.<op>.mode` property; WHERE clauses parse
        into the scan-expression grammar so file pruning applies.

        Plan inspection (round 15): `EXPLAIN [EXTENDED|FORMATTED] <select>`
        returns the resolved plan WITHOUT executing it, headed by the
        materialized-view rewrite verdict (_sql_explain)."""
        import re as _re

        if _depth == 0:
            m = _re.match(
                r"\s*INSERT\s+INTO\s+([\w.]+)\s+(SELECT\b.*|VALUES\b.*)",
                query, _re.IGNORECASE | _re.DOTALL,
            )
            if m:
                return self._sql_write(m.group(1), m.group(2), mode="append")
            m = _re.match(
                r"\s*INSERT\s+OVERWRITE\s+(?:TABLE\s+)?([\w.]+)\s+"
                r"(SELECT\b.*|VALUES\b.*)",
                query, _re.IGNORECASE | _re.DOTALL,
            )
            if m:
                return self._sql_write(
                    m.group(1), m.group(2), mode="insert_overwrite"
                )
            m = _re.match(
                r"\s*TRUNCATE\s+TABLE\s+([\w.]+)\s*;?\s*$",
                query, _re.IGNORECASE,
            )
            if m:
                return self._sql_truncate(m.group(1))
            m = _re.match(
                r"\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+([\w.]+)\s+(.*?)"
                r"AS\s+(SELECT\b.*)",
                query, _re.IGNORECASE | _re.DOTALL,
            )
            if m:
                return self._sql_write(
                    m.group(2), m.group(4),
                    mode="overwrite" if m.group(1) else "create",
                    clause_sql=_strip_stmt(m.group(3)),
                )
            m = _re.match(
                r"\s*CREATE\s+NAMESPACE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)"
                r"\s*(.*)$",
                query, _re.IGNORECASE | _re.DOTALL,
            )
            if m:
                return self._sql_create_namespace(
                    m.group(2), bool(m.group(1)), _strip_stmt(m.group(3))
                )
            m = _re.match(
                r"\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*"
                r"\((.*)$",
                query, _re.IGNORECASE | _re.DOTALL,
            )
            if m:
                return self._sql_create_table(
                    m.group(2), bool(m.group(1)), _strip_stmt("(" + m.group(3))
                )
            m = _re.match(
                r"\s*CREATE\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s+AS\s+"
                r"(SELECT\b.*)$",
                query, _re.IGNORECASE | _re.DOTALL,
            )
            if m:
                return self._sql_create_mview(m.group(1), _strip_stmt(m.group(2)))
            m = _re.match(
                r"\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s*;?\s*$",
                query, _re.IGNORECASE,
            )
            if m:
                return self._sql_refresh_mview(m.group(1))
            m = _re.match(
                r"\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(IF\s+NOT\s+EXISTS\s+)?"
                r"([\w.]+)\s+AS\s+(SELECT\b.*)$",
                query, _re.IGNORECASE | _re.DOTALL,
            )
            if m:
                return self._sql_create_view(
                    m.group(3), _strip_stmt(m.group(4)),
                    or_replace=bool(m.group(1)),
                    if_not_exists=bool(m.group(2)),
                )
            m = _re.match(
                r"\s*DROP\s+(TABLE|MATERIALIZED\s+VIEW|VIEW|NAMESPACE)\s+"
                r"(IF\s+EXISTS\s+)?"
                r"([\w.]+)\s*(PURGE)?\s*;?\s*$",
                query, _re.IGNORECASE,
            )
            if m:
                kind = _re.sub(r"\s+", " ", m.group(1).upper())
                return self._sql_drop(
                    # a materialized view IS a table (+ the ivm.spec prop)
                    "TABLE" if kind == "MATERIALIZED VIEW" else kind,
                    m.group(3),
                    if_exists=bool(m.group(2)), purge=bool(m.group(4)),
                )
            m = _re.match(
                r"\s*DELETE\s+FROM\s+([\w.]+)\s*(.*)$",
                query, _re.IGNORECASE | _re.DOTALL,
            )
            if m:
                rest = _strip_stmt(m.group(2))
                w = _find_top_level(rest, "WHERE")
                if w < 0:
                    raise ValueError("DELETE FROM requires a WHERE clause")
                return self._sql_delete(m.group(1), rest[w + 5:])
            m = _re.match(
                r"\s*UPDATE\s+([\w.]+)\s+SET\s+(.+)$",
                query, _re.IGNORECASE | _re.DOTALL,
            )
            if m:
                rest = _strip_stmt(m.group(2))
                w = _find_top_level(rest, "WHERE")
                if w < 0:
                    raise ValueError("UPDATE requires a WHERE clause")
                return self._sql_update(m.group(1), rest[:w], rest[w + 5:])
            m = _re.match(
                r"\s*CALL\s+(?:[\w]+\.)?system\.(\w+)\s*\((.*)\)\s*;?\s*$",
                query, _re.IGNORECASE | _re.DOTALL,
            )
            if m:
                return self._sql_call(m.group(1).lower(), m.group(2))
            m = _re.match(
                r"\s*ALTER\s+TABLE\s+([\w.]+)\s+(.+)$",
                query, _re.IGNORECASE | _re.DOTALL,
            )
            if m:
                return self._sql_alter(m.group(1), _strip_stmt(m.group(2)))
            m = _re.match(
                r"\s*ALTER\s+VIEW\s+([\w.]+)\s+(.+)$",
                query, _re.IGNORECASE | _re.DOTALL,
            )
            if m:
                return self._sql_alter_view(m.group(1), _strip_stmt(m.group(2)))
            m = _re.match(
                r"\s*SET\s+(mv_rewrite(?:_max_staleness_ms)?)"
                r"\s*(?:=\s*(.+?))?\s*;?\s*$",
                query, _re.IGNORECASE,
            )
            if m:
                return self._sql_set(m.group(1).lower(), m.group(2))
            m = _re.match(
                r"\s*SHOW\s+(NAMESPACES|TABLES|MATERIALIZED\s+VIEWS|VIEWS|"
                r"TBLPROPERTIES|PARTITIONS|COLUMNS|CREATE\s+TABLE)\s*(.*)$",
                query, _re.IGNORECASE | _re.DOTALL,
            )
            if m:
                return self._sql_show(
                    _re.sub(r"\s+", " ", m.group(1).upper()),
                    _strip_stmt(m.group(2)),
                )
            m = _re.match(
                r"\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?(EXTENDED\s+)?([\w.]+)\s*;?\s*$",
                query, _re.IGNORECASE,
            )
            if m:
                return self._sql_describe(m.group(2), extended=bool(m.group(1)))
            m = _re.match(
                r"\s*EXPLAIN\s+(EXTENDED\s+|FORMATTED\s+)?(SELECT\b.*)$",
                query, _re.IGNORECASE | _re.DOTALL,
            )
            if m:
                return self._sql_explain(
                    m.group(2), (m.group(1) or "").strip().upper()
                )
            m = _re.match(
                r"\s*EXPLAIN\s+(EXTENDED\s+|FORMATTED\s+)?"
                r"((?:DELETE|UPDATE|MERGE)\b.*)$",
                query, _re.IGNORECASE | _re.DOTALL,
            )
            if m:
                return self._sql_explain_dml(
                    m.group(2), (m.group(1) or "").strip().upper()
                )
            if _re.match(r"\s*EXPLAIN\s", query, _re.IGNORECASE):
                # fail loudly rather than letting an EXPLAIN'd DDL leak
                # into the SELECT resolution path as query text
                raise ValueError(
                    "EXPLAIN supports SELECT and DELETE/UPDATE/MERGE "
                    "statements only — run the DDL itself (its commit "
                    "summary reports the plan class), or EXPLAIN the "
                    "equivalent SELECT"
                )
            m = _re.match(
                r"\s*MERGE\s+INTO\s+([\w.]+)(?:\s+(?:AS\s+)?(\w+))?\s+USING\s+(.+)$",
                query, _re.IGNORECASE | _re.DOTALL,
            )
            if m:
                rest = _strip_stmt(m.group(3))
                on_i = _find_top_level(rest, "ON")
                when_i = _find_top_level(rest, "WHEN", max(on_i, 0))
                if on_i < 0 or when_i <= on_i:
                    raise ValueError(
                        "MERGE needs USING <source> ON <keys> WHEN ... clauses"
                    )
                return self._sql_merge(
                    m.group(1), rest[:on_i], rest[on_i + 2: when_i],
                    rest[when_i:], target_alias=m.group(2),
                )

            # Materialized-view rewrite (round 14): a rollup-shaped SELECT
            # whose keys/aggregates/predicate a maintained MV subsumes is
            # answered from the summary table instead of the base scan —
            # governed by self.mv_rewrite ('fresh-only' default; 'off' /
            # 'refresh' / 'stale-ok'), details in sources/mv_rewrite.py;
            # the outcome lands in self.last_mv_rewrite.
            from denali_spark.sources.mv_rewrite import try_rewrite

            rewritten_df = try_rewrite(self, query)
            if rewritten_df is not None:
                return rewritten_df

        from denali_spark.sources.resolve import resolve_sql

        return resolve_sql(self, query, _depth)

    # Iceberg Spark's stored procedures (CALL catalog.system.<proc>(...))
    # mapped onto the engine's maintenance/branch functions. Values are
    # (callable taking (io, ns, name, **kwargs), allowed kwargs).
    _PROCEDURES = {
        "expire_snapshots": ("_proc_expire", ("retain_last", "older_than")),
        "remove_orphan_files": ("_proc_orphans", ("older_than", "dry_run")),
        "rewrite_data_files": ("_proc_compact", ("target_file_size_bytes", "where")),
        "rewrite_position_delete_files": ("_proc_rewrite_deletes", ()),
        "rollback_to_snapshot": ("_proc_rollback", ("snapshot_id",)),
        "cherrypick_snapshot": ("_proc_cherrypick", ("snapshot_id",)),
        "ancestors_of": ("_proc_ancestors", ()),
        "compute_table_stats": ("_proc_analyze", ("columns",)),
        "refresh_materialized_view": ("_proc_refresh_mview", ()),
        "verify_materialized_view": ("_proc_verify_mview", ()),
    }

    def _sql_call(self, proc: str, args_sql: str) -> DataFrame:
        """CALL system.<proc>(table => 'ns.t', ...) — the Iceberg Spark
        stored-procedure surface (its users run exactly these for day-2
        ops). Named `name => value` arguments; `table` is required.
        Positional shorthand CALL system.p('ns.t') is accepted for the
        table argument."""
        import re as _re

        if proc not in self._PROCEDURES:
            raise ValueError(
                f"unknown procedure {proc!r}; one of "
                f"{sorted(self._PROCEDURES)}"
            )
        method_name, allowed = self._PROCEDURES[proc]
        kwargs: dict = {}
        table = None
        for part in _split_top_level(args_sql, ","):
            part = part.strip()
            if not part:
                continue
            m = _re.match(r"(\w+)\s*=>\s*(.+)$", part, _re.DOTALL)
            if m:
                key, raw = m.group(1).lower(), m.group(2).strip()
            else:
                key, raw = "table", part
            if raw.startswith("'") and raw.endswith("'"):
                val: object = raw[1:-1].replace("''", "'")
            elif raw.lower() in ("true", "false"):
                val = raw.lower() == "true"
            else:
                try:
                    val = int(raw)
                except ValueError:
                    raise ValueError(
                        f"procedure argument {key!r}: unparseable value {raw!r}"
                    ) from None
            if key == "table":
                table = str(val)
            elif key in allowed:
                kwargs[key] = val
            else:
                raise ValueError(
                    f"procedure {proc!r} does not take argument {key!r} "
                    f"(allowed: table, {', '.join(allowed) or '-'})"
                )
        if table is None:
            raise ValueError(f"procedure {proc!r} requires table => 'ns.t'")
        ns, name, _md = self._dml_target(table)
        return getattr(self, method_name)(ns, name, **kwargs)

    def _proc_row(self, **cols) -> DataFrame:
        return self.spark.range(1).select(
            *[F.lit(v).alias(k) for k, v in cols.items()]
        )

    def _proc_refresh_mview(self, ns, name):
        # the CALL spelling of REFRESH MATERIALIZED VIEW, so maintenance
        # runbooks that already chain system procedures can fold MVs too
        return self._sql_refresh_mview(".".join([*ns, name]))

    def _proc_verify_mview(self, ns, name):
        from denali_spark.sources import ivm as _ivm

        r = _ivm.verify_materialized_view(self, ns, name)
        return self._proc_row(**r)

    def _proc_expire(self, ns, name, retain_last=1, older_than=None):
        from denali_spark.sources.maintenance import expire_snapshots

        ms = None
        if older_than is not None:
            import datetime as _dt

            dt = _dt.datetime.fromisoformat(str(older_than))
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=_dt.timezone.utc)
            ms = int(dt.timestamp() * 1000)
        r = expire_snapshots(
            self, ns, name, keep_last=int(retain_last), older_than_ms=ms
        )
        return self._proc_row(
            procedure="expire_snapshots", noop=bool(r.get("noop"))
        )

    def _proc_orphans(self, ns, name, older_than=None, dry_run=False):
        from denali_spark.sources.maintenance import remove_orphan_files

        ms = None
        if older_than is not None:
            import datetime as _dt

            dt = _dt.datetime.fromisoformat(str(older_than))
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=_dt.timezone.utc)
            ms = int(dt.timestamp() * 1000)
        r = remove_orphan_files(
            self, ns, name, older_than_ms=ms, dry_run=bool(dry_run)
        )
        return self._proc_row(
            procedure="remove_orphan_files",
            orphan_file_count=len(r.get("removed", r.get("orphans", []))),
        )

    def _proc_compact(
        self, ns, name, target_file_size_bytes=128 * 1024 * 1024, where=None
    ):
        """`where` (Iceberg's rewrite_data_files filter): SQL predicate
        text scoping the rewrite to matching files — compact one hot
        partition without touching the other 100k."""
        from denali_spark.sources.maintenance import compact_data_files

        r = compact_data_files(
            self, ns, name,
            target_file_size_bytes=int(target_file_size_bytes),
            where=str(where) if where is not None else None,
        )
        return self._proc_row(
            procedure="rewrite_data_files", noop=bool(r.get("noop"))
        )

    def _proc_rewrite_deletes(self, ns, name):
        from denali_spark.sources.mor import rewrite_deletes

        r = rewrite_deletes(self, ns, name)
        return self._proc_row(
            procedure="rewrite_position_delete_files", noop=bool(r.get("noop"))
        )

    def _proc_rollback(self, ns, name, snapshot_id=None):
        if snapshot_id is None:
            raise ValueError("rollback_to_snapshot requires snapshot_id => N")
        self.rollback_to_snapshot(ns, name, int(snapshot_id))
        return self._proc_row(
            procedure="rollback_to_snapshot", snapshot_id=int(snapshot_id)
        )

    def _proc_cherrypick(self, ns, name, snapshot_id=None):
        if snapshot_id is None:
            raise ValueError("cherrypick_snapshot requires snapshot_id => N")
        self.cherry_pick_snapshot(ns, name, int(snapshot_id))
        md = self.client.load_table(ns, name)["metadata"]
        return self._proc_row(
            procedure="cherrypick_snapshot",
            current_snapshot_id=md["refs"][MAIN]["snapshot-id"],
        )

    def _proc_ancestors(self, ns, name):
        md = self.client.load_table(ns, name)["metadata"]
        by_id = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
        out = []
        cur = md.get("refs", {}).get(MAIN, {}).get("snapshot-id")
        while cur is not None and cur in by_id:
            s = by_id[cur]
            out.append((s["snapshot-id"], s["timestamp-ms"]))
            cur = s.get("parent-snapshot-id")
        return self.spark.createDataFrame(
            out, "snapshot_id long, timestamp_ms long"
        )

    def _proc_analyze(self, ns, name, columns=None):
        from denali_spark.sources.maintenance import analyze_table_incremental

        r = analyze_table_incremental(self, ns, name)
        return self._proc_row(
            procedure="compute_table_stats",
            mode=str(r.get("mode", "noop")),
            row_count=int(r.get("row-count", -1)),
        )

    def _dml_target(self, qualified: str) -> tuple[list[str], str, dict]:
        parts = qualified.split(".")
        if len(parts) < 2:
            raise ValueError(
                f"unqualified DML target {qualified!r}: use ns.table"
            )
        ns, name = parts[:-1], parts[-1]
        return ns, name, self.client.load_table(ns, name)["metadata"]

    def _row_op_mode(self, md: dict, op: str) -> str:
        """Iceberg's write.<op>.mode table property picks the strategy:
        copy-on-write (default — rewrite affected files) or merge-on-read
        (deletion vectors / appended replacements)."""
        mode = md.get("properties", {}).get(f"write.{op}.mode", "copy-on-write")
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"write.{op}.mode must be copy-on-write|merge-on-read")
        return mode

    def _dml_summary(
        self, qualified: str, operation: str, mode: str, result: dict
    ) -> DataFrame:
        # the op returns the post-commit (or noop) metadata — reloading
        # here could report a CONCURRENT writer's snapshot instead
        md = result.get("metadata")
        if md is None:
            _ns, _name, md = self._dml_target(qualified)
        snap = md.get("refs", {}).get(MAIN, {}).get("snapshot-id")
        return self.spark.range(1).select(
            F.lit(qualified).alias("table"),
            F.lit(operation).alias("operation"),
            F.lit(mode).alias("mode"),
            F.lit(snap).cast("long").alias("snapshot_id"),
            F.lit(bool(result.get("noop"))).alias("noop"),
        )

    def _alter_summary(self, qualified: str, operation: str, detail: str) -> DataFrame:
        return self.spark.range(1).select(
            F.lit(qualified).alias("table"),
            F.lit(operation).alias("operation"),
            F.lit(detail).alias("detail"),
        )

    @staticmethod
    def _parse_partition_field(text: str) -> tuple[str, str]:
        """Iceberg DDL partition-transform spelling → (column, transform):
        bare column, years/months/days/hours(col), year/month/day/hour(col),
        bucket(N, col), truncate(W, col)."""
        import re as _re

        t = text.strip()
        m = _re.fullmatch(r"(\w+)", t)
        if m:
            return m.group(1), "identity"
        m = _re.fullmatch(
            r"(years?|months?|days?|hours?)\s*\(\s*(\w+)\s*\)", t, _re.IGNORECASE
        )
        if m:
            return m.group(2), m.group(1).lower().rstrip("s")
        m = _re.fullmatch(
            r"(bucket|truncate)\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)", t, _re.IGNORECASE
        )
        if m:
            return m.group(3), f"{m.group(1).lower()}[{m.group(2)}]"
        raise ValueError(
            f"unsupported partition field {text!r} (expected col, "
            "years/months/days/hours(col), bucket(N, col), or "
            "truncate(W, col))"
        )

    @staticmethod
    def _render_transform(col: str, transform: str) -> str:
        if transform == "identity":
            return col
        m = __import__("re").fullmatch(r"(bucket|truncate)\[(\d+)\]", transform)
        if m:
            return f"{m.group(1)}({m.group(2)}, {col})"
        # Spark DDL spells temporal transforms plural (months(ts)), while
        # Iceberg metadata stores them singular — render the DDL spelling
        # so SHOW CREATE TABLE output re-parses through a Spark parser.
        plural = {"year": "years", "month": "months",
                  "day": "days", "hour": "hours"}
        return f"{plural.get(transform, transform)}({col})"

    @staticmethod
    def _match_paren(text: str) -> int:
        """Index of the ')' closing the '(' at text[0], honoring nested
        parens and single-quoted literals. -1 when unbalanced."""
        depth, i, n = 0, 0, len(text)
        while i < n:
            c = text[i]
            if c == "'":
                j = text.find("'", i + 1)
                if j < 0:
                    return -1
                i = j
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    return i
            i += 1
        return -1

    def _sql_create_namespace(
        self, qualified: str, if_not_exists: bool, rest: str
    ) -> DataFrame:
        """CREATE NAMESPACE [IF NOT EXISTS] ns[.child] [PROPERTIES (...)] —
        the reference client example's literal first statement
        (/root/reference/examples/pyspark_example.py:30), routed to the
        §2.A create-namespace endpoint."""
        import re as _re

        levels = qualified.split(".")
        props: dict[str, str] = {}
        if rest:
            pm = _re.fullmatch(
                r"(?:WITH\s+)?(?:DB)?PROPERTIES\s*\((.+)\)", rest,
                _re.IGNORECASE | _re.DOTALL,
            )
            if not pm:
                raise ValueError(
                    f"unsupported CREATE NAMESPACE clause {rest[:60]!r}"
                )
            for item in _split_top_level_commas(pm.group(1)):
                k, v = _parse_prop_assignment(item)
                props[k] = v
        if self.client.namespace_exists(levels):
            if if_not_exists:
                return self._alter_summary(
                    qualified, "create-namespace", "exists (noop)"
                )
            raise ValueError(f"namespace {qualified!r} already exists")
        self.client.create_namespace(levels, properties=props or None)
        return self._alter_summary(qualified, "create-namespace", "created")

    def _sql_create_table(
        self, qualified: str, if_not_exists: bool, body: str
    ) -> DataFrame:
        """CREATE TABLE [IF NOT EXISTS] ns.t (col type [NOT NULL]
        [DEFAULT lit] [COMMENT '...'], ...) [USING iceberg]
        [PARTITIONED BY (col | transform(col), ...)]
        [TBLPROPERTIES ('k' = 'v', ...)] — explicit-schema creation routed
        to the §2.A createTable endpoint (reference logic/table.go
        assigns field ids the same 1..N way). Complements the CTAS path,
        which derives the schema from a select instead."""
        import re as _re

        from denali_spark.sources.partitioning import build_partition_spec
        from denali_spark.sources.schema_convert import ddl_type_to_iceberg

        parts = qualified.split(".")
        namespace, name = parts[:-1], parts[-1]
        if not namespace:
            raise ValueError(
                f"unqualified table name {qualified!r}: use ns.table"
            )
        close = self._match_paren(body)
        if close < 0:
            raise ValueError("unbalanced parentheses in column list")
        col_body, tail = body[1:close], body[close + 1:].strip()

        fields = []
        for i, col_def in enumerate(_split_top_level_commas(col_body)):
            cm = _re.fullmatch(
                r"\s*(\w+)\s+([\w()\s,]+?)"
                r"(?:\s+(NOT\s+NULL))?"
                r"(?:\s+DEFAULT\s+('(?:[^']|'')*'|[-\w.]+))?"
                r"(?:\s+COMMENT\s+'((?:[^']|'')*)')?\s*",
                col_def, _re.IGNORECASE,
            )
            if not cm:
                raise ValueError(f"malformed column definition {col_def!r}")
            field = {
                "id": i + 1,
                "name": cm.group(1),
                "type": ddl_type_to_iceberg(cm.group(2)),
                "required": bool(cm.group(3)),
            }
            default = _parse_sql_literal(cm.group(4))
            if default is not None:
                field["initial-default"] = default
                field["write-default"] = default
            if cm.group(5):
                field["doc"] = cm.group(5).replace("''", "'")
            fields.append(field)
        if not fields:
            raise ValueError("CREATE TABLE requires at least one column")
        schema = {"type": "struct", "schema-id": 0, "fields": fields}

        partition_by, properties = self._parse_table_clauses(tail)

        if self.client.table_exists(namespace, name):
            if if_not_exists:
                return self._alter_summary(
                    qualified, "create-table", "exists (noop)"
                )
            raise ValueError(f"table {qualified!r} already exists")
        if not self.client.namespace_exists(namespace):
            self.client.create_namespace(namespace)
        spec = (
            build_partition_spec(partition_by, schema) if partition_by else None
        )
        self.client.create_table(
            namespace, name, schema,
            partition_spec=spec, properties=properties or None,
        )
        return self._alter_summary(
            qualified, "create-table",
            f"{len(fields)} columns"
            + (f", partitioned by {len(partition_by)}" if partition_by else ""),
        )

    def _parse_table_clauses(
        self, tail: str
    ) -> tuple[list[tuple[str, str]], dict[str, str]]:
        """Parse the optional clause tail of a CREATE TABLE / CTAS —
        `[USING iceberg] [PARTITIONED BY (...)] [TBLPROPERTIES (...)]`
        in any order — into (partition_by, properties)."""
        import re as _re

        tail = tail.strip()
        partition_by: list[tuple[str, str]] = []
        properties: dict[str, str] = {}
        while tail:
            um = _re.match(r"USING\s+(\w+)\s*", tail, _re.IGNORECASE)
            if um:
                if um.group(1).lower() != "iceberg":
                    raise ValueError(
                        f"unsupported provider {um.group(1)!r} (USING iceberg)"
                    )
                tail = tail[um.end():]
                continue
            pm = _re.match(r"PARTITIONED\s+BY\s*(\(.*)$", tail,
                           _re.IGNORECASE | _re.DOTALL)
            if pm:
                rest = pm.group(1)
                close = self._match_paren(rest)
                if close < 0:
                    raise ValueError("unbalanced PARTITIONED BY parentheses")
                partition_by = [
                    self._parse_partition_field(p)
                    for p in _split_top_level_commas(rest[1:close])
                ]
                tail = rest[close + 1:].strip()
                continue
            tm = _re.match(r"TBLPROPERTIES\s*(\(.*)$", tail,
                           _re.IGNORECASE | _re.DOTALL)
            if tm:
                rest = tm.group(1)
                close = self._match_paren(rest)
                if close < 0:
                    raise ValueError("unbalanced TBLPROPERTIES parentheses")
                for item in _split_top_level_commas(rest[1:close]):
                    k, v = _parse_prop_assignment(item)
                    properties[k] = v
                tail = rest[close + 1:].strip()
                continue
            raise ValueError(f"unsupported CREATE TABLE clause {tail[:60]!r}")
        return partition_by, properties

    def _sql_create_mview(self, qualified: str, select_sql: str) -> DataFrame:
        """CREATE MATERIALIZED VIEW ns.mv AS <select> — an incrementally
        MAINTAINED rollup (sources/ivm.py): the parsed spec is stamped into
        the target's table properties, so `REFRESH MATERIALIZED VIEW ns.mv`
        folds source changelog deltas with no spec re-supplied. The target
        is a real catalog table — readable, time-travelable, droppable via
        DROP MATERIALIZED VIEW (or DROP TABLE)."""
        from denali_spark.sources import ivm as _ivm

        parts = qualified.split(".")
        namespace, name = parts[:-1], parts[-1]
        if not namespace:
            raise ValueError(f"unqualified name {qualified!r}: use ns.mv")
        res = _ivm.create_materialized_view(self, namespace, name, select_sql)
        return self._alter_summary(
            qualified, "create-materialized-view", res["kind"]
        )

    def _sql_refresh_mview(self, qualified: str) -> DataFrame:
        """REFRESH MATERIALIZED VIEW ns.mv — incremental fold of source
        changes since the stored watermark(s); returns the refresh report."""
        from denali_spark.sources import ivm as _ivm

        parts = qualified.split(".")
        namespace, name = parts[:-1], parts[-1]
        if not namespace:
            raise ValueError(f"unqualified name {qualified!r}: use ns.mv")
        res = _ivm.refresh_materialized_view(self, namespace, name)
        kind = "noop" if res.get("noop") else res["kind"]
        return self.spark.range(1).select(
            F.lit(qualified).alias("table"),
            F.lit(kind).alias("kind"),
            F.lit(int(res.get("delta_groups", 0))).alias("delta_groups"),
            F.lit(int(res.get("rescanned_groups", 0))).alias("rescanned_groups"),
            F.lit(int(res.get("rewritten_files", 0))).alias("rewritten_files"),
            F.lit(int(res.get("carried_files", 0))).alias("carried_files"),
        )

    def _sql_create_view(
        self, qualified: str, select_sql: str, *,
        or_replace: bool, if_not_exists: bool,
    ) -> DataFrame:
        """CREATE [OR REPLACE] VIEW [IF NOT EXISTS] ns.v AS <select> —
        §2.A view plane via SQL. The select's resolved schema is stored in
        the view metadata (analysis only — no job runs), so DESCRIBE can
        answer from metadata without touching any table manifests."""
        from denali_spark.sources.schema_convert import spark_schema_to_iceberg

        parts = qualified.split(".")
        namespace, name = parts[:-1], parts[-1]
        if not namespace:
            raise ValueError(
                f"unqualified view name {qualified!r}: use ns.view"
            )
        # Analysis-only schema capture: .schema triggers resolution, not
        # execution, so creating a view never scans data files.
        schema = spark_schema_to_iceberg(self.sql(select_sql).schema)
        exists = self.client.view_exists(namespace, name)
        if exists and if_not_exists:
            return self._alter_summary(
                qualified, "create-view", "exists (noop)"
            )
        if exists and not or_replace:
            raise ValueError(
                f"view {qualified!r} already exists (use CREATE OR REPLACE)"
            )
        if not self.client.namespace_exists(namespace):
            self.client.create_namespace(namespace)
        if not exists:
            self.client.create_view(
                namespace, name, select_sql, dialect="spark", schema=schema,
            )
            return self._alter_summary(qualified, "create-view", "created")
        # OR REPLACE on an existing view: one commit appending a new
        # schema + version and flipping current — history preserved
        # (version-log keeps the old versions addressable via time travel).
        import time as _time

        md = self.client.load_view(namespace, name)["metadata"]
        new_sid = max(s["schema-id"] for s in md["schemas"]) + 1
        new_vid = max(v["version-id"] for v in md["versions"]) + 1
        schema = dict(schema)
        schema["schema-id"] = new_sid
        self.client.replace_view(
            namespace, name,
            requirements=[
                {"type": "assert-view-uuid", "uuid": md["view-uuid"]}
            ],
            updates=[
                {"action": "add-schema", "schema": schema},
                {"action": "add-view-version", "view-version": {
                    "version-id": new_vid,
                    "timestamp-ms": int(_time.time() * 1000),
                    "schema-id": new_sid,
                    "summary": {"operation": "replace"},
                    "representations": [
                        {"type": "sql", "sql": select_sql, "dialect": "spark"}
                    ],
                    "default-namespace": namespace,
                }},
                {"action": "set-current-view-version",
                 "view-version-id": new_vid},
            ],
        )
        return self._alter_summary(
            qualified, "replace-view", f"version {new_vid}"
        )

    def _sql_drop(
        self, kind: str, qualified: str, *, if_exists: bool, purge: bool
    ) -> DataFrame:
        """DROP TABLE [IF EXISTS] ns.t [PURGE] / DROP VIEW ns.v /
        DROP NAMESPACE ns — §2.A delete endpoints as SQL. Dropping an MV
        also removes its entries from its sources."""
        levels = qualified.split(".")
        if kind == "NAMESPACE":
            if purge:
                raise ValueError("PURGE applies to DROP TABLE only")
            if not self.client.namespace_exists(levels):
                if if_exists:
                    return self._alter_summary(
                        qualified, "drop-namespace", "absent (noop)"
                    )
                raise ValueError(f"namespace {qualified!r} does not exist")
            self.client.drop_namespace(levels)
            return self._alter_summary(qualified, "drop-namespace", "dropped")
        namespace, name = levels[:-1], levels[-1]
        if not namespace:
            raise ValueError(
                f"unqualified name {qualified!r}: use ns.{kind.lower()}"
            )
        if kind == "TABLE":
            from denali_spark.sources.ivm import unlist_materialized_view

            try:
                md = self.client.load_table(namespace, name)["metadata"]
            except CatalogHTTPError as exc:
                if exc.status != 404:
                    raise
                if if_exists:
                    return self._alter_summary(
                        qualified, "drop-table", "absent (noop)"
                    )
                raise ValueError(f"table {qualified!r} does not exist") from None
            self.client.drop_table(namespace, name, purge=purge)
            unlist_materialized_view(self, md)
            return self._alter_summary(
                qualified, "drop-table", "purged" if purge else "dropped"
            )
        if purge:
            raise ValueError("PURGE applies to DROP TABLE only")
        if not self.client.view_exists(namespace, name):
            if if_exists:
                return self._alter_summary(
                    qualified, "drop-view", "absent (noop)"
                )
            raise ValueError(f"view {qualified!r} does not exist")
        self.client.drop_view(namespace, name)
        return self._alter_summary(qualified, "drop-view", "dropped")

    def _sql_alter_view(self, qualified: str, action_sql: str) -> DataFrame:
        """ALTER VIEW ns.v — the Spark-SQL view-evolution spellings over
        the §2.C view update ops:

        - SET TBLPROPERTIES ('k' = 'v', ...) / UNSET TBLPROPERTIES ('k', ...)
        - AS <select>  (replace the view query; same one-commit
          schema+version append as CREATE OR REPLACE VIEW)
        """
        import re as _re

        parts = qualified.split(".")
        namespace, name = parts[:-1], parts[-1]
        if not namespace:
            raise ValueError(f"unqualified view name {qualified!r}: use ns.view")
        if not self.client.view_exists(namespace, name):
            raise ValueError(f"view {qualified!r} does not exist")
        act = action_sql.strip()

        m = _re.match(r"AS\s+(SELECT\b.*)$", act, _re.IGNORECASE | _re.DOTALL)
        if m:
            return self._sql_create_view(
                qualified, _strip_stmt(m.group(1)),
                or_replace=True, if_not_exists=False,
            )
        m = _re.match(
            r"(UN)?SET\s+TBLPROPERTIES\s*\((.+)\)$", act,
            _re.IGNORECASE | _re.DOTALL,
        )
        if m:
            md = self.client.load_view(namespace, name)["metadata"]
            if m.group(1):
                keys = []
                for item in _split_top_level_commas(m.group(2)):
                    km = _re.fullmatch(r"\s*'([^']+)'\s*", item)
                    if not km:
                        raise ValueError(f"malformed property key {item!r}")
                    keys.append(km.group(1))
                updates = [{"action": "remove-properties", "removals": keys}]
                op, detail = "unset-view-properties", ",".join(keys)
            else:
                props = {}
                for item in _split_top_level_commas(m.group(2)):
                    k, v = _parse_prop_assignment(item)
                    props[k] = v
                updates = [{"action": "set-properties", "updates": props}]
                op, detail = "set-view-properties", ",".join(sorted(props))
            self.client.replace_view(
                namespace, name,
                requirements=[
                    {"type": "assert-view-uuid", "uuid": md["view-uuid"]}
                ],
                updates=updates,
            )
            return self._alter_summary(qualified, op, detail)
        raise ValueError(f"unsupported ALTER VIEW action {act[:60]!r}")

    def _sql_truncate(self, qualified: str) -> DataFrame:
        """TRUNCATE TABLE ns.t — one overwrite snapshot carrying zero data
        files. Schema, properties, refs, and history stay: time travel
        still reaches every pre-truncate snapshot, and a rollback undoes
        the truncate (unlike a drop+recreate). No data is scanned — the
        empty relation comes from the schema alone."""
        from pyspark.sql.types import StructType

        from denali_spark.sources.schema_convert import iceberg_schema_to_ddl
        from denali_spark.sources.schema_evolution import current_schema

        ns, name, md = self._dml_target(qualified)
        empty = self.spark.createDataFrame(
            [],
            schema=StructType.fromDDL(
                iceberg_schema_to_ddl(current_schema(md), strict=False)
            ),
        )
        res = self.write_table(empty, ns, name, mode="overwrite")
        return self._dml_summary(
            qualified, "truncate", "overwrite",
            res if isinstance(res, dict) else {},
        )

    def _sql_explain(self, select_sql: str, mode: str) -> DataFrame:
        """EXPLAIN [EXTENDED|FORMATTED] <select> — the plan-inspection
        surface for the catalog SQL flow: resolves the SELECT exactly as
        sql() would (catalog reads, time travel, the MV-rewrite pass under
        the session's mv_rewrite policy) WITHOUT executing it, and returns
        one 'plan' row, headed by the materialized-view rewrite verdict
        (the served view + freshness/reduction flags, or 'not applied')
        so operators can see WHY a query reads a summary table. Under
        mv_rewrite='refresh' the match runs downgraded to 'stale-ok' so
        that EXPLAIN — a diagnostic — never commits a refresh snapshot to
        the catalog; the verdict header notes the downgrade so the
        operator knows the real query would fold the delta first.
        FORMATTED mirrors Spark's codegen-span view; EXTENDED includes
        the analyzed/optimized trees."""
        import json as _json

        policy = self.mv_rewrite
        bound = getattr(self, "mv_rewrite_max_staleness_ms", None)
        downgraded = policy == "refresh"
        if downgraded:
            # stale-ok stands in for refresh, and the staleness bound is
            # suspended: refresh mode serves ANY refreshable view, so the
            # explain must not let a stale-ok-only bound hide the match.
            self.mv_rewrite = "stale-ok"
            self.mv_rewrite_max_staleness_ms = None
        try:
            df = self.sql(select_sql)
        finally:
            self.mv_rewrite = policy
            self.mv_rewrite_max_staleness_ms = bound
        info = self.last_mv_rewrite
        if downgraded and info:
            info = {**info, "explain_policy_downgrade": "refresh->stale-ok"}
        qe = df._jdf.queryExecution()
        text = None
        if mode == "FORMATTED":
            try:
                jem = self.spark._jvm.org.apache.spark.sql.execution.ExplainMode
                text = qe.explainString(jem.fromString("formatted"))
            except Exception:  # noqa: BLE001 — JVM surface drift: degrade
                text = None
        if text is None:
            text = qe.toString() if mode == "EXTENDED" else qe.simpleString()
        header = "== Materialized View Rewrite ==\n" + (
            _json.dumps(info) if info else "not applied"
        )
        return self.spark.createDataFrame(
            [(header + "\n\n" + text,)], "plan string"
        )

    def _sql_set(self, key: str, value: str | None) -> DataFrame:
        """SET mv_rewrite [= off|fresh-only|refresh|stale-ok|topup] /
        SET mv_rewrite_max_staleness_ms [= <ms>|NONE] — the SQL spelling
        of the session rewrite knobs (Spark's `SET key[=value]` shape:
        no value reads the current setting). Scoped to exactly these two
        keys: anything else raises rather than shadowing Spark's own
        session configuration surface."""
        from denali_spark.sources.mv_rewrite import MODES

        if value is not None:
            v = value.strip().strip("'\"")
            if key == "mv_rewrite":
                if v not in MODES:
                    raise ValueError(
                        f"mv_rewrite must be one of {MODES}, got {v!r}"
                    )
                self.mv_rewrite = v
            else:
                if v.upper() in ("NONE", "NULL"):
                    self.mv_rewrite_max_staleness_ms = None
                else:
                    try:
                        self.mv_rewrite_max_staleness_ms = int(v)
                    except ValueError:
                        raise ValueError(
                            "mv_rewrite_max_staleness_ms must be an "
                            f"integer millisecond count or NONE, got {v!r}"
                        ) from None
        current = (
            self.mv_rewrite if key == "mv_rewrite"
            else getattr(self, "mv_rewrite_max_staleness_ms", None)
        )
        return self.spark.createDataFrame(
            [(key, str(current))], "key string, value string"
        )

    def _sql_explain_dml(self, stmt: str, mode: str) -> DataFrame:
        """EXPLAIN [EXTENDED|FORMATTED] DELETE/UPDATE/MERGE — the READ
        side of the row-level operation, without committing anything: the
        target scan (file pruning from the WHERE / merge keys applies
        exactly as the real op's scan would), the match predicate, and
        the CoW/MoR strategy the write would take and why (the table's
        write.<op>.mode property). The write side is deliberately absent:
        its file set depends on the matched rows, which EXPLAIN must not
        compute. Zero snapshots are created. Returns one 'plan' row, same
        shape as EXPLAIN SELECT."""
        import json as _json
        import re as _re


        stmt = _strip_stmt(stmt)
        md_props = None
        # clause splitting is top-level-scan based (_find_top_level), the
        # same literal-aware rule the real DML router uses — a SET value
        # containing the text 'WHERE' must not truncate the predicate
        if m := _re.match(r"DELETE\s+FROM\s+([\w.]+)\s+(.+)$",
                          stmt, _re.IGNORECASE | _re.DOTALL):
            op, qualified = "delete", m.group(1)
            rest = m.group(2)
            w = _find_top_level(rest, "WHERE")
            if w < 0:
                raise ValueError("DELETE FROM requires a WHERE clause")
            where_sql = rest[w + 5:]
        elif m := _re.match(r"UPDATE\s+([\w.]+)\s+SET\s+(.+)$",
                            stmt, _re.IGNORECASE | _re.DOTALL):
            op, qualified = "update", m.group(1)
            rest = m.group(2)
            w = _find_top_level(rest, "WHERE")
            if w < 0:
                raise ValueError("UPDATE requires a WHERE clause")
            where_sql = rest[w + 5:]
        elif m := _re.match(
            r"MERGE\s+INTO\s+([\w.]+)(?:\s+(?:AS\s+)?\w+)?\s+USING\s+(.+)$",
            stmt, _re.IGNORECASE | _re.DOTALL,
        ):
            op, qualified, where_sql = "merge", m.group(1), None
            rest = _strip_stmt(m.group(2))
            on_i = _find_top_level(rest, "ON")
            when_i = _find_top_level(rest, "WHEN", max(on_i, 0))
            if on_i < 0 or when_i <= on_i:
                raise ValueError(
                    "MERGE needs USING <source> ON <keys> WHEN ... clauses"
                )
            merge_on = rest[on_i + 2: when_i].strip()
        else:
            raise ValueError(
                f"unsupported DML shape under EXPLAIN: {stmt[:60]!r}"
            )
        ns, name, md = self._dml_target(qualified)
        strategy = self._row_op_mode(md, op)
        md_props = md.get("properties", {}).get(f"write.{op}.mode")
        if where_sql is not None:
            # scan-grammar → file pruning; raw-SQL fallback → full read
            expr = self._parse_dml_where(where_sql)
            read_df = self.read_table(ns, name, where=expr).filter(
                F.expr(where_sql)
            )
            match_desc = where_sql.strip()
        else:
            # merge read side: the target scan joined to the source on the
            # equality keys — the probe that decides matched rows
            read_df = self.read_table(ns, name)
            match_desc = f"ON {merge_on}"
        header = "== DML Read Plan ==\n" + _json.dumps({
            "operation": op,
            "target": ".".join([*ns, name]),
            "strategy": strategy,
            "strategy_source": (
                f"write.{op}.mode={md_props}" if md_props
                else f"default (write.{op}.mode unset)"
            ),
            "match": match_desc,
            "note": "read side only — no snapshot was created",
        })
        qe = read_df._jdf.queryExecution()
        if mode == "FORMATTED":
            try:
                jem = self.spark._jvm.org.apache.spark.sql.execution.ExplainMode
                text = qe.explainString(jem.fromString("formatted"))
            except Exception:  # noqa: BLE001 — JVM surface drift: degrade
                text = qe.simpleString()
        else:
            text = qe.toString() if mode == "EXTENDED" else qe.simpleString()
        return self.spark.createDataFrame(
            [(header + "\n\n" + text,)], "plan string"
        )

    def _sql_show(self, what: str, rest: str) -> DataFrame:
        """SHOW NAMESPACES [IN parent] / SHOW TABLES|VIEWS|MATERIALIZED
        VIEWS [IN ns] / SHOW TBLPROPERTIES ns.t / SHOW PARTITIONS ns.t /
        SHOW CREATE TABLE ns.t — the Spark-SQL catalog-inspection surface
        over the REST listing endpoints (§2.A list operations)."""
        import re as _re

        rest = rest.strip().rstrip(";").strip()
        m = _re.fullmatch(r"(?:IN|FROM)\s+([\w.]+)", rest, _re.IGNORECASE)
        scope = m.group(1).split(".") if m else None
        if what == "NAMESPACES":
            rows = [
                (".".join(ns),) for ns in self.client.list_namespaces(scope)
            ]
            return self.spark.createDataFrame(rows, "namespace string")
        if what in ("TABLES", "VIEWS", "MATERIALIZED VIEWS"):
            lister = (
                self.client.list_views if what == "VIEWS"
                else self.client.list_tables
            )
            if scope is not None:
                idents = lister(scope)
            else:
                # unscoped: walk every namespace, nested ones included
                idents, stack = [], [None]
                while stack:
                    for ns in self.client.list_namespaces(stack.pop()):
                        stack.append(ns)
                        idents.extend(lister(ns))
                idents.sort(key=lambda i: ".".join([*i["namespace"], i["name"]]))
            if what == "MATERIALIZED VIEWS":
                # the tables whose `ivm.spec` property marks them as MVs,
                # with per-view freshness (watermark == source current
                # snapshot) so operators can see what needs a REFRESH
                from denali_spark.sources.ivm import (
                    list_materialized_views,
                    mv_watermark_state,
                    sources_label,
                )

                rows = [
                    (".".join(mv_ns), mv_name, sources_label(spec),
                     mv_watermark_state(self, spec, mv_md) == "fresh")
                    for mv_ns, mv_name, spec, mv_md
                    in list_materialized_views(self, idents)
                ]
                return self.spark.createDataFrame(
                    sorted(rows),
                    "namespace string, mviewName string, sources string, "
                    "fresh boolean",
                )
            col = "tableName" if what == "TABLES" else "viewName"
            rows = [
                (".".join(i["namespace"]), i["name"]) for i in idents
            ]
            return self.spark.createDataFrame(
                rows, f"namespace string, {col} string"
            )
        if what == "COLUMNS":
            from denali_spark.sources.schema_evolution import current_schema

            target = ".".join(scope) if scope else rest
            if not target:
                raise ValueError("SHOW COLUMNS requires IN/FROM ns.table")
            _ns, _name, cmd = self._dml_target(target)
            return self.spark.createDataFrame(
                [(f["name"],) for f in current_schema(cmd)["fields"]],
                "col_name string",
            )
        if not rest:
            raise ValueError(f"SHOW {what} requires a table name")
        parts = rest.split(".")
        if (
            what == "CREATE TABLE" and len(parts) > 1
            and self.client.view_exists(parts[:-1], parts[-1])
        ):
            # Spark answers SHOW CREATE TABLE on views with the CREATE
            # VIEW statement; render from stored metadata (no execution)
            vmd = self.client.load_view(parts[:-1], parts[-1])["metadata"]
            version = next(
                v for v in vmd["versions"]
                if v["version-id"] == vmd["current-version-id"]
            )
            reps = version.get("representations", [])
            spark_reps = [r for r in reps if r.get("dialect") == "spark"] or reps
            if not spark_reps:
                raise ValueError(f"view {rest} has no SQL representation")
            stmt = f"CREATE VIEW {rest} AS\n{spark_reps[0]['sql']}"
            vprops = vmd.get("properties", {})
            if vprops:
                stmt += "\nTBLPROPERTIES (" + ", ".join(
                    "'{}' = '{}'".format(
                        k.replace("'", "''"), v.replace("'", "''")
                    )
                    for k, v in sorted(vprops.items())
                ) + ")"
            return self.spark.createDataFrame(
                [(stmt,)], "createtab_stmt string"
            )
        ns, name, md = self._dml_target(rest)
        if what == "TBLPROPERTIES":
            return self.spark.createDataFrame(
                sorted(md.get("properties", {}).items()),
                "key string, value string",
            )
        if what == "PARTITIONS":
            from denali_spark.sources.metadata_tables import metadata_table

            return metadata_table(self, ns, name, "partitions")
        # SHOW CREATE TABLE
        mv_raw = md.get("properties", {}).get("ivm.spec")
        if mv_raw is not None:
            # a maintained MV renders as its OWN DDL (which re-parses to an
            # equal spec), not as the rollup table it happens to live in
            from denali_spark.sources import ivm as _ivm

            body = _ivm.render_materialized_view_sql(_ivm.spec_from_json(mv_raw))
            return self.spark.createDataFrame(
                [(f"CREATE MATERIALIZED VIEW {rest} AS\n{body}",)],
                "createtab_stmt string",
            )
        from denali_spark.sources.partitioning import spec_to_partition_by
        from denali_spark.sources.schema_evolution import (
            current_schema,
            type_to_ddl,
        )

        cols = []
        for f in current_schema(md)["fields"]:
            line = f"  {f['name']} {type_to_ddl(f['type'])}"
            if f.get("required"):
                line += " NOT NULL"
            if f.get("write-default") is not None:
                d = f["write-default"]
                if isinstance(d, bool):
                    line += " DEFAULT " + ("TRUE" if d else "FALSE")
                elif isinstance(d, str):
                    line += " DEFAULT '" + d.replace("'", "''") + "'"
                else:
                    line += f" DEFAULT {d}"
            if f.get("doc"):
                line += " COMMENT '" + f["doc"].replace("'", "''") + "'"
            cols.append(line)
        stmt = (
            f"CREATE TABLE {rest} (\n" + ",\n".join(cols) + "\n) USING iceberg"
        )
        spec = spec_to_partition_by(md) or []
        if spec:
            stmt += "\nPARTITIONED BY (" + ", ".join(
                self._render_transform(c, t) for c, t in spec
            ) + ")"
        props = md.get("properties", {})
        if props:
            # '' -escape keys and values like the column comments above —
            # a value containing a quote must re-parse as DDL.
            stmt += "\nTBLPROPERTIES (" + ", ".join(
                "'{}' = '{}'".format(
                    k.replace("'", "''"), v.replace("'", "''")
                )
                for k, v in sorted(props.items())
            ) + ")"
        return self.spark.createDataFrame([(stmt,)], "createtab_stmt string")

    def _sql_describe(self, qualified: str, extended: bool = False) -> DataFrame:
        """DESCRIBE [EXTENDED] ns.t — column names/types/comments from the
        CURRENT schema (docs travel with the field, so evolution shows
        through), a partition section for partitioned tables, and —
        extended — the table-metadata block real Spark prints."""
        parts = qualified.split(".")
        if len(parts) > 1 and self.client.view_exists(parts[:-1], parts[-1]):
            from denali_spark.sources.schema_evolution import type_to_ddl as _ttd

            vmd = self.client.load_view(parts[:-1], parts[-1])["metadata"]
            version = next(
                v for v in vmd["versions"]
                if v["version-id"] == vmd["current-version-id"]
            )
            stored = next(
                (s for s in vmd.get("schemas", [])
                 if s.get("schema-id") == version.get("schema-id")),
                None,
            )
            if stored and stored.get("fields"):
                # Answer from the schema captured at CREATE VIEW — zero
                # manifest loads, even for views over views.
                rows = [
                    (f["name"], _ttd(f["type"]), f.get("doc"))
                    for f in stored["fields"]
                ]
            else:
                # Legacy views created without a stored schema: analyze
                # the view SQL (empty read) as before.
                df = self.sql(f"SELECT * FROM {qualified} WHERE 1 = 0")
                rows = [(c, t, None) for c, t in df.dtypes]
            return self.spark.createDataFrame(
                rows, "col_name string, data_type string, comment string"
            )
        from denali_spark.sources.partitioning import spec_to_partition_by
        from denali_spark.sources.schema_evolution import (
            current_schema,
            type_to_ddl,
        )

        ns, name, md = self._dml_target(qualified)
        rows = [
            (f["name"], type_to_ddl(f["type"]), f.get("doc"))
            for f in current_schema(md)["fields"]
        ]
        spec = spec_to_partition_by(md) or []
        if spec:
            rows.append(("# Partition Information", "", None))
            rows.extend(
                (f"Part {i}", self._render_transform(c, t), None)
                for i, (c, t) in enumerate(spec)
            )
        mv_raw = md.get("properties", {}).get("ivm.spec")
        if mv_raw:
            # mark maintained MVs as such: sources, stored watermark(s),
            # and whether a REFRESH is due — the DESCRIBE half of the
            # SHOW MATERIALIZED VIEWS discoverability surface
            from denali_spark.sources.ivm import (
                LEFT_WATERMARK_KEY as _LWK,
                RIGHT_WATERMARK_KEY as _RWK,
                WATERMARK_KEY as _WK,
                mv_watermark_state,
                sources_label,
                spec_from_json as _sfj,
            )

            mv_spec = _sfj(mv_raw)
            rows.append(("# Materialized View", "", None))
            rows.append(("Sources", sources_label(mv_spec), None))
            ref = md.get("refs", {}).get(MAIN)
            if ref is not None:
                snap = next(
                    (s for s in md.get("snapshots", [])
                     if s["snapshot-id"] == ref["snapshot-id"]), {},
                )
                summary = snap.get("summary", {})
                for wk in (_WK, _LWK, _RWK):
                    if wk in summary:
                        rows.append((wk, summary[wk], None))
            fresh = mv_watermark_state(self, mv_spec, md) == "fresh"
            rows.append(("Fresh", str(fresh).lower(), None))
        if extended:
            rows.append(("# Detailed Table Information", "", None))
            rows.extend([
                ("Name", qualified, None),
                ("Location", md.get("location", ""), None),
                ("Provider", "iceberg", None),
                ("Format-version", str(md.get("format-version", "")), None),
                ("Table-uuid", md.get("table-uuid", ""), None),
                ("Current-snapshot-id", str(md.get("current-snapshot-id")), None),
            ])
        return self.spark.createDataFrame(
            rows, "col_name string, data_type string, comment string"
        )

    def _sql_alter(self, qualified: str, action_sql: str) -> DataFrame:
        """ALTER TABLE ns.t ... — the Spark-SQL DDL spellings of the §2.C
        table-update operations (reference logic/updates.go:75-100,197-217
        is the server side; this is the client-engine surface Spark users
        reach them through), routed to the existing evolution APIs:

        - ADD COLUMN c type [COMMENT '...'] / ADD COLUMNS (c1 t1, c2 t2)
        - DROP COLUMN c / RENAME COLUMN a TO b
        - ALTER COLUMN c TYPE t (Iceberg-legal promotions only)
          / ALTER COLUMN c COMMENT '...' / ALTER COLUMN c DROP NOT NULL
        - ADD PARTITION FIELD col|transform(col) / DROP PARTITION FIELD ...
          / REPLACE PARTITION FIELD old WITH new
        - CREATE BRANCH|TAG [IF NOT EXISTS] ref [AS OF VERSION snapshot-id]
          [RETAIN n DAYS|HOURS|MINUTES] [WITH SNAPSHOT RETENTION
          k SNAPSHOTS [n DAYS|HOURS|MINUTES]] / DROP BRANCH|TAG ref
        - WRITE ORDERED BY c1[, c2 ...]  (sort-order evolution)
        - SET TBLPROPERTIES ('k' = 'v', ...) / UNSET TBLPROPERTIES ('k', ...)
        - RENAME TO ns2.t2
        """
        import re as _re

        from denali_spark.sources import schema_evolution as _se
        from denali_spark.sources.partitioning import spec_to_partition_by
        from denali_spark.sources.schema_convert import ddl_type_to_iceberg

        act = action_sql.strip()

        m = _re.match(r"RENAME\s+TO\s+([\w.]+)$", act, _re.IGNORECASE)
        if m:
            from denali_spark.sources.ivm import refuse_rename

            ns, name, md = self._dml_target(qualified)
            refuse_rename(self, ns, name, md)
            dparts = m.group(1).split(".")
            dest_ns, dest = (dparts[:-1] or ns), dparts[-1]
            self.client.rename_table((ns, name), (dest_ns, dest))
            return self._alter_summary(qualified, "rename-table", m.group(1))

        m = _re.match(
            r"ADD\s+COLUMNS?\s+(.+)$", act, _re.IGNORECASE | _re.DOTALL
        )
        if m:
            ns, name, _md = self._dml_target(qualified)
            body = m.group(1).strip()
            if body.startswith("(") and body.endswith(")"):
                body = body[1:-1]
            # Parse EVERY definition before committing, then commit all
            # fields as ONE new schema — a malformed trailing column must
            # leave the table untouched, and N columns cost one CAS
            # commit / one metadata file, not N.
            specs = []
            for col_def in _split_top_level_commas(body):
                cm = _re.fullmatch(
                    r"\s*(\w+)\s+([\w()\s,]+?)"
                    r"(?:\s+DEFAULT\s+('(?:[^']|'')*'|[-\w.]+))?"
                    r"(?:\s+COMMENT\s+'((?:[^']|'')*)')?\s*",
                    col_def, _re.IGNORECASE,
                )
                if not cm:
                    raise ValueError(f"malformed column definition {col_def!r}")
                specs.append({
                    "column": cm.group(1),
                    "type": ddl_type_to_iceberg(cm.group(2)),
                    "doc": cm.group(4).replace("''", "'") if cm.group(4) else None,
                    "default": _parse_sql_literal(cm.group(3)),
                })
            _se.add_columns(self, ns, name, specs)
            return self._alter_summary(
                qualified, "add-columns", ",".join(s["column"] for s in specs)
            )

        m = _re.match(r"DROP\s+COLUMN\s+(\w+)$", act, _re.IGNORECASE)
        if m:
            ns, name, _md = self._dml_target(qualified)
            _se.drop_column(self, ns, name, m.group(1))
            return self._alter_summary(qualified, "drop-column", m.group(1))

        m = _re.match(
            r"RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)$", act, _re.IGNORECASE
        )
        if m:
            ns, name, _md = self._dml_target(qualified)
            _se.rename_column(self, ns, name, m.group(1), m.group(2))
            return self._alter_summary(
                qualified, "rename-column", f"{m.group(1)}->{m.group(2)}"
            )

        m = _re.match(
            r"ALTER\s+COLUMN\s+(\w+)\s+(.+)$", act, _re.IGNORECASE | _re.DOTALL
        )
        if m:
            ns, name, _md = self._dml_target(qualified)
            col, change = m.group(1), m.group(2).strip()
            tm = _re.fullmatch(r"TYPE\s+([\w()\s,]+)", change, _re.IGNORECASE)
            if tm:
                new_type = ddl_type_to_iceberg(tm.group(1))
                _se.update_column(self, ns, name, col, new_type=new_type)
                return self._alter_summary(
                    qualified, "alter-column-type", f"{col}:{new_type}"
                )
            cm = _re.fullmatch(r"COMMENT\s+'([^']*)'", change, _re.IGNORECASE)
            if cm:
                _se.update_column(self, ns, name, col, doc=cm.group(1))
                return self._alter_summary(qualified, "alter-column-comment", col)
            if _re.fullmatch(r"DROP\s+NOT\s+NULL", change, _re.IGNORECASE):
                _se.update_column(self, ns, name, col, make_optional=True)
                return self._alter_summary(
                    qualified, "alter-column-drop-not-null", col
                )
            if _re.fullmatch(r"SET\s+NOT\s+NULL", change, _re.IGNORECASE):
                raise ValueError(
                    "SET NOT NULL is not allowed: existing rows may hold "
                    "NULLs and Iceberg data files are never rewritten by DDL"
                )
            raise ValueError(f"unsupported ALTER COLUMN change {change[:60]!r}")

        m = _re.match(
            r"REPLACE\s+PARTITION\s+FIELD\s+(.+?)\s+WITH\s+(.+)$",
            act, _re.IGNORECASE,
        )
        if m:
            ns, name, md = self._dml_target(qualified)
            old_col, old_tr = self._parse_partition_field(m.group(1))
            new_col, new_tr = self._parse_partition_field(m.group(2))
            current = spec_to_partition_by(md) or []
            if (old_col, old_tr) not in current:
                raise ValueError(
                    f"partition field {m.group(1).strip()!r} is not in the "
                    f"default spec {current}"
                )
            replaced = [
                (new_col, new_tr) if p == (old_col, old_tr) else p
                for p in current
            ]
            self.evolve_partition_spec(ns, name, replaced)
            return self._alter_summary(
                qualified, "replace-partition-field",
                f"{old_tr}({old_col})->{new_tr}({new_col})",
            )

        m = _re.match(
            r"(CREATE|DROP)\s+(BRANCH|TAG)(\s+IF\s+NOT\s+EXISTS)?\s+(\w+)"
            r"(?:\s+AS\s+OF\s+VERSION\s+(\d+))?"
            r"(?:\s+RETAIN\s+(\d+)\s+(DAYS|HOURS|MINUTES))?"
            r"(?:\s+WITH\s+SNAPSHOT\s+RETENTION\s+"
            r"(?:(\d+)\s+SNAPSHOTS)?(?:\s*(\d+)\s+(DAYS|HOURS|MINUTES))?)?$",
            act, _re.IGNORECASE,
        )
        if m:
            verb, kind, if_not_exists, ref = (
                m.group(1).upper(), m.group(2).upper(), m.group(3), m.group(4),
            )
            # Iceberg's grammar scopes the retention clauses: none on DROP,
            # and WITH SNAPSHOT RETENTION only on BRANCH (the ancestry walk
            # is branch-only — stored on a tag it would be a dead option).
            # Reject instead of silently ignoring/storing them.
            if verb == "DROP" and any(
                m.group(i) is not None for i in (5, 6, 8, 9)
            ):
                raise ValueError(
                    f"DROP {kind} takes no AS OF/RETAIN/retention clause"
                )
            if kind == "TAG" and (
                m.group(8) is not None or m.group(9) is not None
            ):
                raise ValueError(
                    "WITH SNAPSHOT RETENTION applies to branches only: "
                    "snapshot ancestry retention is a branch walk; a tag "
                    "pins exactly one snapshot (use RETAIN n DAYS for the "
                    "tag's own lifetime)"
                )
            ns, name, md = self._dml_target(qualified)
            if verb == "DROP":
                self.drop_ref(ns, name, ref)
                return self._alter_summary(
                    qualified, f"drop-{kind.lower()}", ref
                )
            if if_not_exists and ref in md.get("refs", {}):
                return self._alter_summary(
                    qualified, f"create-{kind.lower()}", f"{ref} (exists)"
                )
            if m.group(5) is not None:
                # AS OF VERSION n — branch/tag from a specific snapshot id
                from_ref = int(m.group(5))
                updates = [{
                    "action": "set-snapshot-ref", "ref-name": ref,
                    "snapshot-id": from_ref,
                    "type": "branch" if kind == "BRANCH" else "tag",
                }]
                self.client.commit_table(
                    ns, name,
                    requirements=[{
                        "type": "assert-table-uuid", "uuid": md["table-uuid"]
                    }],
                    updates=updates,
                )
            elif kind == "BRANCH":
                self.create_branch(ns, name, ref)
            else:
                self.create_tag(ns, name, ref)
            # Iceberg Spark SQL extension retention clauses: RETAIN sets
            # the ref's own lifetime, WITH SNAPSHOT RETENTION the branch's
            # ancestry keep — both stored on the ref and honored by
            # expire_snapshots' per-ref retention pass
            _unit_ms = {"DAYS": 86_400_000, "HOURS": 3_600_000,
                        "MINUTES": 60_000}
            retention = {}
            if m.group(6) is not None:
                retention["max_ref_age_ms"] = (
                    int(m.group(6)) * _unit_ms[m.group(7).upper()]
                )
            if m.group(8) is not None:
                retention["min_snapshots_to_keep"] = int(m.group(8))
            if m.group(9) is not None:
                retention["max_snapshot_age_ms"] = (
                    int(m.group(9)) * _unit_ms[m.group(10).upper()]
                )
            if retention:
                self.set_ref_retention(ns, name, ref, **retention)
            return self._alter_summary(
                qualified, f"create-{kind.lower()}", ref
            )

        m = _re.match(r"ADD\s+PARTITION\s+FIELD\s+(.+)$", act, _re.IGNORECASE)
        if m:
            ns, name, md = self._dml_target(qualified)
            col, transform = self._parse_partition_field(m.group(1))
            current = spec_to_partition_by(md) or []
            if (col, transform) in current:
                raise ValueError(
                    f"partition field {m.group(1).strip()!r} already in the "
                    "default spec"
                )
            self.evolve_partition_spec(ns, name, current + [(col, transform)])
            return self._alter_summary(
                qualified, "add-partition-field", f"{transform}({col})"
            )

        m = _re.match(r"DROP\s+PARTITION\s+FIELD\s+(.+)$", act, _re.IGNORECASE)
        if m:
            ns, name, md = self._dml_target(qualified)
            col, transform = self._parse_partition_field(m.group(1))
            current = spec_to_partition_by(md) or []
            if (col, transform) not in current:
                raise ValueError(
                    f"partition field {m.group(1).strip()!r} is not in the "
                    f"default spec {current}"
                )
            remaining = [p for p in current if p != (col, transform)]
            self.evolve_partition_spec(ns, name, remaining)
            return self._alter_summary(
                qualified, "drop-partition-field", f"{transform}({col})"
            )

        m = _re.match(
            r"WRITE\s+ORDERED\s+BY\s+(.+)$", act, _re.IGNORECASE | _re.DOTALL
        )
        if m:
            ns, name, _md = self._dml_target(qualified)
            cols = [c.strip() for c in m.group(1).split(",")]
            self.evolve_sort_order(ns, name, cols)
            return self._alter_summary(
                qualified, "write-ordered-by", ",".join(cols)
            )

        m = _re.match(
            r"(UN)?SET\s+TBLPROPERTIES\s*\((.+)\)$", act,
            _re.IGNORECASE | _re.DOTALL,
        )
        if m:
            ns, name, md = self._dml_target(qualified)
            if m.group(1):  # UNSET: list of 'key' literals
                keys = []
                for item in _split_top_level_commas(m.group(2)):
                    km = _re.fullmatch(r"\s*'([^']+)'\s*", item)
                    if not km:
                        raise ValueError(f"malformed property key {item!r}")
                    keys.append(km.group(1))
                updates = [{"action": "remove-properties", "removals": keys}]
                detail = ",".join(keys)
                op = "unset-tblproperties"
            else:  # SET: 'key' = 'value' pairs
                props = {}
                for item in _split_top_level_commas(m.group(2)):
                    k, v = _parse_prop_assignment(item)
                    props[k] = v
                updates = [{"action": "set-properties", "updates": props}]
                detail = ",".join(sorted(props))
                op = "set-tblproperties"
            self.client.commit_table(
                ns, name,
                requirements=[
                    {"type": "assert-table-uuid", "uuid": md["table-uuid"]}
                ],
                updates=updates,
            )
            return self._alter_summary(qualified, op, detail)

        raise ValueError(f"unsupported ALTER TABLE action {act[:80]!r}")

    def _parse_dml_where(self, where_sql: str) -> dict:
        """DML WHERE → scan expression. The prunable grammar first (file
        pruning applies before any data is read); a clause it cannot
        express (modulo/function/arithmetic, e.g. `id % 2 = 0`) falls
        back to an opaque raw-SQL leaf — exact row-level semantics via
        the same residual filter, at full-candidate (unpruned) cost. The
        fallback still validates the text parses as a Spark expression,
        so a typo fails here with both diagnostics, not deep in a job."""
        from denali_spark.sources.expressions import parse_where, raw_sql

        try:
            return parse_where(where_sql)
        except ValueError as grammar_err:
            try:
                # parse-only (no analysis): F.expr is lazy in PySpark 4,
                # so drive the session's SQL parser directly
                self.spark._jsparkSession.sessionState().sqlParser() \
                    .parseExpression(where_sql)
            except Exception as spark_err:  # noqa: BLE001 — diagnostics
                msg = str(spark_err).splitlines()
                raise ValueError(
                    f"WHERE clause is neither a prunable scan predicate "
                    f"({grammar_err}) nor valid Spark SQL "
                    f"({' '.join(msg[:3])})"
                ) from grammar_err
            return raw_sql(where_sql)

    def _sql_delete(self, qualified: str, where_sql: str) -> DataFrame:
        """DELETE FROM ns.t WHERE <expr> — routed to the copy-on-write or
        deletion-vector path by the table's write.delete.mode property.
        The WHERE clause parses into the scan-expression grammar, so file
        pruning applies before any data is read; a clause the grammar
        cannot express (modulo/function/arithmetic shapes) falls back to
        an opaque raw-SQL predicate — exact row matching, no pruning."""
        from denali_spark.sources.mor import delete_where_dv
        from denali_spark.sources.row_ops import delete_where

        ns, name, md = self._dml_target(qualified)
        expr = self._parse_dml_where(where_sql)
        mode = self._row_op_mode(md, "delete")
        op = delete_where_dv if mode == "merge-on-read" else delete_where
        result = op(self, ns, name, expr)
        return self._dml_summary(qualified, "delete", mode, result)

    def _sql_update(
        self, qualified: str, set_sql: str, where_sql: str
    ) -> DataFrame:
        """UPDATE ns.t SET c = <spark expr>[, ...] WHERE <expr> — routed
        by write.update.mode. Right-hand sides pass through as Spark SQL
        expressions (they may reference any column of the row). WHERE
        follows the same prunable-grammar-with-raw-SQL-fallback contract
        as DELETE (_parse_dml_where)."""
        from denali_spark.sources.mor import update_where_mor
        from denali_spark.sources.row_ops import update_where

        ns, name, md = self._dml_target(qualified)
        set_exprs = {}
        for part in _split_top_level(set_sql, ","):
            col, sep, rhs = part.partition("=")
            if not sep or not col.strip() or not rhs.strip():
                raise ValueError(f"malformed SET assignment: {part.strip()!r}")
            set_exprs[col.strip()] = rhs.strip()
        expr = self._parse_dml_where(where_sql)
        mode = self._row_op_mode(md, "update")
        op = update_where_mor if mode == "merge-on-read" else update_where
        result = op(self, ns, name, expr, set_exprs)
        return self._dml_summary(qualified, "update", mode, result)

    def _sql_merge(
        self, qualified: str, using_sql: str, on_sql: str, actions_sql: str,
        target_alias: str | None = None,
    ) -> DataFrame:
        """MERGE INTO ns.t [AS a] USING (<select>)|ns.src [AS b] ON
        (k[, ...])|t.k = s.k [AND ...]
        WHEN MATCHED THEN UPDATE [SET c = <expr>[, ...]] | DELETE
        [WHEN NOT MATCHED THEN INSERT [*|(cols) VALUES (exprs)|VALUES (exprs)]]
        — the canonical upsert/CDC-apply forms, routed by write.merge.mode.
        The ON columns must name the same column on both sides (equality
        merge keys). Bare UPDATE replaces matched target rows wholesale with
        their source row; UPDATE SET applies the assignments (expressions
        may qualify columns by either table's name/alias). Bare INSERT /
        INSERT * inserts source rows wholesale; INSERT (cols) VALUES (exprs)
        maps listed columns and NULLs the rest; INSERT VALUES (exprs) maps
        positionally. `WHEN ... AND <condition>` clauses are unsupported.
        Insert-only merges (no WHEN MATCHED clause) are not supported."""
        import re as _re

        from denali_spark.sources.mor import merge_into_mor
        from denali_spark.sources.row_ops import merge_into

        ns, name, md = self._dml_target(qualified)
        using = using_sql.strip()
        # strip a trailing alias ("(...) s" / "ns.src AS s"), keeping it
        # for qualifier rewriting in SET/VALUES expressions
        source_alias = None
        mu = _re.match(
            r"^(\(.*\)|[\w.]+)(?:\s+(?:AS\s+)?(\w+))?$", using, _re.DOTALL
        )
        if mu:
            using = mu.group(1)
            source_alias = mu.group(2)
        if using.startswith("("):
            source = self.sql(using[1:-1])
        else:
            sparts = using.split(".")
            source = self.read_table(sparts[:-1], sparts[-1])

        on_sql = on_sql.strip()
        if on_sql.startswith("("):
            on = [c.strip() for c in on_sql[1:-1].split(",")]
        else:
            on = []
            for clause in _re.split(r"\bAND\b", on_sql, flags=_re.IGNORECASE):
                me = _re.match(
                    r"\s*(?:\w+\.)?(\w+)\s*=\s*(?:\w+\.)?(\w+)\s*$", clause
                )
                if not me or me.group(1) != me.group(2):
                    raise ValueError(
                        f"MERGE ON clause must equate the same column on "
                        f"both sides; got {clause.strip()!r}"
                    )
                on.append(me.group(1))

        # Qualifier sets for rewriting expressions onto the engine's
        # canonical t/s aliases: the target's bare name + declared alias,
        # the source's table name + declared alias.
        t_names = {"t", name.lower()}
        if target_alias:
            t_names.add(target_alias.lower())
        s_names = {"s"}
        if source_alias:
            s_names.add(source_alias.lower())
        if not using.startswith("("):
            s_names.add(using.split(".")[-1].lower())
        clash = (t_names & s_names) - {"t", "s"}
        if clash:
            raise ValueError(
                f"MERGE target and source share the name(s) {sorted(clash)}; "
                "give them distinct aliases"
            )

        txt = actions_sql.strip()
        when_matched = None
        update_set: dict[str, str] | None = None
        insert = False
        insert_values: tuple[list[str], list[str]] | None = None
        starts: list[int] = []
        i = 0
        while True:
            wi = _find_top_level(txt, "WHEN", i)
            if wi < 0:
                break
            starts.append(wi)
            i = wi + 4
        for k, st in enumerate(starts):
            end = starts[k + 1] if k + 1 < len(starts) else len(txt)
            clause = txt[st:end].strip()
            cm = _re.match(
                r"WHEN\s+MATCHED\s+THEN\s+(.*)$", clause,
                _re.IGNORECASE | _re.DOTALL,
            )
            if cm:
                act = cm.group(1).strip()
                if _re.fullmatch(r"DELETE", act, _re.IGNORECASE):
                    when_matched = "delete"
                elif _re.fullmatch(r"UPDATE", act, _re.IGNORECASE):
                    when_matched = "update"
                else:
                    m2 = _re.match(
                        r"UPDATE\s+SET\s+(.+)$", act,
                        _re.IGNORECASE | _re.DOTALL,
                    )
                    if not m2:
                        raise ValueError(
                            f"unsupported WHEN MATCHED action {act[:60]!r} "
                            "(expected DELETE, UPDATE, or UPDATE SET ...)"
                        )
                    when_matched = "update"
                    update_set = {}
                    for assign in _split_top_level_commas(m2.group(1)):
                        eq = assign.find("=")
                        if eq < 0:
                            raise ValueError(
                                f"malformed SET assignment {assign.strip()!r}"
                            )
                        lhs = assign[:eq].strip()
                        lm = _re.fullmatch(r"(?:(\w+)\.)?(\w+)", lhs)
                        if not lm:
                            raise ValueError(
                                f"malformed SET target {lhs!r}"
                            )
                        if lm.group(1) and lm.group(1).lower() not in t_names:
                            raise ValueError(
                                f"SET target {lhs!r} must reference the "
                                "MERGE target table"
                            )
                        col = lm.group(2)
                        if col in update_set:
                            raise ValueError(f"column {col!r} SET twice")
                        update_set[col] = _rewrite_merge_quals(
                            assign[eq + 1:].strip(), t_names, s_names
                        )
                continue
            nm = _re.match(
                r"WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s*(.*)$", clause,
                _re.IGNORECASE | _re.DOTALL,
            )
            if nm:
                insert = True
                tail = nm.group(1).strip()
                if tail in ("", "*"):
                    insert_values = None
                    continue
                m3 = _re.match(
                    r"(?:\(([^()]*)\)\s*)?VALUES\s*\((.*)\)\s*$", tail,
                    _re.IGNORECASE | _re.DOTALL,
                )
                if not m3:
                    raise ValueError(
                        f"unsupported INSERT form {tail[:60]!r} (expected "
                        "bare INSERT, INSERT *, or INSERT [(cols)] "
                        "VALUES (exprs))"
                    )
                exprs = [
                    _rewrite_merge_quals(e.strip(), t_names, s_names)
                    for e in _split_top_level_commas(m3.group(2))
                ]
                if m3.group(1) is not None:
                    cols = [c.strip() for c in m3.group(1).split(",")]
                else:
                    from denali_spark.sources.schema_evolution import (
                        current_schema,
                    )

                    fields = current_schema(md)["fields"]
                    if len(exprs) != len(fields):
                        raise ValueError(
                            f"INSERT VALUES lists {len(exprs)} values; "
                            f"table has {len(fields)} columns"
                        )
                    cols = [f["name"] for f in fields]
                insert_values = (cols, exprs)
                continue
            raise ValueError(
                f"unsupported MERGE clause {clause[:60]!r} "
                "(WHEN ... AND <condition> forms are unsupported)"
            )
        if when_matched is None:
            raise ValueError(
                "MERGE needs a WHEN MATCHED THEN UPDATE|DELETE clause "
                "(insert-only merges are unsupported)"
            )
        if when_matched == "delete" and update_set:
            raise ValueError("UPDATE SET cannot combine with THEN DELETE")
        mode = self._row_op_mode(md, "merge")
        op = merge_into_mor if mode == "merge-on-read" else merge_into
        result = op(
            self, ns, name, source, on=on,
            when_matched=when_matched, when_not_matched_insert=insert,
            update_set=update_set, insert_values=insert_values,
        )
        return self._dml_summary(qualified, "merge", mode, result)

    def _sql_write(
        self, qualified: str, select_sql: str, mode: str,
        clause_sql: str = "",
    ) -> DataFrame:
        """INSERT INTO / CTAS routing for sql(): run the select through the
        same resolver, commit through write_table, return a one-row summary
        relation (statement, snapshot id, row count).

        INSERT maps the select output to the target schema POSITIONALLY
        (SQL semantics — `INSERT INTO t SELECT 4, 'x'` must not depend on
        the literals' auto-generated column names) and casts to the target
        types. CREATE OR REPLACE routes through replace_table — a
        single-CAS Iceberg replace commit that installs the select's
        schema and an overwrite snapshot atomically while preserving the
        table's identity and snapshot history."""
        from pyspark.sql import functions as F

        parts = qualified.split(".")
        namespace, name = parts[:-1], parts[-1]
        if not namespace:
            raise ValueError(
                f"unqualified write target {qualified!r}: use ns.table"
            )
        partition_by, properties = (
            self._parse_table_clauses(clause_sql) if clause_sql else ([], {})
        )
        if (partition_by or properties) and mode != "create":
            raise ValueError(
                "PARTITIONED BY / TBLPROPERTIES clauses apply to plain "
                "CREATE TABLE ... AS only (use ALTER TABLE after a "
                "CREATE OR REPLACE)"
            )
        exists = self.client.table_exists(namespace, name)
        if mode in ("append", "insert_overwrite") and not exists:
            raise ValueError(
                f"INSERT {'OVERWRITE' if mode == 'insert_overwrite' else 'INTO'}"
                f" unknown table {qualified!r}"
            )
        if mode == "create" and exists:
            raise ValueError(
                f"table {qualified!r} already exists (use CREATE OR REPLACE)"
            )
        df = self.sql(select_sql)
        if mode in ("append", "insert_overwrite"):
            from denali_spark.sources.schema_convert import ICEBERG_TO_DDL
            from denali_spark.sources.schema_evolution import current_schema

            md = self.client.load_table(namespace, name)["metadata"]
            fields = current_schema(md)["fields"]
            if len(df.columns) != len(fields):
                raise ValueError(
                    f"INSERT INTO {qualified}: select produces "
                    f"{len(df.columns)} columns, table has {len(fields)}"
                )
            # toDF renames positionally — robust to auto-generated select
            # column names like `10.0` that no column resolver can parse
            df = df.toDF(*[f["name"] for f in fields])

            def target_col(f):
                c = F.col(f["name"])
                t = f["type"]
                if isinstance(t, str):  # nested types: positional alias only
                    c = c.cast(ICEBERG_TO_DDL.get(t, t))
                return c.alias(f["name"])

            df = df.select(*[target_col(f) for f in fields])
        if mode == "insert_overwrite":
            # INSERT OVERWRITE: keep the table's schema/identity, replace
            # the data in one overwrite snapshot (rows already cast to the
            # target schema above).
            self.write_table(df, namespace, name, mode="overwrite")
        elif exists and mode != "append":
            # CREATE OR REPLACE: single-CAS Iceberg replace — schema swap +
            # overwrite snapshot in ONE commit, preserving table identity
            # and history (see replace_table). The data files are written
            # before the commit; any failure leaves the original current.
            self.replace_table(df, namespace, name)
        else:
            self.write_table(
                df, namespace, name,
                mode="append" if mode == "append" else "overwrite",
                partition_by=partition_by or None,
            )
            if properties:
                cmd = self.client.load_table(namespace, name)["metadata"]
                self.client.commit_table(
                    namespace, name,
                    requirements=[{
                        "type": "assert-table-uuid", "uuid": cmd["table-uuid"]
                    }],
                    updates=[
                        {"action": "set-properties", "updates": properties}
                    ],
                )
        md = self.client.load_table(namespace, name)["metadata"]
        snap = self._resolve_snapshot(md)
        # single execution: the row count comes from the committed
        # snapshot's summary, not a second run of the select
        n = int(snap.get("summary", {}).get("added-records", -1))
        return self.spark.range(1).select(
            F.lit(qualified).alias("table"),
            F.lit("append" if mode == "append" else "overwrite").alias("operation"),
            F.lit(md["refs"][MAIN]["snapshot-id"]).alias("snapshot_id"),
            F.lit(n).cast("long").alias("rows"),
        )

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
        return resolve_sql(self, rep["sql"], depth + 1, default_ns=default_ns)

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

        with_lineage=True attaches (file path, row position) columns from
        Spark's parquet `_metadata` — computed executor-side during the scan,
        no extra IO — which is what merge-on-read position deletes join
        against."""
        from functools import reduce

        from denali_spark.sources.schema_evolution import (
            reconcile_to_schema,
            schema_by_id,
        )

        if snapshot_schema:
            target_id = snap.get("schema-id", md["current-schema-id"])
        else:
            target_id = md["current-schema-id"]
        target = schema_by_id(md, target_id)
        # Grouped additionally by the materialized-lineage flag so files
        # that physically contain a carried `_row_id` column never share a
        # footer-sampled read schema with files that don't.
        groups: dict[tuple[int, str, bool], list[str]] = {}
        for e in entries:
            key = (
                e.get("schema-id", 0),
                e.get("file-format", "parquet"),
                bool(e.get("materialized-lineage")),
            )
            groups.setdefault(key, []).append(e["path"])
        extra = (LINEAGE_FILE, LINEAGE_POS) if with_lineage else ()
        if with_row_ids:
            extra = extra + (ROW_ID,)
        dfs = []
        for (sid, fmt, materialized), paths in sorted(groups.items()):
            if fmt == "avro" or (fmt == "orc" and with_lineage):
                # Formats whose row positions Spark can't surface natively
                # (parquet has _metadata.row_index; ORC and our avro don't)
                # read through Python kernels that enumerate true in-file
                # positions. ORC WITHOUT lineage stays on the vectorized
                # JVM reader — the hot path is untouched.
                reader = self._read_avro if fmt == "avro" else self._read_orc_lineage
                df = reader(paths, with_lineage)
            else:
                df = (
                    # read.orc takes one path-or-list (2nd positional = mergeSchema)
                    self.spark.read.orc(list(paths)) if fmt == "orc"
                    else self.spark.read.parquet(*paths)
                )
                if with_lineage:
                    df = df.withColumns({
                        # normalize file:///x → /x so lineage matches manifest paths
                        LINEAGE_FILE: F.regexp_replace(
                            F.col("_metadata.file_path"), "^file:/+", "/"
                        ),
                        LINEAGE_POS: F.col("_metadata.row_index"),
                    })
            if with_row_ids and ROW_ID not in df.columns:
                # plain files compute ids later (first-row-id + position);
                # a typed NULL keeps every group unionByName-compatible
                df = df.withColumn(ROW_ID, F.lit(None).cast("long"))
            elif not with_row_ids and ROW_ID in df.columns:
                # a carried physical _row_id is lineage plumbing, not a
                # table column — regular reads must not surface it
                df = df.drop(ROW_ID)
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
        column. Legacy name-keyed manifests (no equality-field-ids) fall
        back to write-time names."""
        if not fids or target_schema is None:
            return list(write_names)
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
        target_schema: dict | None = None,
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
            pd_df = self.spark.read.parquet(*[e["path"] for e in pos])
            pos_parts.append(pd_df.select("file_path", "pos"))
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
                       tuple(e.get("equality-field-ids") or ()),
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
        schema = "file_path string, pos long"
        if with_source:
            schema += ", delete_file_path string"
        return meta.mapInPandas(kernel, schema)

    def _read_avro(self, paths: list[str], with_lineage: bool) -> DataFrame:
        """Distributed Avro read: one partition per file, decoded by the
        pure-Python OCF codec inside a mapInPandas kernel (Arrow-batched;
        the driver only opens one header for the schema). Lineage carries
        the true in-file row position, like parquet's _metadata.row_index."""
        import pandas as pd

        from denali_spark.sources.avro_ocf import (
            avro_schema_to_ddl,
            field_names,
            read_ocf,
            read_schema,
        )

        ddl = avro_schema_to_ddl(read_schema(paths[0]))
        if with_lineage:
            ddl += f", {LINEAGE_FILE} string, {LINEAGE_POS} long"

        def kernel(batches):
            for pdf in batches:
                for p in pdf["path"]:
                    schema, rows = read_ocf(p)
                    out = pd.DataFrame(rows, columns=field_names(schema))
                    if with_lineage:
                        out[LINEAGE_FILE] = p
                        out[LINEAGE_POS] = range(len(rows))
                    yield out

        paths_df = self.spark.createDataFrame(
            [(p,) for p in sorted(paths)], "path string"
        ).repartition(len(paths), "path")
        return paths_df.mapInPandas(kernel, schema=ddl)

    def _read_orc_lineage(self, paths: list[str], with_lineage: bool = True) -> DataFrame:
        """Lineage-bearing ORC read: one partition per file, decoded by
        pyarrow.orc in a mapInPandas kernel so every row carries its true
        in-file position (Spark's _metadata.row_index is parquet-only).
        Positions are what merge-on-read position deletes join against —
        this kernel is used BOTH when writing an ORC position delete and
        when applying it, so the two sides always agree."""
        # driver-side: schema from one footer (cheap, no row data)
        import pyarrow.orc as po
        from pyspark.sql.pandas.types import from_arrow_schema

        spark_schema = from_arrow_schema(po.ORCFile(paths[0]).schema)
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in spark_schema.fields
        )
        ddl += f", {LINEAGE_FILE} string, {LINEAGE_POS} long"

        def kernel(batches):
            import pyarrow.orc as _po

            for pdf in batches:
                for p in pdf["path"]:
                    tbl = _po.ORCFile(p).read()
                    out = tbl.to_pandas()
                    out[LINEAGE_FILE] = p
                    out[LINEAGE_POS] = range(len(out))
                    yield out

        paths_df = self.spark.createDataFrame(
            [(p,) for p in sorted(paths)], "path string"
        ).repartition(len(paths), "path")
        return paths_df.mapInPandas(kernel, schema=ddl)

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

    def _manifest_entries(self, manifest_list_location: str) -> list[dict]:
        path = _fs_path(manifest_list_location)
        if path.endswith(".json"):  # legacy single-document layout
            with open(path) as f:
                return json.load(f)["files"]
        from denali_spark.sources.manifests import read_manifest_list

        return read_manifest_list(path)

    def _empty_df(self, md: dict) -> DataFrame:
        from pyspark.sql.types import StructType

        from denali_spark.sources.schema_convert import iceberg_schema_to_ddl

        schema = next(
            s for s in md["schemas"] if s["schema-id"] == md["current-schema-id"]
        )
        # strict=False: nested/unknown types degrade to string — no data
        # backs the columns of an empty read anyway.
        ddl = iceberg_schema_to_ddl(schema, strict=False)
        return self.spark.createDataFrame([], schema=StructType.fromDDL(ddl))

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
    ) -> dict:
        """Append/overwrite `df` into a catalog table (created on demand),
        committing via the optimistic protocol with bounded retries.

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
        loaded = self.client.load_table(namespace, name)
        md = loaded["metadata"]
        # Align the incoming rows to the TABLE schema (INSERT INTO
        # semantics): a df whose column type drifts from the table's —
        # e.g. decimal(18,2) rows into a decimal(28,8) column — would
        # otherwise write a physically mismatched parquet file that later
        # scans refuse to read. Columns the df omits stay absent (the V3
        # read-default path); unknown columns fail loudly (evolve the
        # schema first). Only ATOMIC-to-ATOMIC drifts cast: _empty_df's
        # strict=False DDL degrades nested types to string, so complex
        # columns pass through untouched (their fidelity is owned by the
        # format writers, e.g. the avro array path).
        from pyspark.sql.types import AtomicType

        target_fields = {f.name: f for f in self._empty_df(md).schema.fields}
        unknown = [c for c in df.columns if c not in target_fields]
        if unknown:
            raise ValueError(
                f"columns {unknown} are not in {'.'.join(namespace)}.{name}'s "
                "schema — ALTER TABLE ... ADD COLUMN first"
            )
        aligned = []
        for f in df.schema.fields:
            t = target_fields[f.name].dataType
            if (t != f.dataType and isinstance(t, AtomicType)
                    and isinstance(f.dataType, AtomicType)):
                # Fail-loud INSERT INTO contract: only value-preserving
                # widenings cast implicitly (a plain cast would silently
                # NULL/wrap lossy or cross-family drifts like string→int
                # or overflowing long→int). The whitelist mirrors
                # Iceberg's schema-promotion rules plus integral→decimal
                # with integer-digit headroom.
                if not _is_safe_widening(f.dataType, t):
                    raise ValueError(
                        f"column {f.name!r}: cannot implicitly cast "
                        f"{f.dataType.simpleString()} to the table's "
                        f"{t.simpleString()} — only lossless widenings "
                        "are applied; CAST explicitly or evolve the "
                        "table schema"
                    )
                aligned.append(F.col(f.name).cast(t))
            else:
                aligned.append(F.col(f.name))
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
                prev_files = self._manifest_entries(prev["manifest-list"])
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
        from denali_spark.sources.manifests import write_manifest_list

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
        return write_manifest_list(
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
        picked_files = self._manifest_entries(picked["manifest-list"])
        base_paths: set[str] = set()
        if parent_id is not None:
            parent = self._resolve_snapshot(md, parent_id)
            base_paths = {f["path"] for f in self._manifest_entries(parent["manifest-list"])}
        added = [dict(f) for f in picked_files if f["path"] not in base_paths]
        # pre-lineage files (no first-row-id at birth) get ranges assigned
        # per attempt; files born with ranges keep them across retries
        lineage_unstamped = [f for f in added if "first-row-id" not in f]

        for _attempt in range(max_retries):
            head = md.get("refs", {}).get(to)
            head_id = head["snapshot-id"] if head else None
            head_files = []
            if head_id is not None:
                head_files = self._manifest_entries(
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


def manifest_entries(manifest_list_location: str) -> list[dict]:
    """Module-level manifest-list decode (Avro or legacy JSON by
    extension) — shared with the Python Data Source."""
    return SparkCatalogIO._manifest_entries(None, manifest_list_location)
