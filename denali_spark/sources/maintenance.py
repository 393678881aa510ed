"""Table maintenance: snapshot expiry and small-file compaction.

The reference catalog carries the `remove-snapshots` update op
(/root/reference/logic/updates.go:354-376 — its `expire_snapshots` analog,
SURVEY §2.C) but, like all data-plane work, leaves file rewriting to client
engines. These are the two maintenance procedures every real Iceberg
deployment runs:

- expire_snapshots: bounded metadata growth. Commits remove-snapshots for
  history beyond a retention window, keeping every ref target (branches and
  tags stay readable). Data files are never deleted (matching the
  reference's drop semantics, routes/tables.go:349-351 — purge=501).
- compact_data_files: the small-files problem. Streaming appends and
  frequent commits produce many tiny files; scan cost at 100 TB is
  dominated by file-open overhead unless they are periodically bin-packed
  into ~target-size files. Compaction rewrites ONLY the small-file set and
  splices the result alongside untouched large files — same copy-on-write
  commit shape as row_ops, same CAS retry safety.
"""

from __future__ import annotations

from denali_spark.sources import manifests
from denali_spark.sources.catalog_io import (
    LINEAGE_FILE,
    LINEAGE_POS,
    MAIN,
    SparkCatalogIO,
    split_entries,
)
from denali_spark.sources.row_ops import _commit_cow, _retrying


def _ref_retention(md: dict, now_ms: int) -> tuple[set, list]:
    """Per-ref retention (Iceberg RemoveSnapshots semantics over the ref
    options the commit path already stores — `min-snapshots-to-keep`,
    `max-snapshot-age-ms`, `max-ref-age-ms`; catalog/updates.py:161):

    - every surviving ref protects the snapshot it points to;
    - a BRANCH with retention settings (its own, or table-prop defaults
      `history.expire.{min-snapshots-to-keep,max-snapshot-age-ms}`)
      additionally protects its ANCESTOR chain newest-first: at least
      min-snapshots-to-keep snapshots stay on the branch, plus every
      ancestor younger than max-snapshot-age-ms. Ancestors only get older
      walking back, so the walk stops at the first droppable one;
    - a non-`main` ref older than its `max-ref-age-ms` (age measured from
      its snapshot's timestamp-ms — Iceberg's rule, since refs carry no
      creation time) is itself EXPIRED: returned for removal, and the
      snapshots it alone protected become removable in the same commit.

    Divergence from Iceberg, deliberately: a branch with NO retention
    settings anywhere protects only its head (no implicit 5-day ancestor
    keep), preserving this function's long-standing keep_last contract —
    global history retention stays the caller's explicit choice."""
    snaps = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
    props = md.get("properties", {}) or {}
    d_min_keep = props.get("history.expire.min-snapshots-to-keep")
    d_max_age = props.get("history.expire.max-snapshot-age-ms")
    protected: set = set()
    aged_refs: list[str] = []
    for ref_name, ref in (md.get("refs") or {}).items():
        snap = snaps.get(ref["snapshot-id"])
        max_ref_age = ref.get("max-ref-age-ms")
        if (
            ref_name != "main"
            and max_ref_age is not None
            and snap is not None
            and now_ms - snap["timestamp-ms"] > int(max_ref_age)
        ):
            aged_refs.append(ref_name)
            continue  # an expired ref protects nothing
        protected.add(ref["snapshot-id"])
        if ref.get("type", "branch") != "branch" or snap is None:
            continue
        min_keep = ref.get("min-snapshots-to-keep", d_min_keep)
        max_age = ref.get("max-snapshot-age-ms", d_max_age)
        if min_keep is None and max_age is None:
            continue  # head-only protection (see docstring)
        min_keep = int(min_keep) if min_keep is not None else 1
        kept, cur = 1, snap
        while cur is not None and cur.get("parent-snapshot-id") is not None:
            parent = snaps.get(cur["parent-snapshot-id"])
            if parent is None:
                break
            young = (
                max_age is not None
                and now_ms - parent["timestamp-ms"] < int(max_age)
            )
            if kept >= min_keep and not young:
                break
            protected.add(parent["snapshot-id"])
            kept += 1
            cur = parent
    return protected, aged_refs


def expire_snapshots(
    io: SparkCatalogIO,
    namespace: list[str],
    name: str,
    keep_last: int = 1,
    older_than_ms: int | None = None,
    clean_manifests: bool = True,
    now_ms: int | None = None,
) -> dict:
    """Remove ancestor snapshots beyond the newest `keep_last` (and, if
    given, only those older than `older_than_ms`). Snapshots referenced by
    any branch/tag are always kept, and per-ref retention options are
    honored (`_ref_retention`): branches with `min-snapshots-to-keep` /
    `max-snapshot-age-ms` keep that much ancestry, and non-main refs past
    their `max-ref-age-ms` are themselves expired in the same commit
    (age anchored to `now_ms` — injectable for deterministic tests).

    With `clean_manifests` (Iceberg's expire behavior), the expired
    snapshots' manifest-list and manifest files are deleted AFTER the
    commit succeeds — every commit here writes a fresh manifest set, so no
    live snapshot can share them, and without cleanup the metadata/
    directory grows one file set per commit forever. Data files are never
    touched (that is remove_orphan_files' job, with its retention guard).

    Ref-protected expire (mirrors Iceberg): the commit is pinned with
    assert-ref-snapshot-id for EVERY ref observed at load, so a ref moving
    concurrently 409s and the expiry is recomputed against fresh metadata;
    the server's remove-snapshots additionally refuses (under the commit
    lock) to drop any snapshot referenced by a ref created after our load.
    The file cleanup only ever runs after a commit that passed both."""
    from denali_spark.sources.catalog_io import CatalogHTTPError, CommitRetriesExhausted

    import time

    now = now_ms if now_ms is not None else int(time.time() * 1000)
    result = removable = None
    for _attempt in range(3):
        md = io.client.load_table(namespace, name)["metadata"]
        snaps = sorted(md.get("snapshots", []), key=lambda s: s["timestamp-ms"])
        protected, aged_refs = _ref_retention(md, now)
        if md.get("current-snapshot-id") is not None:
            protected.add(md["current-snapshot-id"])
        removable = [s for s in snaps if s["snapshot-id"] not in protected]
        if keep_last > 1:
            removable = removable[: -(keep_last - 1)] if keep_last - 1 < len(removable) else []
        if older_than_ms is not None:
            removable = [s for s in removable if s["timestamp-ms"] < older_than_ms]
        if not removable and not aged_refs:
            return {"metadata": md, "noop": True}
        # aged refs drop FIRST within the commit (updates apply in order),
        # so the server's ref-protected remove-snapshots guard no longer
        # sees them protecting the snapshots expiring right after
        updates = [
            {"action": "remove-snapshot-ref", "ref-name": r} for r in aged_refs
        ]
        if removable:
            updates.append(
                {
                    "action": "remove-snapshots",
                    "snapshot-ids": [s["snapshot-id"] for s in removable],
                }
            )
        try:
            result = io.client.commit_table(
                namespace,
                name,
                requirements=[
                    {"type": "assert-table-uuid", "uuid": md["table-uuid"]},
                    *(
                        {"type": "assert-ref-snapshot-id", "ref": ref_name,
                         "snapshot-id": r["snapshot-id"]}
                        for ref_name, r in md.get("refs", {}).items()
                    ),
                ],
                updates=updates,
            )
            break
        except CatalogHTTPError as exc:
            if exc.status != 409:
                raise
            result = None  # refs moved under us: reload and recompute
    if result is None:
        raise CommitRetriesExhausted(
            f"expire_snapshots of {'.'.join(namespace)}.{name} lost 3 ref races"
        )
    if clean_manifests:
        import os

        from denali_spark.catalog.metadata import _fs_path

        for snap in removable:
            try:
                doomed = [
                    mf["manifest_path"]
                    for mf in manifests.read_manifest_files(snap["manifest-list"])
                ]
            except (OSError, ValueError):
                continue  # already gone / unreadable: nothing to clean
            doomed.append(_fs_path(snap["manifest-list"]))
            for path in doomed:
                try:
                    os.remove(path)
                except OSError:
                    pass
        # statistics files keyed to expired snapshots: the server already
        # dropped their metadata entries in the same remove-snapshots
        # commit; reclaim the Puffin files (no live snapshot can reference
        # them — set-statistics upserts are per-snapshot).
        removed_ids = {s["snapshot-id"] for s in removable}
        all_stats = md.get("statistics", []) + md.get("partition-statistics", [])
        # Incremental ANALYZE carries prior bloom sidecar references
        # forward, so a sidecar may be shared across statistics entries:
        # only reclaim paths no SURVIVING entry still references.
        live_paths = set()
        for stat in all_stats:
            if stat["snapshot-id"] not in removed_ids:
                live_paths.add(stat.get("statistics-path", stat.get("path", "")))
                for bm in stat.get("blob-metadata", []):
                    p = bm.get("properties", {}).get("path")
                    if p:
                        live_paths.add(p)
        for stat in all_stats:
            if stat["snapshot-id"] in removed_ids:
                doomed_stats = {stat.get("statistics-path", stat.get("path", ""))}
                # per-task bloom sidecars referenced by blob-metadata
                # path properties ride along with their statistics entry
                for bm in stat.get("blob-metadata", []):
                    p = bm.get("properties", {}).get("path")
                    if p:
                        doomed_stats.add(p)
                for p in doomed_stats - live_paths:
                    try:
                        os.remove(_fs_path(p))
                    except OSError:
                        pass
    return result


ORPHAN_RETENTION_MS = 3 * 24 * 3600 * 1000  # Iceberg's default 3-day window


def remove_orphan_files(
    io: SparkCatalogIO,
    namespace: list[str],
    name: str,
    older_than_ms: int | None = None,
    dry_run: bool = False,
    force: bool = False,
) -> dict:
    """Delete data/delete files under the table location that no live
    snapshot references (Iceberg's remove_orphan_files procedure). Orphans
    accrue by design: failed commits and lost CAS races leave files behind
    because the DB row — not the filesystem — is the source of truth
    (SURVEY §3.1), and expire_snapshots drops manifests without touching
    data.

    `older_than_ms` guards against deleting files an in-flight commit wrote
    but hasn't committed yet: a writer stages data files FIRST and commits
    the manifest pointer after, so a file that is unreferenced *right now*
    may be seconds from being referenced. The default cutoff is now − 3
    days (Iceberg's `older_than` default); a cutoff at or beyond the
    metadata load time deletes exactly those in-flight files and therefore
    requires `force=True` (tests / quiesced tables only).

    Scans this table's data/ and deletes/ directories, plus metadata/ for
    orphaned MANIFEST artifacts only (a failed commit stages its manifest
    list and manifests before the catalog CAS, exactly like data files) —
    matched by the manifest naming patterns, so table-metadata JSON versions
    backing the metadata-log are never candidates. Driver-side file
    listing — bounded by file count, no row data read."""
    import os
    import time

    from denali_spark.catalog.metadata import _fs_path

    now_ms = int(time.time() * 1000)
    cutoff = older_than_ms if older_than_ms is not None else now_ms - ORPHAN_RETENTION_MS
    if cutoff >= now_ms and not force:
        raise ValueError(
            f"older_than_ms={older_than_ms} is not in the past: this would "
            "delete files of in-flight uncommitted writes. Pass force=True "
            "only if no writer can be active."
        )
    md = io.client.load_table(namespace, name)["metadata"]
    referenced: set[str] = set()
    for snap in md.get("snapshots", []):
        referenced.add(_fs_path(snap["manifest-list"]))
        for mf in manifests.read_manifest_files(snap["manifest-list"]):
            referenced.add(mf["manifest_path"])
            referenced.update(
                e["path"] for _s, _sid, e in manifests.read_manifest(mf["manifest_path"])
            )

    def is_manifest_artifact(fname: str) -> bool:
        return fname.endswith(".manifest-list.avro") or (
            fname.endswith(".avro") and "-m" in fname
        )

    removed, kept = [], 0
    root = _fs_path(md["location"])
    for sub in ("data", "deletes", "metadata"):
        base = os.path.join(root, sub)
        if not os.path.isdir(base):
            continue
        for dirpath, _dirs, files in os.walk(base):
            for fname in files:
                if fname.startswith((".", "_")):
                    # hidden sidecars (.crc) and markers (_SUCCESS): never
                    # referenced by manifests, ignored by readers — skip
                    continue
                if sub == "metadata" and not is_manifest_artifact(fname):
                    continue  # metadata-log JSON versions: never touched
                path = os.path.join(dirpath, fname)
                if path in referenced:
                    kept += 1
                    continue
                if os.path.getmtime(path) * 1000 >= cutoff:
                    kept += 1  # too fresh: possibly an in-flight commit
                    continue
                removed.append(path)
                if not dry_run:
                    os.remove(path)
    return {"removed": sorted(removed), "kept": kept, "dry_run": dry_run}


def _live_delete_entries(data_entries: list[dict],
                         delete_entries: list[dict]) -> list[dict]:
    """Delete entries that can still hit a row after a rewrite folded them
    into its output files. A rewrite's outputs carry a NEWER sequence
    number, so a folded delete can never re-apply to them (Iceberg's
    ordering rule: equality deletes hit only strictly-older data files;
    position deletes/DVs bind by exact path, and rewritten paths are new).
    Dropping the dead entries matters at scale: a compaction cadence that
    carried every historical delete file forward would accrete manifest
    bloat and a per-read anti-join per dead file.

    - position-deletes with a referenced-data-file (DVs): live iff the
      referenced path survived the rewrite;
    - position-delete parquet without per-entry scoping: kept while ANY
      pre-rewrite data file survives (it may reference one), dead when
      the rewrite replaced them all;
    - equality-deletes: live iff some surviving data file has a strictly
      lower sequence number."""
    live = []
    for e in delete_entries:
        if e.get("content") == "position-deletes":
            ref = e.get("referenced-data-file")
            if ref is not None:
                if any(d["path"] == ref for d in data_entries):
                    live.append(e)
            elif data_entries:
                live.append(e)
        else:
            seq = int(e.get("sequence-number", 0))
            if any(int(d.get("sequence-number", 0)) < seq
                   for d in data_entries):
                live.append(e)
    return live


def compact_data_files(
    io: SparkCatalogIO,
    namespace: list[str],
    name: str,
    target_file_size_bytes: int = 128 * 1024 * 1024,
    min_input_files: int = 2,
    where: dict | str | None = None,
) -> dict:
    """Bin-pack files smaller than the target into ~target-size files
    (Iceberg's rewrite_data_files procedure). Large files are carried over
    untouched; a no-op when fewer than `min_input_files` qualify.

    `where` (Iceberg's procedure filter): a scan expression — dict, or SQL
    predicate text via expressions.parse_where — restricting the
    rewrite to files whose stats MIGHT match (conservative, so a file
    straddling the predicate is compacted rather than skipped). This is
    how a 100 TB table compacts one hot partition's small-file debris
    without replanning the other 100k files' rows."""

    def attempt():
        md = io.client.load_table(namespace, name)["metadata"]
        ref = md.get("refs", {}).get(MAIN)
        parent_id = ref["snapshot-id"] if ref else None
        if parent_id is None:
            return {"metadata": md, "noop": True}
        snap = io._resolve_snapshot(md, parent_id)
        data, deletes = split_entries(manifests.read_manifest_list(snap["manifest-list"]))
        small = [
            e for e in data
            if e.get("file-size-bytes", target_file_size_bytes) < target_file_size_bytes
        ]
        if where is not None:
            from denali_spark.sources.expressions import (
                file_might_match,
                parse_where,
            )

            flt = parse_where(where) if isinstance(where, str) else where
            small = [e for e in small if file_might_match(flt, e.get("stats"))]
        if len(small) < min_input_files:
            return {"metadata": md, "noop": True}
        small_paths = {e["path"] for e in small}
        kept = [e for e in data if e["path"] not in small_paths]
        # deletes folded into the pack die unless they can still hit a
        # surviving (non-compacted) data file — _live_delete_entries
        untouched = kept + _live_delete_entries(kept, deletes)
        total = sum(e.get("file-size-bytes", 0) for e in small)
        n_out = max(1, -(-total // target_file_size_bytes))  # ceil
        # Pending merge-on-read deletes are folded in during the rewrite —
        # compaction doubles as delete materialization for the files it packs.
        # V3 row-lineage carry-through: when the inputs carry lineage
        # (file-range first-row-id or an already-materialized _row_id
        # column), the surviving rows' ids are MATERIALIZED into the
        # rewritten files as a physical _row_id column, so row identity
        # survives the rewrite per the V3 spec (ranges can't represent
        # survivors once deletes punch holes in a file).
        from pyspark.sql import functions as SF

        from denali_spark.sources.catalog_io import ROW_ID, table_write_format

        carry_lineage = any("first-row-id" in e for e in small) or any(
            e.get("materialized-lineage") for e in small
        )
        df = io._read_reconciled(
            md, snap, small,
            with_lineage=bool(deletes) or carry_lineage,
            with_row_ids=carry_lineage,
        )
        if deletes:
            from denali_spark.sources.schema_evolution import current_schema

            df = io._apply_deletes(df, small, deletes, target_schema=current_schema(md))
        if carry_lineage:
            frid = io.spark.createDataFrame(
                [(e["path"], e.get("first-row-id")) for e in small],
                f"{LINEAGE_FILE} string, __dsp_frid long",
            )
            df = df.join(SF.broadcast(frid), LINEAGE_FILE, "left").withColumn(
                ROW_ID,
                SF.coalesce(
                    SF.col(ROW_ID), SF.col("__dsp_frid") + SF.col(LINEAGE_POS)
                ),
            ).drop("__dsp_frid")
        if (LINEAGE_FILE in df.columns) or (LINEAGE_POS in df.columns):
            df = df.drop(LINEAGE_FILE, LINEAGE_POS)
        # A partitioned table's rewrite MUST re-emit files under the
        # current spec (partition tuples recorded, pruning preserved) —
        # the partitioned write hash-distributes by partition value, so
        # the coalesce-to-target-size shaping applies only to the
        # unpartitioned case.
        from denali_spark.sources.partitioning import spec_to_partition_by

        parts = spec_to_partition_by(md)
        if not parts:
            df = df.coalesce(n_out)
        new_files = io._write_data_files(
            df, md["location"], partition_by=parts,
            schema_id=md.get("current-schema-id", 0),
            file_format=table_write_format(md),
        )
        if carry_lineage:
            for f in new_files:
                f["materialized-lineage"] = True
        return _commit_cow(
            io, namespace, name, md, parent_id, untouched + new_files,
            "replace",
            {"compacted-input-files": str(len(small)),
             "compacted-output-files": str(len(new_files))},
        )

    return _retrying(attempt)


def _equi_depth_bucket(bounds: list[float], col: str):
    """Equi-depth bucket id (0..n_buckets-1) for a numeric/temporal column,
    as a pure-JVM expression: `bounds` are precomputed quantile boundaries
    (driver holds n_buckets-1 doubles, never rows), and the per-row bucket
    is how many boundaries lie at or below the value — a
    SIZE(FILTER(boundary_array)) higher-order function, no UDF, no extra
    shuffle. Equi-depth (not width_bucket's equi-width) so skewed columns
    still spread evenly across the Z-curve."""
    from pyspark.sql import functions as F

    # strictly increasing boundary list (duplicates collapse buckets)
    uniq: list[float] = []
    for b in bounds:
        if not uniq or b > uniq[-1]:
            uniq.append(b)
    arr = F.array(*[F.lit(b) for b in uniq])
    v = F.col(col).cast("double")
    return F.when(v.isNull(), F.lit(0)).otherwise(
        F.size(F.filter(arr, lambda b: b <= v))
    )


def _zvalue(df, cols: list[str], n_buckets: int):
    """Interleave the bits of each column's equi-depth bucket id into one
    Z-order key (Morton code) — static bit unrolling with shiftleft /
    shiftright / bitwise AND, all whole-stage-codegen expressions. ALL
    columns' quantile boundaries come from ONE approxQuantile pass over the
    table (not one scan per dimension)."""
    from pyspark.sql import functions as F

    bits = max(1, (n_buckets - 1).bit_length())
    d = len(cols)
    probs = [i / n_buckets for i in range(1, n_buckets)]
    cast = df.select(
        *[F.col(c).cast("double").alias(f"__q{i}") for i, c in enumerate(cols)]
    )
    all_bounds = cast.approxQuantile(
        [f"__q{i}" for i in range(len(cols))], probs, 0.001
    )
    buckets = [
        _equi_depth_bucket(bounds, c).cast("long")
        for bounds, c in zip(all_bounds, cols)
    ]
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, b in enumerate(buckets):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), i * d + j)
            )
    return z


def rewrite_clustered(
    io: SparkCatalogIO,
    namespace: list[str],
    name: str,
    sort_by: list[str],
    strategy: str = "sort",
    target_file_size_bytes: int = 128 * 1024 * 1024,
    zorder_buckets: int = 64,
) -> dict:
    """Iceberg's rewrite_data_files with a clustering strategy: rewrite ALL
    data files so per-file min/max stats become selective.

    - strategy="sort": global range partition on `sort_by` + in-file sort —
      each file owns a disjoint range of the leading column, so range
      predicates on it touch O(1) files (the layout `expressions.
      file_might_match` prunes against).
    - strategy="zorder": multi-dimensional clustering. Each sort column is
      equi-depth-bucketed, bucket ids bit-interleave into a Morton key, and
      files are range-partitioned on that key — predicates on ANY of the
      columns prune a large fraction of files, the property a single-column
      sort cannot give. (Iceberg's zorder rewrite; the bucket/interleave
      math is the standard public construction.)

    Pending merge-on-read deletes fold in (every rewritten file is new, so
    old delete files no longer apply and are dropped). Partitioned tables
    keep their layout: "sort" clusters within partitions; "zorder" across
    partition boundaries is not supported. Same CAS-retry commit shape as
    compact_data_files."""
    if strategy not in ("sort", "zorder"):
        raise ValueError(f"unknown rewrite strategy {strategy!r}")
    if not sort_by:
        raise ValueError("sort_by must name at least one column")

    from denali_spark.sources.catalog_io import table_write_format
    from denali_spark.sources.partitioning import spec_to_partition_by

    def attempt():
        md = io.client.load_table(namespace, name)["metadata"]
        ref = md.get("refs", {}).get(MAIN)
        parent_id = ref["snapshot-id"] if ref else None
        if parent_id is None:
            return {"metadata": md, "noop": True}
        snap = io._resolve_snapshot(md, parent_id)
        data, deletes = split_entries(manifests.read_manifest_list(snap["manifest-list"]))
        if not data:
            return {"metadata": md, "noop": True}
        parts = spec_to_partition_by(md)
        if parts and strategy == "zorder":
            raise NotImplementedError(
                "zorder rewrite of a partitioned table: cluster within "
                "partitions with strategy='sort', or drop the spec first"
            )
        df = io._read_reconciled(md, snap, data, with_lineage=bool(deletes))
        if deletes:
            from denali_spark.sources.schema_evolution import current_schema

            df = io._apply_deletes(df, data, deletes, target_schema=current_schema(md))
            df = df.drop(LINEAGE_FILE, LINEAGE_POS)
        total = sum(e.get("file-size-bytes", 0) for e in data)
        n_out = max(1, -(-total // target_file_size_bytes))  # ceil
        schema_id = md.get("current-schema-id", 0)
        fmt = table_write_format(md)
        if strategy == "sort":
            new_files = io._write_data_files(
                df, md["location"], partition_by=parts, sort_by=sort_by,
                num_files=None if parts else n_out, schema_id=schema_id,
                file_format=fmt,
            )
        else:
            z = _zvalue(df, sort_by, zorder_buckets)
            shaped = (
                df.withColumn("__z", z)
                .repartitionByRange(n_out, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
            new_files = io._write_data_files(
                shaped, md["location"], schema_id=schema_id, file_format=fmt
            )
        return _commit_cow(
            io, namespace, name, md, parent_id, new_files, "replace",
            {"rewrite-strategy": strategy,
             "rewrite-sort-by": ",".join(sort_by),
             "rewritten-input-files": str(len(data)),
             "rewritten-output-files": str(len(new_files))},
        )

    return _retrying(attempt)


# --- table statistics (ANALYZE TABLE) ---------------------------------------

HLL_BLOB_TYPE = "apache-datasketches-hll-v1"


def analyze_table(
    io: SparkCatalogIO, namespace: list[str], name: str,
    columns: list[str] | None = None,
    bloom_columns: list[str] | None = None,
    bloom_fpp: float = 0.01,
) -> dict:
    """ANALYZE TABLE: one aggregation pass computes, per column, an Apache
    DataSketches HLL sketch (Spark's `hll_sketch_agg` — mergeable, so a
    1000-executor run unions partial sketches map-side) plus null counts
    and the row count; the sketches are written as blobs of a Puffin
    statistics file and registered on the CURRENT snapshot via the
    catalog's `set-statistics` update (the op the reference rejects,
    logic/updates.go:399-407 — spec-correct here since round 2).

    NDV estimates are what a cost-based optimizer reorders joins and picks
    broadcast sides with; storing the SKETCH (not just the number) keeps
    stats mergeable across partitions/snapshots. Blob type is
    `apache-datasketches-hll-v1` (this engine's convention — Iceberg's
    standard ndv blob is a theta sketch; HLL is what Spark exposes
    natively, and the estimate also rides in the blob properties so
    non-Spark readers need no sketch decode).

    With `bloom_columns`, the registered blob-metadata additionally
    carries a PER-FILE bloom filter blob for each named column (int/long/
    string only) — the point-predicate file-pruning index `read_table`
    consults for `eq` conjuncts (sources/bloom.py). The filter bytes are
    written EXECUTOR-side into per-task Puffin sidecar files (Iceberg's
    one-Puffin-per-writer-task layout; the blob-metadata entries name the
    sidecar in their `path` property) so a 100 TB analyze never funnels
    files×columns of filter bytes through the driver. Build cost is one
    extra pass grouped by file; the blobs are a few KB per (file, column).

    Returns {"path", "snapshot-id", "row-count", "ndv": {col: int}}.
    """
    import json
    import os
    import uuid

    from pyspark.sql import functions as F

    from denali_spark.catalog.metadata import _fs_path
    from denali_spark.sources.puffin import write_puffin
    from denali_spark.sources.schema_evolution import current_schema

    md = io.client.load_table(namespace, name)["metadata"]
    ref = md.get("refs", {}).get(MAIN)
    if ref is None:
        raise ValueError("cannot analyze an empty table (no current snapshot)")
    snapshot_id = ref["snapshot-id"]
    snap = io._resolve_snapshot(md, snapshot_id)
    seq = snap.get("sequence-number", 0)
    schema = current_schema(md)
    by_name = {f["name"]: f for f in schema["fields"]}
    cols = columns or [f["name"] for f in schema["fields"]]
    unknown = [c for c in cols if c not in by_name]
    if unknown:
        raise ValueError(f"columns not in schema: {unknown}")

    df = io.read_table(namespace, name)
    # hll_sketch_agg accepts int/long/string/binary; everything else goes
    # through a canonical string rendering (exactness of NDV is unaffected
    # as long as the rendering is injective, which cast-to-string is for
    # the primitive types here).
    direct = {"int", "long", "string", "binary"}
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        col = F.col(c)
        t = by_name[c]["type"]
        # nested types (list/struct/map) arrive as dicts — they go through
        # the string rendering too, like non-direct primitives
        if not (isinstance(t, str) and t in direct):
            col = col.cast("string")
        aggs.append(F.hll_sketch_agg(col).alias(f"__sk_{c}"))
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nulls_{c}")
        )
        aggs.append(
            F.hll_sketch_estimate(F.hll_sketch_agg(col)).alias(f"__ndv_{c}")
        )
    row = df.agg(*aggs).collect()[0]

    bloom_blobs = []
    if bloom_columns:
        from denali_spark.sources.bloom import BLOOMABLE_TYPES

        bad = [
            c for c in bloom_columns
            if c not in by_name or by_name[c]["type"] not in BLOOMABLE_TYPES
        ]
        if bad:
            raise ValueError(
                f"bloom_columns must be int/long/string schema columns; got {bad}"
            )
        cur_schema_id = md.get("current-schema-id", 0)
        entries = [
            e for e in manifests.read_manifest_list(snap["manifest-list"])
            if e.get("content", "data") == "data"
            and e.get("file-format", "parquet") == "parquet"
            # Soundness: a raw parquet read of a PRE-EVOLUTION file would
            # see NULLs for renamed columns and produce an empty bloom
            # that wrongly prunes it. Old-schema files simply get no blob
            # (never pruned) until a rewrite refreshes them.
            and e.get("schema-id", cur_schema_id) == cur_schema_id
        ]
        bloom_blobs = _build_bloom_blobs(
            io, md, snapshot_id, seq, entries, list(bloom_columns),
            bloom_fpp, by_name,
        )

    blobs = []
    for c in cols:
        sketch = row[f"__sk_{c}"]
        blobs.append(
            {
                "type": HLL_BLOB_TYPE,
                "data": bytes(sketch) if sketch is not None else b"",
                "fields": [by_name[c]["id"]],
                "snapshot-id": snapshot_id,
                "sequence-number": seq,
                "properties": {
                    "column": c,
                    "ndv": str(int(row[f"__ndv_{c}"] or 0)),
                    "null-count": str(int(row[f"__nulls_{c}"] or 0)),
                },
            }
        )
    stats_dir = os.path.join(_fs_path(md["location"]), "metadata")
    os.makedirs(stats_dir, exist_ok=True)
    path = os.path.join(stats_dir, f"{snapshot_id}-{uuid.uuid4().hex[:8]}.stats.puffin")
    metas = write_puffin(path, blobs, properties={"row-count": str(row["__rows"])})
    # footer = magic + payload + size(4) + flags(4) + magic(4)
    payload_len = len(json.dumps({"blobs": metas, "properties": {
        "row-count": str(row["__rows"])}}).encode())
    statistics = {
        "snapshot-id": snapshot_id,
        "statistics-path": path,
        "file-size-in-bytes": os.path.getsize(path),
        "file-footer-size-in-bytes": 4 + payload_len + 12,
        # the registered blob list spans the stats file (HLL) AND the
        # per-task bloom sidecars (meta-only entries carrying their path)
        "blob-metadata": metas + bloom_blobs,
    }
    io.client.commit_table(
        namespace, name,
        requirements=[{"type": "assert-table-uuid", "uuid": md["table-uuid"]}],
        updates=[{"action": "set-statistics", "statistics": statistics}],
    )
    return {
        "path": path,
        "snapshot-id": snapshot_id,
        "row-count": row["__rows"],
        "ndv": {c: int(row[f"__ndv_{c}"] or 0) for c in cols},
    }


def _build_bloom_blobs(
    io, md, snapshot_id, seq, entries, bcols, bloom_fpp, by_name
):
    """Per-(file, column) bloom filters for `entries`, built distributed
    and written EXECUTOR-side into per-task Puffin sidecar files; returns
    meta-only blob entries (offset/length into the sidecar named by the
    `path` property) ready for a statistics registration. Shared by full
    and incremental ANALYZE."""
    import os
    import uuid

    import pandas as pd
    from pyspark.sql import functions as F

    from denali_spark.catalog.metadata import _fs_path
    from denali_spark.sources.bloom import BLOOM_BLOB_TYPE, build_bloom

    if not entries:
        return []
    sidecar_dir = os.path.join(_fs_path(md["location"]), "metadata")
    sidecar_prefix = f"{snapshot_id}-bloom-{uuid.uuid4().hex[:8]}"

    def bloom_kernel(key, pdf):
        fpath = key[0]
        if fpath.startswith("file://"):
            fpath = fpath[len("file://"):]
        rows_out = []
        for c in bcols:
            # values arrive PRE-RENDERED as canonical strings (the
            # Spark-side cast below) — a pandas int64-with-null column
            # would otherwise coerce to float64 and render "17.0",
            # poisoning the filter with false NEGATIVES
            rendered = pdf[c].dropna().unique().tolist()
            rows_out.append(
                {"f": fpath, "c": c, "blob": build_bloom(rendered, bloom_fpp)}
            )
        return pd.DataFrame(rows_out)

    def write_task_sidecars(batches):
        # One Puffin SIDECAR per non-empty task (the per-writer-task
        # layout): filter bytes never transit the driver — only
        # (file, column, path, offset, length) metadata rows do.
        from denali_spark.sources.puffin import write_puffin

        acc = []
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                acc.append((r.f, r.c, bytes(r.blob)))
        if not acc:
            return
        acc.sort(key=lambda t: (t[0], t[1]))
        os.makedirs(sidecar_dir, exist_ok=True)
        spath = os.path.join(
            sidecar_dir, f"{sidecar_prefix}-{uuid.uuid4().hex[:8]}.puffin"
        )
        metas = write_puffin(
            spath,
            [
                {"type": BLOOM_BLOB_TYPE, "data": blob,
                 "properties": {"file": f, "column": c}}
                for f, c, blob in acc
            ],
        )
        yield pd.DataFrame(
            [
                {"f": f, "c": c, "path": spath,
                 "offset": m["offset"], "length": m["length"]}
                for (f, c, _blob), m in zip(acc, metas)
            ]
        )

    # Cast to string IN SPARK: long→string is the same canonical rendering
    # value_key() probes with, and nulls stay nulls.
    src = io.spark.read.parquet(*[e["path"] for e in entries]).select(
        F.input_file_name().alias("_f"),
        *[F.col(c).cast("string").alias(c) for c in bcols],
    )
    out = []
    for r in (
        src.groupBy("_f")
        .applyInPandas(bloom_kernel, "f string, c string, blob binary")
        .mapInPandas(
            write_task_sidecars,
            "f string, c string, path string, offset long, length long",
        )
        .collect()
    ):
        # Meta-only entry: offset/length point into the SIDECAR file named
        # by properties.path (engine-private blob type; the registered
        # statistics file itself holds the HLL blobs). bloom_prune
        # resolves the path property first.
        out.append(
            {
                "type": BLOOM_BLOB_TYPE,
                "fields": [by_name[r["c"]]["id"]],
                "snapshot-id": snapshot_id,
                "sequence-number": seq,
                "offset": r["offset"],
                "length": r["length"],
                "properties": {
                    "file": r["f"], "column": r["c"],
                    "fpp": str(bloom_fpp), "path": r["path"],
                },
            }
        )
    return out


def analyze_table_incremental(
    io: SparkCatalogIO, namespace: list[str], name: str,
    bloom_fpp: float = 0.01,
) -> dict:
    """Incremental ANALYZE for append-only commits: HLL sketches are
    mergeable by construction, so only the files appended since the last
    analyzed ancestor snapshot are scanned — their per-column sketches are
    hll_union'd with the prior statistics file's stored sketches, null/row
    counts add, and the merged statistics register on the CURRENT
    snapshot. Bloom filters are built for the NEW files only; the prior
    files' blob-metadata entries carry over untouched (their bytes live in
    per-task sidecar files that remain valid).

    Falls back to a full `analyze_table` when there is no analyzed
    ancestor, when the chain from it includes a non-append snapshot
    (overwrite/delete invalidates carried file stats), or when the schema
    changed. At 100 TB this is the difference between scanning one
    ingest's worth of data and re-scanning the table."""
    import json
    import os
    import uuid

    from pyspark.sql import functions as F

    from denali_spark.catalog.metadata import _fs_path
    from denali_spark.sources.puffin import read_blob, write_puffin
    from denali_spark.sources.schema_evolution import current_schema

    md = io.client.load_table(namespace, name)["metadata"]
    ref = md.get("refs", {}).get(MAIN)
    if ref is None:
        raise ValueError("cannot analyze an empty table (no current snapshot)")
    snapshot_id = ref["snapshot-id"]
    stats_list = md.get("statistics", [])
    if any(s["snapshot-id"] == snapshot_id for s in stats_list):
        return {"snapshot-id": snapshot_id, "noop": True}

    # nearest analyzed ancestor along the parent chain, and the chain of
    # snapshots between it (exclusive) and current (inclusive)
    by_id = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
    chain = []
    walk = by_id.get(snapshot_id)
    prior_stat = None
    while walk is not None:
        st = next(
            (s for s in stats_list if s["snapshot-id"] == walk["snapshot-id"]),
            None,
        )
        if st is not None:
            prior_stat = st
            break
        chain.append(walk)
        walk = by_id.get(walk.get("parent-snapshot-id"))

    def _full():
        prior_cols = None
        prior_bloom_cols = None
        if prior_stat is not None:
            hll = [b for b in prior_stat.get("blob-metadata", [])
                   if b.get("type") == HLL_BLOB_TYPE]
            prior_cols = [b["properties"]["column"] for b in hll] or None
            from denali_spark.sources.bloom import BLOOM_BLOB_TYPE

            prior_bloom_cols = sorted({
                b["properties"]["column"]
                for b in prior_stat.get("blob-metadata", [])
                if b.get("type") == BLOOM_BLOB_TYPE
            }) or None
        out = analyze_table(
            io, namespace, name, columns=prior_cols,
            bloom_columns=prior_bloom_cols, bloom_fpp=bloom_fpp,
        )
        return {**out, "mode": "full"}

    if prior_stat is None:
        return _full()
    non_append = [
        s["snapshot-id"] for s in chain
        if s.get("summary", {}).get("operation") != "append"
    ]
    if non_append:
        return _full()

    schema = current_schema(md)
    by_name = {f["name"]: f for f in schema["fields"]}
    prior_hll = [
        b for b in prior_stat.get("blob-metadata", [])
        if b.get("type") == HLL_BLOB_TYPE
    ]
    cols = [b["properties"]["column"] for b in prior_hll]
    if any(c not in by_name for c in cols):
        return _full()  # schema changed under the stats

    snap = io._resolve_snapshot(md, snapshot_id)
    seq = snap.get("sequence-number", 0)
    chain_seqs = {s.get("sequence-number", 0) for s in chain}
    cur_schema_id = md.get("current-schema-id", 0)
    from denali_spark.sources.catalog_io import split_entries

    data, _deletes = split_entries(manifests.read_manifest_list(snap["manifest-list"]))
    new_entries = [
        e for e in data if int(e.get("sequence-number", 0)) in chain_seqs
    ]
    if any(
        e.get("file-format", "parquet") != "parquet"
        or e.get("schema-id", cur_schema_id) != cur_schema_id
        for e in new_entries
    ):
        return _full()

    # one scan of the NEW files only
    direct = {"int", "long", "string", "binary"}
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        col = F.col(c)
        t = by_name[c]["type"]
        if not (isinstance(t, str) and t in direct):
            col = col.cast("string")
        aggs.append(F.hll_sketch_agg(col).alias(f"__sk_{c}"))
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nulls_{c}")
        )
    if new_entries:
        row = io.spark.read.parquet(
            *[e["path"] for e in new_entries]
        ).agg(*aggs).collect()[0]
    else:
        row = None

    # merge: prior sketch bytes ∪ new sketch, null/row counts add
    from denali_spark.sources.puffin import read_puffin_footer

    prior_footer = read_puffin_footer(prior_stat["statistics-path"])
    prior_rows = int(prior_footer["properties"].get("row-count", 0))
    new_rows = int(row["__rows"]) if row is not None else 0

    blobs = []
    ndv_out = {}
    prior_bytes = {}
    for bm in prior_hll:
        c = bm["properties"]["column"]
        prior_bytes[c] = read_blob(
            prior_stat["statistics-path"], bm["offset"], bm["length"]
        )
    unionable = [
        c for c in cols
        if row is not None and row[f"__sk_{c}"] is not None
    ]
    merged_row = None
    if unionable:
        merged_row = io.spark.range(1).select(
            *[
                F.hll_union(
                    F.lit(prior_bytes[c]), F.lit(bytes(row[f"__sk_{c}"])), True
                ).alias(f"__m_{c}")
                for c in unionable
            ],
            *[
                F.hll_sketch_estimate(
                    F.hll_union(
                        F.lit(prior_bytes[c]), F.lit(bytes(row[f"__sk_{c}"])), True
                    )
                ).alias(f"__e_{c}")
                for c in unionable
            ],
        ).collect()[0]
    for bm in prior_hll:
        c = bm["properties"]["column"]
        if merged_row is not None and c in unionable:
            sketch = bytes(merged_row[f"__m_{c}"])
            ndv = int(merged_row[f"__e_{c}"] or 0)
        else:  # no new non-null values: the prior sketch IS the union
            sketch = prior_bytes[c]
            ndv = int(bm["properties"].get("ndv", 0))
        nulls = int(bm["properties"].get("null-count", 0)) + (
            int(row[f"__nulls_{c}"] or 0) if row is not None else 0
        )
        ndv_out[c] = ndv
        blobs.append(
            {
                "type": HLL_BLOB_TYPE,
                "data": sketch,
                "fields": [by_name[c]["id"]],
                "snapshot-id": snapshot_id,
                "sequence-number": seq,
                "properties": {
                    "column": c, "ndv": str(ndv), "null-count": str(nulls),
                },
            }
        )

    # bloom: new files only; prior entries carry over (sidecars untouched)
    from denali_spark.sources.bloom import BLOOM_BLOB_TYPE

    prior_bloom = [
        b for b in prior_stat.get("blob-metadata", [])
        if b.get("type") == BLOOM_BLOB_TYPE
    ]
    if any("path" not in b.get("properties", {}) for b in prior_bloom):
        # legacy layout: bloom bytes embedded in the OLD statistics file.
        # Carrying those entries would point their offsets at the NEW
        # statistics file (silently wrong pruning) — recompute fully,
        # which rewrites them in the sidecar layout.
        return _full()
    bloom_cols = sorted({b["properties"]["column"] for b in prior_bloom})
    new_bloom = []
    if bloom_cols and new_entries:
        new_bloom = _build_bloom_blobs(
            io, md, snapshot_id, seq, new_entries, bloom_cols, bloom_fpp, by_name
        )

    total_rows = prior_rows + new_rows
    stats_dir = os.path.join(_fs_path(md["location"]), "metadata")
    os.makedirs(stats_dir, exist_ok=True)
    path = os.path.join(
        stats_dir, f"{snapshot_id}-{uuid.uuid4().hex[:8]}.stats.puffin"
    )
    metas = write_puffin(path, blobs, properties={"row-count": str(total_rows)})
    payload_len = len(json.dumps({"blobs": metas, "properties": {
        "row-count": str(total_rows)}}).encode())
    statistics = {
        "snapshot-id": snapshot_id,
        "statistics-path": path,
        "file-size-in-bytes": os.path.getsize(path),
        "file-footer-size-in-bytes": 4 + payload_len + 12,
        "blob-metadata": metas + prior_bloom + new_bloom,
    }
    io.client.commit_table(
        namespace, name,
        requirements=[{"type": "assert-table-uuid", "uuid": md["table-uuid"]}],
        updates=[{"action": "set-statistics", "statistics": statistics}],
    )
    return {
        "path": path,
        "snapshot-id": snapshot_id,
        "mode": "incremental",
        "new-files": len(new_entries),
        "row-count": total_rows,
        "ndv": ndv_out,
    }


def table_statistics(io: SparkCatalogIO, namespace: list[str], name: str) -> dict:
    """Read back the registered statistics file for the CURRENT snapshot:
    decodes each HLL blob through Spark's `hll_sketch_estimate` (proving
    the stored sketches are genuine DataSketches payloads, not just cached
    numbers) and cross-checks the blob-property estimate. Returns
    {"row-count", "columns": {name: {"ndv", "null-count"}}}."""
    from pyspark.sql import functions as F

    from denali_spark.sources.puffin import read_blob, read_puffin_footer

    md = io.client.load_table(namespace, name)["metadata"]
    ref = md.get("refs", {}).get(MAIN)
    if ref is None:
        raise ValueError("empty table")
    sid = ref["snapshot-id"]
    entry = next(
        (s for s in md.get("statistics", []) if s["snapshot-id"] == sid), None
    )
    if entry is None:
        raise ValueError(
            f"no statistics registered for snapshot {sid}; run analyze_table()"
        )
    path = entry["statistics-path"]
    footer = read_puffin_footer(path)
    out: dict = {"row-count": int(footer["properties"]["row-count"]), "columns": {}}
    for bm in footer["blobs"]:
        if bm["type"] != HLL_BLOB_TYPE:
            continue
        props = bm.get("properties", {})
        cname = props["column"]
        sketch = read_blob(path, bm["offset"], bm["length"])
        est = (
            io.spark.range(1)
            .select(F.hll_sketch_estimate(F.lit(sketch)).alias("ndv"))
            .collect()[0]["ndv"]
        )
        assert int(est) == int(props["ndv"]), (
            f"{cname}: stored estimate {props['ndv']} != sketch decode {est}"
        )
        out["columns"][cname] = {
            "ndv": int(est), "null-count": int(props.get("null-count", 0))
        }
    return out


def analyze_partitions(io: SparkCatalogIO, namespace: list[str], name: str) -> dict:
    """Write an Iceberg partition-statistics file: the `partitions`
    metadata relation (per-partition data/delete file + record tallies)
    materialized as one parquet file and registered on the CURRENT
    snapshot via the catalog's `set-partition-statistics` op — the other
    statistics op the reference rejects. Planners use it to answer
    "how big is each partition" without walking manifests; at 100 TB the
    tallies aggregate distributed (one decode task per manifest) and only
    the bounded per-partition relation is collected into the file."""
    import glob
    import os
    import shutil
    import uuid

    from denali_spark.catalog.metadata import _fs_path
    from denali_spark.sources.metadata_tables import metadata_table

    md = io.client.load_table(namespace, name)["metadata"]
    ref = md.get("refs", {}).get(MAIN)
    if ref is None:
        raise ValueError("cannot analyze an empty table (no current snapshot)")
    sid = ref["snapshot-id"]
    pdf = metadata_table(io, namespace, name, "partitions")
    stats_dir = os.path.join(_fs_path(md["location"]), "metadata")
    os.makedirs(stats_dir, exist_ok=True)
    tmp = os.path.join(stats_dir, f".pstats-tmp-{uuid.uuid4().hex[:8]}")
    pdf.coalesce(1).write.mode("overwrite").parquet(tmp)
    (part,) = glob.glob(os.path.join(tmp, "*.parquet"))
    path = os.path.join(
        stats_dir, f"partition-stats-{sid}-{uuid.uuid4().hex[:8]}.parquet"
    )
    os.replace(part, path)
    shutil.rmtree(tmp, ignore_errors=True)
    entry = {
        "snapshot-id": sid,
        "statistics-path": path,
        "file-size-in-bytes": os.path.getsize(path),
    }
    io.client.commit_table(
        namespace, name,
        requirements=[{"type": "assert-table-uuid", "uuid": md["table-uuid"]}],
        updates=[{"action": "set-partition-statistics",
                  "partition-statistics": entry}],
    )
    return entry


def partition_statistics(io: SparkCatalogIO, namespace: list[str], name: str):
    """The registered partition-statistics relation for the CURRENT
    snapshot, as a DataFrame."""
    md = io.client.load_table(namespace, name)["metadata"]
    ref = md.get("refs", {}).get(MAIN)
    if ref is None:
        raise ValueError("empty table")
    sid = ref["snapshot-id"]
    entry = next(
        (s for s in md.get("partition-statistics", [])
         if s["snapshot-id"] == sid),
        None,
    )
    if entry is None:
        raise ValueError(
            f"no partition statistics for snapshot {sid}; run analyze_partitions()"
        )
    return io.spark.read.parquet(entry["statistics-path"])


def run_maintenance(
    io: SparkCatalogIO, namespace: list[str], name: str,
    fold_deletes: bool = True,
    compact: bool = True,
    target_file_size_bytes: int = 128 * 1024 * 1024,
    expire: bool = True,
    keep_last: int = 3,
    orphans: bool = False,
    analyze_columns: list[str] | None = None,
    bloom_columns: list[str] | None = None,
    refresh_mviews: bool = True,
) -> dict:
    """One-call day-2 maintenance in the order a production table wants it:

    1. rewrite_deletes  — fold accumulated MoR deletes/vectors into data
    2. compact_data_files — bin-pack small files toward the target size
    3. refresh dependent materialized views, TRANSITIVELY in dependency
       order (an MV over an MV refreshes after its parent folds) — their
       watermarks advance to the post-compaction snapshot, so the expiry
       below can never trim history a rollup still needs (an expired
       watermark makes the incremental delta underivable —
       ivm._require_live_watermark)
    4. expire_snapshots — trim history past keep_last (refs protected)
    5. remove_orphan_files — only when `orphans=True` (its 3-day retention
       guard makes it a no-op for fresh leftovers; run it on quiet tables)
    6. analyze_table — refresh statistics (and bloom filters) on the final
       snapshot so the pruning indexes match what readers will scan

    Each step commits independently (CAS-retried) and the report maps step
    name → its outcome, so a failure leaves earlier steps durable."""
    from denali_spark.sources.mor import rewrite_deletes

    report: dict = {}
    if fold_deletes:
        r = rewrite_deletes(io, namespace, name)
        report["rewrite_deletes"] = "noop" if r.get("noop") else "done"
    if compact:
        r = compact_data_files(
            io, namespace, name, target_file_size_bytes=target_file_size_bytes
        )
        report["compact_data_files"] = "noop" if r.get("noop") else "done"
    if refresh_mviews:
        from denali_spark.sources.ivm import (
            _sources,
            dependent_materialized_views,
            refresh_materialized_view,
        )

        # Transitive closure through each table's dependents entries (one
        # load per node), refreshed in TOPOLOGICAL order: an MV built
        # over another MV (cascading rollups) must fold AFTER its parent —
        # including diamonds (a join MV over the base table AND a sibling
        # MV must not refresh off the sibling's stale state, which a
        # plain BFS order permits). A failed parent's descendants are
        # SKIPPED and reported: refreshing them would advance their
        # watermark over a parent state that never folded.
        queue = dependent_materialized_views(io, namespace, name)
        nodes: dict[str, tuple[list[str], str, set[str]]] = {}
        while queue:
            d_ns, d_name, d_spec, d_md = queue.pop(0)
            key = ".".join([*d_ns, d_name])
            if key in nodes:
                continue
            srcs = {".".join([*ns, n]) for ns, n in _sources(d_spec)}
            nodes[key] = (d_ns, d_name, srcs)
            queue.extend(dependent_materialized_views(io, d_ns, d_name, d_md))
        parents_of = {k: srcs & set(nodes) for k, (*_, srcs) in nodes.items()}
        order: list[str] = []
        remaining = set(nodes)
        while remaining:
            ready = sorted(
                k for k in remaining if not (parents_of[k] & remaining)
            )
            if not ready:
                # dependency cycle (only constructible by hand-editing
                # specs): fall back to name order; per-MV isolation below
                # still contains any resulting failure
                ready = sorted(remaining)
            order.extend(ready)
            remaining -= set(ready)

        deps = bool(nodes)
        refreshed, failed, skipped = 0, [], []
        broken: set[str] = set()
        for key in order:
            d_ns, d_name, _srcs = nodes[key]
            if parents_of[key] & broken:
                broken.add(key)
                skipped.append(f"{key}: parent refresh failed")
                continue
            # per-MV isolation: one foreign-written/stranded MV must not
            # abort the rest of the run (the 'each step commits
            # independently' contract) — its failure lands in the report
            try:
                refresh_materialized_view(io, d_ns, d_name)
                refreshed += 1
            except Exception as exc:  # noqa: BLE001 — refresh can raise
                # ValueError (foreign write / expired watermark),
                # RuntimeError (409 single-maintainer conflict), or
                # CatalogHTTPError; none may abort the other MVs or the
                # remaining maintenance steps — the failure is reported.
                broken.add(key)
                failed.append(f"{key}: {exc}")
        if skipped:
            report["refresh_materialized_views_skipped"] = skipped
        if deps:
            report["refresh_materialized_views"] = f"{refreshed} refreshed"
            if failed:
                report["refresh_materialized_views_failed"] = failed
    if expire:
        r = expire_snapshots(io, namespace, name, keep_last=keep_last)
        report["expire_snapshots"] = "noop" if r.get("noop") else "done"
    if orphans:
        r = remove_orphan_files(io, namespace, name)
        report["remove_orphan_files"] = f"{len(r.get('removed', []))} removed"
    if analyze_columns is not None or bloom_columns is not None:
        r = analyze_table(
            io, namespace, name,
            columns=analyze_columns, bloom_columns=bloom_columns,
        )
        report["analyze_table"] = f"{r['row-count']} rows analyzed"
    return report
