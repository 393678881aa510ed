"""Row-level operations: DELETE / UPDATE / MERGE as copy-on-write commits.

The reference catalog enables these for client engines (every Iceberg
`DELETE FROM` / `UPDATE` / `MERGE INTO` is, catalog-side, just another
optimistic snapshot commit — SURVEY §2.A #14, §2.G "Sinks" row). This module
is the client-engine half: plan which data files can possibly contain
affected rows (manifest min/max pruning, denali_spark.sources.expressions),
rewrite ONLY those files, and commit a snapshot that splices
untouched + rewritten file sets — the classic copy-on-write strategy.

Scale notes (100 TB design point):
- Work is proportional to the AFFECTED file set, not table size: a DELETE
  with a selective predicate on a clustered column rewrites a handful of
  files while the other ~100k manifest entries are carried over untouched
  (an O(manifest) driver-side list splice, no data movement).
- MERGE prunes target files by the source's join-key bounds (one cheap agg
  over the source), then lets Spark pick the join strategy — a small source
  broadcasts, a large one shuffles with AQE skew handling.
- Commits ride the same assert-ref-snapshot-id CAS + retry loop as writes,
  so concurrent row-ops serialize safely; a lost race re-plans from the
  fresh snapshot (the rewrite is re-run — correctness over wasted work).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from denali_spark.catalog.client import CatalogHTTPError
from denali_spark.sources import manifests
from denali_spark.sources.catalog_io import (
    LINEAGE_FILE,
    LINEAGE_POS,
    MAIN,
    CommitRetriesExhausted,
    SparkCatalogIO,
    split_entries,
)
from denali_spark.sources.expressions import (
    and_,
    file_might_match,
    gt_eq,
    lt_eq,
    to_spark_sql,
)


def _new_snapshot_id() -> int:
    import time
    import uuid

    return int(time.time() * 1000) * 1000 + (uuid.uuid4().int % 1000)


def _commit_cow(
    io: SparkCatalogIO,
    namespace: list[str],
    name: str,
    md: dict,
    parent_id: int | None,
    files: list[dict],
    operation: str,
    summary_extra: dict[str, str],
    extra_updates: list[dict] | None = None,
) -> dict:
    """One copy-on-write snapshot commit against a known parent.
    `extra_updates` ride the SAME commit_table call (e.g. a streaming
    batch high-watermark property), so they land atomically with the
    snapshot or not at all."""
    import time

    from denali_spark.sources.catalog_io import stamp_row_lineage, summary_totals

    snapshot_id = _new_snapshot_id()
    seq = md.get("last-sequence-number", 0) + 1
    for f in files:
        # Newly written files (no stamp yet) belong to THIS commit; files
        # carried over by reference keep their original sequence number.
        f.setdefault("sequence-number", seq)
    first_row_id, assigned_rows = stamp_row_lineage(md, files)
    manifest_loc = io._write_manifest_list(md, snapshot_id, files)
    snapshot = {
        "snapshot-id": snapshot_id,
        "parent-snapshot-id": parent_id,
        "sequence-number": seq,
        "first-row-id": first_row_id,
        "timestamp-ms": int(time.time() * 1000),
        "manifest-list": manifest_loc,
        "schema-id": md.get("current-schema-id", 0),
        "summary": {"operation": operation, "added-rows": str(assigned_rows),
                    **summary_totals(files), **summary_extra},
    }
    return io.client.commit_table(
        namespace,
        name,
        requirements=[
            {"type": "assert-table-uuid", "uuid": md["table-uuid"]},
            {"type": "assert-ref-snapshot-id", "ref": MAIN, "snapshot-id": parent_id},
        ],
        updates=[
            {"action": "add-snapshot", "snapshot": snapshot},
            {
                "action": "set-snapshot-ref",
                "ref-name": MAIN,
                "snapshot-id": snapshot_id,
                "type": "branch",
            },
            *(extra_updates or []),
        ],
    )


def _plan(io: SparkCatalogIO, namespace: list[str], name: str, where: dict | None):
    """Load current state and split the live DATA file set into (candidates
    that might contain affected rows, untouched carry-overs). Merge-on-read
    delete files are never rewrite candidates — they ride in `untouched` so
    the commit carries them forward."""
    md = io.client.load_table(namespace, name)["metadata"]
    ref = md.get("refs", {}).get(MAIN)
    parent_id = ref["snapshot-id"] if ref else None
    if parent_id is None:
        return md, None, [], []
    snap = io._resolve_snapshot(md, parent_id)
    data, deletes = split_entries(manifests.read_manifest_list(snap["manifest-list"]))
    if where is None:
        return md, parent_id, data, deletes
    candidates = [e for e in data if file_might_match(where, e.get("stats"))]
    candidate_paths = {e["path"] for e in candidates}
    untouched = [e for e in data if e["path"] not in candidate_paths]
    return md, parent_id, candidates, untouched + deletes


def _read_candidates(io: SparkCatalogIO, md: dict, parent_id: int, candidates):
    """Read candidate files reconciled to the current schema (field-id
    mapping), so row-ops see evolved column names and rewrite files under
    the CURRENT schema. Pending merge-on-read deletes are applied first —
    a copy-on-write rewrite must not resurrect rows they removed."""
    snap = io._resolve_snapshot(md, parent_id)
    _data, deletes = split_entries(manifests.read_manifest_list(snap["manifest-list"]))
    if not deletes:
        return io._read_reconciled(md, snap, candidates)
    from denali_spark.sources.schema_evolution import current_schema

    df = io._read_reconciled(md, snap, candidates, with_lineage=True)
    df = io._apply_deletes(df, candidates, deletes, target_schema=current_schema(md))
    return df.drop(LINEAGE_FILE, LINEAGE_POS)


def _write_rewritten(io: SparkCatalogIO, df, md: dict) -> list[dict]:
    from denali_spark.sources.catalog_io import table_write_format
    from denali_spark.sources.partitioning import spec_to_partition_by

    # CoW rewrites must re-emit surviving rows under the CURRENT partition
    # spec — a spec-less write would strip partition tuples (pruning lost,
    # spec violated) from every file a DELETE/UPDATE touches.
    return io._write_data_files(
        df, md["location"], partition_by=spec_to_partition_by(md),
        schema_id=md.get("current-schema-id", 0),
        file_format=table_write_format(md),
    )


def _retrying(op):
    """Run a plan→rewrite→commit closure with CAS-race retries; the closure
    re-plans from the fresh snapshot on every attempt."""
    last = None
    for _ in range(3):
        try:
            return op()
        except CatalogHTTPError as exc:
            if exc.status != 409:
                raise
            last = exc
    raise CommitRetriesExhausted(str(last))


def delete_where(
    io: SparkCatalogIO, namespace: list[str], name: str, where: dict
) -> dict:
    """DELETE FROM ns.t WHERE <expr>. Returns the commit response; no-op
    (current metadata, no new snapshot) when no file can contain a match."""

    def attempt():
        md, parent_id, candidates, untouched = _plan(io, namespace, name, where)
        if not candidates:
            return {"metadata": md, "noop": True}
        df = _read_candidates(io, md, parent_id, candidates)
        # SQL DELETE removes rows where the predicate is TRUE; rows where it
        # is NULL survive — hence coalesce, not plain NOT.
        survivors = df.filter(f"NOT coalesce({to_spark_sql(where)}, false)")
        new_files = _write_rewritten(io, survivors, md)
        before = sum(e.get("record-count", 0) for e in candidates)
        after = sum(e.get("record-count", 0) for e in new_files)
        return _commit_cow(
            io, namespace, name, md, parent_id, untouched + new_files,
            "delete",
            {"deleted-records": str(before - after),
             "rewritten-data-files": str(len(candidates))},
        )

    return _retrying(attempt)


def update_where(
    io: SparkCatalogIO,
    namespace: list[str],
    name: str,
    where: dict,
    set_exprs: dict[str, str],
) -> dict:
    """UPDATE ns.t SET col = <spark sql expr>, ... WHERE <expr>. Each set
    expression may reference any column of the row; assignments are
    simultaneous (all RHS evaluate against the pre-update row)."""

    def attempt():
        md, parent_id, candidates, untouched = _plan(io, namespace, name, where)
        if not candidates:
            return {"metadata": md, "noop": True}
        df = _read_candidates(io, md, parent_id, candidates)
        cond = F.expr(f"coalesce({to_spark_sql(where)}, false)")
        updated = df.withColumns(
            {
                col: F.when(cond, F.expr(rhs).cast(df.schema[col].dataType))
                .otherwise(F.col(col))
                for col, rhs in set_exprs.items()
            }
        )
        new_files = _write_rewritten(io, updated, md)
        return _commit_cow(
            io, namespace, name, md, parent_id, untouched + new_files,
            "overwrite",
            {"rewritten-data-files": str(len(candidates))},
        )

    return _retrying(attempt)


def _check_merge_cardinality(source: DataFrame, matched: DataFrame, on: list[str]) -> None:
    """Raise when a target row is matched by more than one source row —
    the ON-clause cardinality rule Spark and Iceberg MERGE both enforce
    (duplicate keys among UNMATCHED source rows are legal: they simply
    both insert). Without this check the duplicates would silently apply
    as delete-once/append-N, duplicating rows. One bounded job: source
    keys with count>1, semi-joined to the (deduplicated) matched keys,
    LIMIT 1."""
    dup = (
        source.groupBy(*on)
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > 1)
        .join(matched.select(*on).dropDuplicates(), on=on, how="left_semi")
        .limit(1)
        .collect()
    )
    if dup:
        key = {k: dup[0][k] for k in on}
        raise ValueError(
            "MERGE cardinality violation: a single target row matches "
            f"multiple source rows (e.g. key {key}); deduplicate the "
            "source on the ON columns first"
        )


def _merge_fields(md: dict) -> list[tuple[str, DataType]]:
    """(name, Spark type) per current-schema column — the cast target that
    keeps MERGE projection output schema-identical to the table."""
    from denali_spark.sources.schema_convert import iceberg_type_to_spark
    from denali_spark.sources.schema_evolution import current_schema

    return [
        (f["name"], iceberg_type_to_spark(f["type"]))
        for f in current_schema(md)["fields"]
    ]


def _updated_rows(
    target: DataFrame,
    source: DataFrame,
    on: list[str],
    md: dict,
    update_set: dict[str, str] | None,
) -> DataFrame:
    """Matched (target ⋈ source) pairs with `WHEN MATCHED THEN UPDATE SET`
    assignments applied: each table column takes its SET expression (SQL
    text over aliases `t` = target row, `s` = source row) if assigned, else
    the pre-image target value. With update_set=None the source row replaces
    the target row wholesale (the bare-UPDATE shape). Every output column is
    cast to the table's type so the projection unions cleanly with kept
    rows."""
    fields = _merge_fields(md)
    if update_set is None:
        return source.join(target.select(*on), on=on, how="left_semi")
    unknown = set(update_set) - {n for n, _ in fields}
    if unknown:
        raise ValueError(f"UPDATE SET references unknown columns {sorted(unknown)}")
    t, s = target.alias("t"), source.alias("s")
    cond = None
    for k in on:
        c = F.col(f"t.{k}") == F.col(f"s.{k}")
        cond = c if cond is None else (cond & c)
    joined = t.join(s, cond, "inner")
    cols = []
    for n, typ in fields:
        c = F.expr(update_set[n]) if n in update_set else F.col(f"t.{n}")
        cols.append(c.cast(typ).alias(n))
    return joined.select(*cols)


def _insert_rows(
    unmatched: DataFrame,
    md: dict,
    insert_values: tuple[list[str], list[str]] | None,
) -> DataFrame:
    """Unmatched source rows mapped through `WHEN NOT MATCHED THEN INSERT
    (cols) VALUES (exprs)`: listed columns take their value expression (SQL
    text over alias `s` = source row), unlisted columns become typed NULLs.
    insert_values=None is the bare-INSERT shape (source row inserted
    wholesale; schema must already match the table)."""
    fields = _merge_fields(md)
    if insert_values is None:
        return unmatched
    cols, exprs = insert_values
    if len(cols) != len(exprs):
        raise ValueError(
            f"INSERT lists {len(cols)} columns but {len(exprs)} values"
        )
    unknown = set(cols) - {n for n, _ in fields}
    if unknown:
        raise ValueError(f"INSERT references unknown columns {sorted(unknown)}")
    by_col = dict(zip(cols, exprs))
    s = unmatched.alias("s")
    out = []
    for n, typ in fields:
        c = F.expr(by_col[n]) if n in by_col else F.lit(None)
        out.append(c.cast(typ).alias(n))
    return s.select(*out)


def merge_into(
    io: SparkCatalogIO,
    namespace: list[str],
    name: str,
    source: DataFrame,
    on: list[str],
    when_matched: str = "update",
    when_not_matched_insert: bool = True,
    update_set: dict[str, str] | None = None,
    insert_values: tuple[list[str], list[str]] | None = None,
) -> dict:
    """MERGE INTO ns.t USING source ON <key columns> — the upsert/CDC-apply
    shape: matched target rows are replaced by their source row
    (when_matched='update') or removed ('delete'); unmatched source rows are
    inserted. Source schema must match the table schema.

    `update_set` maps target columns to SQL expressions over aliases `t`
    (the matched target row) and `s` (its source row) — the
    `WHEN MATCHED THEN UPDATE SET c = s.c + 1` form; None replaces matched
    rows wholesale. `insert_values` is the (columns, value-expressions over
    `s`) pair from `WHEN NOT MATCHED THEN INSERT (a, b) VALUES (...)`;
    unlisted columns insert as NULL; None inserts source rows wholesale.

    Target files that cannot contain any source key (manifest min/max vs the
    source's key bounds, one small agg) are never read or rewritten.
    """
    if when_matched not in ("update", "delete"):
        raise ValueError("when_matched must be 'update' or 'delete'")
    source = source.cache()
    bounds = source.agg(
        *[F.min(k).alias(f"lo_{k}") for k in on],
        *[F.max(k).alias(f"hi_{k}") for k in on],
    ).collect()[0]
    if bounds[f"lo_{on[0]}"] is None:  # empty source
        source.unpersist()
        md = io.client.load_table(namespace, name)["metadata"]
        return {"metadata": md, "noop": True}
    prune = and_(
        *[gt_eq(k, bounds[f"lo_{k}"]) for k in on],
        *[lt_eq(k, bounds[f"hi_{k}"]) for k in on],
    )

    def attempt():
        md, parent_id, candidates, untouched = _plan(io, namespace, name, prune)
        if candidates:
            target = _read_candidates(io, md, parent_id, candidates)
            _check_merge_cardinality(
                source,
                target.join(source.select(*on).dropDuplicates(), on=on, how="left_semi"),
                on,
            )
            keep = target.join(source.select(*on), on=on, how="left_anti")
        else:
            target = None
            keep = None
        updated = None
        unmatched = None
        if when_matched == "update":
            if update_set is None and insert_values is None and when_not_matched_insert:
                # fast path: replacements + inserts are exactly the source
                # rows — one piece, no matched/unmatched split joins
                updated = source
            else:
                if target is not None:
                    updated = _updated_rows(target, source, on, md, update_set)
                if when_not_matched_insert:
                    unmatched = (
                        source.join(target.select(*on), on=on, how="left_anti")
                        if target is not None
                        else source
                    )
        else:  # delete matched; optionally insert the rest
            if when_not_matched_insert:
                unmatched = (
                    source.join(target.select(*on), on=on, how="left_anti")
                    if target is not None
                    else source
                )
        inserted = (
            _insert_rows(unmatched, md, insert_values)
            if unmatched is not None
            else None
        )
        pieces = [p for p in (keep, updated, inserted) if p is not None]
        if not pieces:
            return {"metadata": md, "noop": True}
        result = pieces[0]
        for p in pieces[1:]:
            result = result.unionByName(p)
        new_files = _write_rewritten(io, result, md)
        return _commit_cow(
            io, namespace, name, md, parent_id, untouched + new_files,
            "overwrite",
            {"merge-on": ",".join(on), "rewritten-data-files": str(len(candidates))},
        )

    try:
        return _retrying(attempt)
    finally:
        source.unpersist()
