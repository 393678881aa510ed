"""Changelog reads: row-level CDC between two snapshots of a catalog table.

Iceberg's `create_changelog_view` procedure derives inserts/deletes from
snapshot history; the reference catalog stores that history (snapshots +
manifest lists in the metadata it serves — SURVEY §1.2) and leaves the
derivation to client engines. `read_changes` is that derivation: walk the
ancestor chain between two snapshots and, per commit, diff the manifest
file-sets —

  files ADDED by the commit    → their (visible) rows as `insert`
  files REMOVED by the commit  → their parent-visible rows as `delete`
    (copy-on-write UPDATE/MERGE rewrites a file, which the diff reports as
    full-file delete + insert — exactly Iceberg's CoW changelog shape)
  carried files whose visible rows shrank (merge-on-read delete files
  landed) → the vanished rows as `delete`, computed as
  parent_visible ⊖ to_visible (exceptAll) on the carried files only

Output = table columns + `_change_type` ('insert' | 'delete'),
`_change_ordinal` (commit index within the range), `_commit_snapshot_id`.

Scale shape: the per-commit diff is manifest-driven (set algebra over file
paths, driver-side, bounded by manifest size); row work reads ONLY the
files the diff names — an append-only commit costs exactly its appended
files, never a table scan. The MoR delta is the one genuinely row-level
piece and is confined to carried files covered by new delete entries; its
exceptAll is a shuffle over just those files' rows (what any engine pays
to materialize MoR deltas). Rows are read with the CURRENT schema on both
sides so the union is uniform across schema evolution. A long snapshot
range unions one plan fragment per commit — bounded by history depth, and
a production incremental consumer processes one commit per trigger anyway
(see sources/incremental.py for the append-only fast path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from denali_spark.sources import manifests
from denali_spark.sources.catalog_io import (
    LINEAGE_FILE,
    LINEAGE_POS,
    SparkCatalogIO,
    split_entries,
)
from denali_spark.sources.incremental import _chain


def _mor_candidates(carried: list[dict], new_deletes: list[dict]) -> list[dict]:
    """Carried data files a new delete entry might affect, pruned on
    metadata only: equality deletes apply to files with a STRICTLY LOWER
    sequence number (the _apply_deletes ordering rule) and only where the
    delete file's key-range expression might match the data file's stats —
    the SAME `_eq_prune_expr` + `file_might_match` pair rewrite_deletes
    prunes with (incl. its NULL-key conservatism: a delete file holding
    NULL keys disables range pruning). Position deletes name explicit file
    paths, bounded by the delete file's file_path min/max stats. Pruning
    is conservative — missing stats keep the file."""
    from denali_spark.sources.expressions import file_might_match
    from denali_spark.sources.mor import _eq_prune_expr

    cand = []
    for e in carried:
        e_seq = int(e.get("sequence-number", 0))
        for d in new_deletes:
            d_seq = int(d.get("sequence-number", 0))
            if d.get("content") == "equality-deletes":
                if d_seq <= e_seq:
                    continue
                prune = _eq_prune_expr(d)
                if prune is None or file_might_match(prune, e.get("stats")):
                    cand.append(e)
                    break
            else:  # position deletes
                ref = d.get("referenced-data-file")
                if ref is not None:  # deletion vector: names its file exactly
                    if ref == e["path"]:
                        cand.append(e)
                        break
                    continue
                fp = (d.get("stats") or {}).get("file_path")
                if fp is None or fp["min"] <= e["path"] <= fp["max"]:
                    cand.append(e)
                    break
    return cand


def read_changes(
    io: SparkCatalogIO,
    namespace: list[str],
    name: str,
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Row-level changes committed after `from_snapshot_id` (exclusive;
    None = since table creation) up to `to_snapshot_id` (inclusive;
    None = current snapshot)."""
    md = io.client.load_table(namespace, name)["metadata"]
    if to_snapshot_id is None:
        to_snapshot_id = md.get("current-snapshot-id")
    if to_snapshot_id is None:
        raise ValueError("table has no snapshots")
    # same parent-id walk as the incremental append scan (shared helper)
    chain = _chain(md, from_snapshot_id, to_snapshot_id)
    if not chain:  # from == to: an empty range, typed empty changelog
        base = io._empty_df(md)
        return base.select(
            "*",
            F.lit("insert").alias("_change_type"),
            F.lit(0).alias("_change_ordinal"),
            F.lit(to_snapshot_id).alias("_commit_snapshot_id"),
        ).limit(0)

    from denali_spark.sources.schema_evolution import current_schema

    target_schema = current_schema(md)
    LINEAGE = (LINEAGE_FILE, LINEAGE_POS)

    def visible_rows(snap: dict | None, data_entries, delete_entries) -> DataFrame | None:
        """Rows of `data_entries` as visible under `delete_entries`."""
        if not data_entries:
            return None
        df = io._read_reconciled(
            md, snap, data_entries, with_lineage=bool(delete_entries)
        )
        if delete_entries:
            df = io._apply_deletes(
                df, data_entries, delete_entries, target_schema=target_schema
            )
            df = df.drop(*[c for c in LINEAGE if c in df.columns])
        return df

    def tagged(df: DataFrame, change: str, ordinal: int, snap_id: int) -> DataFrame:
        return df.select(
            "*",
            F.lit(change).alias("_change_type"),
            F.lit(ordinal).alias("_change_ordinal"),
            F.lit(snap_id).alias("_commit_snapshot_id"),
        )

    parts: list[DataFrame] = []
    parent_id = chain[0].get("parent-snapshot-id")
    by_id = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
    if parent_id is not None and parent_id not in by_id:
        raise ValueError(
            f"parent snapshot {parent_id} of the range start was expired; "
            "narrow the range"
        )
    prev = by_id.get(parent_id)
    prev_data, prev_deletes = (
        split_entries(manifests.read_manifest_list(prev["manifest-list"]))
        if prev else ([], [])
    )
    for ordinal, snap in enumerate(chain):
        cur_data, cur_deletes = split_entries(
            manifests.read_manifest_list(snap["manifest-list"])
        )
        sid = snap["snapshot-id"]
        prev_paths = {e["path"] for e in prev_data}
        cur_paths = {e["path"] for e in cur_data}
        added = [e for e in cur_data if e["path"] not in prev_paths]
        removed = [e for e in prev_data if e["path"] not in cur_paths]
        carried = [e for e in cur_data if e["path"] in prev_paths]

        ins = visible_rows(snap, added, cur_deletes)
        if ins is not None:
            parts.append(tagged(ins, "insert", ordinal, sid))
        dels = visible_rows(prev, removed, prev_deletes)
        if dels is not None:
            parts.append(tagged(dels, "delete", ordinal, sid))

        # MoR delta on carried files: only when this commit grew the
        # delete-file set (path comparison — delete files are immutable),
        # and only over the carried files the new deletes can actually
        # touch (stats/sequence pruning) — one targeted position delete
        # must not trigger a full-table before/after diff.
        prev_del_paths = {e["path"] for e in prev_deletes}
        new_deletes = [e for e in cur_deletes if e["path"] not in prev_del_paths]
        cand = _mor_candidates(carried, new_deletes) if new_deletes else []
        if cand:
            before = visible_rows(prev, cand, prev_deletes)
            after = visible_rows(snap, cand, cur_deletes)
            vanished = before.exceptAll(after)
            parts.append(tagged(vanished, "delete", ordinal, sid))

        prev_data, prev_deletes = cur_data, cur_deletes

    if not parts:
        base = io._empty_df(md)
        return tagged(base, "insert", 0, to_snapshot_id).limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
