"""Merge-on-read row-level deletes: position & equality delete files.

The REST spec the reference serves defines three ContentFile variants —
data, position-deletes, equality-deletes (/root/reference/routes/
openapi.yml:3400+, SURVEY §1.4) — but the reference, being metadata-only,
never materializes them. This module is the client-engine half: the
merge-on-read strategy that complements row_ops' copy-on-write.

Why both strategies exist (the 100 TB argument):

- Copy-on-write (row_ops): deletes rewrite every file containing a match.
  Optimal for read-heavy tables and bulk deletes; terrible for trickle
  deletes — removing 100 rows spread over 100 half-GB files rewrites 50 GB.
- Merge-on-read (here): a delete commit writes only the delete rows
  themselves (bytes ∝ deleted rows, not touched files) and readers
  anti-join them out. `delete_where_mor` still has to SCAN candidate files
  to find positions (pruned by manifest stats), but writes nothing else;
  `equality_delete` writes just the key values — zero data reads, the
  streaming-CDC fast path.
- `rewrite_deletes` folds accumulated deletes back into data files
  (Iceberg's rewrite_position_delete_files / minor compaction), restoring
  pure-scan reads; stats-pruned so it only rewrites files a delete can hit.

Position deletes come in two physical shapes:
- parquet files of (file_path, pos) rows (`delete_where_mor`) — V2 style,
  one file per commit;
- Iceberg V3 deletion vectors (`delete_where_dv`): one roaring-bitmap blob
  per affected data file inside a Puffin file (sources/puffin.py), with
  the manifest entry carrying referenced_data_file + content_offset /
  content_size_in_bytes. At most one vector exists per data file — a new
  delete merges and replaces the prior vector — so trickle deletes keep
  the delete side O(touched files), not O(commits).
`convert_deletes_to_dvs` migrates shape 1 into shape 2 (the V2→V3 table
migration); both shapes apply through the same read-side anti-join.

Sequencing: every manifest entry carries the sequence number of the commit
that added it. Equality deletes apply to data files with a strictly lower
sequence number — rows appended after the delete are never affected.
Position deletes pin exact (file, pos) pairs; since data file paths are
uuid'd per commit they can never alias a newer file, so no sequence check
is needed on read.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from denali_spark.catalog.metadata import _fs_path
from denali_spark.sources import manifests
from denali_spark.sources.catalog_io import (
    LINEAGE_FILE,
    LINEAGE_POS,
    SparkCatalogIO,
    _parquet_stats,
    split_entries,
)
from denali_spark.sources.expressions import (
    and_,
    file_might_match,
    gt_eq,
    lt_eq,
    to_spark_sql,
)
from denali_spark.sources.row_ops import (
    _check_merge_cardinality,
    _commit_cow,
    _insert_rows,
    _plan,
    _retrying,
    _updated_rows,
)
from denali_spark.sources.schema_evolution import current_schema


def _write_delete_files(
    io: SparkCatalogIO, df: DataFrame, md: dict, content: str, extra: dict
) -> list[dict]:
    """Write delete rows as parquet under <table>/deletes/<uuid>/ and build
    their manifest entries (content + sequence stamped by the commit)."""
    out_dir = os.path.join(_fs_path(md["location"]), "deletes", uuid.uuid4().hex[:12])
    df.write.mode("overwrite").parquet(out_dir)
    entries = []
    for root, _dirs, files in os.walk(out_dir):
        for fname in sorted(files):
            if fname.endswith(".parquet"):
                path = os.path.join(root, fname)
                entries.append(
                    {"path": path, "content": content, **extra, **_parquet_stats(path)}
                )
    return [e for e in entries if e.get("record-count", 0) > 0]


def delete_where_mor(
    io: SparkCatalogIO, namespace: list[str], name: str, where: dict
) -> dict:
    """DELETE FROM ns.t WHERE <expr>, merge-on-read: scan only candidate
    files (manifest min/max pruning), write the matching rows' (file, pos)
    pairs as a position-delete file, commit with every existing entry
    carried over by reference. No data file is rewritten."""

    def attempt():
        md, parent_id, candidates, untouched = _plan(io, namespace, name, where)
        if not candidates:
            return {"metadata": md, "noop": True}
        # Per-row positions come from _metadata.row_index for parquet and
        # from position-enumerating Python kernels for ORC/avro — the same
        # kernels the read path applies deletes with, so positions always
        # agree between writer and reader.
        snap = io._resolve_snapshot(md, parent_id)
        _data, prior_deletes = split_entries(
            manifests.read_manifest_list(snap["manifest-list"])
        )
        df = io._read_reconciled(md, snap, candidates, with_lineage=True)
        if prior_deletes:
            # Don't re-delete rows a prior delete already covers (dup rows
            # would be harmless for correctness, but pointless bytes).
            df = io._apply_deletes(
                df, candidates, prior_deletes, target_schema=current_schema(md)
            )
        matches = df.filter(f"coalesce({to_spark_sql(where)}, false)").select(
            F.col(LINEAGE_FILE).alias("file_path"),
            F.col(LINEAGE_POS).alias("pos"),
        )
        new_deletes = _write_delete_files(io, matches, md, "position-deletes", {})
        if not new_deletes:
            return {"metadata": md, "noop": True}
        deleted = sum(e["record-count"] for e in new_deletes)
        return _commit_cow(
            io, namespace, name, md, parent_id,
            candidates + untouched + new_deletes,
            "delete",
            {"deleted-records": str(deleted),
             "added-delete-files": str(len(new_deletes)),
             "rewritten-data-files": "0"},
        )

    return _retrying(attempt)


def equality_delete(
    io: SparkCatalogIO, namespace: list[str], name: str,
    keys: DataFrame, on: list[str],
    summary_extra: dict | None = None,
) -> dict:
    """Delete every row whose `on` columns match a row of `keys` — without
    reading ANY table data. The commit writes only the key values
    (equality-delete file); readers anti-join them against data files with a
    lower sequence number. This is the CDC-apply fast path: cost is
    O(|keys|) regardless of table size.

    Key columns are recorded by FIELD ID (Iceberg's equality_ids rule), so
    later renames can't detach or mis-target the delete."""

    def attempt():
        md, parent_id, data, deletes = _plan(io, namespace, name, None)
        if parent_id is None:
            return {"metadata": md, "noop": True}
        by_name = {f["name"]: f["id"] for f in current_schema(md)["fields"]}
        missing = [c for c in on if c not in by_name]
        if missing:
            raise ValueError(f"equality-delete key columns not in schema: {missing}")
        new_deletes = _write_delete_files(
            io, keys.select(*on).dropDuplicates(), md,
            "equality-deletes",
            {"equality-columns": list(on),
             "equality-field-ids": [by_name[c] for c in on]},
        )
        if not new_deletes:
            return {"metadata": md, "noop": True}
        return _commit_cow(
            io, namespace, name, md, parent_id,
            data + deletes + new_deletes,
            "delete",
            {"added-delete-files": str(len(new_deletes)),
             "equality-columns": ",".join(on),
             "rewritten-data-files": "0",
             **(summary_extra or {})},
        )

    return _retrying(attempt)


# Target size of one executor-written Puffin file: a writer task flushes
# its buffered deletion-vector blobs whenever they reach this many bytes,
# bounding both task memory and file size independently of how AQE sizes
# the encode shuffle's partitions.
DV_PUFFIN_TARGET_BYTES = 64 * 1024 * 1024


def _is_dv(entry: dict) -> bool:
    return (
        entry.get("content") == "position-deletes"
        and entry.get("file-format") == "puffin"
    )


def _write_dv_file(
    io: SparkCatalogIO, matches: DataFrame, md: dict, merge_dvs: list[dict]
) -> list[dict]:
    """Aggregate (file_path, pos) rows into one roaring-bitmap blob per
    referenced data file and write the blobs into PER-TASK Puffin files,
    both EXECUTOR-side — Iceberg's one-Puffin-per-writer-task layout. The
    encode stage (applyInPandas keyed by file) feeds a mapInPandas stage
    in which each non-empty partition writes its blobs to its own Puffin
    file under the table's deletes/ dir and yields only (ref, path,
    offset, length, cardinality, size) metadata rows; the driver collects
    those rows — never bitmap bytes — and assembles manifest entries. A
    bulk delete touching 10^6 files at 100 TB thus funnels kilobytes of
    metadata through the driver, not gigabytes of bitmaps. `merge_dvs`
    are the prior deletion vectors being replaced: V3 requires at most
    one DV per data file, so their positions are unioned into the new
    bitmaps (their decode is executor-side too, via the same
    `_dv_positions_df` rows the read path uses)."""
    import pandas as pd

    from denali_spark.sources.puffin import encode_dv_blob

    if merge_dvs:
        matches = matches.unionByName(io._dv_positions_df(merge_dvs))
    out_dir = os.path.join(_fs_path(md["location"]), "deletes", uuid.uuid4().hex[:12])

    def encode(key, pdf):
        blob, card = encode_dv_blob(pdf["pos"].tolist())
        return pd.DataFrame([{"ref": key[0], "blob": blob, "card": card}])

    def write_task_puffins(batches):
        from denali_spark.sources.puffin import DELETION_VECTOR_V1, write_puffin

        def flush(buf):
            buf.sort(key=lambda t: t[0])
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"dv-{uuid.uuid4().hex[:12]}.puffin")
            metas = write_puffin(
                path,
                [
                    {
                        "type": DELETION_VECTOR_V1,
                        "data": blob,
                        "properties": {
                            "referenced-data-file": f"file://{ref}",
                            "cardinality": str(card),
                        },
                    }
                    for ref, blob, card in buf
                ],
            )
            size = os.path.getsize(path)
            return pd.DataFrame(
                [
                    {
                        "ref": ref,
                        "path": path,
                        "offset": m["offset"],
                        "length": m["length"],
                        "card": card,
                        "size": size,
                    }
                    for (ref, blob, card), m in zip(buf, metas)
                ]
            )

        buf, buffered = [], 0
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                blob = bytes(r.blob)
                buf.append((r.ref, blob, int(r.card)))
                buffered += len(blob)
                # flush at the target file size: bounds task memory AND
                # keeps puffin files a sane size even when AQE coalesces
                # the encode shuffle into few partitions
                if buffered >= DV_PUFFIN_TARGET_BYTES:
                    yield flush(buf)
                    buf, buffered = [], 0
        if buf:
            yield flush(buf)

    rows = (
        matches.groupBy("file_path")
        .applyInPandas(encode, "ref string, blob binary, card long")
        .mapInPandas(
            write_task_puffins,
            "ref string, path string, offset long, length long, card long, size long",
        )
        .collect()
    )
    return [
        {
            "path": r["path"],
            "content": "position-deletes",
            "file-format": "puffin",
            "referenced-data-file": r["ref"],
            "content-offset": r["offset"],
            "content-size-in-bytes": r["length"],
            "record-count": r["card"],
            "file-size-bytes": r["size"],
        }
        for r in sorted(rows, key=lambda r: r["ref"])
    ]


def delete_where_dv(
    io: SparkCatalogIO, namespace: list[str], name: str, where: dict
) -> dict:
    """DELETE ... WHERE, merge-on-read with Iceberg V3 deletion vectors:
    like `delete_where_mor`, but instead of a parquet file of (file, pos)
    rows the commit writes one Puffin file holding a roaring-bitmap blob
    per affected data file. Enforces the V3 replacement rule — a data file
    carries at most ONE deletion vector, so a prior DV on an affected file
    is merged into the new bitmap and its entry dropped. Repeated trickle
    deletes therefore keep the delete side at one bitmap per touched file,
    where parquet position deletes would accumulate one file per commit."""

    def attempt():
        md, parent_id, candidates, untouched = _plan(io, namespace, name, where)
        if not candidates:
            return {"metadata": md, "noop": True}
        snap = io._resolve_snapshot(md, parent_id)
        _data, prior_deletes = split_entries(
            manifests.read_manifest_list(snap["manifest-list"])
        )
        df = io._read_reconciled(md, snap, candidates, with_lineage=True)
        if prior_deletes:
            df = io._apply_deletes(
                df, candidates, prior_deletes, target_schema=current_schema(md)
            )
        matches = df.filter(f"coalesce({to_spark_sql(where)}, false)").select(
            F.col(LINEAGE_FILE).alias("file_path"),
            F.col(LINEAGE_POS).alias("pos"),
        ).persist()
        try:
            # Idempotence: a predicate matching zero NEW rows must not
            # re-encode the prior vectors into a fresh commit.
            if matches.isEmpty():
                return {"metadata": md, "noop": True}
            cand_paths = {e["path"] for e in candidates}
            superseded = [
                e for e in prior_deletes
                if _is_dv(e) and e["referenced-data-file"] in cand_paths
            ]
            new_dvs = _write_dv_file(io, matches, md, superseded)
        finally:
            matches.unpersist()
        if not new_dvs:
            return {"metadata": md, "noop": True}
        # `untouched` carries ALL prior delete entries (row_ops._plan) —
        # drop the vectors the new bitmaps replaced (V3: one DV per file).
        kept = _supersede(untouched, superseded)
        deleted = sum(e["record-count"] for e in new_dvs) - sum(
            e.get("record-count", 0) for e in superseded
        )
        return _commit_cow(
            io, namespace, name, md, parent_id,
            candidates + kept + new_dvs,
            "delete",
            {"deleted-records": str(deleted),
             "added-delete-files": str(len(new_dvs)),
             "removed-delete-files": str(len(superseded)),
             "rewritten-data-files": "0"},
        )

    return _retrying(attempt)


def _mor_write_updates(io: SparkCatalogIO, df: DataFrame, md: dict) -> list[dict]:
    from denali_spark.sources.catalog_io import table_write_format
    from denali_spark.sources.partitioning import spec_to_partition_by

    # Rewritten rows must land under the CURRENT partition spec — a
    # spec-less write would strip partition tuples from the new files
    # (pruning lost, spec violated) on every row-level op.
    return io._write_data_files(
        df, md["location"], partition_by=spec_to_partition_by(md),
        schema_id=md.get("current-schema-id", 0),
        file_format=table_write_format(md),
    )


def _supersede(untouched: list[dict], superseded: list[dict]) -> list[dict]:
    """Drop replaced deletion vectors from the carried delete entries
    (matched by (puffin path, referenced file) — one puffin holds many
    vectors, so path alone is not a key)."""
    keys = {(e["path"], e["referenced-data-file"]) for e in superseded}
    return [
        e for e in untouched
        if not (_is_dv(e) and (e["path"], e["referenced-data-file"]) in keys)
    ]


def update_where_mor(
    io: SparkCatalogIO, namespace: list[str], name: str,
    where: dict, set_exprs: dict[str, str],
) -> dict:
    """UPDATE ... SET, merge-on-read: matched rows become a deletion vector
    on their file and their updated images are APPENDED as new data files —
    Iceberg's MoR UPDATE (delete + insert), writing bytes ∝ matched rows
    while copy-on-write `update_where` rewrites every touched file. Set
    expressions evaluate against the pre-update row (simultaneous
    assignment), matching the CoW twin."""

    def attempt():
        md, parent_id, candidates, untouched = _plan(io, namespace, name, where)
        if not candidates:
            return {"metadata": md, "noop": True}
        snap = io._resolve_snapshot(md, parent_id)
        _data, prior_deletes = split_entries(
            manifests.read_manifest_list(snap["manifest-list"])
        )
        df = io._read_reconciled(md, snap, candidates, with_lineage=True)
        if prior_deletes:
            df = io._apply_deletes(
                df, candidates, prior_deletes, target_schema=current_schema(md)
            )
        matches = df.filter(f"coalesce({to_spark_sql(where)}, false)").persist()
        if matches.isEmpty():  # zero matched rows → nothing to update
            matches.unpersist()
            return {"metadata": md, "noop": True}
        positions = matches.select(
            F.col(LINEAGE_FILE).alias("file_path"), F.col(LINEAGE_POS).alias("pos")
        )
        cand_paths = {e["path"] for e in candidates}
        superseded = [
            e for e in prior_deletes
            if _is_dv(e) and e["referenced-data-file"] in cand_paths
        ]
        new_dvs = _write_dv_file(io, positions, md, superseded)
        if not new_dvs:
            matches.unpersist()
            return {"metadata": md, "noop": True}
        updated = matches.withColumns(
            {
                col: F.expr(rhs).cast(matches.schema[col].dataType)
                for col, rhs in set_exprs.items()
            }
        ).drop(LINEAGE_FILE, LINEAGE_POS)
        new_files = _mor_write_updates(io, updated, md)
        matches.unpersist()
        updated_count = sum(e.get("record-count", 0) for e in new_files)
        return _commit_cow(
            io, namespace, name, md, parent_id,
            candidates + _supersede(untouched, superseded) + new_dvs + new_files,
            "overwrite",
            {"updated-records": str(updated_count),
             "added-delete-files": str(len(new_dvs)),
             "added-data-files": str(len(new_files)),
             "rewritten-data-files": "0"},
        )

    return _retrying(attempt)


def merge_into_mor(
    io: SparkCatalogIO, namespace: list[str], name: str,
    source: DataFrame, on: list[str],
    when_matched: str = "update",
    when_not_matched_insert: bool = True,
    update_set: dict[str, str] | None = None,
    insert_values: tuple[list[str], list[str]] | None = None,
) -> dict:
    """MERGE INTO, merge-on-read: matched target rows become deletion
    vectors; their replacements (when_matched='update') and unmatched
    source rows (inserts) are appended. The CoW twin (`row_ops.merge_into`)
    rewrites every candidate file; this writes bytes ∝ |source| — the
    trickle-upsert shape. Same stats pruning: target files whose key ranges
    can't contain any source key are never read."""
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
        snap = io._resolve_snapshot(md, parent_id) if parent_id else None
        prior_deletes = (
            split_entries(manifests.read_manifest_list(snap["manifest-list"]))[1]
            if snap else []
        )
        matched = None
        if candidates:
            target = io._read_reconciled(md, snap, candidates, with_lineage=True)
            if prior_deletes:
                target = io._apply_deletes(
                    target, candidates, prior_deletes,
                    target_schema=current_schema(md),
                )
            matched = target.join(
                source.select(*on).dropDuplicates(), on=on, how="left_semi"
            ).persist()
            _check_merge_cardinality(source, matched, on)
        reps = None
        unmatched = None
        if when_matched == "update":
            if update_set is None and insert_values is None and when_not_matched_insert:
                # fast path: replacements + inserts are exactly the source
                reps = source
            else:
                if matched is not None:
                    reps = _updated_rows(matched, source, on, md, update_set)
                if when_not_matched_insert:
                    unmatched = (
                        source.join(matched.select(*on), on=on, how="left_anti")
                        if matched is not None else source
                    )
        else:  # delete matched
            if when_not_matched_insert:
                unmatched = (
                    source.join(matched.select(*on), on=on, how="left_anti")
                    if matched is not None else source
                )
        inserted = (
            _insert_rows(unmatched, md, insert_values)
            if unmatched is not None else None
        )
        appended = None
        for p in (reps, inserted):
            if p is not None:
                appended = p if appended is None else appended.unionByName(p)
        new_dvs: list[dict] = []
        superseded: list[dict] = []
        # No matched rows → skip the vector write entirely (otherwise prior
        # DVs would be pointlessly re-encoded into a fresh puffin file).
        if matched is not None and not matched.isEmpty():
            positions = matched.select(
                F.col(LINEAGE_FILE).alias("file_path"),
                F.col(LINEAGE_POS).alias("pos"),
            )
            cand_paths = {e["path"] for e in candidates}
            superseded = [
                e for e in prior_deletes
                if _is_dv(e) and e["referenced-data-file"] in cand_paths
            ]
            new_dvs = _write_dv_file(io, positions, md, superseded)
            if not new_dvs:
                superseded = []
        new_files = (
            _mor_write_updates(io, appended, md) if appended is not None else []
        )
        if matched is not None:
            matched.unpersist()
        if not new_dvs and not new_files:
            return {"metadata": md, "noop": True}
        return _commit_cow(
            io, namespace, name, md, parent_id,
            candidates + _supersede(untouched, superseded) + new_dvs + new_files,
            "overwrite",
            {"merge-on": ",".join(on),
             "added-delete-files": str(len(new_dvs)),
             "added-data-files": str(len(new_files)),
             "rewritten-data-files": "0"},
        )

    try:
        return _retrying(attempt)
    finally:
        source.unpersist()


def convert_deletes_to_dvs(io: SparkCatalogIO, namespace: list[str], name: str) -> dict:
    """Migrate accumulated parquet position-delete files to deletion
    vectors (the Iceberg V2→V3 delete migration): all (file, pos) rows —
    from parquet delete files AND any existing vectors — are re-aggregated
    into one bitmap per data file in a single new Puffin file; every old
    position-delete entry is dropped. Equality deletes are untouched (V3
    keeps them as files). No data file is read or rewritten."""

    def attempt():
        md, parent_id, data, deletes = _plan(io, namespace, name, None)
        pos_parquet = [
            e for e in deletes
            if e["content"] == "position-deletes" and not _is_dv(e)
        ]
        if not pos_parquet:
            return {"metadata": md, "noop": True}
        old_dvs = [e for e in deletes if _is_dv(e)]
        eq = [e for e in deletes if e["content"] == "equality-deletes"]
        rows = io._read_position_deletes(pos_parquet)
        new_dvs = _write_dv_file(io, rows, md, old_dvs)
        return _commit_cow(
            io, namespace, name, md, parent_id,
            data + eq + new_dvs, "replace",
            {"removed-delete-files": str(len(pos_parquet) + len(old_dvs)),
             "added-delete-files": str(len(new_dvs)),
             "rewritten-data-files": "0"},
        )

    return _retrying(attempt)


def _eq_prune_expr(entry: dict) -> dict | None:
    """An equality-delete file's own footer stats bound the keys it holds —
    a data file whose column ranges don't overlap can't lose a row to it.
    A NULL key value is invisible to min/max ranges (delete rows match
    NULL-keyed data rows via eqNullSafe), so any null-count on a key
    column disables range pruning for this delete file entirely."""
    stats = entry.get("stats")
    if not stats:
        return None
    parts = []
    for c in entry["equality-columns"]:
        s = stats.get(c)
        if s is None or s["min"] is None:
            return None  # un-bounded key column → can't prune with this file
        if s.get("null-count", 0):
            return None  # NULL keys present → ranges can't bound the match
        parts.extend([gt_eq(c, s["min"]), lt_eq(c, s["max"])])
    return and_(*parts)


def rewrite_deletes(io: SparkCatalogIO, namespace: list[str], name: str) -> dict:
    """Materialize pending delete files into the data (Iceberg's
    rewrite_position_delete_files / minor compaction): rewrite only the data
    files a delete can affect, drop every delete entry, carry the rest by
    reference. Restores pure-scan read performance after a delete-heavy
    period."""

    def attempt():
        md, parent_id, data, deletes = _plan(io, namespace, name, None)
        if not deletes:
            return {"metadata": md, "noop": True}
        snap = io._resolve_snapshot(md, parent_id)
        pos = [e for e in deletes if e["content"] == "position-deletes" and not _is_dv(e)]
        eq = [e for e in deletes if e["content"] == "equality-deletes"]
        affected_paths: set[str] = set()
        # Deletion vectors name their data file in the manifest entry — no
        # file read needed to find what they affect.
        affected_paths.update(
            e["referenced-data-file"] for e in deletes if _is_dv(e)
        )
        if pos:
            # Which data files do position deletes reference? Distinct file
            # paths of the delete rows (a driver-side list bounded by file
            # count, read from the small delete files only).
            rows = (
                io._read_position_deletes(pos)
                .select("file_path").distinct().collect()
            )
            affected_paths.update(r["file_path"] for r in rows)
        for d in eq:
            dseq = int(d.get("sequence-number", 0))
            prune = _eq_prune_expr(d)
            for e in data:
                if int(e.get("sequence-number", 0)) >= dseq:
                    continue
                if prune is None or file_might_match(prune, e.get("stats")):
                    affected_paths.add(e["path"])
        affected = [e for e in data if e["path"] in affected_paths]
        carry = [e for e in data if e["path"] not in affected_paths]
        if not affected:  # deletes exist but can't hit anything → just drop them
            return _commit_cow(
                io, namespace, name, md, parent_id, data, "replace",
                {"removed-delete-files": str(len(deletes))},
            )
        df = io._read_reconciled(md, snap, affected, with_lineage=True)
        df = io._apply_deletes(
            df, affected, deletes, target_schema=current_schema(md)
        )
        df = df.drop(LINEAGE_FILE, LINEAGE_POS)
        from denali_spark.sources.catalog_io import table_write_format
        from denali_spark.sources.partitioning import spec_to_partition_by

        new_files = io._write_data_files(
            df, md["location"], partition_by=spec_to_partition_by(md),
            schema_id=md.get("current-schema-id", 0),
            file_format=table_write_format(md),
        )
        return _commit_cow(
            io, namespace, name, md, parent_id, carry + new_files, "replace",
            {"removed-delete-files": str(len(deletes)),
             "rewritten-data-files": str(len(affected))},
        )

    return _retrying(attempt)
