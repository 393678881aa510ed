"""`spark.read.format("denali")` — the catalog as a native Spark data source.

PySpark 4's Python Data Source API lets the engine register the catalog's
tables as a first-class source: batch reads (with snapshot/ref time travel)
and a streaming source whose offsets are SNAPSHOT IDS — each micro-batch
consumes exactly the files appended by the snapshots between two offsets,
the Iceberg streaming-read contract (cost ∝ new data, never table size).
The write side completes the loop: `df.write.format("denali")` and
`writeStream.format("denali")` run the standard two-phase Iceberg write —
executors write parquet, the driver commits ONE CAS-retried snapshot per
batch, micro-batch ids stamped into snapshot summaries for replay
idempotence.

    from denali_spark.sources.datasource import register_denali_source
    register_denali_source(spark)
    df = (spark.read.format("denali")
          .option("uri", server_uri).option("namespace", "ns")
          .option("table", "t").load())
    stream = (spark.readStream.format("denali")
              .option("uri", server_uri).option("namespace", "ns")
              .option("table", "t").option("starting", "earliest").load())

Scale shape: planning (metadata load, manifest diff) runs on the driver
against the catalog — bounded by manifest size; row reads are one task per
data file, executor-side, yielding Arrow record batches straight from
parquet through pyarrow — no JVM round-trip, no driver row materialization.

Scope (documented, enforced with clear errors): parquet data files,
single-schema tables, unpartitioned writes. V3 deletion vectors and
equality deletes ARE read natively — each file's task applies its own
bitmap as a positional mask (no join), and equality-delete key sets
(tiny, CDC keys) ship inside the partition with the strictly-lower-
sequence rule applied at planning; only parquet position-delete files
still point at the reconciled path (or `convert_deletes_to_dvs`).
The reconciled paths (MoR anti-joins, field-id schema evolution, avro/orc
kernels, partition-aware layout) live in `SparkCatalogIO.read_table` /
`write_table` / `read_incremental`; this source is the spark-idiomatic
front door for the common shape. The streaming source requires an
append-only snapshot range, exactly like Iceberg's streaming read (a
mid-range overwrite raises rather than silently replaying the table).

Planning/resolution helpers are the ENGINE's own (catalog_io.
resolve_snapshot, manifests.read_manifest_list, schema_evolution.current_schema,
schema_convert.iceberg_schema_to_spark) — one implementation, two front
ends.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from denali_spark.catalog.client import CatalogClient
from denali_spark.sources.schema_convert import iceberg_schema_to_spark


@dataclass
class _FilePartition(InputPartition):
    path: str
    # (name, iceberg primitive type) pairs — enough to type null backfills
    columns: tuple
    # deletion vector for this file: (puffin path, offset, length) or None.
    # V3 DVs are per-file by construction, so the delete side of a scan
    # ships as ONE tuple per partition — no join, no broadcast.
    dv: tuple | None = None
    # equality deletes applicable to this file: ((key columns), (key value
    # tuples)) groups. Key sets are tiny by construction (CDC keys), read
    # once driver-side and serialized into the partition; sequence
    # filtering (delete seq > file seq) already applied at planning.
    eq_deletes: tuple = ()
    # V3 row lineage: when row_ids is set, the reader appends a _row_id
    # column = first_row_id + in-file position (pre-delete positions, so
    # ids are stable under DV/position/equality deletes). None first_row_id
    # (files written before lineage stamping) yields NULL ids.
    first_row_id: int | None = None
    row_ids: bool = False
    # V2 parquet position-delete FILE PATHS (not their rows): the executor
    # reads each with a file_path == this-partition's-path filter (delete
    # files are sorted by (file_path, pos), so parquet row-group stats
    # prune the irrelevant spans) and merges the positions into the DV
    # mask. Rows never transit the driver. No sequence check is needed:
    # data file paths are unique per commit, so a delete row can never
    # alias a newer file (same argument as the reconciled path's).
    pos_deletes: tuple = ()


def _load(options):
    uri = options.get("uri")
    ns = options.get("namespace")
    table = options.get("table")
    if not (uri and ns and table):
        raise ValueError(
            "the denali source needs options: uri, namespace, table"
        )
    client = CatalogClient(uri)
    md = client.load_table(ns.split("."), table)["metadata"]
    return client, ns.split("."), table, md


def _flat_spark_schema(schema: dict):
    """The Spark schema of a table this source serves: flat tables only
    (the kernels below shape Arrow batches column by column)."""
    nested = [f["name"] for f in schema["fields"] if not isinstance(f["type"], str)]
    if nested:
        raise NotImplementedError(
            f"column {nested[0]!r} has a nested type; read this table "
            "through SparkCatalogIO.read_table"
        )
    return iceberg_schema_to_spark(schema)


def _schema_pairs(md: dict) -> tuple:
    from denali_spark.sources.schema_evolution import current_schema

    return tuple(
        (f["name"], f["type"]) for f in current_schema(md)["fields"]
    )


def _checked_entries(md: dict, entries, deletes) -> tuple:
    """Enforce the source's declared scope with actionable errors. Returns
    (data entries, {data path → DV (puffin path, offset, length)},
    [(delete seq, key cols, key tuples)] equality-delete groups,
    (V2 parquet position-delete file paths)) — all three MoR delete
    shapes read natively."""
    from denali_spark.sources.mor import _is_dv

    dv_by_path = {
        e["referenced-data-file"]: (
            e["path"], int(e["content-offset"]), int(e["content-size-in-bytes"])
        )
        for e in deletes if _is_dv(e)
    }
    eq_groups = []
    pos_paths = []
    for e in deletes:
        if _is_dv(e):
            continue
        if e.get("content") == "equality-deletes":
            eq_groups.append(e)
        else:
            pos_paths.append(e["path"])
    eq_by_seq = _load_equality_deletes(eq_groups)
    cur = md.get("current-schema-id", 0)
    stale = [e["path"] for e in entries if e.get("schema-id", cur) != cur]
    if stale:
        raise NotImplementedError(
            f"{len(stale)} data files were written under an older schema; "
            "read through SparkCatalogIO.read_table (field-id reconciled)"
        )
    bad = [e for e in entries if e.get("file-format", "parquet") != "parquet"]
    if bad:
        raise NotImplementedError(
            "non-parquet data files present; read through "
            "SparkCatalogIO.read_table"
        )
    names = {n for n, _t in _schema_pairs(md)}
    for _seq, cols, _keys in eq_by_seq:
        missing = [c for c in cols if c not in names]
        if missing:
            raise NotImplementedError(
                f"equality-delete key columns {missing} were renamed since "
                "the delete was written; read through "
                "SparkCatalogIO.read_table (field-id reconciled)"
            )
    return entries, dv_by_path, eq_by_seq, tuple(sorted(pos_paths))


def _load_equality_deletes(eq_groups: list[dict]) -> list[tuple]:
    """[(delete seq, key column tuple, frozenset of key-value tuples)] —
    key files are tiny (CDC keys, not data), so one driver-side pyarrow
    read each; planning stays bounded by delete-file size."""
    if not eq_groups:
        return []
    import pyarrow.parquet as pq

    out = []
    for e in eq_groups:
        cols = tuple(e["equality-columns"])
        tbl = pq.read_table(e["path"], columns=list(cols))
        keys = frozenset(
            tuple(row[c] for c in cols) for row in tbl.to_pylist()
        )
        out.append((int(e.get("sequence-number", 0)), cols, keys))
    return out


def _read_parquet_batches(partition: _FilePartition):
    """Executor-side: one data file → Arrow record batches. Deleted
    positions — a deletion vector decoded with one ranged blob read,
    and/or V2 parquet position-delete files scanned with a
    file_path == this-file filter (row-group stats prune the rest of the
    sorted delete file) — are applied as a positional mask while
    streaming; file row order is exactly the position space the deletes
    were written against."""
    import pyarrow.parquet as pq

    pos_sets = []
    if partition.dv is not None:
        from denali_spark.sources.puffin import read_dv_positions

        p, off, length = partition.dv
        pos_sets.append(read_dv_positions(p, off, length))
    if partition.pos_deletes:
        # delete rows store the lineage-normalized plain path; match the
        # file:// spelling too for delete files written by other engines
        spellings = [partition.path, f"file://{partition.path}"]
        for dpath in partition.pos_deletes:
            t = pq.read_table(
                dpath, columns=["file_path", "pos"],
                filters=[("file_path", "in", spellings)],
            )
            pos_sets.append(t.column("pos").to_pylist())
    deleted = None
    if pos_sets:
        import numpy as np

        deleted = np.unique(
            np.concatenate([np.asarray(s, dtype=np.int64) for s in pos_sets])
        ) if any(len(s) for s in pos_sets) else None

    pf = pq.ParquetFile(partition.path)
    present = set(pf.schema_arrow.names)
    want = [c for c, _t in partition.columns if c in present]
    row = 0
    for batch in pf.iter_batches(columns=want):
        n = batch.num_rows
        if partition.row_ids:
            import pyarrow as pa

            if partition.first_row_id is None:
                ids = pa.nulls(n, type=pa.int64())
            else:
                ids = pa.array(
                    range(partition.first_row_id + row,
                          partition.first_row_id + row + n),
                    type=pa.int64(),
                )
            batch = pa.RecordBatch.from_arrays(
                [*batch.columns, ids], names=[*batch.schema.names, "_row_id"]
            )
        if deleted is not None:
            import numpy as np
            import pyarrow as pa

            lo, hi = np.searchsorted(deleted, [row, row + n])
            if hi > lo:
                mask = np.ones(n, dtype=bool)
                mask[deleted[lo:hi] - row] = False
                batch = batch.filter(pa.array(mask))
        row += n
        if batch.num_rows and partition.eq_deletes:
            batch = _apply_eq_deletes(batch, partition.eq_deletes)
        if batch.num_rows:
            yield _shape_batch(batch, partition.columns)


def _apply_eq_deletes(batch, eq_deletes):
    """Drop rows whose key tuple appears in any applicable equality-delete
    group (null-safe: None matches None, like the reconciled path's
    eqNullSafe). Key sets are small; the per-row check is a set lookup."""
    import pyarrow as pa

    for cols, keys in eq_deletes:
        keyset = set(keys)
        col_vals = [
            batch.column(batch.schema.get_field_index(c)).to_pylist()
            if c in batch.schema.names else [None] * batch.num_rows
            for c in cols
        ]
        mask = [t not in keyset for t in zip(*col_vals)]
        if not all(mask):
            batch = batch.filter(pa.array(mask))
        if not batch.num_rows:
            break
    return batch


def _shape_batch(batch, columns):
    """Reorder to the declared schema; backfill absent columns as TYPED
    nulls (an untyped null array would fail Spark's Arrow conversion)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    from denali_spark.sources.schema_convert import iceberg_type_to_spark

    arrays, names = [], []
    for c, t in columns:
        names.append(c)
        if c in batch.schema.names:
            arrays.append(batch.column(batch.schema.get_field_index(c)))
        else:
            arrays.append(
                pa.nulls(batch.num_rows, type=to_arrow_type(iceberg_type_to_spark(t)))
            )
    return pa.RecordBatch.from_arrays(arrays, names=names)


def _filter_to_expr(f):
    """Spark DataSource Filter → the engine's scan-expression dict (the
    grammar `expressions.file_might_match` prunes with), or None when the
    shape has no stats translation. Only simple single-column paths map."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, In, IsNull, LessThan

    from denali_spark.sources import expressions as E

    attr = getattr(f, "attribute", None)
    if not attr or len(attr) != 1:
        return None
    col = attr[0]
    if isinstance(f, EqualTo):
        return E.eq(col, f.value)
    if isinstance(f, GreaterThan):
        return E.gt(col, f.value)
    if isinstance(f, LessThan):
        return E.lt(col, f.value)
    if isinstance(f, In):
        return E.in_(col, list(f.value))
    if isinstance(f, IsNull):
        return E.is_null(col)
    return None


class _DenaliBatchReader(DataSourceReader):
    def __init__(self, options, md: dict):
        from denali_spark.sources import manifests
        from denali_spark.sources.catalog_io import resolve_snapshot, split_entries

        self._columns = _schema_pairs(md)
        self._options = options
        self._pruning_exprs: list[dict] = []
        snap_id = options.get("snapshot_id")
        snap = resolve_snapshot(
            md, int(snap_id) if snap_id else None, options.get("ref")
        )
        self._entries = []
        if snap is not None:
            data, deletes = split_entries(
                manifests.read_manifest_list(snap["manifest-list"])
            )
            (self._entries, self._dv_by_path, self._eq_by_seq,
             self._pos_deletes) = _checked_entries(md, data, deletes)
        else:
            self._dv_by_path = {}
            self._eq_by_seq = []
            self._pos_deletes = ()

    def pushFilters(self, filters):
        """File pruning from manifest min/max stats: translatable filters
        drop whole files before any task launches (the same driver-side
        pruning read_table does). Every filter is returned to Spark —
        stats pruning is conservative (file granularity), so Spark still
        evaluates the exact predicate over the surviving rows."""
        for f in filters:
            expr = _filter_to_expr(f)
            if expr is not None:
                self._pruning_exprs.append(expr)
            yield f

    def partitions(self):
        from denali_spark.sources.expressions import and_, file_might_match

        entries = self._entries
        if self._pruning_exprs:
            expr = and_(*self._pruning_exprs) if len(
                self._pruning_exprs
            ) > 1 else self._pruning_exprs[0]
            entries = [
                e for e in entries if file_might_match(expr, e.get("stats"))
            ]
        def eq_for(e):
            # strictly-lower-sequence rule: a delete never hits rows
            # appended after it (mirrors _apply_deletes)
            fseq = int(e.get("sequence-number", 0))
            return tuple(
                (cols, tuple(sorted(keys, key=repr)))
                for dseq, cols, keys in self._eq_by_seq if fseq < dseq
            )

        row_ids = (self._options.get("rowids") or "").lower() == "true"
        cols = self._columns + ((("_row_id", "long"),) if row_ids else ())
        return [
            _FilePartition(
                e["path"], cols,
                dv=self._dv_by_path.get(e["path"]),
                eq_deletes=eq_for(e),
                pos_deletes=self._pos_deletes,
                first_row_id=e.get("first-row-id"),
                row_ids=row_ids,
            )
            for e in entries
        ] or [_FilePartition("", cols)]

    def read(self, partition):
        if not partition.path:
            return iter(())
        return _read_parquet_batches(partition)


class _DenaliStreamReader(DataSourceStreamReader):
    """Offsets are snapshot ids: micro-batch (start, end] = the data files
    appended by the snapshots between the two, validated append-only —
    the same contract as read_incremental, driven by Spark's trigger."""

    def __init__(self, options, md: dict):
        self._ns = options.get("namespace").split(".")
        self._table = options.get("table")
        self._uri = options.get("uri")
        self._columns = _schema_pairs(md)
        starting = options.get("starting", "latest")
        sid = options.get("starting_snapshot_id")
        if sid is not None:
            self._initial = int(sid)
        elif starting == "earliest":
            self._initial = None
        else:
            self._initial = md.get("current-snapshot-id")
        mft = options.get("maxfilespertrigger")
        self._max_files = int(mft) if mft is not None else None
        # The base the rate limiter advances from — set by each planned
        # batch. None until then: the FIRST trigger after any (re)start is
        # UNCAPPED, because this API's latestOffset receives no start
        # offset, and capping from the declared starting offset would fall
        # behind a restart checkpoint and wedge the stream (the lineage
        # check would fail every trigger). Steady-state triggers cap.
        self._last: int | None = None
        self._client: CatalogClient | None = None

    def __getstate__(self):
        # the client's per-thread connections do not pickle; a copy
        # shipped for read() builds its own if it ever needs one
        return {**self.__dict__, "_client": None}

    def _md(self):
        # one client per reader: every trigger reuses its kept-alive
        # connection and its ETag, so an unchanged table answers 304
        if self._client is None:
            self._client = CatalogClient(self._uri)
        return self._client.load_table(self._ns, self._table)["metadata"]

    def initialOffset(self) -> dict:
        return {"snapshot_id": self._initial}

    def latestOffset(self) -> dict:
        md = self._md()
        cur = md.get("current-snapshot-id")
        if self._max_files is None or self._last is None or cur == self._last:
            return {"snapshot_id": cur}
        # Advance at most max_files data files along the snapshot chain
        # (always at least one snapshot so progress is guaranteed). File
        # counts come from the added-data-files summary stamp when present;
        # snapshots without the stamp (tables written by older commit
        # paths) fall back to counting their manifest-list's data entries
        # at this snapshot's sequence number — otherwise they'd count as 0
        # and a trigger could admit unboundedly many files past the cap.
        from denali_spark.sources.incremental import _chain

        try:
            chain = _chain(md, self._last, cur)
        except ValueError:
            return {"snapshot_id": cur}  # lineage break: let partitions() report it
        total = 0
        end = self._last
        for snap in chain:
            total += self._added_file_count(snap)
            if total > self._max_files and end != self._last:
                break
            end = snap["snapshot-id"]
        return {"snapshot_id": end}

    def _added_file_count(self, snap: dict) -> int:
        stamp = snap.get("summary", {}).get("added-data-files")
        if stamp is not None:
            return int(stamp)
        from denali_spark.sources import manifests
        from denali_spark.sources.catalog_io import split_entries

        seq = snap.get("sequence-number", 0)
        data, _deletes = split_entries(
            manifests.read_manifest_list(snap["manifest-list"])
        )
        return sum(1 for e in data if int(e.get("sequence-number", 0)) == seq)

    def partitions(self, start: dict, end: dict):
        from denali_spark.sources import manifests
        from denali_spark.sources.catalog_io import split_entries
        from denali_spark.sources.incremental import _chain

        start_id, end_id = start.get("snapshot_id"), end.get("snapshot_id")
        if end_id is None or start_id == end_id:
            return [_FilePartition("", self._columns)]
        md = self._md()
        chain = _chain(md, start_id, end_id)
        non_append = [
            s["snapshot-id"] for s in chain
            if s.get("summary", {}).get("operation") != "append"
        ]
        if non_append:
            raise ValueError(
                f"streaming read crossed non-append snapshots {non_append}; "
                "consume overwrites/deletes via read_changes instead"
            )
        seqs = {s["sequence-number"] for s in chain}
        data, _deletes = split_entries(
            manifests.read_manifest_list(chain[-1]["manifest-list"])
        )
        added = [
            e for e in data if int(e.get("sequence-number", 0)) in seqs
        ]
        added, _, _, _ = _checked_entries(md, added, [])
        self._last = end_id  # rate-limiter base for the next trigger
        return [
            _FilePartition(e["path"], self._columns) for e in added
        ] or [_FilePartition("", self._columns)]

    def read(self, partition):
        if not partition.path:
            return iter(())
        return _read_parquet_batches(partition)

    def commit(self, end: dict) -> None:
        pass  # offsets are snapshot ids; nothing to clean up


# --- write paths ------------------------------------------------------------


@dataclass
class _FilesWritten(WriterCommitMessage):
    paths: tuple


def _writer_preflight(options, spark_schema, md: dict | None = None):
    """Driver-side validation + everything the executors/commit need."""
    if md is None:
        _client, ns, table, md = _load(options)
    else:
        ns = options.get("namespace").split(".")
        table = options.get("table")
    from denali_spark.sources.schema_evolution import current_schema

    table_schema = _flat_spark_schema(current_schema(md))
    if [(f.name.lower(), f.dataType) for f in spark_schema] != [
        (f.name.lower(), f.dataType) for f in table_schema
    ]:
        raise ValueError(
            f"dataframe schema ({spark_schema.simpleString()}) does not match "
            f"table schema ({table_schema.simpleString()}); evolve the table "
            "first (sources.schema_evolution)"
        )
    from denali_spark.sources.catalog_io import table_write_format
    from denali_spark.sources.partitioning import spec_to_partition_by

    if spec_to_partition_by(md):
        raise NotImplementedError(
            "table has an active partition spec; write through "
            "SparkCatalogIO.write_table (partition-aware layout)"
        )
    if table_write_format(md) != "parquet":
        raise NotImplementedError(
            "table's write format is not parquet; write through "
            "SparkCatalogIO.write_table"
        )
    from pyspark.sql.pandas.types import to_arrow_schema

    return {
        "uri": options.get("uri"),
        "namespace": ns,
        "table": table,
        "location": md["location"],
        "arrow_schema": to_arrow_schema(spark_schema),
    }


def _write_partition_file(ctx, iterator) -> "_FilesWritten":
    """Executor-side: drain one partition's rows into one parquet file under
    the table's data dir; the driver turns paths into manifest entries."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from denali_spark.catalog.metadata import _fs_path

    rows = [tuple(r) for r in iterator]
    if not rows:
        return _FilesWritten(())
    cols = list(zip(*rows))
    schema = ctx["arrow_schema"]
    tbl = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
        schema=schema,
    )
    out_dir = os.path.join(_fs_path(ctx["location"]), "data", "pyds")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"part-{uuid.uuid4().hex}.parquet")
    pq.write_table(tbl, path)
    return _FilesWritten((path,))


def _commit_files(ctx, messages, overwrite: bool, summary_extra: dict) -> None:
    """Driver-side: manifest entries from the written files, one CAS-retried
    snapshot commit (same protocol as every engine commit). Skipped when the
    batch wrote nothing, or (streaming) when the batch id already committed
    — replay after a checkpoint restart is a no-op."""
    from pyspark.sql import SparkSession

    from denali_spark.sources import manifests
    from denali_spark.sources.catalog_io import (
        MAIN,
        SparkCatalogIO,
        split_entries,
        _file_stats,
    )
    from denali_spark.sources.row_ops import _commit_cow, _retrying

    paths = [p for m in messages if m is not None for p in m.paths]
    if not paths:
        return
    spark = SparkSession.getActiveSession()
    io = SparkCatalogIO(spark, ctx["uri"])
    ns, name = ctx["namespace"], ctx["table"]

    def attempt():
        from denali_spark.sources.catalog_io import _batch_already_committed

        md = io.client.load_table(ns, name)["metadata"]
        batch_key = summary_extra.get("streaming-batch-id")
        if batch_key is not None and _batch_already_committed(
            md, "streaming-batch-id", batch_key
        ):
            return {"noop": "batch already committed"}
        ref = md.get("refs", {}).get(MAIN)
        parent_id = ref["snapshot-id"] if ref else None
        carried: list[dict] = []
        if parent_id is not None and not overwrite:
            snap = io._resolve_snapshot(md, parent_id)
            data, deletes = split_entries(
                manifests.read_manifest_list(snap["manifest-list"])
            )
            carried = data + deletes
        new = [
            {
                "path": p,
                "file-format": "parquet",
                "schema-id": md.get("current-schema-id", 0),
                **_file_stats(p, "parquet"),
            }
            for p in sorted(paths)
        ]
        hwm_updates = None
        if batch_key is not None and str(batch_key).lstrip("-").isdigit():
            # integer batch ids also advance an expiry-proof high-watermark
            # property in the same commit (late replays after snapshot
            # expiry would otherwise slip the membership check above)
            prev = md.get("properties", {}).get("streaming-batch-id.high-watermark")
            hwm = max(int(batch_key), int(prev)) if prev is not None else int(batch_key)
            hwm_updates = [{
                "action": "set-properties",
                "updates": {"streaming-batch-id.high-watermark": str(hwm)},
            }]
        return _commit_cow(
            io, ns, name, md, parent_id, carried + new,
            "overwrite" if overwrite else "append",
            {
                # the added-* stamps the streaming source's rate limiter
                # counts during offset negotiation
                "added-data-files": str(len(new)),
                "added-records": str(sum(f.get("record-count", 0) for f in new)),
                **summary_extra,
            },
            extra_updates=hwm_updates,
        )

    _retrying(attempt)


def _abort_files(messages) -> None:
    import os

    for m in messages:
        if m is None:
            continue
        for p in m.paths:
            try:
                os.remove(p)
            except OSError:
                pass


class _DenaliBatchWriter(DataSourceWriter):
    def __init__(self, options, schema, overwrite: bool, md: dict | None):
        self._ctx = _writer_preflight(options, schema, md)
        self._overwrite = overwrite

    def write(self, iterator):
        return _write_partition_file(self._ctx, iterator)

    def commit(self, messages) -> None:
        _commit_files(
            self._ctx, messages, self._overwrite,
            {"write-path": "python-datasource"},
        )

    def abort(self, messages) -> None:
        _abort_files(messages)


class _DenaliStreamWriter(DataSourceStreamWriter):
    """One snapshot per micro-batch; batch ids stamped into the snapshot
    summary make checkpoint-restart replays idempotent."""

    def __init__(self, options, schema, overwrite: bool, md: dict | None):
        if overwrite:
            raise NotImplementedError(
                "streaming writes are append-only (outputMode('append'))"
            )
        self._ctx = _writer_preflight(options, schema, md)

    def write(self, iterator):
        return _write_partition_file(self._ctx, iterator)

    def commit(self, messages, batchId: int) -> None:
        _commit_files(
            self._ctx, messages, False,
            {"write-path": "python-datasource-stream",
             "streaming-batch-id": str(batchId)},
        )

    def abort(self, messages, batchId: int) -> None:
        _abort_files(messages)


class DenaliDataSource(DataSource):
    """format("denali"): batch + streaming reads and writes of catalog
    tables. The table metadata is loaded ONCE per DataSource instance and
    shared between schema() and the reader/writer construction — one
    catalog round-trip per plan, not one per method."""

    @classmethod
    def name(cls) -> str:
        return "denali"

    def _metadata(self) -> dict:
        md = getattr(self, "_md_cache", None)
        if md is None:
            _client, _ns, _table, md = _load(self.options)
            self._md_cache = md
        return md

    def schema(self):
        from denali_spark.sources.schema_evolution import current_schema

        schema = _flat_spark_schema(current_schema(self._metadata()))
        if (self.options.get("rowids") or "").lower() == "true":
            schema.add("_row_id", "long")  # V3 row lineage (batch reads)
        return schema

    def reader(self, schema) -> DataSourceReader:
        return _DenaliBatchReader(self.options, self._metadata())

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _DenaliStreamReader(self.options, self._metadata())

    def writer(self, schema, overwrite: bool) -> "DataSourceWriter":
        return _DenaliBatchWriter(self.options, schema, overwrite, self._metadata())

    def streamWriter(self, schema, overwrite: bool) -> "DataSourceStreamWriter":
        return _DenaliStreamWriter(self.options, schema, overwrite, self._metadata())


def register_denali_source(spark) -> None:
    # The reader implements pushFilters, which Spark refuses to plan unless
    # python filter pushdown is switched on — enable it with registration
    # so every session that can see format("denali") can also plan it.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(DenaliDataSource)
