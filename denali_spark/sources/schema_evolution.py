"""Schema evolution: ALTER TABLE through the commit protocol, with
field-id-based reads.

The reference's catalog carries evolution as metadata ops — schemas are
append-only, evolution = `add-schema` + `set-current-schema`
(/root/reference/logic/updates.go:75-100, 178-195; SURVEY §2.C) — and field
ids, not names, are a column's identity (§1.4). The data-plane half, which
the reference leaves to client engines, lives here:

- add_column / rename_column / drop_column build the successor schema
  (same field ids for surviving columns, fresh id for additions) and commit
  it optimistically.
- Reads reconcile every data file with the CURRENT schema by field id:
  each file is read under the schema it was written with (stamped into its
  manifest entry at write time), renamed columns map old file name → new
  name via their shared id, dropped columns are projected away, and added
  columns materialize as typed NULLs. A rename is therefore a pure
  metadata operation — zero files rewritten, which is the only acceptable
  cost at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from denali_spark.sources.catalog_io import SparkCatalogIO
from denali_spark.sources.schema_convert import iceberg_type_to_spark


def schema_by_id(md: dict, schema_id: int) -> dict:
    for s in md["schemas"]:
        if s["schema-id"] == schema_id:
            return s
    raise ValueError(f"schema-id {schema_id} not in metadata")


def current_schema(md: dict) -> dict:
    return schema_by_id(md, md["current-schema-id"])


def reconcile_to_schema(
    df: DataFrame, file_schema: dict, target: dict, extra_cols: tuple = ()
) -> DataFrame:
    """Project a DataFrame read under `file_schema` into `target`, matching
    columns by FIELD ID (renames follow the id; drops disappear; additions
    become typed NULLs). `extra_cols` are engine-internal columns (e.g. row
    lineage for merge-on-read deletes) carried through the projection."""
    by_id = {f["id"]: f["name"] for f in file_schema["fields"]}
    cols = []
    for field in target["fields"]:
        old = by_id.get(field["id"])
        # a column absent from this file group reads as the V3
        # initial-default if the field carries one, else a typed NULL; the
        # cast also covers type PROMOTION (int→long, float→double, decimal
        # widen) of files written before it, and Catalyst folds it away
        # where the file's type already matches
        col = F.col(old) if old is not None else F.lit(field.get("initial-default"))
        cols.append(col.cast(iceberg_type_to_spark(field["type"])).alias(field["name"]))
    cols.extend(F.col(c) for c in extra_cols)
    return df.select(*cols)


def _commit_schema_change(
    io: SparkCatalogIO, namespace: list[str], name: str, new_fields: list[dict],
    last_column_id: int,
) -> dict:
    md = io.client.load_table(namespace, name)["metadata"]
    new_schema = {
        "type": "struct",
        "schema-id": None,  # service assigns max+1
        "fields": new_fields,
    }
    return io.client.commit_table(
        namespace,
        name,
        requirements=[
            {"type": "assert-table-uuid", "uuid": md["table-uuid"]},
            {"type": "assert-current-schema-id",
             "current-schema-id": md["current-schema-id"]},
        ],
        updates=[
            {"action": "add-schema", "schema": new_schema,
             "last-column-id": last_column_id},
            {"action": "set-current-schema", "schema-id": -1},  # -1 = latest
        ],
    )


def add_column(
    io: SparkCatalogIO, namespace: list[str], name: str,
    column: str, iceberg_type: str, doc: str | None = None,
    default=None,
) -> dict:
    """ALTER TABLE ADD COLUMN — fresh field id, existing files backfill on
    read (no rewrite): as typed NULLs, or as the V3 `initial-default`
    when one is given (rows written before the column existed read the
    default; `write-default` is set to the same value per the spec's
    common case)."""
    md = io.client.load_table(namespace, name)["metadata"]
    cur = current_schema(md)
    if any(f["name"] == column for f in cur["fields"]):
        raise ValueError(f"column {column!r} already exists")
    new_id = md.get("last-column-id", max(f["id"] for f in cur["fields"])) + 1
    field = {"id": new_id, "name": column, "type": iceberg_type, "required": False}
    if doc:
        field["doc"] = doc
    if default is not None:
        field["initial-default"] = default
        field["write-default"] = default
    return _commit_schema_change(
        io, namespace, name, [*cur["fields"], field], new_id
    )


def add_columns(
    io: SparkCatalogIO, namespace: list[str], name: str,
    columns: list[dict],
) -> dict:
    """ALTER TABLE ADD COLUMNS (a t1, b t2, ...) as ONE commit: every
    requested field is validated first, then a single new schema carrying
    all of them is added and made current. Atomic by construction — a
    malformed or duplicate column raises before any commit, and N columns
    cost one CAS round-trip and one metadata file, not N.

    Each entry: {"column", "type" (iceberg), "doc"?, "default"?}."""
    md = io.client.load_table(namespace, name)["metadata"]
    cur = current_schema(md)
    existing = {f["name"] for f in cur["fields"]}
    next_id = md.get("last-column-id", max(f["id"] for f in cur["fields"]))
    new_fields = []
    for spec in columns:
        col = spec["column"]
        if col in existing:
            raise ValueError(f"column {col!r} already exists")
        existing.add(col)
        next_id += 1
        field = {
            "id": next_id, "name": col, "type": spec["type"],
            "required": False,
        }
        if spec.get("doc"):
            field["doc"] = spec["doc"]
        if spec.get("default") is not None:
            field["initial-default"] = spec["default"]
            field["write-default"] = spec["default"]
        new_fields.append(field)
    if not new_fields:
        raise ValueError("ADD COLUMNS requires at least one column")
    return _commit_schema_change(
        io, namespace, name, [*cur["fields"], *new_fields], next_id
    )


def rename_column(
    io: SparkCatalogIO, namespace: list[str], name: str, old: str, new: str
) -> dict:
    """ALTER TABLE RENAME COLUMN — same field id, new name; pure metadata."""
    md = io.client.load_table(namespace, name)["metadata"]
    cur = current_schema(md)
    if not any(f["name"] == old for f in cur["fields"]):
        raise ValueError(f"column {old!r} not found")
    if any(f["name"] == new for f in cur["fields"]):
        raise ValueError(f"column {new!r} already exists")
    fields = [
        {**f, "name": new} if f["name"] == old else f for f in cur["fields"]
    ]
    return _commit_schema_change(
        io, namespace, name, fields, md.get("last-column-id", 0)
    )


def _promotion_ok(old: str, new: str) -> bool:
    """Iceberg-legal primitive type promotions (spec 'Schema Evolution'):
    int→long, float→double, decimal(P,S)→decimal(P',S) with P' >= P."""
    import re as _re

    if old == new:
        return True
    if (old, new) in {("int", "long"), ("float", "double")}:
        return True
    mo = _re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", old)
    mn = _re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", new)
    if mo and mn:
        return mo.group(2) == mn.group(2) and int(mn.group(1)) >= int(mo.group(1))
    return False


def update_column(
    io: SparkCatalogIO, namespace: list[str], name: str, column: str, *,
    new_type: str | None = None, doc: str | None = None,
    make_optional: bool = False,
) -> dict:
    """ALTER TABLE ALTER COLUMN — type promotion, doc change, and
    required→optional relaxation, all pure metadata (field id unchanged).
    Only Iceberg-legal promotions are accepted (int→long, float→double,
    decimal widening at fixed scale) — anything else would silently
    corrupt old files, whose bytes are never rewritten; the read path
    casts promoted columns to the current type per file group.
    optional→required is rejected (existing NULLs can't be retrofitted)."""
    md = io.client.load_table(namespace, name)["metadata"]
    cur = current_schema(md)
    target = next((f for f in cur["fields"] if f["name"] == column), None)
    if target is None:
        raise ValueError(f"column {column!r} not found")
    changed = dict(target)
    if new_type is not None:
        if not isinstance(target["type"], str):
            raise ValueError(f"cannot promote nested column {column!r}")
        if not _promotion_ok(target["type"], new_type):
            raise ValueError(
                f"illegal type promotion {target['type']} -> {new_type} for "
                f"{column!r} (Iceberg allows int->long, float->double, and "
                "decimal precision widening only)"
            )
        changed["type"] = new_type
    if doc is not None:
        changed["doc"] = doc
    if make_optional:
        changed["required"] = False
    fields = [changed if f["name"] == column else f for f in cur["fields"]]
    return _commit_schema_change(
        io, namespace, name, fields, md.get("last-column-id", 0)
    )


def drop_column(
    io: SparkCatalogIO, namespace: list[str], name: str, column: str
) -> dict:
    """ALTER TABLE DROP COLUMN — field removed from the current schema;
    data files keep the bytes (time travel to old snapshots still sees
    them), reads under the new schema project it away."""
    md = io.client.load_table(namespace, name)["metadata"]
    cur = current_schema(md)
    if not any(f["name"] == column for f in cur["fields"]):
        raise ValueError(f"column {column!r} not found")
    fields = [f for f in cur["fields"] if f["name"] != column]
    if not fields:
        raise ValueError("cannot drop the last column")
    return _commit_schema_change(
        io, namespace, name, fields, md.get("last-column-id", 0)
    )
