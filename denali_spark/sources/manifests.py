"""Iceberg-spec-shaped Avro manifests.

The reference's REST contract hands clients a `manifest-list` location
(/root/reference/routes/openapi.yml:1832-1834) that real Iceberg engines
(SparkCatalog, pyiceberg — /root/reference/examples/pyspark_example.py:14-22)
expect to be an Avro object-container file of `manifest_file` records, each
pointing at a manifest Avro of `manifest_entry` records wrapping a
ContentFile (openapi.yml:3400+). This module writes the spec's two-level Avro
layout through the pure-Python OCF codec:

    snap-<id>.manifest-list.avro      manifest_file records (data + deletes)
      └─ <uuid>-m<N>.avro             manifest_entry{status, snapshot_id,
                                      sequence_number, data_file{...}}

Field names and nesting follow the Iceberg v2 manifest schemas. When the
writer is given the table schema (every engine commit path passes it),
column bounds and null counts are keyed by FIELD ID with Iceberg's binary
single-value serialization (spec Appendix D: little-endian fixed-width
numerics, UTF-8 strings, days/micros for date/timestamp), and the manifest
OCF header carries the spec's key-value metadata (`schema`, `schema-id`,
`partition-spec`, `partition-spec-id`, `format-version`, `content`). The
engine's own pruner (sources/expressions.py) keeps consuming name-keyed
stats through the `data_file_to_entry` adapter, which decodes the binary
bounds back through the header schema.

`partition` values are carried in the spec's typed r102 struct (one
nullable field per partition-spec field, carrying its field-id) whenever a
spec is known and every entry's tuple fits it — year/bucket/int-source
identity/truncate values as longs, the rest as strings.

`month`/`day`/`hour` partition values are carried as the spec's integer
transform results (months/days/hours from epoch, round 7) and rendered
back to the engine's readable strings by the read adapter.

Remaining documented deviations from what pyiceberg/SparkCatalog could
consume directly (full interop is environment-blocked here — no Iceberg
jar/pyiceberg to test against, SURVEY §8):
- a manifest whose partition tuples do not fit its spec's typed struct
  carries them as a name-keyed JSON map;
- columns absent from the schema (or with non-encodable stat values) fall
  back to name-keyed JSON bounds in `x_lower_bounds_json` /
  `x_upper_bounds_json` / `x_null_counts_json`;
- `x_schema_id` / `x_equality_columns` carry engine bookkeeping that
  Iceberg stores elsewhere (manifest header metadata / field-id lists).

Data-file paths are written as `file://` URIs (Iceberg's convention) and
mapped back to local paths by the read adapter, so the engine's internal
entry dicts keep carrying plain paths.

This is the only module that opens a manifest list or a manifest:
`read_manifest_files` reads a list's `manifest_file` records and
`read_manifest` decodes one manifest; `read_manifest_list` composes the
two. Only the spec's two-level Avro layout is read, and every manifest
header must carry `schema` and `partition-spec-id`. Tables written before
round 7 (JSON manifest lists, name-keyed bounds, headers without a
trustworthy spec id) are not readable, and there is no migration.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import struct
import uuid

from denali_spark.catalog.metadata import _fs_path
from denali_spark.sources.avro_ocf import (
    field_names,
    read_ocf,
    read_ocf_with_meta,
    write_ocf,
)

CONTENT_TO_INT = {"data": 0, "position-deletes": 1, "equality-deletes": 2}
INT_TO_CONTENT = {v: k for k, v in CONTENT_TO_INT.items()}

FORMAT_VERSION = "2"


def _nullable(t):
    return ["null", t]


_STR_MAP = {"type": "map", "values": "string"}


def _kv_map(name: str, value_type: str) -> dict:
    """Iceberg's Avro encoding of an int-keyed map: array of key/value
    records with logicalType map (Avro maps only allow string keys)."""
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int"},
                {"name": "value", "type": value_type},
            ],
        },
    }


DATA_FILE_SCHEMA = {
    "type": "record",
    "name": "r2",  # Iceberg names the data_file record "r2" (field id 2)
    "fields": [
        {"name": "content", "type": "int"},
        {"name": "file_path", "type": "string"},
        {"name": "file_format", "type": "string"},
        {"name": "partition", "type": _nullable(_STR_MAP)},
        {"name": "record_count", "type": _nullable("long")},
        {"name": "file_size_in_bytes", "type": "long"},
        # Spec-shaped stats: field-id-keyed, binary single-value bounds.
        {"name": "null_value_counts", "type": _nullable(_kv_map("k121_v122", "long"))},
        {"name": "lower_bounds", "type": _nullable(_kv_map("k126_v127", "bytes"))},
        {"name": "upper_bounds", "type": _nullable(_kv_map("k129_v130", "bytes"))},
        # Name-keyed JSON fallback for stats columns outside the schema.
        {"name": "x_null_counts_json", "type": _nullable(_STR_MAP)},
        {"name": "x_lower_bounds_json", "type": _nullable(_STR_MAP)},
        {"name": "x_upper_bounds_json", "type": _nullable(_STR_MAP)},
        {"name": "equality_ids", "type": _nullable({"type": "array", "items": "int"})},
        # Iceberg V3 deletion-vector fields (spec ids 143/144/145): set only
        # on content=position-deletes entries whose file is a Puffin DV.
        # V3 row lineage (spec field 142): base row id for files without
        # materialized lineage columns (_row_id = first_row_id + position)
        {"name": "first_row_id", "type": _nullable("long")},
        {"name": "referenced_data_file", "type": _nullable("string")},
        {"name": "content_offset", "type": _nullable("long")},
        {"name": "content_size_in_bytes", "type": _nullable("long")},
        {"name": "x_schema_id", "type": _nullable("int")},
        {"name": "x_equality_columns",
         "type": _nullable({"type": "array", "items": "string"})},
        # Extension hint: the data file physically contains a `_row_id`
        # column (written by compaction/rewrites to carry V3 row lineage
        # THROUGH the rewrite) — readers prefer it over first_row_id +
        # position. Spec readers detect the column from the file schema;
        # the manifest flag saves a footer probe per file at plan time.
        {"name": "x_materialized_lineage", "type": _nullable("boolean")},
    ],
}

MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},  # 0 existing, 1 added, 2 deleted
        {"name": "snapshot_id", "type": _nullable("long")},
        {"name": "sequence_number", "type": _nullable("long")},
        {"name": "file_sequence_number", "type": _nullable("long")},
        {"name": "data_file", "type": DATA_FILE_SCHEMA},
    ],
}

MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},  # 0 data manifest, 1 deletes
        {"name": "sequence_number", "type": "long"},
        {"name": "min_sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
        {"name": "added_files_count", "type": "int"},
        {"name": "existing_files_count", "type": "int"},
        {"name": "deleted_files_count", "type": "int"},
        {"name": "added_rows_count", "type": "long"},
        {"name": "existing_rows_count", "type": "long"},
        {"name": "deleted_rows_count", "type": "long"},
    ],
}


# --- Iceberg single-value serialization (spec Appendix D) -------------------

_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH_NAIVE = datetime.datetime(1970, 1, 1)
_EPOCH_UTC = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def _ts_micros(v: str) -> int:
    dt = datetime.datetime.fromisoformat(v)
    delta = dt - (_EPOCH_UTC if dt.tzinfo is not None else _EPOCH_NAIVE)
    return (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds


def encode_single_value(iceberg_type: str, v) -> bytes | None:
    """Iceberg binary single-value serialization for the primitive types a
    stats value can carry (the engine's internal stat representation —
    `catalog_io._json_stat_value` — is int/float/ISO-string). Returns None
    when the (type, value) pair has no lossless binary form, in which case
    the writer falls back to name-keyed JSON for that column."""
    try:
        if iceberg_type == "boolean":
            return b"\x01" if v else b"\x00"
        if iceberg_type == "int":
            return struct.pack("<i", v)
        if iceberg_type == "long":
            return struct.pack("<q", v)
        if iceberg_type == "float":
            return struct.pack("<f", v)
        if iceberg_type == "double":
            return struct.pack("<d", v)
        if iceberg_type == "string" and isinstance(v, str):
            return v.encode("utf-8")
        if iceberg_type == "date" and isinstance(v, str):
            return struct.pack("<i", (datetime.date.fromisoformat(v) - _EPOCH_DATE).days)
        if iceberg_type in ("timestamp", "timestamptz") and isinstance(v, str):
            return struct.pack("<q", _ts_micros(v))
        if iceberg_type.startswith("decimal"):
            p, s = iceberg_type.strip("decimal() ").replace(" ", "").split(",")
            unscaled = int(
                decimal.Decimal(str(v)).scaleb(int(s)).to_integral_value(
                    decimal.ROUND_HALF_EVEN
                )
            )
            length = max(1, (unscaled.bit_length() + 8) // 8)
            return unscaled.to_bytes(length, "big", signed=True)
    except (ValueError, TypeError, struct.error, decimal.InvalidOperation):
        return None
    return None  # uuid/fixed/binary/nested: never appear as engine stats


def decode_single_value(iceberg_type: str, raw: bytes):
    """Inverse of encode_single_value, back to the engine's internal stat
    representation (numbers; ISO strings for date/timestamp — the exact
    shape `catalog_io._json_stat_value` produces, so the pruner's
    comparisons behave identically across a write/read round-trip)."""
    if iceberg_type == "boolean":
        return raw == b"\x01"
    if iceberg_type == "int":
        return struct.unpack("<i", raw)[0]
    if iceberg_type == "long":
        return struct.unpack("<q", raw)[0]
    if iceberg_type == "float":
        return struct.unpack("<f", raw)[0]
    if iceberg_type == "double":
        return struct.unpack("<d", raw)[0]
    if iceberg_type == "string":
        return raw.decode("utf-8")
    if iceberg_type == "date":
        return (_EPOCH_DATE + datetime.timedelta(days=struct.unpack("<i", raw)[0])).isoformat()
    if iceberg_type in ("timestamp", "timestamptz"):
        us = struct.unpack("<q", raw)[0]
        epoch = _EPOCH_UTC if iceberg_type == "timestamptz" else _EPOCH_NAIVE
        return (epoch + datetime.timedelta(microseconds=us)).isoformat(sep=" ")
    if iceberg_type.startswith("decimal"):
        _p, s = iceberg_type.strip("decimal() ").replace(" ", "").split(",")
        unscaled = int.from_bytes(raw, "big", signed=True)
        return float(decimal.Decimal(unscaled).scaleb(-int(s)))
    raise NotImplementedError(f"single-value decode for {iceberg_type!r}")


def _schema_by_name(schema: dict | None) -> dict[str, tuple[int, str]]:
    """name → (field-id, primitive type string) for top-level primitive
    fields (nested types never carry top-level stats)."""
    if not schema:
        return {}
    return {
        f["name"]: (f["id"], f["type"])
        for f in schema.get("fields", [])
        if isinstance(f.get("type"), str)
    }


def _schema_by_id(schema: dict | None) -> dict[int, tuple[str, str]]:
    if not schema:
        return {}
    return {
        f["id"]: (f["name"], f["type"])
        for f in schema.get("fields", [])
        if isinstance(f.get("type"), str)
    }


_EPOCH_DATE = datetime.date(1970, 1, 1)
_TIME_TRANSFORMS = ("month", "day", "hour")


def readable_to_spec_int(transform: str, v: str) -> int:
    """The engine's readable partition-dir value → Iceberg's integer
    transform result (spec: month = months from 1970-01, day = days from
    epoch, hour = hours from epoch; all UTC)."""
    if transform == "month":
        y, m = v.split("-")
        return (int(y) - 1970) * 12 + (int(m) - 1)
    if transform == "day":
        return (datetime.date.fromisoformat(v) - _EPOCH_DATE).days
    if transform == "hour":
        y, m, d, h = v.split("-")
        dt = datetime.datetime(
            int(y), int(m), int(d), int(h), tzinfo=datetime.timezone.utc
        )
        return int(dt.timestamp()) // 3600
    raise ValueError(f"no integer spec encoding for transform {transform!r}")


def spec_int_to_readable(transform: str, v: int) -> str:
    """Inverse of readable_to_spec_int (Iceberg's toHumanString shapes)."""
    if transform == "month":
        return f"{1970 + v // 12:04d}-{v % 12 + 1:02d}"
    if transform == "day":
        return (_EPOCH_DATE + datetime.timedelta(days=v)).isoformat()
    if transform == "hour":
        dt = datetime.datetime(
            1970, 1, 1, tzinfo=datetime.timezone.utc
        ) + datetime.timedelta(hours=v)
        return dt.strftime("%Y-%m-%d-%H")
    raise ValueError(f"no integer spec encoding for transform {transform!r}")


def partition_value_types(
    spec_fields: list | None, schema: dict | None
) -> dict[str, str] | None:
    """{partition field name → avro type} for the typed r102 partition
    struct. `long` where the value carries Iceberg's integer transform
    result (year, bucket[N], month/day/hour as months/days/hours from
    epoch — round 7 — and identity/truncate over int/long sources);
    everything else stays `string`."""
    if not spec_fields or schema is None:
        return None
    by_id = {f["id"]: f for f in schema["fields"]}
    out = {}
    for pf in spec_fields:
        t = pf["transform"]
        src = by_id.get(pf["source-id"])
        if t == "year" or t in _TIME_TRANSFORMS or t.startswith("bucket["):
            out[pf["name"]] = "long"
        elif (
            (t == "identity" or t.startswith("truncate["))
            and src is not None
            and src["type"] in ("int", "long")
        ):
            out[pf["name"]] = "long"
        else:
            out[pf["name"]] = "string"
    return out


def partition_transforms(spec_fields: list | None) -> dict[str, str]:
    """{partition field name → transform} — the map the value
    encode/decode needs to convert month/day/hour between the engine's
    readable strings and the spec's epoch integers."""
    return {pf["name"]: pf["transform"] for pf in (spec_fields or [])}


def _typed_partition_ok(
    entries: list[dict], vtypes: dict[str, str], transforms: dict[str, str]
) -> bool:
    """Can every entry's partition tuple be carried by the typed struct?
    Requires exact key agreement with the spec, canonical integer strings
    for plain long fields, and parseable readable encodings for
    month/day/hour — so decode→stringify round-trips are byte-exact with
    the hive-path-derived internal values."""
    for e in entries:
        part = e.get("partition")
        if part is None:
            continue
        if set(part) != set(vtypes):
            return False
        for k, v in part.items():
            if v is None:
                continue
            if not isinstance(v, str):
                return False
            if vtypes[k] == "long":
                try:
                    if transforms.get(k) in _TIME_TRANSFORMS:
                        if spec_int_to_readable(
                            transforms[k], readable_to_spec_int(transforms[k], v)
                        ) != v:
                            return False
                    elif str(int(v)) != v:
                        return False
                except (ValueError, OverflowError, OSError):
                    return False
    return True


def _partition_record_schema(spec_fields: list, vtypes: dict[str, str]) -> dict:
    """Iceberg's r102 partition struct: one nullable field per partition
    spec field, carrying the spec's field-id."""
    return {
        "type": "record",
        "name": "r102",  # Iceberg names the partition record "r102"
        "fields": [
            {
                "name": pf["name"],
                "field-id": pf["field-id"],
                "type": _nullable(vtypes[pf["name"]]),
            }
            for pf in spec_fields
        ],
    }


def _entry_schema_with_partition(partition_schema: dict) -> dict:
    """MANIFEST_ENTRY_SCHEMA with data_file.partition typed as the given
    r102 record instead of the name-keyed string map."""
    import copy

    s = copy.deepcopy(MANIFEST_ENTRY_SCHEMA)
    for f in s["fields"][-1]["type"]["fields"]:
        if f["name"] == "partition":
            f["type"] = _nullable(partition_schema)
    return s


def _partition_is_typed(manifest_schema: dict) -> bool:
    """Does this manifest's embedded Avro schema carry the typed r102
    partition struct or the name-keyed JSON map?"""
    try:
        df = next(f for f in manifest_schema["fields"] if f["name"] == "data_file")
        pt = next(f for f in df["type"]["fields"] if f["name"] == "partition")["type"]
    except (KeyError, StopIteration, TypeError):
        return False
    inner = pt[1] if isinstance(pt, list) and len(pt) == 2 else pt
    return isinstance(inner, dict) and inner.get("type") == "record"


def entry_to_data_file(
    e: dict, schema: dict | None = None,
    partition_vtypes: dict[str, str] | None = None,
    partition_transforms_map: dict[str, str] | None = None,
) -> dict:
    """Internal manifest-entry dict → spec-shaped data_file record. With a
    schema, bounds/null-counts are field-id-keyed binary single-values;
    columns outside the schema (or with non-encodable values) go to the
    name-keyed JSON fallback fields."""
    stats = e.get("stats") or {}
    by_name = _schema_by_name(schema)
    lower: list[dict] = []
    upper: list[dict] = []
    nulls: list[dict] = []
    jl: dict[str, str] = {}
    ju: dict[str, str] = {}
    jn: dict[str, str] = {}
    for c, s in stats.items():
        fid_type = by_name.get(c)
        lo_b = hi_b = None
        if fid_type is not None:
            fid, ftype = fid_type
            lo_b = encode_single_value(ftype, s["min"])
            hi_b = encode_single_value(ftype, s["max"])
        if lo_b is not None and hi_b is not None:
            lower.append({"key": fid, "value": lo_b})
            upper.append({"key": fid, "value": hi_b})
            nulls.append({"key": fid, "value": s.get("null-count", 0)})
        else:
            jl[c] = json.dumps(s["min"])
            ju[c] = json.dumps(s["max"])
            jn[c] = json.dumps(s.get("null-count", 0))
    part = e.get("partition")
    if part is None:
        penc = None
    elif partition_vtypes is not None:
        # typed r102 struct: month/day/hour readable values become the
        # spec's epoch integers; other long fields parse their canonical
        # int strings
        tmap = partition_transforms_map or {}

        def _enc(k, v):
            if v is None:
                return None
            if partition_vtypes[k] != "long":
                return v
            if tmap.get(k) in _TIME_TRANSFORMS:
                return readable_to_spec_int(tmap[k], v)
            return int(v)

        penc = {k: _enc(k, part.get(k)) for k in partition_vtypes}
    else:
        penc = {k: json.dumps(v) for k, v in part.items()}
    path = e["path"]
    return {
        "content": CONTENT_TO_INT[e.get("content", "data")],
        # spec convention: absolute URIs in manifests
        "file_path": f"file://{path}" if path.startswith("/") else path,
        "file_format": e.get("file-format", "parquet").upper(),
        "partition": penc,
        "record_count": e.get("record-count"),
        "file_size_in_bytes": e.get("file-size-bytes", 0),
        "null_value_counts": nulls or None,
        "lower_bounds": lower or None,
        "upper_bounds": upper or None,
        "x_null_counts_json": jn or None,
        "x_lower_bounds_json": jl or None,
        "x_upper_bounds_json": ju or None,
        "equality_ids": e.get("equality-field-ids"),
        "first_row_id": e.get("first-row-id"),
        "referenced_data_file": (
            f"file://{rdf}" if (rdf := e.get("referenced-data-file")) and
            rdf.startswith("/") else rdf
        ),
        "content_offset": e.get("content-offset"),
        "content_size_in_bytes": e.get("content-size-in-bytes"),
        "x_schema_id": e.get("schema-id"),
        "x_equality_columns": e.get("equality-columns"),
        "x_materialized_lineage": e.get("materialized-lineage"),
    }


def _decode_bounds(rec: dict, schema: dict | None) -> dict[str, dict]:
    """Reassemble name-keyed stats from the id-keyed binary k/v arrays,
    plus the name-keyed JSON fallback fields that carry stats of columns
    outside the schema."""
    stats: dict[str, dict] = {}
    lower = rec.get("lower_bounds")
    if lower:
        by_id = _schema_by_id(schema)
        nulls = {
            kv["key"]: kv["value"] for kv in (rec.get("null_value_counts") or [])
        }
        uppers = {kv["key"]: kv["value"] for kv in (rec.get("upper_bounds") or [])}
        for kv in lower:
            fid = kv["key"]
            if fid not in by_id or fid not in uppers:
                continue
            name, ftype = by_id[fid]
            stats[name] = {
                "min": decode_single_value(ftype, kv["value"]),
                "max": decode_single_value(ftype, uppers[fid]),
                "null-count": nulls.get(fid, 0),
            }
    jl = rec.get("x_lower_bounds_json")
    if jl:
        ju = rec.get("x_upper_bounds_json") or {}
        jn = rec.get("x_null_counts_json") or {}
        for c in jl:
            stats[c] = {
                "min": json.loads(jl[c]),
                "max": json.loads(ju[c]),
                "null-count": json.loads(jn.get(c, "0")),
            }
    return stats


def data_file_to_entry(
    rec: dict, sequence_number: int | None, schema: dict | None = None,
    partition_typed: bool = False,
    partition_transforms_map: dict[str, str] | None = None,
) -> dict:
    """Spec-shaped data_file record → internal manifest-entry dict. Only
    keys that were present on write reappear, so round-trips are exact."""
    raw_path = rec["file_path"]
    e: dict = {
        "path": raw_path[len("file://"):] if raw_path.startswith("file://") else raw_path,
        "file-format": rec["file_format"].lower(),
        "file-size-bytes": rec["file_size_in_bytes"],
    }
    content = INT_TO_CONTENT[rec["content"]]
    if content != "data":
        e["content"] = content
    if rec["record_count"] is not None:
        e["record-count"] = rec["record_count"]
    if sequence_number is not None:
        e["sequence-number"] = sequence_number
    if rec["partition"] is not None:
        if partition_typed:
            # typed r102 struct → back to the internal name→string tuple
            # (month/day/hour epoch integers render readable again)
            tmap = partition_transforms_map or {}

            def _dec(k, v):
                if isinstance(v, int):
                    if tmap.get(k) in _TIME_TRANSFORMS:
                        return spec_int_to_readable(tmap[k], v)
                    return str(v)
                return v

            e["partition"] = {
                k: _dec(k, v) for k, v in rec["partition"].items()
            }
        else:
            e["partition"] = {k: json.loads(v) for k, v in rec["partition"].items()}
    stats = _decode_bounds(rec, schema)
    if stats:
        e["stats"] = stats
    if rec["equality_ids"] is not None:
        e["equality-field-ids"] = rec["equality_ids"]
    if rec.get("first_row_id") is not None:
        e["first-row-id"] = rec["first_row_id"]
    rdf = rec.get("referenced_data_file")
    if rdf is not None:
        e["referenced-data-file"] = (
            rdf[len("file://"):] if rdf.startswith("file://") else rdf
        )
    if rec.get("content_offset") is not None:
        e["content-offset"] = rec["content_offset"]
    if rec.get("content_size_in_bytes") is not None:
        e["content-size-in-bytes"] = rec["content_size_in_bytes"]
    if rec.get("x_schema_id") is not None:
        e["schema-id"] = rec["x_schema_id"]
    if rec.get("x_equality_columns") is not None:
        e["equality-columns"] = rec["x_equality_columns"]
    if rec.get("x_materialized_lineage"):
        e["materialized-lineage"] = True
    return e


def _entry_record(
    e: dict, snapshot_id: int, schema: dict | None,
    partition_vtypes: dict[str, str] | None = None,
    partition_transforms_map: dict[str, str] | None = None,
) -> dict:
    seq = e.get("sequence-number")
    return {
        "status": 1,  # added-or-carried; this engine rewrites lists per snapshot
        "snapshot_id": snapshot_id,
        "sequence_number": seq,
        "file_sequence_number": seq,
        "data_file": entry_to_data_file(
            e, schema, partition_vtypes, partition_transforms_map
        ),
    }


def write_manifest_list(
    metadata_dir: str,
    snapshot_id: int,
    entries: list[dict],
    schema: dict | None = None,
    partition_spec: list | None = None,
    partition_spec_id: int = 0,
    all_specs: list[dict] | None = None,
) -> str:
    """Write the two-level Avro layout: data and delete entries go into
    separate manifests (Iceberg keeps delete manifests distinct so scan
    planning can load them independently), then one manifest-list names
    both. `schema` (the table's current Iceberg schema) is REQUIRED
    (round 7): bounds are always field-id-keyed binary single-values and
    the schema is embedded in each manifest's header metadata for the
    read adapter — the name-keyed JSON fields carry only stats of columns
    outside the schema. Returns the manifest-list path."""
    if schema is None:
        raise ValueError(
            "write_manifest_list requires the table schema: bounds are "
            "field-id-keyed binary single-values (Iceberg spec Appendix D)"
        )
    os.makedirs(metadata_dir, exist_ok=True)
    # Manifests split per (content, spec-id) — real Iceberg's layout. An
    # entry carried through commits keeps the spec its tuple was written
    # under (`spec-id`, set by read_manifest from the header), so each
    # manifest's header records the true encoding spec and the read side
    # prunes exactly across transform-width spec evolution. Fresh entries
    # were just written under the caller's current spec.
    spec_fields_by_id = {
        s.get("spec-id", 0): s.get("fields", [])
        for s in (all_specs or [])
    }
    spec_fields_by_id.setdefault(partition_spec_id, partition_spec or [])
    groups: list[tuple[int, int, list[dict]]] = []
    data = [e for e in entries if e.get("content", "data") == "data"]
    deletes = [e for e in entries if e.get("content", "data") != "data"]

    def _by_spec(group):
        by: dict[int, list[dict]] = {}
        for e in group:
            sid = e.get("spec-id")
            by.setdefault(
                partition_spec_id if sid is None else int(sid), []
            ).append(e)
        return sorted(by.items())

    if data or not deletes:
        if data:
            groups.extend((0, sid, g) for sid, g in _by_spec(data))
        else:
            groups.append((0, partition_spec_id, []))
    if deletes:
        groups.extend((1, sid, g) for sid, g in _by_spec(deletes))

    entry_fields = [f["name"] for f in MANIFEST_ENTRY_SCHEMA["fields"]]

    def entry_rows(group, group_vtypes, group_tmap):
        for e in group:
            rec = _entry_record(e, snapshot_id, schema, group_vtypes, group_tmap)
            yield tuple(rec[name] for name in entry_fields)

    manifest_files = []
    base = uuid.uuid4().hex
    for i, (content, group_spec_id, group) in enumerate(groups):
        group_spec = spec_fields_by_id.get(group_spec_id, partition_spec or [])
        # Typed r102 partition struct (per manifest): only when the spec is
        # known and every entry's partition tuple fits it exactly —
        # otherwise that manifest keeps the name-keyed JSON map
        # (self-describing either way via the embedded Avro schema).
        vtypes = partition_value_types(group_spec, schema)
        tmap = partition_transforms(group_spec)
        mpath = os.path.join(metadata_dir, f"{base}-m{i}.avro")
        manifest_meta = {
            "format-version": FORMAT_VERSION,
            "content": "data" if content == 0 else "deletes",
            "partition-spec": json.dumps(group_spec),
            "partition-spec-id": str(group_spec_id),
            "schema": json.dumps(schema),
            "schema-id": str(schema.get("schema-id", 0)),
        }
        group_vtypes = (
            vtypes if vtypes and _typed_partition_ok(group, vtypes, tmap)
            else None
        )
        entry_schema = (
            _entry_schema_with_partition(
                _partition_record_schema(group_spec, group_vtypes)
            )
            if group_vtypes is not None
            else MANIFEST_ENTRY_SCHEMA
        )
        write_ocf(
            mpath, entry_schema, entry_rows(group, group_vtypes, tmap),
            extra_meta=manifest_meta,
        )
        # `or 0` (not a default-key fallback): an explicit None sequence
        # number — legal for the nullable manifest_entry field — must
        # degrade to 0 like an absent one instead of breaking max()/min().
        seqs = [(e.get("sequence-number") or 0) for e in group] or [0]
        manifest_files.append(
            {
                "manifest_path": mpath,
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": group_spec_id,
                "content": content,
                "sequence_number": max(seqs),
                "min_sequence_number": min(seqs),
                "added_snapshot_id": snapshot_id,
                "added_files_count": len(group),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": sum(e.get("record-count", 0) for e in group),
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        )

    list_path = os.path.join(
        metadata_dir, f"snap-{snapshot_id}.manifest-list.avro"
    )
    tmp = f"{list_path}.tmp-{uuid.uuid4().hex[:6]}"
    write_ocf(
        tmp,
        MANIFEST_FILE_SCHEMA,
        (
            tuple(mf[f["name"]] for f in MANIFEST_FILE_SCHEMA["fields"])
            for mf in manifest_files
        ),
        extra_meta={
            "format-version": FORMAT_VERSION,
            "snapshot-id": str(snapshot_id),
        },
    )
    os.replace(tmp, list_path)
    return list_path


def read_manifest_files(list_location: str) -> list[dict]:
    """A manifest list's `manifest_file` records, keyed by the spec's field
    names. `list_location` is a snapshot's `manifest-list` as written."""
    schema, rows = read_ocf(_fs_path(list_location))
    names = field_names(schema)
    return [dict(zip(names, row)) for row in rows]


def read_manifest(manifest_path: str) -> list[tuple[int, int | None, dict]]:
    """One manifest → (status, snapshot_id, internal entry) per
    manifest_entry. Bounds decode through the table schema in the
    manifest's header, and every partitioned entry is labelled with the
    header's `partition-spec-id`, the spec its tuple was written under.
    Pure Python, so it also runs on executors."""
    mschema, mrows, mmeta = read_ocf_with_meta(manifest_path)
    table_schema = json.loads(mmeta["schema"])
    typed_part = _partition_is_typed(mschema)
    tmap = partition_transforms(json.loads(mmeta["partition-spec"]))
    spec_id = int(mmeta["partition-spec-id"])
    names = field_names(mschema)
    out = []
    for mrow in mrows:
        rec = dict(zip(names, mrow))
        entry = data_file_to_entry(
            rec["data_file"], rec["sequence_number"], table_schema,
            partition_typed=typed_part,
            partition_transforms_map=tmap,
        )
        if entry.get("partition") is not None:
            entry["spec-id"] = spec_id
        out.append((rec["status"], rec["snapshot_id"], entry))
    return out


def read_manifest_list(list_location: str) -> list[dict]:
    """A snapshot's `manifest-list` location → the flat internal entry
    dicts of all its manifests (the shape the whole data plane consumes)."""
    return [
        entry
        for mf in read_manifest_files(list_location)
        for _status, _snapshot_id, entry in read_manifest(mf["manifest_path"])
    ]
