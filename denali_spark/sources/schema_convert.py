"""Spark ⇄ Iceberg schema conversion (SURVEY §1.4 type-mapping table).

Field ids are assigned depth-first in declaration order, mirroring how
Iceberg assigns fresh ids on table creation.
"""

from __future__ import annotations

import re

from pyspark.sql import types as T


def _type_to_iceberg(dt: T.DataType, next_id) -> object:
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.IntegerType) or isinstance(dt, T.ShortType) or isinstance(dt, T.ByteType):
        return "int"
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp"
    if isinstance(dt, T.TimestampType):
        return "timestamptz"
    if isinstance(dt, T.ArrayType):
        element_id = next_id()
        return {
            "type": "list",
            "element-id": element_id,
            "element": _type_to_iceberg(dt.elementType, next_id),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        key_id, value_id = next_id(), next_id()
        return {
            "type": "map",
            "key-id": key_id,
            "key": _type_to_iceberg(dt.keyType, next_id),
            "value-id": value_id,
            "value": _type_to_iceberg(dt.valueType, next_id),
            "value-required": not dt.valueContainsNull,
        }
    if isinstance(dt, T.StructType):
        return {
            "type": "struct",
            "fields": [_field_to_iceberg(f, next_id) for f in dt.fields],
        }
    raise TypeError(f"no Iceberg mapping for Spark type {dt}")


def _field_to_iceberg(field: T.StructField, next_id) -> dict:
    fid = next_id()
    return {
        "id": fid,
        "name": field.name,
        "required": not field.nullable,
        "type": _type_to_iceberg(field.dataType, next_id),
    }


def spark_schema_to_iceberg(schema: T.StructType) -> dict:
    counter = {"v": 0}

    def next_id() -> int:
        counter["v"] += 1
        return counter["v"]

    return {
        "type": "struct",
        "schema-id": 0,
        "fields": [_field_to_iceberg(f, next_id) for f in schema.fields],
    }


# SQL DDL type name → iceberg primitive (the ALTER TABLE ADD COLUMN surface,
# with the standard SQL synonyms)
DDL_TO_ICEBERG = {
    "boolean": "boolean", "bool": "boolean",
    "int": "int", "integer": "int", "smallint": "int", "tinyint": "int",
    "bigint": "long", "long": "long",
    "float": "float", "real": "float", "double": "double",
    "string": "string", "varchar": "string", "text": "string",
    "binary": "binary", "date": "date",
    "timestamp": "timestamptz", "timestamp_ltz": "timestamptz",
    "timestamp_ntz": "timestamp",
}


def ddl_type_to_iceberg(ddl: str) -> str:
    """Resolve an ALTER/CREATE DDL type name to its Iceberg primitive;
    decimal(p, s) passes through normalized."""
    t = ddl.strip().lower()
    m = re.match(r"decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$", t)
    if m:
        return f"decimal({m.group(1)}, {m.group(2)})"
    if t in DDL_TO_ICEBERG:
        return DDL_TO_ICEBERG[t]
    raise ValueError(f"unsupported column type {ddl!r}")


def shift_schema_field_ids(schema: dict, offset: int) -> int:
    """Add `offset` to every field id in an Iceberg schema IN PLACE and
    return the new maximum id. REPLACE TABLE (like the Iceberg spec's
    replace transaction) assigns the replacement schema fresh ids past the
    table's last-column-id so they can never alias a dropped column's id
    in old snapshots' metadata."""
    top = 0

    def walk(node) -> None:
        nonlocal top
        if isinstance(node, dict):
            for key in ("id", "element-id", "key-id", "value-id"):
                if isinstance(node.get(key), int):
                    node[key] += offset
                    top = max(top, node[key])
            for key in ("fields", "type", "element", "key", "value"):
                if key in node:
                    walk(node[key])
        elif isinstance(node, list):
            for item in node:
                walk(item)

    walk(schema)
    return top


# Iceberg primitive → Spark type; decimal(P, S) is parsed, not listed.
_SPARK_PRIMITIVES = {
    "boolean": T.BooleanType(), "int": T.IntegerType(), "long": T.LongType(),
    "float": T.FloatType(), "double": T.DoubleType(), "string": T.StringType(),
    "binary": T.BinaryType(), "date": T.DateType(),
    "timestamp": T.TimestampNTZType(), "timestamptz": T.TimestampType(),
}
_DECIMAL = re.compile(r"decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)")


def iceberg_type_to_spark(typ) -> T.DataType:
    """The Spark type of an Iceberg type: a primitive name, or a list, map
    or struct dict. Every element, value and field is nullable, as Spark's
    file readers report them (see iceberg_schema_to_spark)."""
    if isinstance(typ, str):
        if typ in _SPARK_PRIMITIVES:
            return _SPARK_PRIMITIVES[typ]
        m = _DECIMAL.fullmatch(typ)
        if m:
            return T.DecimalType(int(m.group(1)), int(m.group(2)))
    elif typ.get("type") == "list":
        return T.ArrayType(iceberg_type_to_spark(typ["element"]))
    elif typ.get("type") == "map":
        return T.MapType(
            iceberg_type_to_spark(typ["key"]), iceberg_type_to_spark(typ["value"])
        )
    elif typ.get("type") == "struct":
        return iceberg_schema_to_spark(typ)
    raise NotImplementedError(f"unsupported column type {typ!r}")


def iceberg_schema_to_spark(schema: dict) -> T.StructType:
    """The Spark schema of an Iceberg schema (or struct type), field names
    as the schema has them. This is the read schema a scan hands Spark's
    file readers, which read every column as nullable whatever the file
    says, so `required` is not carried: a scan and an empty read of the
    same table report the same schema."""
    return T.StructType([
        T.StructField(f["name"], iceberg_type_to_spark(f["type"]))
        for f in schema.get("fields", [])
    ])


def iceberg_type_to_ddl(typ) -> str:
    """An Iceberg type as DESCRIBE and SHOW CREATE TABLE print it. Spark's
    DDL reads Iceberg's primitive names as they are (`long` is its alias of
    bigint) except the two timestamps; those and the nested types print
    under their Spark names."""
    spark_type = iceberg_type_to_spark(typ)
    if isinstance(typ, str) and not typ.startswith("timestamp"):
        return typ
    return spark_type.simpleString()
