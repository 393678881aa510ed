"""Minimal pure-Python Avro Object Container File writer/reader.

The REST spec lists ``avro | orc | parquet`` as data-file formats
(/root/reference/routes/openapi.yml:3393-3398). Spark's Avro support lives
in the external spark-avro module and neither it nor fastavro exists in
this environment, so this module implements the slice of the public Avro
1.11 spec (binary encoding + object container files) the catalog writer
needs:

- primitives: null, boolean, int, long, float, double, bytes, string;
- logical types: date (int days), timestamp-micros /
  local-timestamp-micros (long), decimal (bytes, two's-complement
  big-endian unscaled int);
- arrays of primitives (block-encoded per the spec) — enough for
  embedding columns (``array<float>``/``array<double>``);
- nullable columns as the standard ``["null", T]`` union;
- codecs: ``null`` on write, ``null`` + ``deflate`` on read.

Deeper nesting (map/struct columns, arrays of arrays) is intentionally
out of scope — the write path rejects it with a clear error and parquet
remains the format for nested data.

Scale note: this is NOT a driver-side format shim. The catalog writer
invokes it inside ``mapInPandas`` kernels, so encoding/decoding runs on
executors with Arrow-batched rows; only file paths and footer stats travel
to the driver, exactly like the parquet path.
"""

from __future__ import annotations

import datetime
import decimal
import io
import json
import os
import struct
import zlib

MAGIC = b"Obj\x01"

# --- binary encoding (Avro spec "Binary encoding") -------------------------


def _write_long(buf: bytearray, n: int) -> None:
    n = (n << 1) ^ (n >> 63)  # zigzag
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def _write_bytes(buf: bytearray, b: bytes) -> None:
    _write_long(buf, len(b))
    buf.extend(b)


def _write_str(buf: bytearray, s: str) -> None:
    _write_bytes(buf, s.encode())


class _Reader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def long(self) -> int:
        shift, acc = 0, 0
        while True:
            b = self.data[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)  # un-zigzag

    def raw(self, n: int) -> bytes:
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out

    def bytes_(self) -> bytes:
        return self.raw(self.long())

    def str_(self) -> str:
        return self.bytes_().decode()

    @property
    def eof(self) -> bool:
        return self.pos >= len(self.data)


# --- schema mapping ---------------------------------------------------------

_SPARK_TO_AVRO = {
    "boolean": "boolean",
    "integer": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "bytes",
    "date": {"type": "int", "logicalType": "date"},
    "timestamp": {"type": "long", "logicalType": "timestamp-micros"},
    "timestamp_ntz": {"type": "long", "logicalType": "local-timestamp-micros"},
}


def _scalar_to_avro(data_type, where: str):
    tn = data_type.typeName()
    if tn in _SPARK_TO_AVRO:
        return _SPARK_TO_AVRO[tn]
    if tn == "decimal":
        return {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": data_type.precision,
            "scale": data_type.scale,
        }
    raise NotImplementedError(
        f"avro data files support primitive and array-of-primitive columns "
        f"only; {where} has type {tn} — use parquet for nested data"
    )


def spark_schema_to_avro(schema) -> dict:
    """pyspark StructType → Avro record schema (nullable → union)."""
    fields = []
    for f in schema.fields:
        if f.dataType.typeName() == "array":
            avro_t = {
                "type": "array",
                "items": _scalar_to_avro(
                    f.dataType.elementType, f"column {f.name!r} element"
                ),
            }
        else:
            avro_t = _scalar_to_avro(f.dataType, f"column {f.name!r}")
        fields.append(
            {"name": f.name, "type": ["null", avro_t] if f.nullable else avro_t}
        )
    return {"type": "record", "name": "row", "fields": fields}


def _field_kind(avro_t) -> tuple[str, dict]:
    """(primitive name | 'array' | 'record' | 'map' | 'union', shape info).

    Unions are supported in the two-branch ["null", T] form — the only
    shape Iceberg manifest schemas use (every optional field is a
    null-union); general multi-branch unions are still rejected at encode
    time."""
    if isinstance(avro_t, str):
        return avro_t, {}
    if isinstance(avro_t, list):
        return "union", {"branches": avro_t}
    return avro_t["type"], avro_t


# --- value codecs -----------------------------------------------------------

_EPOCH_DATE = datetime.date(1970, 1, 1)


def _encode_value(buf: bytearray, kind: str, logical: dict, v) -> None:
    if kind == "union":
        branches = logical["branches"]
        if len(branches) != 2 or "null" not in branches:
            raise NotImplementedError("only [\"null\", T] unions are supported")
        null_idx = branches.index("null")
        if v is None:
            _write_long(buf, null_idx)
            return
        _write_long(buf, 1 - null_idx)
        bk, blog = _field_kind(branches[1 - null_idx])
        _encode_value(buf, bk, blog, v)
        return
    if kind == "record":
        for f in logical["fields"]:
            fk, flog = _field_kind(f["type"])
            _encode_value(buf, fk, flog, v.get(f["name"]) if isinstance(v, dict) else getattr(v, f["name"]))
        return
    if kind == "map":
        vk, vlog = _field_kind(logical["values"])
        items = dict(v)
        if items:
            _write_long(buf, len(items))
            for key, val in items.items():
                _write_str(buf, str(key))
                _encode_value(buf, vk, vlog, val)
        _write_long(buf, 0)
        return
    if kind == "array":
        ik, ilog = _field_kind(logical["items"])
        items = list(v)
        if items:
            _write_long(buf, len(items))
            for item in items:
                if item is None:
                    raise ValueError(
                        "null array elements are not supported in avro data "
                        "files — filter or impute before writing"
                    )
                _encode_value(buf, ik, ilog, item)
        _write_long(buf, 0)
        return
    lt = logical.get("logicalType")
    if lt == "date":
        _write_long(buf, (v - _EPOCH_DATE).days if isinstance(v, datetime.date) else int(v))
    elif lt in ("timestamp-micros", "local-timestamp-micros"):
        if isinstance(v, datetime.datetime):
            # Exact integer micros — float seconds (timestamp() /
            # total_seconds()) lose sub-µs precision for current epochs
            # (2^53 ulp > 1µs past 2255, and float rounding flips the last
            # digit much earlier).
            if v.tzinfo is not None:
                delta = v - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
            else:
                delta = v - datetime.datetime(1970, 1, 1)
            v = (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds
        _write_long(buf, int(v))
    elif lt == "decimal":
        unscaled = int(
            v.scaleb(logical["scale"]).to_integral_value(decimal.ROUND_HALF_UP)
            if isinstance(v, decimal.Decimal) else v
        )
        length = max(1, (unscaled.bit_length() + 8) // 8)
        _write_bytes(buf, unscaled.to_bytes(length, "big", signed=True))
    elif kind == "boolean":
        buf.append(1 if v else 0)
    elif kind in ("int", "long"):
        _write_long(buf, int(v))
    elif kind == "float":
        buf.extend(struct.pack("<f", float(v)))
    elif kind == "double":
        buf.extend(struct.pack("<d", float(v)))
    elif kind == "string":
        _write_str(buf, str(v))
    elif kind == "bytes":
        _write_bytes(buf, bytes(v))
    else:  # pragma: no cover - schema builder prevents this
        raise NotImplementedError(f"avro type {kind}")


def _decode_value(r: _Reader, kind: str, logical: dict):
    if kind == "union":
        branches = logical["branches"]
        t = branches[r.long()]
        if t == "null":
            return None
        bk, blog = _field_kind(t)
        return _decode_value(r, bk, blog)
    if kind == "record":
        out = {}
        for f in logical["fields"]:
            fk, flog = _field_kind(f["type"])
            out[f["name"]] = _decode_value(r, fk, flog)
        return out
    if kind == "map":
        vk, vlog = _field_kind(logical["values"])
        out = {}
        while True:
            n = r.long()
            if n == 0:
                return out
            if n < 0:  # spec: negative count is followed by a byte size
                n = -n
                r.long()
            for _ in range(n):
                key = r.str_()
                out[key] = _decode_value(r, vk, vlog)
    if kind == "array":
        ik, ilog = _field_kind(logical["items"])
        out = []
        while True:
            n = r.long()
            if n == 0:
                return out
            if n < 0:  # spec: negative count is followed by a byte size
                n = -n
                r.long()
            for _ in range(n):
                out.append(_decode_value(r, ik, ilog))
    lt = logical.get("logicalType")
    if lt == "date":
        return _EPOCH_DATE + datetime.timedelta(days=r.long())
    if lt in ("timestamp-micros", "local-timestamp-micros"):
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=r.long())
    if lt == "decimal":
        raw = r.bytes_()
        unscaled = int.from_bytes(raw, "big", signed=True)
        return decimal.Decimal(unscaled).scaleb(-logical["scale"])
    if kind == "boolean":
        return r.raw(1) == b"\x01"
    if kind in ("int", "long"):
        return r.long()
    if kind == "float":
        return struct.unpack("<f", r.raw(4))[0]
    if kind == "double":
        return struct.unpack("<d", r.raw(8))[0]
    if kind == "string":
        return r.str_()
    if kind == "bytes":
        return r.bytes_()
    raise NotImplementedError(f"avro type {kind}")


# --- object container file --------------------------------------------------


def write_ocf(
    path: str,
    avro_schema: dict,
    rows,
    sync: bytes | None = None,
    codec: str = "null",
    extra_meta: dict[str, str] | None = None,
) -> int:
    """Write rows (iterable of per-field value tuples, ordered like the
    schema) as one OCF block per ~8k rows; returns row count. codec:
    'null' (default) or 'deflate' (raw zlib per block, per the spec).
    extra_meta adds application key-value pairs to the header metadata map
    (e.g. Iceberg's required manifest keys: schema, partition-spec,
    format-version, content)."""
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"avro codec {codec!r}")
    sync = sync or os.urandom(16)
    fields = []
    for f in avro_schema["fields"]:
        t = f["type"]
        if isinstance(t, list):  # ["null", T]
            fields.append((True, *_field_kind(t[1])))
        else:
            fields.append((False, *_field_kind(t)))
    meta_entries = {
        "avro.schema": json.dumps(avro_schema),
        "avro.codec": codec,
        **(extra_meta or {}),
    }
    header = bytearray()
    header.extend(MAGIC)
    _write_long(header, len(meta_entries))
    for k, v in meta_entries.items():
        _write_str(header, k)
        _write_str(header, v)
    _write_long(header, 0)  # end of map
    header.extend(sync)

    n_total = 0
    with open(path, "wb") as out:
        out.write(header)
        block = bytearray()
        n_block = 0

        def flush():
            nonlocal block, n_block
            if not n_block:
                return
            payload = bytes(block)
            if codec == "deflate":
                payload = zlib.compress(payload)[2:-4]  # raw deflate, no zlib wrapper
            head = bytearray()
            _write_long(head, n_block)
            _write_long(head, len(payload))
            out.write(head)
            out.write(payload)
            out.write(sync)
            block, n_block = bytearray(), 0

        for row in rows:
            for (nullable, kind, logical), v in zip(fields, row):
                is_null = v is None or (isinstance(v, float) and v != v)
                if nullable:
                    _write_long(block, 1 if not is_null else 0)
                    if is_null:
                        continue
                elif is_null:
                    raise ValueError("null in non-nullable avro field")
                _encode_value(block, kind, logical, v)
            n_block += 1
            n_total += 1
            if n_block >= 8192:
                flush()
        flush()
    return n_total


def read_ocf(path: str):
    """Read an OCF → (avro_schema, list of per-field value tuples)."""
    schema, rows, _meta = read_ocf_with_meta(path)
    return schema, rows


def read_ocf_with_meta(path: str):
    """Read an OCF → (avro_schema, rows, header metadata map with the
    avro.* keys stripped — i.e. the application metadata only)."""
    with open(path, "rb") as f:
        data = f.read()
    r = _Reader(data)
    if r.raw(4) != MAGIC:
        raise ValueError(f"{path} is not an Avro object container file")
    meta: dict[str, bytes] = {}
    while True:
        n = r.long()
        if n == 0:
            break
        for _ in range(abs(n)):
            k = r.str_()
            meta[k] = r.bytes_()
    sync = r.raw(16)
    schema = json.loads(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null").decode()
    fields = []
    for f in schema["fields"]:
        t = f["type"]
        if isinstance(t, list):
            other = [x for x in t if x != "null"][0]
            fields.append((True, *_field_kind(other)))
        else:
            fields.append((False, *_field_kind(t)))
    rows = []
    while not r.eof:
        n_objs = r.long()
        n_bytes = r.long()
        payload = r.raw(n_bytes)
        if codec == "deflate":
            payload = zlib.decompress(payload, -15)
        elif codec != "null":
            raise NotImplementedError(f"avro codec {codec!r}")
        br = _Reader(payload)
        for _ in range(n_objs):
            vals = []
            for nullable, kind, logical in fields:
                if nullable and br.long() == 0:
                    vals.append(None)
                    continue
                vals.append(_decode_value(br, kind, logical))
            rows.append(tuple(vals))
        if r.raw(16) != sync:
            raise ValueError(f"{path}: sync marker mismatch (corrupt block)")
    app_meta = {
        k: v.decode() for k, v in meta.items() if not k.startswith("avro.")
    }
    return schema, rows, app_meta


def field_names(avro_schema: dict) -> list[str]:
    return [f["name"] for f in avro_schema["fields"]]

