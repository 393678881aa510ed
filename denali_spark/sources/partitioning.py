"""Partition transforms for catalog-table writes.

The reference's REST spec declares the Iceberg partition-transform vocabulary
(/root/reference/routes/openapi.yml:1733-1770 — identity, year, month, day,
hour, bucket[N], truncate[W]) and its catalog carries partition specs in
table metadata (/root/reference/logic/table.go:84-92); applying transforms to
rows is client-engine work. This module is that client side: each transform
lowers to a built-in Spark Column expression (JVM-side, codegen-friendly —
never a Python UDF), the writer lays files out hive-style by transformed
value, and manifests record each file's partition tuple.

Value encoding is human-readable (month → '2024-03') rather than Iceberg's
ordinal ints, and bucket uses Spark's murmur3 `hash` rather than Iceberg's
bucket hash — documented deviations; partition values only need to be
self-consistent within this engine.

Scale notes: partition-aligned layout is the clustering that makes file
pruning effective — rows sharing a partition value land in the same files,
so min/max footer stats per file become tight ranges and a selective
predicate on the partition source column prunes to O(files-per-partition)
instead of O(all files). Identity layouts get that from the stats pruner
in expressions.py alone; bucket/truncate/temporal layouts additionally
get transform-aware pruning (partition_prune below): the literal is run
through the transform and compared against each file's partition tuple —
the piece that turns a point lookup on a bucket[1024] key into a 1/1024
scan, which stats can never do.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BUCKET = re.compile(r"^bucket\[(\d+)\]$")
_TRUNCATE = re.compile(r"^truncate\[(\d+)\]$")


def normalize_partition_by(
    partition_by: list[str | tuple[str, str]],
) -> list[tuple[str, str]]:
    """Accept bare column names (identity) or (column, transform) pairs."""
    out = []
    for p in partition_by:
        if isinstance(p, str):
            out.append((p, "identity"))
        else:
            out.append((p[0], p[1]))
    return out


def partition_field_name(column: str, transform: str) -> str:
    if transform == "identity":
        return column
    base = re.sub(r"\[\d+\]$", "", transform)
    return f"{column}_{base}"


def transform_column(column: str, transform: str, dtype=None) -> Column:
    """Lower a partition transform to a built-in Spark expression; `dtype`
    (the column's Spark DataType) disambiguates truncate semantics."""
    from pyspark.sql.types import StringType

    c = F.col(column)
    if transform == "identity":
        return c
    if transform == "year":
        return F.year(c)
    if transform == "month":
        return F.date_format(c, "yyyy-MM")
    if transform == "day":
        return F.date_format(c, "yyyy-MM-dd")
    if transform == "hour":
        return F.date_format(c, "yyyy-MM-dd-HH")
    m = _BUCKET.match(transform)
    if m:
        return F.pmod(F.hash(c), F.lit(int(m.group(1))))
    m = _TRUNCATE.match(transform)
    if m:
        w = int(m.group(1))
        # Iceberg semantics: strings → width-W prefix; integers → floor to a
        # multiple of W (correct for negatives via double-pmod).
        if isinstance(dtype, StringType):
            return F.substring(c, 1, w)
        return c - F.pmod(F.pmod(c, F.lit(w)) + F.lit(w), F.lit(w))
    raise ValueError(f"unknown partition transform {transform!r}")


def build_partition_spec(
    partition_by: list[tuple[str, str]], iceberg_schema: dict
) -> dict:
    """PartitionSpec JSON for createTable, resolving source field ids from
    the Iceberg schema (field-ids start at the 999+ convention offset the
    reference uses, logic/table.go:84-92)."""
    by_name = {f["name"]: f["id"] for f in iceberg_schema["fields"]}
    fields = []
    for i, (col, transform) in enumerate(partition_by):
        if col not in by_name:
            raise ValueError(f"partition column {col!r} not in schema")
        fields.append(
            {
                "name": partition_field_name(col, transform),
                "transform": transform,
                "source-id": by_name[col],
                "field-id": 1000 + i,
            }
        )
    return {"spec-id": 0, "fields": fields}


DIR_PREFIX = "_p_"


def apply_partition_layout(
    df: DataFrame, partition_by: list[tuple[str, str]]
) -> tuple[DataFrame, list[str]]:
    """Add transformed partition columns under a `_p_` prefix; returns
    (df, dir column names) ready for `write.partitionBy(...)`. Hive layout
    strips the partitionBy columns from data files — prefixing means only
    the DERIVED columns are stripped, so identity-partitioned source
    columns still land in the files (matching Iceberg, where partition
    values are metadata and data files stay complete)."""
    names = []
    out = df
    for col, transform in partition_by:
        name = DIR_PREFIX + partition_field_name(col, transform)
        out = out.withColumn(
            name, transform_column(col, transform, df.schema[col].dataType)
        )
        names.append(name)
    return out, names


def partition_values_from_path(path: str, dir_names: list[str]) -> dict:
    """Recover a file's partition tuple (iceberg field name → value) from
    its hive-style path segments."""
    from urllib.parse import unquote

    values = {}
    for seg in path.split("/"):
        if "=" in seg:
            k, _, v = seg.partition("=")
            if k in dir_names:
                values[k[len(DIR_PREFIX):]] = (
                    None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
                )
    return values


def spec_to_partition_by(md: dict) -> list[tuple[str, str]] | None:
    """Reverse of build_partition_spec: map a table's CURRENT default
    partition spec back to [(column, transform)] using the current schema's
    field ids — how the write path honors partition-spec evolution (a
    writer must lay out new files by the spec in force NOW, not the one the
    table was created with). Returns None for unpartitioned tables."""
    spec = next(
        (
            s
            for s in md.get("partition-specs", [])
            if s.get("spec-id") == md.get("default-spec-id", 0)
        ),
        None,
    )
    if not spec or not spec.get("fields"):
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
    missing = [f for f in spec["fields"] if f["source-id"] not in by_id]
    if missing:
        # Unlike a dropped SORT column (safe to degrade to unsorted), a
        # dropped partition-source column means the table's layout contract
        # can no longer be honored — surface it instead of silently writing
        # a different layout.
        names = [f.get("name", f["source-id"]) for f in missing]
        raise ValueError(
            f"default partition spec references dropped column(s) {names}; "
            "evolve the partition spec before writing"
        )
    return [(by_id[f["source-id"]], f["transform"]) for f in spec["fields"]]


# --- transform-aware partition pruning --------------------------------------
#
# Stats pruning (expressions.file_might_match) covers identity-clustered
# columns because their per-file min/max are tight. It can do NOTHING for
# bucket[N]: every bucket's files span the full value range, so a point
# lookup `id = 37` scans all N buckets. Iceberg prunes these by applying
# the TRANSFORM to the literal and comparing against each file's partition
# tuple — this is that client-engine piece. Conservative three-valued
# logic like the stats pruner: a file is dropped only when the partition
# tuple PROVES no row can match; unknown transforms/types/encodings keep
# the file.


def _iceberg_type_of(md: dict, col: str) -> str | None:
    sid = md.get("current-schema-id", 0)
    for s in md.get("schemas", []):
        if s.get("schema-id") == sid:
            for f in s.get("fields", []):
                if f["name"] == col:
                    t = f["type"]
                    return t if isinstance(t, str) else None
    return None


def _encode_literal(spark, transform: str, value, col_type: str | None):
    """The partition-directory encoding of `transform(value)`, or None when
    it can't be computed faithfully (unknown type/format → no pruning)."""
    import datetime as _dt

    def _as_dt(v):
        if isinstance(v, _dt.datetime):
            return v
        if isinstance(v, _dt.date):
            return _dt.datetime(v.year, v.month, v.day)
        try:
            return _dt.datetime.fromisoformat(str(v))
        except ValueError:
            return None

    if transform == "identity":
        return str(value)
    if transform in ("year", "month", "day", "hour"):
        dt = _as_dt(value)
        if dt is None:
            return None
        return {
            "year": str(dt.year),
            "month": f"{dt.year:04d}-{dt.month:02d}",
            "day": dt.strftime("%Y-%m-%d"),
            "hour": dt.strftime("%Y-%m-%d-%H"),
        }[transform]
    m = _TRUNCATE.match(transform)
    if m:
        w = int(m.group(1))
        if isinstance(value, str):
            return value[:w]
        if isinstance(value, int) and not isinstance(value, bool):
            return str(value - (((value % w) + w) % w))
        return None
    m = _BUCKET.match(transform)
    if m:
        # The writer buckets with Spark's murmur3 `hash` over the SOURCE
        # column's type, so the literal must hash under the same typed
        # fast path — reproduced in pure Python (murmur3_* below, verified
        # equal to F.hash in tests), so the catalog server prunes buckets
        # with no Spark session and the engine driver runs no scalar job.
        n = int(m.group(1))
        if col_type == "int":
            h = murmur3_int(int(value))
        elif col_type == "long":
            h = murmur3_long(int(value))
        elif col_type == "string":
            h = murmur3_bytes(str(value).encode("utf-8"))
        else:
            return None
        return str(h % n)  # Python % is already non-negative for n > 0
    return None


def partition_prune(
    spark, md: dict, where: dict, entries: list[dict]
) -> list[dict]:
    """Drop entries whose partition tuple proves no row can satisfy
    `where`. Composes with (runs after) stats pruning; at 100 TB this is
    what turns a point lookup on a bucket[1024]-partitioned key into a
    1/1024 scan.

    Spec evolution: a width change that keeps the field name (bucket[8]→
    bucket[16], truncate[2]→truncate[4]) leaves same-named tuples whose
    values encode under DIFFERENT transforms, and pruning with only the
    current spec would silently drop live old-layout files (id=37 lives
    in bucket 5 of 8 but 13 of 16). Manifests are written split per
    spec-id with the header recording the encoding spec, and the reader
    labels every partitioned entry with it (`spec-id`), so each entry
    prunes exactly against its own spec. An entry that cannot be
    attributed to a partitioned spec is kept, never pruned. Only the
    spec's manifest layout is read; tables written before round 7 are not
    readable and have no migration."""
    from denali_spark.sources.expressions import normalize

    by_id = {}
    sid = md.get("current-schema-id", 0)
    for s in md.get("schemas", []):
        if s.get("schema-id") == sid:
            by_id = {f["id"]: f["name"] for f in s.get("fields", [])}
    # per spec-id: source column → [(field name, transform, col type)]
    by_spec_id: dict[int, dict] = {}
    for s in md.get("partition-specs", []):
        per_col: dict[str, list[tuple[str, str, str | None]]] = {}
        for f in s.get("fields", []):
            col = by_id.get(f["source-id"])
            if col is not None:
                per_col.setdefault(col, []).append(
                    (f["name"], f["transform"], _iceberg_type_of(md, col))
                )
        if per_col:
            by_spec_id[s.get("spec-id", 0)] = per_col
    if not by_spec_id:
        return entries
    enc_cache: dict[tuple, object] = {}

    def enc(transform, value, col_type):
        key = (transform, value, col_type)
        if key not in enc_cache:
            enc_cache[key] = _encode_literal(spark, transform, value, col_type)
        return enc_cache[key]

    def might(expr: dict, pvals: dict, per_col: dict) -> bool:
        t = expr.get("type")
        if t == "and":
            return might(expr["left"], pvals, per_col) and might(
                expr["right"], pvals, per_col
            )
        if t == "or":
            return might(expr["left"], pvals, per_col) or might(
                expr["right"], pvals, per_col
            )
        if t in ("eq", "in"):
            values = [expr["value"]] if t == "eq" else list(expr["values"])
            for fname, transform, ctype in per_col.get(expr.get("term"), ()):
                pv = pvals.get(fname)
                if pv is None:
                    continue
                encoded = [enc(transform, v, ctype) for v in values]
                if None in encoded:
                    continue
                if str(pv) not in encoded:
                    return False  # no candidate value lands in this file
            return True
        if t in ("not-eq", "not-in"):
            # Only IDENTITY is injective enough to prune a negation: the
            # file holds exactly one source value, so excluding that value
            # empties the file. (bucket/truncate/temporal collide many
            # source values onto one partition value.)
            values = [expr["value"]] if t == "not-eq" else list(expr["values"])
            excluded = {str(v) for v in values}
            for fname, transform, _ctype in per_col.get(expr.get("term"), ()):
                if transform != "identity":
                    continue
                pv = pvals.get(fname)
                if pv is not None and str(pv) in excluded:
                    return False
            return True
        return True  # unknown node: never prune on it

    flt = normalize(where)
    out = []
    for e in entries:
        part = e.get("partition")
        per_col = by_spec_id.get(e.get("spec-id"))
        if not part or per_col is None or might(flt, part, per_col):
            out.append(e)
    return out


# --- Spark-compatible Murmur3 (pure Python) ---------------------------------
#
# Spark's `hash()` is Murmur3 x86 32-bit, seed 42, with typed fast paths:
# ints hash as one 4-byte word, longs as two, strings byte-at-a-time over
# UTF-8 for the unaligned tail (Spark's hashUnsafeBytes processes tail
# bytes INDIVIDUALLY through the mix, unlike textbook murmur3 which packs
# them into one block — match Spark, not the textbook). Public-domain
# algorithm (Austin Appleby); re-derived here so bucket-partition pruning
# needs no Spark session — the catalog server prunes buckets too, and the
# engine driver skips a scalar job per literal. Verified equal to
# F.hash() across types in tests/test_partitioning.py.

_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _M32
    k1 = _rotl32(k1, 15)
    return (k1 * 0x1B873593) & _M32


def _mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = _rotl32(h1, 13)
    return (h1 * 5 + 0xE6546B64) & _M32


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return h1


def _signed32(x: int) -> int:
    x &= _M32
    return x - (1 << 32) if x >= (1 << 31) else x


def murmur3_int(value: int, seed: int = 42) -> int:
    """Spark hash(CAST(v AS INT))."""
    h1 = _mix_h1(seed & _M32, _mix_k1(value & _M32))
    return _signed32(_fmix(h1, 4))


def murmur3_long(value: int, seed: int = 42) -> int:
    """Spark hash(CAST(v AS BIGINT)): low word mixed, then high word."""
    v = value & 0xFFFFFFFFFFFFFFFF
    h1 = _mix_h1(seed & _M32, _mix_k1(v & _M32))
    h1 = _mix_h1(h1, _mix_k1((v >> 32) & _M32))
    return _signed32(_fmix(h1, 8))


def murmur3_bytes(data: bytes, seed: int = 42) -> int:
    """Spark hash(string): 4-byte LE words, then tail bytes one at a time
    (SIGNED, matching Java's getByte)."""
    h1 = seed & _M32
    n_aligned = len(data) // 4 * 4
    for i in range(0, n_aligned, 4):
        word = int.from_bytes(data[i:i + 4], "little")
        h1 = _mix_h1(h1, _mix_k1(word))
    for i in range(n_aligned, len(data)):
        b = data[i]
        if b >= 128:
            b -= 256  # Java bytes are signed
        h1 = _mix_h1(h1, _mix_k1(b & _M32))
    return _signed32(_fmix(h1, len(data)))
