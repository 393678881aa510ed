"""Golden spec-conformance fixtures (the interop proxy — pyiceberg and the
Iceberg Spark runtime are environment-blocked, SURVEY §8).

`tests/golden/` holds a committed manifest-list + manifest Avro pair
written by the round-7 writer and hand-verified against the Iceberg v2
manifest schemas (spec "Manifests" section + Appendix D single-value
serialization). The tests pin three things:

1. the reader reproduces the exact internal entries from the committed
   bytes (reader regressions fail loudly),
2. the current writer still emits the same record structure and the SAME
   embedded Avro schema JSON (schema-level byte compatibility), and
3. a STRICT schema walk fails if any engine-private field ever leaks
   into spec positions — extensions must keep their documented `x_`
   prefix.

The fixture was generated at /tmp/denali-golden-fixture (the manifest
list embeds absolute manifest paths, so tests restore the files to that
exact directory before reading)."""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest

from denali_spark.sources.avro_ocf import read_ocf, read_ocf_with_meta
from denali_spark.sources.manifests import read_manifest_list, write_manifest_list

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")
FIXTURE_DIR = "/tmp/denali-golden-fixture"

SCHEMA = {
    "type": "struct", "schema-id": 0,
    "fields": [
        {"id": 1, "name": "id", "required": True, "type": "long"},
        {"id": 2, "name": "name", "required": False, "type": "string"},
        {"id": 3, "name": "price", "required": False, "type": "double"},
        {"id": 4, "name": "ts", "required": False, "type": "timestamp"},
    ],
}
SPEC = [
    {"name": "ts_month", "transform": "month", "source-id": 4, "field-id": 1000},
    {"name": "id_bucket", "transform": "bucket[4]", "source-id": 1, "field-id": 1001},
]
ENTRIES = [
    {
        "path": "/wh/golden/data/a.parquet", "file-format": "parquet",
        "record-count": 100, "file-size-bytes": 2048, "sequence-number": 3,
        "schema-id": 0,
        "partition": {"ts_month": "2024-03", "id_bucket": "2"},
        "stats": {
            "id": {"min": 1, "max": 100, "null-count": 0},
            "name": {"min": "aaa", "max": "zzz", "null-count": 2},
            "price": {"min": -1.5, "max": 99.25, "null-count": 0},
            "ts": {"min": "2024-03-01 00:00:00",
                   "max": "2024-03-31 23:59:59", "null-count": 1},
        },
    },
    {
        "path": "/wh/golden/deletes/dv.puffin", "content": "position-deletes",
        "file-format": "puffin", "record-count": 4, "file-size-bytes": 256,
        "sequence-number": 4,
        "referenced-data-file": "/wh/golden/data/a.parquet",
        "content-offset": 4, "content-size-in-bytes": 30,
    },
]

# Iceberg v2 manifest_entry / data_file spec field names; everything else
# must carry the documented engine-extension `x_` prefix.
SPEC_ENTRY_FIELDS = {
    "status", "snapshot_id", "sequence_number", "file_sequence_number",
    "data_file",
}
SPEC_DATA_FILE_FIELDS = {
    "content", "file_path", "file_format", "partition", "record_count",
    "file_size_in_bytes", "column_sizes", "value_counts",
    "null_value_counts", "nan_value_counts", "lower_bounds", "upper_bounds",
    "key_metadata", "split_offsets", "equality_ids", "sort_order_id",
    "referenced_data_file", "content_offset", "content_size_in_bytes",
    "first_row_id",
}
SPEC_MANIFEST_FILE_FIELDS = {
    "manifest_path", "manifest_length", "partition_spec_id", "content",
    "sequence_number", "min_sequence_number", "added_snapshot_id",
    "added_files_count", "existing_files_count", "deleted_files_count",
    "added_rows_count", "existing_rows_count", "deleted_rows_count",
    "partitions", "key_metadata", "first_row_id",
}


@pytest.fixture()
def golden_list_path():
    os.makedirs(FIXTURE_DIR, exist_ok=True)
    for f in glob.glob(os.path.join(GOLDEN_DIR, "*")):
        shutil.copy(f, FIXTURE_DIR)
    return os.path.join(FIXTURE_DIR, "snap-4242.manifest-list.avro")


def test_golden_reader_roundtrip(golden_list_path):
    got = read_manifest_list(golden_list_path)
    # The reader labels each partitioned entry with the spec id in its
    # manifest's header (`partition-spec-id` 0 in the fixture).
    expected = [dict(e) for e in ENTRIES]
    for e in expected:
        if e.get("partition") is not None:
            e["spec-id"] = 0
    assert sorted(got, key=lambda e: e["path"]) == sorted(
        expected, key=lambda e: e["path"]
    )


def test_golden_schema_and_records_stable(golden_list_path, tmp_path):
    """The current writer, fed the same entries, must emit byte-identical
    embedded Avro schema JSON and structurally identical records — a
    writer change that silently alters the on-disk contract fails here."""
    loc = write_manifest_list(
        str(tmp_path), 4242, [dict(e) for e in ENTRIES],
        schema=SCHEMA, partition_spec=SPEC, partition_spec_id=0,
    )

    def decode(list_path):
        lschema, lrows = read_ocf(list_path)
        lnames = [f["name"] for f in lschema["fields"]]
        out = []
        for row in sorted(lrows, key=lambda r: r[lnames.index("content")]):
            mf = dict(zip(lnames, row))
            mschema, mrows, mmeta = read_ocf_with_meta(mf["manifest_path"])
            # manifest_path/length differ by location; drop them
            mf.pop("manifest_path"), mf.pop("manifest_length")
            out.append((lschema, mf, mschema, sorted(mrows), dict(mmeta)))
        return out

    golden, fresh = decode(golden_list_path), decode(loc)
    assert len(golden) == len(fresh) == 2
    for (gls, gmf, gms, grows, gmeta), (fls, fmf, fms, frows, fmeta) in zip(
        golden, fresh
    ):
        assert json.dumps(gls, sort_keys=True) == json.dumps(fls, sort_keys=True)
        assert gmf == fmf
        # embedded manifest Avro schema: byte-identical JSON
        assert json.dumps(gms, sort_keys=True) == json.dumps(fms, sort_keys=True)
        assert grows == frows
        for k in ("schema", "partition-spec", "partition-spec-id",
                  "format-version", "content", "schema-id"):
            assert gmeta.get(k) == fmeta.get(k), k


def test_golden_strict_no_private_leaks(golden_list_path):
    """Every field in spec positions is a spec field; engine extensions
    keep the x_ prefix; r102 partition fields carry their spec field-ids;
    month values are the spec's epoch integers."""
    lschema, lrows = read_ocf(golden_list_path)
    for f in lschema["fields"]:
        assert f["name"] in SPEC_MANIFEST_FILE_FIELDS or f["name"].startswith(
            "x_"
        ), f"manifest_file leak: {f['name']}"
    lnames = [f["name"] for f in lschema["fields"]]
    for row in lrows:
        mf = dict(zip(lnames, row))
        mschema, mrows, mmeta = read_ocf_with_meta(mf["manifest_path"])
        for f in mschema["fields"]:
            assert f["name"] in SPEC_ENTRY_FIELDS or f["name"].startswith(
                "x_"
            ), f"manifest_entry leak: {f['name']}"
        df_schema = next(
            f for f in mschema["fields"] if f["name"] == "data_file"
        )["type"]
        for f in df_schema["fields"]:
            assert f["name"] in SPEC_DATA_FILE_FIELDS or f["name"].startswith(
                "x_"
            ), f"data_file leak: {f['name']}"
        # typed r102 struct: field-ids present and spec-integer months
        part_t = next(
            f for f in df_schema["fields"] if f["name"] == "partition"
        )["type"]
        if isinstance(part_t, list):
            part_t = part_t[1]
        if isinstance(part_t, dict) and part_t.get("type") == "record":
            assert part_t["name"] == "r102"
            by_name = {f["name"]: f for f in part_t["fields"]}
            assert by_name["ts_month"]["field-id"] == 1000
            assert by_name["id_bucket"]["field-id"] == 1001
            mnames = [f["name"] for f in mschema["fields"]]
            for mrow in mrows:
                rec = dict(zip(mnames, mrow))
                part = rec["data_file"]["partition"]
                if part is not None:
                    assert part["ts_month"] == 650  # 2024-03 as months from epoch
                    assert part["id_bucket"] == 2
