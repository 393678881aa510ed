"""Spec-shaped Avro manifest round-trip tests (round-2 task #2 / round-3
VERDICT item 7; round-4 VERDICT item 4): the two-level manifest-list →
manifest → entry layout must reproduce the internal entry dicts exactly,
including stats, partitions, MoR delete metadata, and sequence numbers.
With a table schema, bounds round-trip through Iceberg's field-id-keyed
binary single-value serialization; stats of columns outside the schema
fall back to name-keyed JSON fields."""

from __future__ import annotations

import json
import os

from denali_spark.sources.manifests import (
    DATA_FILE_SCHEMA,
    MANIFEST_ENTRY_SCHEMA,
    data_file_to_entry,
    decode_single_value,
    encode_single_value,
    entry_to_data_file,
    read_manifest_list,
    write_manifest_list,
)

# Table schema for ENTRIES[0]'s stats columns (field ids are what the
# binary bounds are keyed by).
SCHEMA = {
    "type": "struct",
    "schema-id": 1,
    "fields": [
        {"id": 1, "name": "id", "required": True, "type": "long"},
        {"id": 2, "name": "name", "required": False, "type": "string"},
        {"id": 3, "name": "price", "required": False, "type": "double"},
        {"id": 4, "name": "day", "required": False, "type": "date"},
    ],
}

ENTRIES = [
    {  # plain data file with stats
        "path": "/wh/t/data/a.parquet",
        "file-format": "parquet",
        "record-count": 100,
        "file-size-bytes": 2048,
        "sequence-number": 3,
        "schema-id": 1,
        "stats": {
            "id": {"min": 1, "max": 100, "null-count": 0},
            "name": {"min": "aaa", "max": "zzz", "null-count": 2},
            "price": {"min": -1.5, "max": 99.25, "null-count": 0},
            "day": {"min": "2024-01-01", "max": "2024-03-31", "null-count": 0},
        },
    },
    {  # partitioned data file, no stats
        "path": "/wh/t/data/m=5/b.orc",
        "file-format": "orc",
        "record-count": 7,
        "file-size-bytes": 512,
        "sequence-number": 4,
        "partition": {"m": 5, "region": "emea"},
    },
    {  # position-delete file
        "path": "/wh/t/deletes/pd.parquet",
        "content": "position-deletes",
        "file-format": "parquet",
        "record-count": 4,
        "file-size-bytes": 256,
        "sequence-number": 5,
    },
    {  # equality-delete file
        "path": "/wh/t/deletes/eq.parquet",
        "content": "equality-deletes",
        "file-format": "parquet",
        "record-count": 2,
        "file-size-bytes": 128,
        "sequence-number": 5,
        "equality-field-ids": [1, 3],
        "equality-columns": ["id", "day"],
    },
]


def test_write_without_schema_refuses(tmp_path):
    """Schema-less writes would fall back to name-keyed JSON bounds — a
    spec deviation dropped in round 7; the writer now requires a schema."""
    import pytest

    with pytest.raises(ValueError, match="requires the table schema"):
        write_manifest_list(
            str(tmp_path / "metadata"), 777, [dict(e) for e in ENTRIES]
        )


def test_roundtrip_entries_exact_with_schema(tmp_path):
    """With the table schema, bounds travel as field-id-keyed binary
    single-values — and still reproduce the internal entries exactly,
    plus the encoding spec-id the reader attaches to partitioned entries
    (r11: manifests are split per spec-id and the header records it, so
    pruning can be exact across spec evolution)."""
    loc = write_manifest_list(
        str(tmp_path / "metadata"), 778, [dict(e) for e in ENTRIES], schema=SCHEMA
    )
    got = read_manifest_list(loc)
    expected = [dict(e) for e in ENTRIES]
    for e in expected:
        if e.get("partition") is not None:
            e["spec-id"] = 0
    assert sorted(got, key=lambda e: e["path"]) == sorted(
        expected, key=lambda e: e["path"]
    )
    # the on-disk record really is id-keyed binary, not name-keyed JSON
    from denali_spark.sources.avro_ocf import read_ocf, read_ocf_with_meta

    lschema, lrows = read_ocf(loc)
    lnames = [f["name"] for f in lschema["fields"]]
    data_manifest = dict(zip(lnames, lrows[0]))["manifest_path"]
    mschema, mrows, mmeta = read_ocf_with_meta(data_manifest)
    assert json.loads(mmeta["schema"]) == SCHEMA
    assert mmeta["format-version"] == "2"
    assert mmeta["content"] == "data"
    assert "partition-spec" in mmeta
    mnames = [f["name"] for f in mschema["fields"]]
    recs = {r["data_file"]["file_path"]: r["data_file"]
            for r in (dict(zip(mnames, row)) for row in mrows)}
    df = recs["file:///wh/t/data/a.parquet"]  # URI form on disk
    assert df["x_lower_bounds_json"] is None  # nothing fell back
    ids = {kv["key"] for kv in df["lower_bounds"]}
    assert ids == {1, 2, 3, 4}
    by_id = {kv["key"]: kv["value"] for kv in df["lower_bounds"]}
    assert by_id[1] == (1).to_bytes(8, "little")  # long, little-endian
    assert by_id[2] == b"aaa"  # string, utf-8


def test_single_value_serialization():
    import struct

    cases = [
        ("boolean", True, b"\x01"),
        ("int", -7, struct.pack("<i", -7)),
        ("long", 1 << 40, struct.pack("<q", 1 << 40)),
        ("float", 1.5, struct.pack("<f", 1.5)),
        ("double", -2.25, struct.pack("<d", -2.25)),
        ("string", "héllo", "héllo".encode()),
        ("date", "2024-03-31", struct.pack("<i", 19813)),
        ("timestamp", "2024-01-01 00:00:01.000002",
         struct.pack("<q", 1704067201000002)),
        ("decimal(9, 2)", 12.34, (1234).to_bytes(2, "big", signed=True)),
    ]
    for t, v, raw in cases:
        assert encode_single_value(t, v) == raw, t
        assert decode_single_value(t, raw) == v, t
    # non-encodable (type mismatch) → None → JSON fallback path
    assert encode_single_value("int", -1.5) is None
    assert encode_single_value("date", 42) is None


def test_none_sequence_number_degrades_to_zero(tmp_path):
    """An explicit None sequence-number (legal for the nullable
    manifest_entry field) must behave like an absent one, not break
    max()/min() over the manifest's sequence range."""
    entry = {k: v for k, v in ENTRIES[0].items()}
    entry["sequence-number"] = None
    loc = write_manifest_list(str(tmp_path / "m"), 11, [entry], schema=SCHEMA)
    from denali_spark.sources.avro_ocf import read_ocf

    lschema, lrows = read_ocf(loc)
    lnames = [f["name"] for f in lschema["fields"]]
    mf = dict(zip(lnames, lrows[0]))
    assert mf["sequence_number"] == 0 and mf["min_sequence_number"] == 0


def test_pruner_reads_decoded_binary_bounds(tmp_path):
    """The expression pruner consumes the adapter's name-keyed stats — a
    predicate outside the binary-decoded bounds prunes the file, one inside
    keeps it."""
    from denali_spark.sources.expressions import file_might_match

    loc = write_manifest_list(
        str(tmp_path / "m"), 12, [dict(ENTRIES[0])], schema=SCHEMA
    )
    [entry] = read_manifest_list(loc)
    gt = {"type": "gt", "term": "id", "value": 1000}   # max(id)=100 → prune
    lt = {"type": "lt", "term": "id", "value": 50}     # min(id)=1 → keep
    day_gt = {"type": "gt", "term": "day", "value": "2024-06-01"}  # prune
    assert not file_might_match(gt, entry["stats"])
    assert file_might_match(lt, entry["stats"])
    assert not file_might_match(day_gt, entry["stats"])


def test_data_and_delete_manifests_are_separate(tmp_path):
    loc = write_manifest_list(
        str(tmp_path / "m"), 1, [dict(e) for e in ENTRIES], schema=SCHEMA
    )
    from denali_spark.sources.avro_ocf import read_ocf

    schema, rows = read_ocf(loc)
    names = [f["name"] for f in schema["fields"]]
    mfs = [dict(zip(names, r)) for r in rows]
    assert [m["content"] for m in mfs] == [0, 1]
    assert mfs[0]["added_files_count"] == 2 and mfs[1]["added_files_count"] == 2
    assert mfs[1]["sequence_number"] == 5 and mfs[1]["min_sequence_number"] == 5
    # manifest lengths are real file sizes
    for m in mfs:
        assert os.path.getsize(m["manifest_path"]) == m["manifest_length"]


def test_empty_snapshot_has_empty_data_manifest(tmp_path):
    loc = write_manifest_list(str(tmp_path / "m"), 9, [], schema=SCHEMA)
    assert read_manifest_list(loc) == []


def test_single_entry_mapping_is_spec_shaped():
    # Without a schema every stats column takes the name-keyed JSON fallback.
    rec = entry_to_data_file(ENTRIES[0])
    assert rec["file_path"] == "file://" + ENTRIES[0]["path"]  # URI convention
    assert rec["file_format"] == "PARQUET"
    assert rec["content"] == 0
    assert rec["lower_bounds"] is None
    assert json.loads(rec["x_lower_bounds_json"]["id"]) == 1
    assert json.loads(rec["x_null_counts_json"]["name"]) == 2
    back = data_file_to_entry(rec, 3)
    assert back == ENTRIES[0]
    # With the schema the same entry maps to id-keyed binary bounds.
    rec2 = entry_to_data_file(ENTRIES[0], SCHEMA)
    assert rec2["x_lower_bounds_json"] is None
    assert {kv["key"] for kv in rec2["upper_bounds"]} == {1, 2, 3, 4}
    assert data_file_to_entry(rec2, 3, SCHEMA) == ENTRIES[0]
    # schema sanity: every record field name is spec or x_-prefixed
    spec_names = {
        "content", "file_path", "file_format", "partition", "record_count",
        "file_size_in_bytes", "null_value_counts", "lower_bounds",
        "upper_bounds", "equality_ids",
        # Iceberg V3 deletion-vector fields (spec ids 143/144/145) and
        # row lineage (spec id 142)
        "referenced_data_file", "content_offset", "content_size_in_bytes",
        "first_row_id",
    }
    for f in DATA_FILE_SCHEMA["fields"]:
        assert f["name"] in spec_names or f["name"].startswith("x_")
    assert [f["name"] for f in MANIFEST_ENTRY_SCHEMA["fields"]] == [
        "status", "snapshot_id", "sequence_number", "file_sequence_number",
        "data_file",
    ]


def test_data_file_paths_are_uris_in_avro():
    """Manifests carry file:// URIs (Iceberg convention); the read adapter
    hands plain local paths back to the engine."""
    from denali_spark.sources.avro_ocf import read_ocf_with_meta
    from denali_spark.sources.manifests import read_manifest_list, write_manifest_list
    import tempfile

    d = tempfile.mkdtemp()
    entries = [{"path": "/wh/t/data/a.parquet", "file-format": "parquet",
                "record-count": 3, "file-size-bytes": 10, "sequence-number": 1}]
    lst = write_manifest_list(d, 42, entries, schema=SCHEMA)
    schema, rows = __import__("denali_spark.sources.avro_ocf", fromlist=["read_ocf"]).read_ocf(lst)
    names = [f["name"] for f in schema["fields"]]
    mf = dict(zip(names, rows[0] if isinstance(rows, list) else next(iter(rows))))
    mschema, mrows, _ = read_ocf_with_meta(mf["manifest_path"])
    mnames = [f["name"] for f in mschema["fields"]]
    rec = dict(zip(mnames, (mrows[0] if isinstance(mrows, list) else next(iter(mrows)))))
    assert rec["data_file"]["file_path"] == "file:///wh/t/data/a.parquet"
    back = read_manifest_list(lst)
    assert back[0]["path"] == "/wh/t/data/a.parquet"


def test_r102_time_transform_values_are_spec_integers(tmp_path):
    """month/day/hour partition values travel as Iceberg's integer
    transform results (months/days/hours from epoch, UTC) in the typed
    r102 struct, and render back to the engine's readable strings."""
    from denali_spark.sources.avro_ocf import read_ocf, read_ocf_with_meta
    from denali_spark.sources.manifests import (
        readable_to_spec_int,
        spec_int_to_readable,
    )

    schema = {
        "type": "struct", "schema-id": 0,
        "fields": [{"id": 1, "name": "ts", "required": False,
                    "type": "timestamp"}],
    }
    spec = [
        {"name": "ts_month", "transform": "month", "source-id": 1, "field-id": 1000},
        {"name": "ts_day", "transform": "day", "source-id": 1, "field-id": 1001},
        {"name": "ts_hour", "transform": "hour", "source-id": 1, "field-id": 1002},
    ]
    entry = {
        "path": "/wh/t/data/c.parquet", "file-format": "parquet",
        "record-count": 1, "file-size-bytes": 10, "sequence-number": 1,
        "partition": {"ts_month": "2024-03", "ts_day": "2024-03-15",
                      "ts_hour": "2024-03-15-09"},
    }
    loc = write_manifest_list(
        str(tmp_path / "m"), 5, [dict(entry)],
        schema=schema, partition_spec=spec,
    )
    lschema, lrows = read_ocf(loc)
    lnames = [f["name"] for f in lschema["fields"]]
    mpath = dict(zip(lnames, lrows[0]))["manifest_path"]
    mschema, mrows, _ = read_ocf_with_meta(mpath)
    mnames = [f["name"] for f in mschema["fields"]]
    raw = dict(zip(mnames, mrows[0]))["data_file"]["partition"]
    assert raw == {"ts_month": 650, "ts_day": 19797, "ts_hour": 475137}
    # round-trip back to the readable engine encoding
    back = read_manifest_list(loc)
    assert back[0]["partition"] == entry["partition"]
    # helper inverses, incl. pre-epoch values (floor semantics)
    for tr, v in (("month", "1969-12"), ("day", "1969-12-31"),
                  ("hour", "1969-12-31-23")):
        assert readable_to_spec_int(tr, v) == -1
        assert spec_int_to_readable(tr, -1) == v


def test_spec_labeling_properties(tmp_path):
    """Property test (r12): for ANY mix of explicitly-labeled and fresh
    entries, write_manifest_list must (a) place every entry in exactly one
    manifest, (b) record in each manifest's header the spec its entries
    were labeled with, or the current spec for fresh entries, (c)
    round-trip the labels so a second rewrite keeps the same split."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from denali_spark.sources.avro_ocf import read_ocf, read_ocf_with_meta

    schema = {
        "type": "struct", "schema-id": 0,
        "fields": [{"id": 1, "name": "id", "required": True, "type": "long"}],
    }
    spec8 = [{"name": "id_bucket", "transform": "bucket[8]",
              "source-id": 1, "field-id": 1000}]
    spec16 = [{"name": "id_bucket", "transform": "bucket[16]",
               "source-id": 1, "field-id": 1000}]
    all_specs = [{"spec-id": 0, "fields": spec8},
                 {"spec-id": 1, "fields": spec16}]

    entry_kind = st.sampled_from(["fresh", "spec0", "spec1"])

    @settings(max_examples=25, deadline=None)
    @given(st.lists(entry_kind, min_size=1, max_size=12))
    def run(kinds):
        entries = []
        for i, kind in enumerate(kinds):
            e = {
                "path": f"/wh/t/data/f{i}.parquet", "file-format": "parquet",
                "record-count": 1, "file-size-bytes": 10,
                "sequence-number": 1, "partition": {"id_bucket": i % 8},
            }
            if kind == "spec0":
                e["spec-id"] = 0
            elif kind == "spec1":
                e["spec-id"] = 1
            entries.append((kind, e))
        d = tmp_path / f"m{abs(hash(tuple(kinds))) % 10**8}"
        loc = write_manifest_list(
            str(d), 7, [dict(e) for _, e in entries],
            schema=schema, partition_spec=spec16, partition_spec_id=1,
            all_specs=all_specs,
        )
        lschema, lrows = read_ocf(loc)
        lnames = [f["name"] for f in lschema["fields"]]
        seen = {}
        for row in lrows:
            mf = dict(zip(lnames, row))
            _, mrows, meta = read_ocf_with_meta(mf["manifest_path"])
            for r in mrows:
                path = r[-1]["file_path"]
                assert path not in seen, "entry in two manifests"
                seen[path] = int(meta.get("partition-spec-id"))
        assert len(seen) == len(entries)  # (a) exactly-one placement
        for i, (kind, _) in enumerate(entries):
            sid = seen[f"file:///wh/t/data/f{i}.parquet"]
            if kind == "fresh":
                assert sid == 1  # (b) current spec
            elif kind == "spec0":
                assert sid == 0
            else:
                assert sid == 1
        # (c) round-trip: labels reproduce the same split
        back = read_manifest_list(loc)
        by_path = {e["path"]: e for e in back}
        for i, (kind, _) in enumerate(entries):
            e = by_path[f"/wh/t/data/f{i}.parquet"]
            if kind == "spec0":
                assert e.get("spec-id") == 0
            else:  # fresh entries come back labeled with the current spec
                assert e.get("spec-id") == 1

    run()
