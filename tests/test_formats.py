"""Data-file format tests: the REST spec lists avro|orc|parquet
(openapi.yml:3393-3398). Parquet and ORC use Spark's native vectorized
paths; Avro runs through the pure-Python OCF codec executor-side
(spark-avro is not in the environment)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.sources import (
    SparkCatalogIO,
    compact_data_files,
    delete_where,
    delete_where_mor,
    equality_delete,
)
from denali_spark.sources import expressions as E
from denali_spark.sources.catalog_io import split_entries
from denali_spark.sources.manifests import read_manifest_list


@pytest.fixture()
def io(spark, tmp_path):
    server = CatalogServer(make_state(str(tmp_path / "wh"))).start()
    yield SparkCatalogIO(spark, server.uri)
    server.stop()


def _df(spark, lo=0, hi=50):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 3).alias("v")
    ).coalesce(1)


def _entries(io, ns, name):
    md = io.client.load_table(ns, name)["metadata"]
    snap = io._resolve_snapshot(md)
    return read_manifest_list(snap["manifest-list"])


def test_orc_round_trip_and_property(spark, io):
    io.write_table(_df(spark), ["fmt"], "t_orc", file_format="orc")
    md = io.client.load_table(["fmt"], "t_orc")["metadata"]
    assert md["properties"]["write.format.default"] == "orc"
    entries = _entries(io, ["fmt"], "t_orc")
    assert all(e["file-format"] == "orc" for e in entries)
    assert all(e["path"].endswith(".orc") for e in entries)
    assert sum(e["record-count"] for e in entries) == 50
    rows = {(r["id"], r["v"]) for r in io.read_table(["fmt"], "t_orc").collect()}
    assert rows == {(i, i * 3) for i in range(50)}


def test_append_inherits_table_format(spark, io):
    io.write_table(_df(spark, 0, 30), ["fmt"], "t_inherit", file_format="orc")
    # second append does NOT pass file_format — table property decides
    io.write_table(_df(spark, 30, 60), ["fmt"], "t_inherit")
    entries = _entries(io, ["fmt"], "t_inherit")
    assert {e["file-format"] for e in entries} == {"orc"}
    assert io.read_table(["fmt"], "t_inherit").count() == 60


def test_mixed_format_table_reads(spark, io):
    # parquet table + an ORC append forced per-write: manifest tracks each
    # file's format and the read reconciles both (Iceberg allows the mix)
    io.write_table(_df(spark, 0, 30), ["fmt"], "t_mix")
    io.write_table(_df(spark, 30, 60), ["fmt"], "t_mix", file_format="orc")
    formats = {e["file-format"] for e in _entries(io, ["fmt"], "t_mix")}
    assert formats == {"parquet", "orc"}
    ids = sorted(r["id"] for r in io.read_table(["fmt"], "t_mix").collect())
    assert ids == list(range(60))


def test_orc_cow_delete_and_compaction(spark, io):
    for k in range(3):
        io.write_table(_df(spark, k * 20, (k + 1) * 20), ["fmt"], "t_ops",
                       file_format="orc")
    delete_where(io, ["fmt"], "t_ops", E.lt("id", 5))
    assert sorted(r["id"] for r in io.read_table(["fmt"], "t_ops").collect()) == list(range(5, 60))
    # rewritten + compacted files keep the table's format
    compact_data_files(io, ["fmt"], "t_ops", target_file_size_bytes=10 * 1024 * 1024)
    data, _ = split_entries(_entries(io, ["fmt"], "t_ops"))
    assert {e["file-format"] for e in data} == {"orc"}
    assert io.read_table(["fmt"], "t_ops").count() == 55


def test_orc_equality_and_position_deletes(spark, io):
    io.write_table(_df(spark), ["fmt"], "t_mor", file_format="orc")
    keys = spark.createDataFrame([(7,), (8,)], "id long")
    equality_delete(io, ["fmt"], "t_mor", keys, on=["id"])
    ids = {r["id"] for r in io.read_table(["fmt"], "t_mor").collect()}
    assert ids == set(range(50)) - {7, 8}
    # position deletes on ORC: the pyarrow kernel supplies true row
    # positions (Spark's _metadata.row_index is parquet-only)
    delete_where_mor(io, ["fmt"], "t_mor", E.eq("id", 9))
    ids = {r["id"] for r in io.read_table(["fmt"], "t_mor").collect()}
    assert ids == set(range(50)) - {7, 8, 9}
    # no data file was rewritten — both deletes are merge-on-read
    data, deletes = split_entries(_entries(io, ["fmt"], "t_mor"))
    assert {e["content"] for e in deletes} == {"equality-deletes", "position-deletes"}


def test_avro_round_trip_and_property(spark, io):
    io.write_table(_df(spark), ["fmt"], "t_avro", file_format="avro")
    md = io.client.load_table(["fmt"], "t_avro")["metadata"]
    assert md["properties"]["write.format.default"] == "avro"
    entries = _entries(io, ["fmt"], "t_avro")
    assert all(e["file-format"] == "avro" for e in entries)
    assert all(e["path"].endswith(".avro") for e in entries)
    assert sum(e["record-count"] for e in entries) == 50
    rows = {(r["id"], r["v"]) for r in io.read_table(["fmt"], "t_avro").collect()}
    assert rows == {(i, i * 3) for i in range(50)}


def test_avro_typed_round_trip(spark, io):
    """Every supported logical type survives write→read bit-faithfully:
    decimals, dates, ntz timestamps, floats, booleans, binary, nulls."""
    import datetime
    from decimal import Decimal

    rows = [
        (1, "a", Decimal("12345.67"), datetime.date(2024, 1, 2),
         datetime.datetime(2024, 1, 2, 3, 4, 5, 123456), 1.5, True, b"\x00\x01"),
        (2, None, Decimal("-0.01"), None, None, None, False, None),
    ]
    ddl = ("id bigint, s string, d decimal(12,2), dt date, "
           "ts timestamp_ntz, f double, b boolean, raw binary")
    df = spark.createDataFrame(rows, ddl)
    io.write_table(df, ["fmt"], "t_avro_types", file_format="avro")
    got = {tuple(r) for r in io.read_table(["fmt"], "t_avro_types").collect()}
    assert got == set(rows)


def test_avro_in_mixed_format_table(spark, io):
    io.write_table(_df(spark, 0, 20), ["fmt"], "t_mix3")
    io.write_table(_df(spark, 20, 40), ["fmt"], "t_mix3", file_format="orc")
    io.write_table(_df(spark, 40, 60), ["fmt"], "t_mix3", file_format="avro")
    formats = {e["file-format"] for e in _entries(io, ["fmt"], "t_mix3")}
    assert formats == {"parquet", "orc", "avro"}
    ids = sorted(r["id"] for r in io.read_table(["fmt"], "t_mix3").collect())
    assert ids == list(range(60))


def test_avro_equality_delete_and_schema_evolution(spark, io):
    from denali_spark.sources import rename_column

    io.write_table(_df(spark), ["fmt"], "t_avro_mor", file_format="avro")
    keys = spark.createDataFrame([(7,), (8,)], "id long")
    equality_delete(io, ["fmt"], "t_avro_mor", keys, on=["id"])
    rename_column(io, ["fmt"], "t_avro_mor", "id", "ident")
    ids = {r["ident"] for r in io.read_table(["fmt"], "t_avro_mor").collect()}
    assert ids == set(range(50)) - {7, 8}
    # position deletes too: the avro read kernel enumerates true positions
    delete_where_mor(io, ["fmt"], "t_avro_mor", E.eq("ident", 9))
    ids = {r["ident"] for r in io.read_table(["fmt"], "t_avro_mor").collect()}
    assert ids == set(range(50)) - {7, 8, 9}


def test_avro_ocf_codec_unit():
    """Codec-level round trip incl. deflate read and corruption detection."""
    import os
    import tempfile
    import zlib

    from denali_spark.sources.avro_ocf import read_ocf, write_ocf

    schema = {"type": "record", "name": "row", "fields": [
        {"name": "a", "type": ["null", "long"]},
        {"name": "s", "type": "string"},
    ]}
    path = os.path.join(tempfile.mkdtemp(), "t.avro")
    n = write_ocf(path, schema, [(1, "x"), (None, "y"), (-3, "z")])
    assert n == 3
    got_schema, rows = read_ocf(path)
    assert rows == [(1, "x"), (None, "y"), (-3, "z")]
    assert got_schema["fields"][0]["name"] == "a"
    # deflate write → read round trip
    dpath = os.path.join(tempfile.mkdtemp(), "d.avro")
    write_ocf(dpath, schema, [(i, "v" * 40) for i in range(1000)], codec="deflate")
    _, drows = read_ocf(dpath)
    assert len(drows) == 1000 and drows[7] == (7, "v" * 40)
    assert os.path.getsize(dpath) < os.path.getsize(path) * 200  # compressed
    # corrupt a sync marker → clear error
    data = bytearray(open(path, "rb").read())
    data[-1] ^= 0xFF
    open(path, "wb").write(bytes(data))
    with pytest.raises(ValueError, match="sync marker"):
        read_ocf(path)


def test_avro_array_columns_round_trip(spark, io):
    """Embedding-shaped columns (array<double>/array<long>) survive the
    avro round trip — the block-encoded array path."""
    rows = [(1, [1.5, -2.25, 3.0], [10, 20]), (2, [], [7]), (3, None, None)]
    df = spark.createDataFrame(rows, "id int, emb array<double>, xs array<bigint>")
    io.write_table(df, ["fmt"], "t_avro_arr", file_format="avro")
    got = {
        (r["id"], tuple(r["emb"]) if r["emb"] is not None else None,
         tuple(r["xs"]) if r["xs"] is not None else None)
        for r in io.read_table(["fmt"], "t_avro_arr").collect()
    }
    assert got == {(1, (1.5, -2.25, 3.0), (10, 20)), (2, (), (7,)), (3, None, None)}


def test_avro_rejects_deep_nesting_and_partitioned(spark, io):
    nested = spark.createDataFrame(
        [(1, [[1, 2]])], "id int, xs array<array<int>>"
    )
    with pytest.raises(NotImplementedError, match="primitive"):
        io.write_table(nested, ["fmt"], "t_avro_nested", file_format="avro")
    with pytest.raises(NotImplementedError, match="partitioned"):
        io.write_table(_df(spark), ["fmt"], "t_avro_part",
                       file_format="avro", partition_by=["id"])
