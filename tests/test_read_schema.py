"""Scans read each file group under the schema the table metadata records
for it (schema_convert.iceberg_schema_to_spark), not one inferred from the
files: planning a read starts no Spark job, an empty table reports the same
types as a full one, and files adopted from other writers read with the
table's types."""

from __future__ import annotations

import datetime
import decimal
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.sources import SparkCatalogIO
from denali_spark.sources.catalog_io import split_entries
from denali_spark.sources.manifests import read_manifest_list
from denali_spark.sources.schema_convert import iceberg_schema_to_spark
from denali_spark.sources.schema_evolution import add_column, current_schema


@pytest.fixture(scope="module")
def io(spark, tmp_path_factory):
    server = CatalogServer(make_state(str(tmp_path_factory.mktemp("wh")))).start()
    yield SparkCatalogIO(spark, server.uri)
    server.stop()


def _table_schema(io, ns, name):
    md = io.client.load_table(ns, name)["metadata"]
    return iceberg_schema_to_spark(current_schema(md))


def _jobs_started_by(spark, fn) -> list[int]:
    """Ids of the Spark jobs `fn` starts on this thread."""
    sc = spark.sparkContext
    group = f"read-schema-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events are async
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def many_files(spark, io):
    """21 files under two schema ids: one compacted file that carries a
    physical _row_id, ten plain files written before an ADD COLUMN and ten
    after it."""
    from denali_spark.sources.maintenance import compact_data_files

    ns, name = ["plan0"], "t"
    rows = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        "id", (F.col("id") % 7).alias("k")
    )
    io.write_table(rows(0, 30), ns, name, mode="overwrite", num_files=3)
    compact_data_files(io, ns, name, min_input_files=2)
    io.write_table(rows(30, 130), ns, name, num_files=10)
    add_column(io, ns, name, "tag", "string")
    io.write_table(
        rows(130, 230).withColumn("tag", F.lit("new")), ns, name, num_files=10
    )
    md = io.client.load_table(ns, name)["metadata"]
    data, _ = split_entries(read_manifest_list(io._resolve_snapshot(md)["manifest-list"]))
    assert len(data) == 21
    assert {e.get("schema-id") for e in data} == {0, 1}
    assert sum(bool(e.get("materialized-lineage")) for e in data) == 1
    return ns, name


def test_planning_a_read_starts_no_spark_job(spark, io, many_files):
    ns, name = many_files
    out = {}
    assert _jobs_started_by(spark, lambda: out.update(df=io.read_table(ns, name))) == []
    assert _jobs_started_by(
        spark, lambda: out.update(ids=io.read_table(ns, name, with_row_ids=True))
    ) == []
    df, ids = out["df"], out["ids"]
    assert df.columns == ["id", "k", "tag"]  # the carried _row_id stays hidden
    got = df.collect()
    assert sorted(r.id for r in got) == list(range(230))
    assert {r.id for r in got if r.tag == "new"} == set(range(130, 230))
    row_ids = [r._row_id for r in ids.collect()]
    assert None not in row_ids and len(set(row_ids)) == 230


def test_empty_table_reads_nested_types(spark, io):
    """No file backs an empty read: its types come from the schema alone,
    nested ones included."""
    io.client.create_namespace(["empty0"])
    io.client.create_table(
        ["empty0"], "t",
        {"type": "struct", "schema-id": 0, "fields": [
            {"id": 1, "name": "c", "required": False,
             "type": {"type": "list", "element-id": 4, "element": "long",
                      "element-required": False}},
            {"id": 2, "name": "m", "required": False,
             "type": {"type": "map", "key-id": 5, "key": "string",
                      "value-id": 6, "value": "int", "value-required": False}},
            {"id": 3, "name": "s", "required": False,
             "type": {"type": "struct", "fields": [
                 {"id": 7, "name": "a", "required": True, "type": "int"},
                 {"id": 8, "name": "b", "required": False, "type": "string"},
             ]}},
        ]},
    )
    df = io.read_table(["empty0"], "t")
    assert df.schema.simpleString() == (
        "struct<c:array<bigint>,m:map<string,int>,s:struct<a:int,b:string>>"
    )
    assert df.schema == _table_schema(io, ["empty0"], "t")
    assert df.count() == 0


def test_write_aligns_nested_types_to_the_table(spark, io):
    ns = ["nested0"]
    io.write_table(
        spark.createDataFrame([([1, 2],)], "c array<bigint>"), ns, "t", mode="overwrite"
    )
    io.write_table(spark.createDataFrame([([3],)], "c array<int>"), ns, "t")
    assert sorted(r.c for r in io.read_table(ns, "t").collect()) == [[1, 2], [3]]
    with pytest.raises(ValueError, match="cannot implicitly cast"):
        io.write_table(spark.createDataFrame([(["x"],)], "c array<string>"), ns, "t")
    # a bare NULL is typed void and casts losslessly into any column type
    for fmt in ("parquet", "orc", "avro"):
        io.write_table(
            spark.createDataFrame([(1, "x")], "a int, b string"), ns, f"void_{fmt}",
            mode="overwrite", file_format=fmt,
        )
        io.write_table(spark.sql("select 2 as a, null as b"), ns, f"void_{fmt}")
        got = sorted(tuple(r) for r in io.read_table(ns, f"void_{fmt}").collect())
        assert got == [(1, "x"), (2, None)], fmt


_UTC = datetime.timezone.utc
_TS = datetime.datetime(2024, 3, 1, 12, 30, 15, 250000, tzinfo=_UTC)

# pyarrow type → (values written, values a read returns)
_FOREIGN = {
    "int8": (pa.array([-3, None, 7], pa.int8()), [-3, None, 7]),
    "int16": (pa.array([-300, None, 700], pa.int16()), [-300, None, 700]),
    "uint8": (pa.array([0, None, 255], pa.uint8()), [0, None, 255]),
    "uint16": (pa.array([0, None, 65535], pa.uint16()), [0, None, 65535]),
    "uint32": (pa.array([0, None, 4294967295], pa.uint32()), [0, None, 4294967295]),
    "timestamp_ms_utc": (
        pa.array([_TS, None], pa.timestamp("ms", tz="UTC")),
        # collect() renders an instant in the process's local zone
        [datetime.datetime.fromtimestamp(_TS.timestamp()), None],
    ),
    "date": (
        pa.array([datetime.date(2024, 2, 29), None], pa.date32()),
        [datetime.date(2024, 2, 29), None],
    ),
    "decimal": (
        pa.array([decimal.Decimal("12.34"), None], pa.decimal128(10, 2)),
        [decimal.Decimal("12.34"), None],
    ),
    "list": (pa.array([[1, 2], None, []], pa.list_(pa.int64())), [[1, 2], None, []]),
    "struct": (
        pa.array([{"a": 1, "b": "x"}, None],
                 pa.struct([("a", pa.int32()), ("b", pa.string())])),
        [(1, "x"), None],
    ),
    "large_string": (pa.array(["a", None, "ccc"], pa.large_string()), ["a", None, "ccc"]),
}


@pytest.mark.parametrize("kind", sorted(_FOREIGN))
def test_registered_foreign_file_reads_with_table_types(spark, io, tmp_path, kind):
    """A file another writer produced may store a narrower physical type
    than the table column (int8 under `int`): the read reports the table's
    type, as DESCRIBE does, and every value survives."""
    values, expected = _FOREIGN[kind]
    path = str(tmp_path / f"{kind}.parquet")
    pq.write_table(pa.table({"v": values}), path)
    io.register_parquet_table(["foreign0"], kind, path)
    df = io.read_table(["foreign0"], kind)
    assert df.schema == _table_schema(io, ["foreign0"], kind)
    assert [r.v for r in df.collect()] == expected


def test_nanosecond_timestamps_register_only_as_raw_longs(spark, io, tmp_path):
    """Spark reads TIMESTAMP(NANOS) only as raw longs, under
    spark.sql.legacy.parquet.nanosAsLong (the engine's events loader sets
    it); without it, registration refuses the file."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, "false")
    path = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({"v": pa.array([1, 2], pa.timestamp("ns"))}), path)
    try:
        spark.conf.set(key, "false")
        with pytest.raises(Exception, match="NANOS"):
            io.register_parquet_table(["foreign0"], "nanos", path)
        assert not io.client.table_exists(["foreign0"], "nanos")
        spark.conf.set(key, "true")
        io.register_parquet_table(["foreign0"], "nanos", path)
        df = io.read_table(["foreign0"], "nanos")
        assert df.dtypes == [("v", "bigint")]
        assert df.schema == _table_schema(io, ["foreign0"], "nanos")
        assert [r.v for r in df.collect()] == [1, 2]
    finally:
        spark.conf.set(key, before)
