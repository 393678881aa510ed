"""Partitioned / sorted catalog writes: transform lowering, spec
registration, layout, manifest partition tuples, and — the point of it
all — that partition-aligned clustering makes the file pruner effective."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.sources import SparkCatalogIO
from denali_spark.sources import expressions as E
from denali_spark.sources.partitioning import (
    build_partition_spec,
    normalize_partition_by,
    transform_column,
)
from denali_spark.engine.tables import load_table
from denali_spark.sources.manifests import read_manifest_list
from tests.conftest import SF_SMOKE


@pytest.fixture()
def io(spark, tmp_path):
    server = CatalogServer(make_state(str(tmp_path / "wh"))).start()
    yield SparkCatalogIO(spark, server.uri)
    server.stop()


def test_transform_lowering(spark):
    df = spark.createDataFrame(
        [("2024-03-15 10:30:00", "analytics", -7, 123)],
        "ts string, name string, i long, k long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    row = df.select(
        transform_column("ts", "year").alias("y"),
        transform_column("ts", "month").alias("m"),
        transform_column("ts", "day").alias("d"),
        transform_column("ts", "hour").alias("h"),
        transform_column("name", "truncate[4]", df.schema["name"].dataType).alias("tn"),
        transform_column("i", "truncate[10]", df.schema["i"].dataType).alias("ti"),
        transform_column("k", "bucket[8]").alias("b"),
    ).collect()[0]
    assert (row.y, row.m, row.d, row.h) == (2024, "2024-03", "2024-03-15", "2024-03-15-10")
    assert row.tn == "anal"
    assert row.ti == -10  # floor to multiple of 10, correct for negatives
    assert 0 <= row.b < 8


def test_partition_spec_registered(spark, io):
    events = load_table(spark, SF_SMOKE, "events")
    io.write_table(
        events, ["pt"], "events", mode="overwrite",
        partition_by=[("ts", "day"), ("user_id", "bucket[4]")],
    )
    md = io.client.load_table(["pt"], "events")["metadata"]
    spec = md["partition-specs"][0]
    assert [f["transform"] for f in spec["fields"]] == ["day", "bucket[4]"]
    assert [f["name"] for f in spec["fields"]] == ["ts_day", "user_id_bucket"]
    assert spec["fields"][0]["field-id"] == 1000
    assert md["default-spec-id"] == 0


def test_partitioned_write_manifest_and_readback(spark, io):
    events = load_table(spark, SF_SMOKE, "events")
    io.write_table(
        events, ["pt"], "by_day", mode="overwrite", partition_by=[("ts", "day")]
    )
    md = io.client.load_table(["pt"], "by_day")["metadata"]
    snap = io._resolve_snapshot(md)
    entries = read_manifest_list(snap["manifest-list"])
    n_days = events.select(F.to_date("ts")).distinct().count()
    assert len(entries) == n_days  # hash distribution → one file per day
    assert all("partition" in e and "ts_day" in e["partition"] for e in entries)
    # Data files keep ALL original columns (derived dir columns stripped).
    back = io.read_table(["pt"], "by_day")
    assert set(back.columns) == set(events.columns)
    assert back.count() == events.count()


def test_partitioned_layout_makes_pruning_effective(spark, io):
    events = load_table(spark, SF_SMOKE, "events")
    io.write_table(
        events, ["pt"], "pruned", mode="overwrite", partition_by=[("ts", "day")]
    )
    md = io.client.load_table(["pt"], "pruned")["metadata"]
    snap = io._resolve_snapshot(md)
    n_files = len(read_manifest_list(snap["manifest-list"]))
    lo = events.agg(F.min(F.to_date("ts"))).collect()[0][0]
    where = E.and_(
        E.gt_eq("ts", f"{lo} 00:00:00"), E.lt("ts", f"{lo} 23:59:59.999")
    )
    df = io.read_table(["pt"], "pruned", where=where)
    scanned = [f for f in df.inputFiles() if f.endswith(".parquet")]
    assert len(scanned) == 1, f"expected 1 of {n_files} files after day-pruning"
    # And the rows are exactly that day's.
    expected = events.filter(F.to_date("ts") == F.lit(lo)).count()
    assert df.count() == expected


def test_sorted_write_clusters_for_pruning(spark, io):
    orders = load_table(spark, SF_SMOKE, "orders")
    io.write_table(
        orders, ["pt"], "sorted", mode="overwrite",
        sort_by=["o_custkey"], num_files=4,
    )
    md = io.client.load_table(["pt"], "sorted")["metadata"]
    # Sort order registered as table metadata (§1.2 write-order parity).
    order = md["sort-orders"][-1]
    assert md["default-sort-order-id"] == order["order-id"] == 1
    assert [f["direction"] for f in order["fields"]] == ["asc"]
    snap = io._resolve_snapshot(md)
    entries = read_manifest_list(snap["manifest-list"])
    assert len(entries) == 4
    # Range distribution → disjoint o_custkey ranges across files.
    ranges = sorted(
        (e["stats"]["o_custkey"]["min"], e["stats"]["o_custkey"]["max"])
        for e in entries
    )
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo
    # A point lookup prunes to exactly one file.
    probe = ranges[0][1]
    df = io.read_table(["pt"], "sorted", where=E.eq("o_custkey", probe))
    assert len([f for f in df.inputFiles() if f.endswith(".parquet")]) == 1


def test_normalize_and_spec_errors():
    assert normalize_partition_by(["a", ("b", "day")]) == [
        ("a", "identity"),
        ("b", "day"),
    ]
    schema = {"fields": [{"id": 1, "name": "a", "type": "long"}]}
    with pytest.raises(ValueError, match="not in schema"):
        build_partition_spec([("zz", "identity")], schema)


# --- partition-spec evolution (round 5) -------------------------------------


def test_partition_spec_evolution_end_to_end(spark, io):
    """Write unpartitioned → evolve the spec → append → the new files land
    under the new layout, old files are untouched, and reads span both."""
    import os

    from pyspark.sql import functions as F

    df1 = spark.createDataFrame(
        [(1, "en", 1.0), (2, "de", 2.0)], "id long, lang string, v double"
    )
    df2 = spark.createDataFrame(
        [(3, "en", 3.0), (4, "fr", 4.0)], "id long, lang string, v double"
    )
    io.write_table(df1, ["pe"], "t")
    io.evolve_partition_spec(["pe"], "t", ["lang"])
    io.write_table(df2, ["pe"], "t")  # no partition_by: derives the new spec

    md = io.client.load_table(["pe"], "t")["metadata"]
    assert md["default-spec-id"] == 1
    assert len(md["partition-specs"]) == 2
    new_spec = next(s for s in md["partition-specs"] if s["spec-id"] == 1)
    assert [f["transform"] for f in new_spec["fields"]] == ["identity"]
    assert new_spec["fields"][0]["field-id"] == 1000

    # reads span both layouts
    got = sorted(r.id for r in io.read_table(["pe"], "t").collect())
    assert got == [1, 2, 3, 4]
    # predicate on the partition column still works across layouts
    en = io.read_table(["pe"], "t", where=E.eq("lang", "en"))
    assert sorted(r.id for r in en.collect()) == [1, 3]

    # the second commit's data files physically live under the partition dir
    head = md["refs"]["main"]["snapshot-id"]
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == head)
    entries = read_manifest_list(snap["manifest-list"])
    new_files = [e for e in entries if e.get("sequence-number") == 2]
    assert new_files and all("_p_lang=" in e["path"] for e in new_files)
    old_files = [e for e in entries if e.get("sequence-number") == 1]
    assert old_files and all("_p_lang=" not in e["path"] for e in old_files)


def test_sort_order_evolution_applies_to_new_writes(spark, io):
    """Evolve the default write order; a later append without sort_by must
    come out range-clustered by the new order (per-file min/max windows on
    the sort column don't overlap)."""
    import random

    rng = random.Random(7)
    rows = [(i, rng.randint(0, 10_000)) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, k long")
    io.write_table(df, ["so"], "t", num_files=4)  # unsorted create
    io.evolve_sort_order(["so"], "t", ["k"])
    md = io.client.load_table(["so"], "t")["metadata"]
    assert md["default-sort-order-id"] == 1

    io.write_table(df, ["so"], "t", num_files=4)  # derives the new order
    md = io.client.load_table(["so"], "t")["metadata"]
    head = md["refs"]["main"]["snapshot-id"]
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == head)
    entries = read_manifest_list(snap["manifest-list"])
    new = [e for e in entries if e.get("sequence-number") == 2]
    assert len(new) == 4
    windows = sorted(
        (int(e["stats"]["k"]["min"]), int(e["stats"]["k"]["max"])) for e in new
    )
    for (lo1, hi1), (lo2, hi2) in zip(windows, windows[1:]):
        assert hi1 <= lo2, f"overlapping sorted-write windows: {windows}"


def test_spec_derivation_handles_dropped_columns(spark, io):
    """Review fixes: a dropped SORT column degrades to an unsorted write;
    a dropped PARTITION-source column raises a clear error instead of
    KeyError; manifest headers carry the spec id actually in force."""
    from denali_spark.sources.catalog_io import sort_order_to_sort_by
    from denali_spark.sources.partitioning import spec_to_partition_by
    from denali_spark.sources.schema_evolution import drop_column

    # unit level: synthetic metadata with a dangling source-id
    md = {
        "current-schema-id": 0,
        "schemas": [{"schema-id": 0, "fields": [{"id": 1, "name": "a", "type": "long"}]}],
        "default-sort-order-id": 1,
        "sort-orders": [{"order-id": 1, "fields": [
            {"transform": "identity", "source-id": 99, "direction": "asc",
             "null-order": "nulls-first"}]}],
        "default-spec-id": 1,
        "partition-specs": [{"spec-id": 1, "fields": [
            {"name": "gone", "transform": "identity", "source-id": 99, "field-id": 1000}]}],
    }
    assert sort_order_to_sort_by(md) is None
    with pytest.raises(ValueError, match="dropped column"):
        spec_to_partition_by(md)

    # end to end: drop a sort column, then append — must not crash, writes unsorted
    df = spark.createDataFrame([(1, 10, "x"), (2, 20, "y")], "id long, k long, s string")
    io.write_table(df, ["dc"], "t", sort_by=["k"])
    drop_column(io, ["dc"], "t", "k")
    io.write_table(
        spark.createDataFrame([(3, "z")], "id long, s string"), ["dc"], "t"
    )
    assert io.read_table(["dc"], "t").count() == 3


def test_manifest_header_carries_default_spec_id(spark, io):
    from denali_spark.catalog.metadata import _fs_path
    from denali_spark.sources.avro_ocf import field_names, read_ocf, read_ocf_with_meta

    df = spark.createDataFrame([(1, "en")], "id long, lang string")
    io.write_table(df, ["mh"], "t")
    io.evolve_partition_spec(["mh"], "t", ["lang"])
    io.write_table(spark.createDataFrame([(2, "de")], "id long, lang string"), ["mh"], "t")
    md = io.client.load_table(["mh"], "t")["metadata"]
    head = md["refs"]["main"]["snapshot-id"]
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == head)
    list_schema, list_rows = read_ocf(_fs_path(snap["manifest-list"]))
    mp_idx = field_names(list_schema).index("manifest_path")
    assert list_rows, "manifest list is empty"
    for row in list_rows:
        _schema, _rows, meta = read_ocf_with_meta(_fs_path(row[mp_idx]))
        sid = meta["partition-spec-id"]
        assert (sid.decode() if isinstance(sid, bytes) else sid) == "1"


def test_manifest_list_row_carries_default_spec_id(spark, io):
    """Both the manifest OCF header AND the manifest-list row's
    partition_spec_id field (Iceberg field 502 — the authoritative one for
    readers) must carry the spec in force."""
    from denali_spark.catalog.metadata import _fs_path
    from denali_spark.sources.avro_ocf import field_names, read_ocf

    df = spark.createDataFrame([(1, "en")], "id long, lang string")
    io.write_table(df, ["mh2"], "t")
    io.evolve_partition_spec(["mh2"], "t", ["lang"])
    io.write_table(spark.createDataFrame([(2, "de")], "id long, lang string"), ["mh2"], "t")
    md = io.client.load_table(["mh2"], "t")["metadata"]
    head = md["refs"]["main"]["snapshot-id"]
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == head)
    list_schema, list_rows = read_ocf(_fs_path(snap["manifest-list"]))
    idx = field_names(list_schema).index("partition_spec_id")
    assert list_rows and all(row[idx] == 1 for row in list_rows)


def test_concurrent_spec_evolutions_cannot_mint_duplicate_field_ids(spark, io):
    """The evolve commit pins the field-id watermark: a commit based on a
    stale last-partition-id must 409 instead of committing a second spec
    whose fields reuse the same field-id."""
    from denali_spark.catalog.client import CatalogHTTPError

    df = spark.createDataFrame([(1, "en", 5)], "id long, lang string, k long")
    io.write_table(df, ["ce"], "t")
    io.evolve_partition_spec(["ce"], "t", ["lang"])  # mints field-id 1000
    # replay the SAME stale-watermark commit another client would send
    md = io.client.load_table(["ce"], "t")["metadata"]
    with pytest.raises(CatalogHTTPError) as exc:
        io.client.commit_table(
            ["ce"], "t",
            requirements=[
                {"type": "assert-table-uuid", "uuid": md["table-uuid"]},
                {"type": "assert-last-assigned-partition-id",
                 "last-assigned-partition-id": 999},  # stale: now 1000
            ],
            updates=[{"action": "add-spec", "spec": {"spec-id": 2, "fields": [
                {"name": "k", "transform": "identity", "source-id": 3,
                 "field-id": 1000}]}},
                {"action": "set-default-spec", "spec-id": -1}],
        )
    assert exc.value.status == 409


def test_write_retry_relayouts_after_concurrent_spec_evolution(spark, io):
    """A writer that derived its layout from the pre-evolution spec and
    loses the CAS race must REWRITE its files under the now-current spec
    before publishing, or the manifest would stamp a spec the files don't
    follow."""
    from denali_spark.catalog.client import CatalogHTTPError

    df1 = spark.createDataFrame([(1, "en", 1.0)], "id long, lang string, v double")
    io.write_table(df1, ["race"], "t")

    real_commit = io.client.commit_table
    state = {"raced": False}

    def racing_commit(namespace, name, requirements=None, updates=None, **kw):
        if not state["raced"] and any(
            u.get("action") == "add-snapshot" for u in (updates or [])
        ):
            state["raced"] = True
            # the concurrent evolution lands first...
            io_orig.evolve_partition_spec(["race"], "t", ["lang"])
            # ...then this writer's commit loses the CAS race
            raise CatalogHTTPError(409, {"error": {"message": "conflict"}})
        return real_commit(namespace, name, requirements=requirements, updates=updates, **kw)

    io_orig = io
    io.client.commit_table = racing_commit
    try:
        io.write_table(
            spark.createDataFrame([(2, "de", 2.0)], "id long, lang string, v double"),
            ["race"], "t",
        )
    finally:
        io.client.commit_table = real_commit

    md = io.client.load_table(["race"], "t")["metadata"]
    head = md["refs"]["main"]["snapshot-id"]
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == head)
    entries = read_manifest_list(snap["manifest-list"])
    new_files = [e for e in entries if e.get("sequence-number", 0) >= 2]
    assert new_files and all("_p_lang=" in e["path"] for e in new_files), (
        "retried write must land under the evolved layout"
    )


def test_typed_r102_partition_struct_round_trip(spark, io):
    """Partitioned manifests carry Iceberg's typed r102 partition struct
    (field-id'd record, long-typed bucket values) — not the legacy
    name-keyed JSON map — and the read adapter restores the internal
    name→string tuple byte-exactly."""
    from denali_spark.sources.avro_ocf import read_ocf_with_meta
    from denali_spark.sources.manifests import _partition_is_typed

    df = spark.range(0, 200).select(
        F.col("id"), (F.col("id") % 5).cast("int").alias("k")
    )
    io.write_table(
        df, ["pt"], "typed", mode="overwrite", partition_by=[("k", "bucket[4]")]
    )
    md = io.client.load_table(["pt"], "typed")["metadata"]
    snap = io._resolve_snapshot(md)

    # inspect the written manifest's embedded Avro schema directly
    lschema, lrows = __import__(
        "denali_spark.sources.avro_ocf", fromlist=["read_ocf"]
    ).read_ocf(snap["manifest-list"])
    lnames = [f["name"] for f in lschema["fields"]]
    mpath = dict(zip(lnames, lrows[0]))["manifest_path"]
    mschema, mrows, _ = read_ocf_with_meta(mpath)
    assert _partition_is_typed(mschema), "typed r102 struct not engaged"
    dfld = next(f for f in mschema["fields"] if f["name"] == "data_file")
    pfld = next(f for f in dfld["type"]["fields"] if f["name"] == "partition")
    r102 = pfld["type"][1]
    assert r102["name"] == "r102"
    assert r102["fields"][0]["field-id"] == 1000
    assert r102["fields"][0]["type"] == ["null", "long"]

    # decoded entries restore the internal string-valued tuple exactly
    entries = read_manifest_list(snap["manifest-list"])
    for e in entries:
        (k,) = e["partition"].keys()
        assert k == "k_bucket"
        assert isinstance(e["partition"][k], str)
        assert str(int(e["partition"][k])) == e["partition"][k]
    # and reads (incl. partition-pruned) still work
    assert io.read_table(["pt"], "typed").count() == 200


def test_typed_partition_falls_back_on_mixed_specs(spark, io):
    """After partition-spec evolution a snapshot carries entries from two
    layouts — the manifest must fall back to the name-keyed map rather than
    mis-typing old tuples, and reads stay correct."""
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 7).cast("int").alias("k"),
        (F.col("id") % 3).cast("int").alias("j"),
    )
    io.write_table(df, ["pt"], "mixed", mode="overwrite",
                   partition_by=[("k", "identity")])
    io.evolve_partition_spec(["pt"], "mixed", [("j", "identity")])
    io.write_table(
        spark.range(100, 150).select(
            F.col("id"), (F.col("id") % 7).cast("int").alias("k"),
            (F.col("id") % 3).cast("int").alias("j"),
        ),
        ["pt"], "mixed", mode="append",
    )
    assert io.read_table(["pt"], "mixed").count() == 150
    md = io.client.load_table(["pt"], "mixed")["metadata"]
    snap = io._resolve_snapshot(md)
    entries = read_manifest_list(snap["manifest-list"])
    parts = {frozenset(e["partition"].keys()) for e in entries if e.get("partition")}
    assert frozenset({"k"}) in parts and frozenset({"j"}) in parts


def test_transform_aware_partition_pruning(spark, io):
    """r10: bucket[N] point lookups prune by hashing the literal (stats
    can't — every bucket spans the full value range); truncate/temporal
    literals encode in pure Python; identity negations prune the file
    whose single value is excluded; unknowable predicates never prune."""
    from denali_spark.sources.catalog_io import split_entries
    from denali_spark.sources.partitioning import partition_prune

    df = spark.range(0, 400).select(
        "id",
        F.concat(F.lit("u"), (F.col("id") % 50).cast("string")).alias("user"),
        F.to_timestamp(
            F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 90).cast("int"))
        ).alias("ts"),
    )
    io.write_table(
        df, ["pr"], "b", mode="overwrite", partition_by=[("id", "bucket[8]")]
    )
    md = io.client.load_table(["pr"], "b")["metadata"]
    snap = io._resolve_snapshot(md)
    data, _ = split_entries(read_manifest_list(snap["manifest-list"]))
    assert len({e["partition"]["id_bucket"] for e in data}) == 8

    kept = partition_prune(spark, md, E.eq("id", 37), data)
    # exactly the files of id=37's bucket survive
    want = spark.sql("SELECT pmod(hash(CAST(37 AS BIGINT)), 8)").first()[0]
    assert kept and all(e["partition"]["id_bucket"] == str(want) for e in kept)
    assert len(kept) < len(data)
    # IN fans out over buckets; OR keeps the union
    kept_in = partition_prune(spark, md, E.in_("id", [37, 41]), data)
    assert set(e["path"] for e in kept) <= set(e["path"] for e in kept_in)
    # an unprunable predicate (range) keeps everything
    assert partition_prune(spark, md, E.gt("id", 5), data) == data
    # end-to-end: the pruned read returns exactly the right rows
    assert sorted(
        r["id"] for r in io.read_table(
            ["pr"], "b", where=E.in_("id", [37, 41])
        ).collect()
    ) == [37, 41]

    # temporal + truncate + identity-negation transforms
    io.write_table(
        df, ["pr"], "t2", mode="overwrite",
        partition_by=[("ts", "day"), ("user", "truncate[2]")],
    )
    md2 = io.client.load_table(["pr"], "t2")["metadata"]
    snap2 = io._resolve_snapshot(md2)
    data2, _ = split_entries(read_manifest_list(snap2["manifest-list"]))
    kept2 = partition_prune(
        spark, md2, E.eq("ts", "2024-01-03 00:00:00"), data2
    )
    assert kept2 and all(
        e["partition"]["ts_day"] == "2024-01-03" for e in kept2
    )
    kept3 = partition_prune(spark, md2, E.eq("user", "u7"), data2)
    assert kept3 and all(e["partition"]["user_truncate"] == "u7" for e in kept3)

    io.write_table(
        spark.range(0, 30).select("id", (F.col("id") % 3).alias("p")),
        ["pr"], "neg", mode="overwrite", partition_by=[("p", "identity")],
    )
    md3 = io.client.load_table(["pr"], "neg")["metadata"]
    snap3 = io._resolve_snapshot(md3)
    data3, _ = split_entries(read_manifest_list(snap3["manifest-list"]))
    kept4 = partition_prune(spark, md3, E.not_eq("p", 1), data3)
    assert {e["partition"]["p"] for e in kept4} == {"0", "2"}
    # but a negation on a BUCKET transform never prunes (collisions)
    assert partition_prune(spark, md, E.not_eq("id", 37), data) == data


def test_server_plan_prunes_partitions_without_spark(spark, io):
    """The catalog server prunes identity AND bucket partitions in pure
    Python (no Spark session server-side — buckets via the reimplemented
    Spark murmur3)."""
    df = spark.range(0, 100).select("id", (F.col("id") % 4).alias("p"))
    io.write_table(
        df, ["pr2"], "s", mode="overwrite", partition_by=[("p", "identity")]
    )
    plan = io.client.plan_table_scan(
        ["pr2"], "s", filter={"type": "eq", "term": "p", "value": 2}
    )
    tasks = plan["file-scan-tasks"]
    assert tasks and all(
        t["data-file"]["partition"]["p"] == "2" for t in tasks
    )

    io.write_table(
        spark.range(0, 200).select("id"),
        ["pr2"], "sb", mode="overwrite", partition_by=[("id", "bucket[8]")],
    )
    plan = io.client.plan_table_scan(
        ["pr2"], "sb", filter={"type": "eq", "term": "id", "value": 37}
    )
    want = spark.sql("SELECT pmod(hash(CAST(37 AS BIGINT)), 8)").first()[0]
    tasks = plan["file-scan-tasks"]
    assert tasks and all(
        t["data-file"]["partition"]["id_bucket"] == str(want) for t in tasks
    )


def test_python_murmur3_matches_spark_hash(spark):
    """The pure-Python murmur3 must agree with F.hash across every typed
    fast path the bucket transform can see — ints, longs (incl. negatives
    and both 32-bit boundaries), and UTF-8 strings with unaligned tails."""
    from denali_spark.sources.partitioning import (
        murmur3_bytes,
        murmur3_int,
        murmur3_long,
    )

    longs = [0, 1, -1, 37, -37, 2**31 - 1, -(2**31), 2**33 + 5, -(2**40) - 7]
    got = spark.createDataFrame(
        [(v,) for v in longs], "v long"
    ).select(F.hash("v").alias("h")).collect()
    assert [r["h"] for r in got] == [murmur3_long(v) for v in longs]

    ints = [0, 1, -1, 42, 2**31 - 1, -(2**31)]
    got = spark.createDataFrame(
        [(v,) for v in ints], "v int"
    ).select(F.hash("v").alias("h")).collect()
    assert [r["h"] for r in got] == [murmur3_int(v) for v in ints]

    strings = ["", "a", "ab", "abc", "abcd", "abcde", "héllo wörld", "u7", "x" * 31]
    got = spark.createDataFrame(
        [(s,) for s in strings], "v string"
    ).select(F.hash("v").alias("h")).collect()
    assert [r["h"] for r in got] == [
        murmur3_bytes(s.encode("utf-8")) for s in strings
    ]


def test_partition_prune_conservative_across_spec_evolution(spark, io):
    """After evolve_partition_spec, live files carry tuples from TWO
    layouts; pruning keys on the CURRENT spec, so old-layout files (whose
    tuples lack the current field) must be KEPT, never mispruned — and
    reads stay row-correct through the transition."""
    from denali_spark.sources.catalog_io import split_entries
    from denali_spark.sources.partitioning import partition_prune

    df = spark.range(0, 60).select(
        "id",
        (F.col("id") % 5).cast("int").alias("k"),
        (F.col("id") % 3).cast("int").alias("j"),
    )
    io.write_table(df, ["pe"], "t", mode="overwrite", partition_by=[("k", "identity")])
    io.evolve_partition_spec(["pe"], "t", [("j", "identity")])
    io.write_table(
        spark.range(60, 90).select(
            "id", (F.col("id") % 5).cast("int").alias("k"),
            (F.col("id") % 3).cast("int").alias("j"),
        ),
        ["pe"], "t", mode="append",
    )
    md = io.client.load_table(["pe"], "t")["metadata"]
    snap = io._resolve_snapshot(md)
    data, _ = split_entries(read_manifest_list(snap["manifest-list"]))
    old_layout = [e for e in data if "k" in (e.get("partition") or {})]
    assert old_layout, "fixture must keep old-layout files live"

    kept = partition_prune(spark, md, E.eq("j", 1), data)
    # every old-layout file survives (no 'j' in its tuple → conservative),
    # and new-layout files pruned to exactly j=1
    assert all(e in kept for e in old_layout)
    new_kept = [e for e in kept if "j" in (e.get("partition") or {})]
    assert new_kept and all(e["partition"]["j"] == "1" for e in new_kept)
    # a predicate on a column that is not a partition source never prunes
    assert partition_prune(spark, md, E.eq("id", 7), data) == data
    # end-to-end correctness through the evolved layout
    got = sorted(
        r["id"] for r in io.read_table(
            ["pe"], "t", where=E.eq("j", 1)
        ).collect()
    )
    assert got == [i for i in range(90) if i % 3 == 1]


def test_partition_prune_survives_transform_width_evolution(spark, io):
    """r11 (advice item): bucket[8]→bucket[16] keeps the SAME derived
    field name (`id_bucket`), so old-layout tuples are indistinguishable
    by shape from new-layout ones — but their values encode under a
    different width (id=37: murmur3%8=5, %16=13). Pruning with only the
    current spec silently dropped the live bucket-5 file. The fix checks
    every candidate spec: a file survives unless ALL layouts it could
    have been written under prove impossibility."""
    from denali_spark.sources.catalog_io import split_entries
    from denali_spark.sources.partitioning import partition_prune

    df = spark.range(0, 200).select("id")
    io.write_table(
        df, ["pw"], "t", mode="overwrite", partition_by=[("id", "bucket[8]")]
    )
    io.evolve_partition_spec(["pw"], "t", [("id", "bucket[16]")])
    io.write_table(
        spark.range(200, 400).select("id"), ["pw"], "t", mode="append"
    )
    md = io.client.load_table(["pw"], "t")["metadata"]
    snap = io._resolve_snapshot(md)
    data, _ = split_entries(read_manifest_list(snap["manifest-list"]))
    b8 = spark.sql("SELECT pmod(hash(CAST(37 AS BIGINT)), 8)").first()[0]
    b16 = spark.sql("SELECT pmod(hash(CAST(37 AS BIGINT)), 16)").first()[0]
    assert b8 != b16  # the scenario the advice reproduced (5 vs 13)

    kept = partition_prune(spark, md, E.eq("id", 37), data)
    buckets_kept = {e["partition"]["id_bucket"] for e in kept}
    # both layouts' matching buckets survive; non-matching files pruned
    assert {str(b8), str(b16)} <= buckets_kept
    assert len(kept) < len(data)
    # end-to-end: the filtered read still returns the old-layout row,
    # client path AND server plan path
    assert [r["id"] for r in io.read_table(
        ["pw"], "t", where=E.eq("id", 37)
    ).collect()] == [37]
    assert [r["id"] for r in io.read_table(
        ["pw"], "t", where=E.eq("id", 37), server_plan=True
    ).collect()] == [37]
    # a single-spec table still prunes to exactly one bucket (no
    # conservatism tax when no evolution happened)
    io.write_table(
        df, ["pw"], "single", mode="overwrite",
        partition_by=[("id", "bucket[8]")],
    )
    md1 = io.client.load_table(["pw"], "single")["metadata"]
    snap1 = io._resolve_snapshot(md1)
    d1, _ = split_entries(read_manifest_list(snap1["manifest-list"]))
    kept1 = partition_prune(spark, md1, E.eq("id", 37), d1)
    assert kept1 and {e["partition"]["id_bucket"] for e in kept1} == {str(b8)}


def test_partition_prune_exact_per_entry_spec_id(spark, io):
    """r11 sharpening of the width-evolution fix: manifests are written
    split per spec-id with the encoding spec in the header, the reader
    reattaches it per entry, and pruning checks each entry against
    EXACTLY its own spec — no keep-if-any-layout-matches tax."""
    from denali_spark.sources.catalog_io import split_entries
    from denali_spark.sources.partitioning import partition_prune

    io.write_table(
        spark.range(0, 200).select("id"), ["px"], "t", mode="overwrite",
        partition_by=[("id", "bucket[8]")],
    )
    io.evolve_partition_spec(["px"], "t", [("id", "bucket[16]")])
    io.write_table(
        spark.range(200, 400).select("id"), ["px"], "t", mode="append"
    )
    md = io.client.load_table(["px"], "t")["metadata"]
    snap = io._resolve_snapshot(md)
    data, _ = split_entries(read_manifest_list(snap["manifest-list"]))
    # every live entry is labeled with its true encoding spec
    sids = {e.get("spec-id") for e in data}
    assert sids == {0, 1}, sids
    old_sid = 0
    new_sid = 1
    b8 = spark.sql("SELECT pmod(hash(CAST(37 AS BIGINT)), 8)").first()[0]
    b16 = spark.sql("SELECT pmod(hash(CAST(37 AS BIGINT)), 16)").first()[0]
    kept = partition_prune(spark, md, E.eq("id", 37), data)
    expected = [
        e for e in data
        if (e["spec-id"] == old_sid and e["partition"]["id_bucket"] == str(b8))
        or (e["spec-id"] == new_sid and e["partition"]["id_bucket"] == str(b16))
    ]
    # EXACT: precisely one surviving file per layout, no conservatism tax
    assert kept == expected
    assert len(kept) == 2
    # and the read is still row-correct through both layouts
    assert [r["id"] for r in io.read_table(
        ["px"], "t", where=E.eq("id", 37)
    ).collect()] == [37]
