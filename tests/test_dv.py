"""Iceberg V3 deletion vectors: Puffin/roaring codecs, the DV delete path,
the one-vector-per-file replacement rule, migration from parquet position
deletes, compaction folding, and changelog/time-travel visibility."""

from __future__ import annotations

import random
import struct

import pytest

from pyspark.sql import functions as F

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.sources import (
    SparkCatalogIO,
    convert_deletes_to_dvs,
    delete_where_dv,
    delete_where_mor,
    equality_delete,
    rewrite_deletes,
)
from denali_spark.sources import expressions as E
from denali_spark.sources import puffin as P
from denali_spark.sources.catalog_io import split_entries
from denali_spark.sources.manifests import read_manifest_list
from denali_spark.sources.mor import _is_dv


# --- codec level ------------------------------------------------------------


@pytest.mark.parametrize(
    "values",
    [
        [],
        [0],
        [5, 7, 65535, 65536 * 3 + 2],
        list(range(70000)),  # dense: bitmap containers across two keys
        [2**33 + i for i in range(10)] + [3, 9],  # multiple high-32 buckets
    ],
)
def test_roaring64_roundtrip(values):
    assert P.deserialize_roaring64(P.serialize_roaring64(values)) == sorted(set(values))


def test_roaring64_random_roundtrip():
    rng = random.Random(7)
    vals = rng.sample(range(300000), 6000)  # mixes array + bitmap containers
    assert P.deserialize_roaring64(P.serialize_roaring64(vals)) == sorted(vals)


def test_roaring32_run_container_decode():
    # Hand-built run-cookie stream: runs (5, len 5) and (100, len 5).
    rc = struct.pack("<I", 12347 | (0 << 16))  # 1 container
    rc += b"\x01"  # container 0 is a run container
    rc += struct.pack("<HH", 0, 9)  # key 0, cardinality-1 = 9
    rc += struct.pack("<H", 2)
    rc += struct.pack("<HH", 5, 4) + struct.pack("<HH", 100, 4)
    buf = struct.pack("<Q", 1) + struct.pack("<I", 0) + rc
    assert P.deserialize_roaring64(buf) == list(range(5, 10)) + list(range(100, 105))


def test_dv_blob_roundtrip_and_crc():
    blob, card = P.encode_dv_blob([9, 1, 1, 4])
    assert card == 3
    assert P.decode_dv_blob(blob) == [1, 4, 9]
    corrupted = blob[:6] + bytes([blob[6] ^ 0xFF]) + blob[7:]
    with pytest.raises(ValueError, match="CRC|magic"):
        P.decode_dv_blob(corrupted)


def test_puffin_container_roundtrip(tmp_path):
    p = str(tmp_path / "x.puffin")
    b1, _ = P.encode_dv_blob([1, 2, 3])
    b2, _ = P.encode_dv_blob(range(5000))
    metas = P.write_puffin(
        p,
        [
            {"type": P.DELETION_VECTOR_V1, "data": b1,
             "properties": {"referenced-data-file": "file://a", "cardinality": "3"}},
            {"type": P.DELETION_VECTOR_V1, "data": b2,
             "properties": {"referenced-data-file": "file://b", "cardinality": "5000"}},
        ],
    )
    foot = P.read_puffin_footer(p)
    assert foot["blobs"] == metas
    assert [b["type"] for b in metas] == [P.DELETION_VECTOR_V1] * 2
    assert P.read_dv_positions(p, metas[0]["offset"], metas[0]["length"]) == [1, 2, 3]
    assert P.read_dv_positions(p, metas[1]["offset"], metas[1]["length"]) == list(range(5000))


def test_puffin_rejects_non_puffin(tmp_path):
    p = str(tmp_path / "junk.bin")
    with open(p, "wb") as f:
        f.write(b"not a puffin file at all..............")
    with pytest.raises(ValueError):
        P.read_puffin_footer(p)


# --- table level ------------------------------------------------------------


@pytest.fixture()
def io(spark, tmp_path):
    server = CatalogServer(make_state(str(tmp_path / "wh"))).start()
    yield SparkCatalogIO(spark, server.uri)
    server.stop()


def _chunked_table(spark, io, ns="dv", name="t", n_chunks=4, rows=25):
    for k in range(n_chunks):
        df = spark.range(k * rows, (k + 1) * rows).select(
            F.col("id"),
            (F.col("id") * 2).alias("v"),
            F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp"),
        ).coalesce(1)
        io.write_table(df, [ns], name, mode="append")
    return [ns], name


def _entries(io, ns, name):
    md = io.client.load_table(ns, name)["metadata"]
    snap = io._resolve_snapshot(md)
    return read_manifest_list(snap["manifest-list"])


def test_dv_delete_no_rewrite(spark, io):
    ns, name = _chunked_table(spark, io)
    before_data = {e["path"] for e in split_entries(_entries(io, ns, name))[0]}

    delete_where_dv(io, ns, name, E.and_(E.gt_eq("id", 10), E.lt("id", 15)))

    data, deletes = split_entries(_entries(io, ns, name))
    assert {e["path"] for e in data} == before_data  # zero files rewritten
    assert all(_is_dv(e) for e in deletes)
    assert sum(e["record-count"] for e in deletes) == 5
    # the vector names its data file and round-trips through the Avro manifest
    for e in deletes:
        assert e["referenced-data-file"] in before_data
        assert e["content-offset"] >= 4 and e["content-size-in-bytes"] > 0
    got = sorted(r["id"] for r in io.read_table(ns, name).collect())
    assert got == [i for i in range(100) if not (10 <= i < 15)]


def test_dv_replacement_rule_one_vector_per_file(spark, io):
    """Two trickle deletes hitting the same file leave ONE vector for it,
    holding the union of both commits' positions."""
    ns, name = _chunked_table(spark, io)
    delete_where_dv(io, ns, name, E.eq("id", 3))
    delete_where_dv(io, ns, name, E.eq("id", 7))  # same first file (ids 0-24)

    _data, deletes = split_entries(_entries(io, ns, name))
    refs = [e["referenced-data-file"] for e in deletes]
    assert len(refs) == len(set(refs)) == 1  # merged, not accumulated
    assert deletes[0]["record-count"] == 2
    positions = P.read_dv_positions(
        deletes[0]["path"], deletes[0]["content-offset"],
        deletes[0]["content-size-in-bytes"],
    )
    assert positions == [3, 7]
    got = sorted(r["id"] for r in io.read_table(ns, name).collect())
    assert got == [i for i in range(100) if i not in (3, 7)]


def test_dv_matches_cow_delete(spark, io):
    """DV delete and copy-on-write delete agree on visible rows."""
    from denali_spark.sources import delete_where

    ns1, n1 = _chunked_table(spark, io, name="a")
    ns2, n2 = _chunked_table(spark, io, name="b")
    where = E.and_(E.gt_eq("v", 40), E.lt("v", 90))  # ids 20..44
    delete_where_dv(io, ns1, n1, where)
    delete_where(io, ns2, n2, where)
    a = sorted(r["id"] for r in io.read_table(ns1, "a").collect())
    b = sorted(r["id"] for r in io.read_table(ns2, "b").collect())
    assert a == b


def test_dv_with_equality_deletes(spark, io):
    ns, name = _chunked_table(spark, io)
    keys = spark.createDataFrame([("g1",)], "grp string")
    equality_delete(io, ns, name, keys, on=["grp"])
    delete_where_dv(io, ns, name, E.eq("id", 0))  # id 0 is g0 — still visible before
    got = sorted(r["id"] for r in io.read_table(ns, name).collect())
    assert got == [i for i in range(1, 100) if i % 3 != 1]


def test_convert_parquet_deletes_to_dvs(spark, io):
    ns, name = _chunked_table(spark, io)
    delete_where_mor(io, ns, name, E.lt("id", 5))
    delete_where_mor(io, ns, name, E.eq("id", 30))
    delete_where_dv(io, ns, name, E.eq("id", 31))
    before = sorted(r["id"] for r in io.read_table(ns, name).collect())

    res = convert_deletes_to_dvs(io, ns, name)
    assert not res.get("noop")
    data, deletes = split_entries(_entries(io, ns, name))
    assert all(_is_dv(e) for e in deletes)  # no parquet position deletes remain
    refs = [e["referenced-data-file"] for e in deletes]
    assert len(refs) == len(set(refs)) == 2  # files holding ids 0-24 and 25-49
    after = sorted(r["id"] for r in io.read_table(ns, name).collect())
    assert after == before == [i for i in range(5, 100) if i not in (30, 31)]
    # idempotent: nothing left to convert
    assert convert_deletes_to_dvs(io, ns, name).get("noop")


def test_rewrite_deletes_folds_dvs(spark, io):
    ns, name = _chunked_table(spark, io)
    delete_where_dv(io, ns, name, E.lt("id", 5))
    rewrite_deletes(io, ns, name)
    data, deletes = split_entries(_entries(io, ns, name))
    assert deletes == []
    got = sorted(r["id"] for r in io.read_table(ns, name).collect())
    assert got == list(range(5, 100))


def test_dv_time_travel_sees_pre_delete_rows(spark, io):
    ns, name = _chunked_table(spark, io)
    md = io.client.load_table(ns, name)["metadata"]
    pre = md["refs"]["main"]["snapshot-id"]
    delete_where_dv(io, ns, name, E.lt("id", 50))
    assert io.read_table(ns, name).count() == 50
    assert io.read_table(ns, name, snapshot_id=pre).count() == 100


def test_dv_changelog_emits_deletes(spark, io):
    from denali_spark.sources.changelog import read_changes

    ns, name = _chunked_table(spark, io)
    start = io.client.load_table(ns, name)["metadata"]["refs"]["main"]["snapshot-id"]
    delete_where_dv(io, ns, name, E.and_(E.gt_eq("id", 10), E.lt("id", 13)))
    ch = read_changes(io, ns, name, from_snapshot_id=start)
    rows = [(r["id"], r["_change_type"]) for r in ch.collect()]
    assert sorted(rows) == [(10, "delete"), (11, "delete"), (12, "delete")]


def test_dv_large_bitmap_spans_containers(spark, io):
    """A delete wide enough to force bitmap containers still round-trips
    through the executor-side decode path."""
    ns = ["dvbig"]
    df = spark.range(0, 20000).select(F.col("id"), (F.col("id") % 7).alias("m")).coalesce(1)
    io.write_table(df, ns, "t", mode="append")
    delete_where_dv(io, ns, "t", E.lt("id", 6000))
    _data, deletes = split_entries(_entries(io, ns, "t"))
    assert sum(e["record-count"] for e in deletes) == 6000
    assert io.read_table(ns, "t").count() == 14000


def test_update_where_mor_matches_cow(spark, io):
    from denali_spark.sources import update_where
    from denali_spark.sources.mor import update_where_mor

    ns1, _ = _chunked_table(spark, io, ns="upd", name="mor")
    ns2, _ = _chunked_table(spark, io, ns="upd", name="cow")
    where = E.and_(E.gt_eq("id", 20), E.lt("id", 60))
    set_exprs = {"v": "v + 1000", "grp": "concat(grp, '!')"}
    before_files = {
        e["path"] for e in split_entries(_entries(io, ["upd"], "mor"))[0]
    }
    update_where_mor(io, ["upd"], "mor", where, set_exprs)
    update_where(io, ["upd"], "cow", where, set_exprs)
    a = sorted(map(tuple, io.read_table(["upd"], "mor").collect()))
    b = sorted(map(tuple, io.read_table(["upd"], "cow").collect()))
    assert a == b
    # MoR kept every original data file; only DVs + new appends landed
    data, deletes = split_entries(_entries(io, ["upd"], "mor"))
    assert before_files <= {e["path"] for e in data}
    assert deletes and all(_is_dv(e) for e in deletes)


def test_merge_into_mor_upsert_matches_cow(spark, io):
    from denali_spark.sources import merge_into
    from denali_spark.sources.mor import merge_into_mor

    ns1, _ = _chunked_table(spark, io, ns="mg", name="mor")
    ns2, _ = _chunked_table(spark, io, ns="mg", name="cow")
    src = spark.createDataFrame(
        [(5, 5000, "gX"), (23, 23000, "gY"), (200, 200000, "gZ")],
        "id long, v long, grp string",
    )
    merge_into_mor(io, ["mg"], "mor", src, on=["id"])
    merge_into(io, ["mg"], "cow", src, on=["id"])
    a = sorted(map(tuple, io.read_table(["mg"], "mor").collect()))
    b = sorted(map(tuple, io.read_table(["mg"], "cow").collect()))
    assert a == b
    assert len(a) == 101  # 100 rows + 1 true insert


def test_merge_into_mor_delete_mode(spark, io):
    from denali_spark.sources.mor import merge_into_mor

    ns, name = _chunked_table(spark, io, ns="mgd")
    src = spark.createDataFrame(
        [(10,), (11,), (999,)], "id long"
    ).select("id", F.lit(0).alias("v"), F.lit("g0").alias("grp"))
    merge_into_mor(io, ns, name, src, on=["id"],
                   when_matched="delete", when_not_matched_insert=False)
    got = sorted(r["id"] for r in io.read_table(ns, name).collect())
    assert got == [i for i in range(100) if i not in (10, 11)]


def test_update_where_mor_then_dv_delete_compose(spark, io):
    """A MoR update's DV and a later DV delete on the same file merge
    correctly (replacement rule across different MoR operations)."""
    from denali_spark.sources.mor import update_where_mor

    ns, name = _chunked_table(spark, io, ns="updmix")
    update_where_mor(io, ns, name, E.eq("id", 3), {"v": "-1"})
    delete_where_dv(io, ns, name, E.eq("id", 4))
    rows = {r["id"]: r["v"] for r in io.read_table(ns, name).collect()}
    assert 4 not in rows
    assert rows[3] == -1
    assert len(rows) == 99


# --- Puffin statistics files (ANALYZE TABLE) --------------------------------


def test_analyze_table_stats_roundtrip(spark, io):
    from denali_spark.sources import analyze_table, table_statistics

    ns, name = _chunked_table(spark, io, ns="stats")
    res = analyze_table(io, ns, name)
    assert res["row-count"] == 100
    assert res["ndv"]["id"] == 100  # HLL exact at this cardinality
    assert res["ndv"]["grp"] == 3

    back = table_statistics(io, ns, name)
    assert back["row-count"] == 100
    assert back["columns"]["id"]["ndv"] == 100
    assert back["columns"]["grp"] == {"ndv": 3, "null-count": 0}
    # registered on the current snapshot in table metadata
    md = io.client.load_table(ns, name)["metadata"]
    sid = md["refs"]["main"]["snapshot-id"]
    entry = next(s for s in md["statistics"] if s["snapshot-id"] == sid)
    assert entry["statistics-path"] == res["path"]
    assert entry["blob-metadata"][0]["type"] == "apache-datasketches-hll-v1"


def test_analyze_table_respects_deletes_and_reanalyze(spark, io):
    from denali_spark.sources import analyze_table, table_statistics

    ns, name = _chunked_table(spark, io, ns="stats2")
    analyze_table(io, ns, name, columns=["id"])
    delete_where_dv(io, ns, name, E.lt("id", 50))
    # stale snapshot → explicit error until re-analyzed
    import pytest as _pytest
    with _pytest.raises(ValueError, match="no statistics registered"):
        table_statistics(io, ns, name)
    res = analyze_table(io, ns, name, columns=["id"])
    assert res["row-count"] == 50
    assert table_statistics(io, ns, name)["columns"]["id"]["ndv"] == 50


def test_dv_delete_idempotent_noop(spark, io):
    """Re-running a delete whose predicate matches nothing new must be a
    no-op — not a fresh commit re-encoding the same vectors."""
    ns, name = _chunked_table(spark, io, ns="idem")
    delete_where_dv(io, ns, name, E.and_(E.gt_eq("id", 10), E.lt("id", 20)))
    md1 = io.client.load_table(ns, name)["metadata"]
    res = delete_where_dv(io, ns, name, E.and_(E.gt_eq("id", 10), E.lt("id", 20)))
    assert res.get("noop")
    md2 = io.client.load_table(ns, name)["metadata"]
    assert md1["refs"]["main"]["snapshot-id"] == md2["refs"]["main"]["snapshot-id"]


def test_update_where_mor_zero_match_noop(spark, io):
    from denali_spark.sources.mor import update_where_mor

    ns, name = _chunked_table(spark, io, ns="idem2")
    delete_where_dv(io, ns, name, E.eq("id", 3))
    # candidates overlap on stats, but no live row matches id=3 anymore
    res = update_where_mor(io, ns, name, E.eq("id", 3), {"v": "0"})
    assert res.get("noop")


def test_analyze_table_handles_nested_columns(spark, io):
    from denali_spark.sources import analyze_table

    df = spark.range(0, 40).select(
        "id", F.array(F.col("id"), F.col("id") % 5).alias("arr")
    )
    io.write_table(df, ["stats3"], "t", mode="overwrite")
    res = analyze_table(io, ["stats3"], "t")
    assert res["row-count"] == 40
    assert res["ndv"]["id"] == 40
    assert res["ndv"]["arr"] == 40  # each array value unique via id


def test_concurrent_dv_deletes_cas_merge(spark, io):
    """Two DV deletes racing on the SAME file: the loser's CAS retry must
    re-plan against the winner's snapshot and MERGE vectors — both row
    sets end up deleted and the file still has exactly one vector."""
    import threading

    ns, name = _chunked_table(spark, io, ns="race", n_chunks=1, rows=100)
    errs = []

    def run(lo, hi):
        try:
            delete_where_dv(io, ns, name, E.and_(E.gt_eq("id", lo), E.lt("id", hi)))
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    t1 = threading.Thread(target=run, args=(10, 20))
    t2 = threading.Thread(target=run, args=(30, 40))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs

    _data, deletes = split_entries(_entries(io, ns, name))
    assert len(deletes) == 1  # one vector for the single data file
    assert deletes[0]["record-count"] == 20
    got = sorted(r["id"] for r in io.read_table(ns, name).collect())
    assert got == [i for i in range(100) if not (10 <= i < 20 or 30 <= i < 40)]


def test_dv_commit_writes_per_task_puffins(spark, io):
    """A delete touching many data files produces MULTIPLE Puffin files —
    one per writer task (Iceberg's layout), written executor-side; the
    driver assembles manifest entries from metadata rows only. Every
    vector must still read back correctly across the files."""
    ns, name = _chunked_table(spark, io, name="mt", n_chunks=8, rows=10)
    # at this toy scale AQE coalesces the encode shuffle into ONE task
    # (one puffin); disable coalescing so the write runs genuinely
    # multi-task, like any real-scale delete would
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        delete_where_dv(io, ns, name, E.eq("grp", "g1"))  # hits every file
    finally:
        spark.conf.set(key, prior)

    data, deletes = split_entries(_entries(io, ns, name))
    assert len(deletes) == 8  # one DV entry per touched data file
    puffins = {e["path"] for e in deletes}
    assert len(puffins) > 1  # per-task files, not one driver-side file
    # offsets/lengths point inside their own file and decode correctly
    total = 0
    for e in deletes:
        blob = open(e["path"], "rb").read()[
            e["content-offset"]: e["content-offset"] + e["content-size-in-bytes"]
        ]
        positions = P.decode_dv_blob(blob)
        assert len(positions) == e["record-count"]
        total += len(positions)
    assert total == 27  # ids ≡ 1 (mod 3) in range(80)
    out = io.read_table(ns, name)
    assert out.count() == 80 - 27
    assert out.where("grp = 'g1'").count() == 0
