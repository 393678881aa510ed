"""Iceberg V3 row lineage: first-row-id assignment at commit, the
next-row-id high-water mark, and `_row_id` reads (= file first-row-id +
in-file position)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.sources import SparkCatalogIO, delete_where_dv
from denali_spark.sources import expressions as E
from denali_spark.sources.catalog_io import split_entries
from denali_spark.sources.manifests import read_manifest_list


@pytest.fixture()
def io(spark, tmp_path):
    server = CatalogServer(make_state(str(tmp_path / "wh"))).start()
    yield SparkCatalogIO(spark, server.uri)
    server.stop()


def _entries(io, ns, name):
    md = io.client.load_table(ns, name)["metadata"]
    snap = io._resolve_snapshot(md)
    return split_entries(read_manifest_list(snap["manifest-list"]))[0]


def test_appends_assign_disjoint_ranges_and_advance_next_row_id(spark, io):
    ns = ["rl"]
    for k in range(3):
        io.write_table(
            spark.range(k * 10, (k + 1) * 10).select("id").coalesce(1),
            ns, "t", mode="append",
        )
    md = io.client.load_table(ns, "t")["metadata"]
    assert md["next-row-id"] == 30
    entries = sorted(_entries(io, ns, "t"), key=lambda e: e["first-row-id"])
    ranges = [
        (e["first-row-id"], e["first-row-id"] + e["record-count"])
        for e in entries
    ]
    assert ranges == [(0, 10), (10, 20), (20, 30)]
    # snapshots carry their first-row-id watermark
    snaps = sorted(md["snapshots"], key=lambda s: s["timestamp-ms"])
    assert [s["first-row-id"] for s in snaps] == [0, 10, 20]


def test_row_ids_stable_under_mor_delete(spark, io):
    ns = ["rl"]
    io.write_table(spark.range(0, 20).select("id").coalesce(1), ns, "d",
                   mode="append")
    before = {
        r["id"]: r["_row_id"]
        for r in io.read_table(ns, "d", with_row_ids=True).collect()
    }
    assert sorted(before.values()) == list(range(20))
    delete_where_dv(io, ns, "d", E.and_(E.gt_eq("id", 5), E.lt("id", 10)))
    after = {
        r["id"]: r["_row_id"]
        for r in io.read_table(ns, "d", with_row_ids=True).collect()
    }
    # survivors keep their ids; deleted ids are gone, never reassigned
    assert after == {k: v for k, v in before.items() if not (5 <= k < 10)}
    # a later append starts past the high-water mark
    io.write_table(spark.range(100, 105).select("id").coalesce(1), ns, "d",
                   mode="append")
    final = {
        r["id"]: r["_row_id"]
        for r in io.read_table(ns, "d", with_row_ids=True).collect()
    }
    assert {final[k] for k in range(100, 105)} == set(range(20, 25))


def test_row_ids_survive_manifest_roundtrip_and_branches(spark, io):
    ns = ["rl"]
    io.write_table(spark.range(0, 8).select("id").coalesce(1), ns, "b",
                   mode="append")
    io.create_branch(ns, "b", "audit")
    io.write_table(spark.range(8, 12).select("id").coalesce(1), ns, "b",
                   mode="append")
    # the branch sees the original file with its original range
    branch_ids = sorted(
        r["_row_id"]
        for r in io.read_table(ns, "b", ref="audit", with_row_ids=True).collect()
    )
    assert branch_ids == list(range(8))
    main_ids = sorted(
        r["_row_id"]
        for r in io.read_table(ns, "b", with_row_ids=True).collect()
    )
    assert main_ids == list(range(12))


def test_row_ids_carried_through_compaction(spark, io):
    """V3 carry-through: delete-then-compact preserves surviving rows'
    _row_ids (materialized as a physical _row_id column in the rewritten
    files — ranges can't represent survivors once deletes punch holes),
    and regular reads never surface the carried column."""
    from denali_spark.sources.maintenance import compact_data_files

    ns = ["rl"]
    # several small files so compaction has inputs to bin-pack
    for lo in range(0, 20, 5):
        io.write_table(
            spark.range(lo, lo + 5).select("id").coalesce(1), ns, "c",
            mode="append",
        )
    before = {
        r["id"]: r["_row_id"]
        for r in io.read_table(ns, "c", with_row_ids=True).collect()
    }
    assert sorted(before.values()) == list(range(20))
    delete_where_dv(io, ns, "c", E.and_(E.gt_eq("id", 3), E.lt("id", 12)))
    survivors = {k: v for k, v in before.items() if not (3 <= k < 12)}
    out = compact_data_files(io, ns, "c", min_input_files=2)
    assert not out.get("noop")
    md = io.client.load_table(ns, "c")["metadata"]
    snap = io._resolve_snapshot(md)
    data, deletes = split_entries(read_manifest_list(snap["manifest-list"]))
    assert any(e.get("materialized-lineage") for e in data)
    after = {
        r["id"]: r["_row_id"]
        for r in io.read_table(ns, "c", with_row_ids=True).collect()
    }
    assert after == survivors
    # regular reads do not leak the physical column
    assert "_row_id" not in io.read_table(ns, "c").columns
    # compact AGAIN (materialized inputs re-carried, not re-ranged)
    io.write_table(spark.range(100, 103).select("id").coalesce(1), ns, "c",
                   mode="append")
    compact_data_files(io, ns, "c", min_input_files=2)
    final = {
        r["id"]: r["_row_id"]
        for r in io.read_table(ns, "c", with_row_ids=True).collect()
    }
    assert {k: v for k, v in final.items() if k in survivors} == survivors
