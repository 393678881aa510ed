"""Merge-on-read delete tests: position deletes, equality deletes, the
no-rewrite property, sequence ordering, interop with copy-on-write ops,
compaction folding, and delete materialization."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.sources import (
    SparkCatalogIO,
    add_column,
    compact_data_files,
    delete_where_mor,
    equality_delete,
    rename_column,
    rewrite_deletes,
    update_where,
)
from denali_spark.sources import expressions as E
from denali_spark.sources.catalog_io import split_entries
from denali_spark.sources.manifests import read_manifest_list


@pytest.fixture()
def io(spark, tmp_path):
    server = CatalogServer(make_state(str(tmp_path / "wh"))).start()
    yield SparkCatalogIO(spark, server.uri)
    server.stop()


def _chunked_table(spark, io, ns="mor", name="t", n_chunks=4, rows=25):
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


def test_position_delete_no_rewrite(spark, io):
    ns, name = _chunked_table(spark, io)
    before_data = {e["path"] for e in _entries(io, ns, name)}

    delete_where_mor(io, ns, name, E.and_(E.gt_eq("id", 10), E.lt("id", 15)))

    data, deletes = split_entries(_entries(io, ns, name))
    # every data file carried by reference; exactly one position-delete added
    assert {e["path"] for e in data} == before_data
    assert [e["content"] for e in deletes] == ["position-deletes"]
    assert sum(e["record-count"] for e in deletes) == 5

    ids = sorted(r["id"] for r in io.read_table(ns, name).collect())
    assert ids == [i for i in range(100) if not (10 <= i < 15)]


def test_position_delete_stacks_and_time_travel(spark, io):
    ns, name = _chunked_table(spark, io)
    md0 = io.client.load_table(ns, name)["metadata"]
    snap0 = md0["current-snapshot-id"]

    delete_where_mor(io, ns, name, E.eq("id", 7))
    delete_where_mor(io, ns, name, E.in_("id", [8, 9, 7]))  # 7 already gone

    data, deletes = split_entries(_entries(io, ns, name))
    assert len(deletes) == 2
    # second delete skipped the already-deleted row 7
    assert sum(e["record-count"] for e in deletes) == 3

    ids = {r["id"] for r in io.read_table(ns, name).collect()}
    assert ids == set(range(100)) - {7, 8, 9}
    # the pre-delete snapshot still sees every row
    old = io.read_table(ns, name, snapshot_id=snap0)
    assert old.count() == 100


def test_position_delete_null_predicate_semantics(spark, io):
    ns = ["mor"]
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id int, v int"
    ).coalesce(1)
    io.write_table(df, ns, "nulls")
    # DELETE WHERE v > 15: NULL predicate rows must SURVIVE
    delete_where_mor(io, ns, "nulls", E.gt("v", 15))
    rows = {r["id"] for r in io.read_table(ns, "nulls").collect()}
    assert rows == {1, 2}


def test_equality_delete_respects_sequence(spark, io):
    ns = ["mor"]
    batch1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, s string"
    ).coalesce(1)
    io.write_table(batch1, ns, "eq")
    # delete keys 2,3 WITHOUT reading data
    keys = spark.createDataFrame([(2,), (3,)], "k int")
    equality_delete(io, ns, "eq", keys, on=["k"])
    # re-insert key 3 AFTER the delete — must survive (higher sequence)
    batch2 = spark.createDataFrame([(3, "c2"), (4, "d")], "k int, s string").coalesce(1)
    io.write_table(batch2, ns, "eq")

    rows = {(r["k"], r["s"]) for r in io.read_table(ns, "eq").collect()}
    assert rows == {(1, "a"), (3, "c2"), (4, "d")}

    data, deletes = split_entries(_entries(io, ns, "eq"))
    assert [e["content"] for e in deletes] == ["equality-deletes"]
    assert deletes[0]["equality-columns"] == ["k"]
    # ordering bookkeeping: batch2's files are newer than the delete
    dseq = deletes[0]["sequence-number"]
    assert any(e["sequence-number"] > dseq for e in data)
    assert any(e["sequence-number"] < dseq for e in data)


def test_equality_delete_multi_column_and_nulls(spark, io):
    ns = ["mor"]
    df = spark.createDataFrame(
        [(1, "x", 10), (1, "y", 20), (2, "x", 30), (2, None, 40)],
        "a int, b string, v int",
    ).coalesce(1)
    io.write_table(df, ns, "eq2")
    keys = spark.createDataFrame([(1, "y"), (2, None)], "a int, b string")
    equality_delete(io, ns, "eq2", keys, on=["a", "b"])
    rows = {r["v"] for r in io.read_table(ns, "eq2").collect()}
    # (1,y) gone; (2,NULL) gone — equality deletes match null to null
    assert rows == {10, 30}


def test_cow_update_does_not_resurrect_mor_deletes(spark, io):
    ns, name = _chunked_table(spark, io)
    delete_where_mor(io, ns, name, E.lt("id", 5))
    # copy-on-write UPDATE touching the same file the deletes point at
    update_where(io, ns, name, E.lt("id", 20), {"v": "v + 1000"})
    out = {r["id"]: r["v"] for r in io.read_table(ns, name).collect()}
    assert set(out) == set(range(5, 100))
    assert out[5] == 1010 and out[19] == 1038 and out[20] == 40


def test_rewrite_deletes_materializes(spark, io):
    ns, name = _chunked_table(spark, io)
    delete_where_mor(io, ns, name, E.lt("id", 3))
    keys = spark.createDataFrame([(50,), (51,)], "id long")
    equality_delete(io, ns, name, keys, on=["id"])

    expect = sorted(set(range(100)) - {0, 1, 2, 50, 51})
    res = rewrite_deletes(io, ns, name)
    assert "noop" not in res
    data, deletes = split_entries(_entries(io, ns, name))
    assert deletes == []  # all delete entries gone
    assert sorted(r["id"] for r in io.read_table(ns, name).collect()) == expect
    # files no delete could touch were carried by reference:
    # chunk [25,50) and [75,100) never matched either delete
    kept_ranges = [e for e in data if e.get("stats", {}).get("id", {}).get("min") in (25, 75)]
    assert len(kept_ranges) == 2
    summary = io._resolve_snapshot(io.client.load_table(ns, name)["metadata"])["summary"]
    assert summary["removed-delete-files"] == "2"
    assert summary["rewritten-data-files"] == "2"


def test_compaction_folds_deletes(spark, io):
    ns, name = _chunked_table(spark, io)
    delete_where_mor(io, ns, name, E.in_("id", [0, 30, 60, 90]))
    compact_data_files(io, ns, name, target_file_size_bytes=10 * 1024 * 1024)
    data, deletes = split_entries(_entries(io, ns, name))
    assert len(data) == 1  # all four small files packed into one
    ids = sorted(r["id"] for r in io.read_table(ns, name).collect())
    assert ids == sorted(set(range(100)) - {0, 30, 60, 90})


def test_mor_after_schema_evolution(spark, io):
    ns = ["mor"]
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id int, s string").coalesce(1)
    io.write_table(df, ns, "evo")
    rename_column(io, ns, "evo", "s", "label")
    add_column(io, ns, "evo", "score", "double")
    # delete by the RENAMED column name over files written pre-rename
    delete_where_mor(io, ns, "evo", E.eq("label", "b"))
    rows = io.read_table(ns, "evo").collect()
    assert {(r["id"], r["label"], r["score"]) for r in rows} == {
        (1, "a", None), (3, "c", None)
    }


def test_rewrite_deletes_null_keyed_equality_stays_deleted(spark, io):
    """Regression: a NULL-keyed equality delete's footer ranges can't bound
    the match, so rewrite_deletes must NOT range-prune the data files whose
    only matching rows are NULL — otherwise dropping the delete entries
    resurrects those rows."""
    ns, name = ["mor"], "nullkey"
    df = spark.createDataFrame(
        [(1, 100), (2, None), (3, 300)], "id long, k long"
    ).coalesce(1)
    io.write_table(df, ns, name, mode="append")
    keys = spark.createDataFrame([(None,)], "k long")
    equality_delete(io, ns, name, keys, on=["k"])
    assert io.read_table(ns, name).count() == 2  # MoR read drops the NULL row

    rewrite_deletes(io, ns, name)
    rows = sorted(r.id for r in io.read_table(ns, name).collect())
    assert rows == [1, 3]  # still deleted after materialization
    _data, deletes = split_entries(_entries(io, ns, name))
    assert deletes == []


# --- r16: compaction prunes dead delete entries, carries live ones ----------


def test_compaction_drops_dead_delete_entries(spark, io):
    ns, name = _chunked_table(spark, io, name="dead")
    delete_where_mor(io, ns, name, E.in_("id", [0, 30]))
    compact_data_files(io, ns, name, target_file_size_bytes=10 * 1024 * 1024)
    data, deletes = split_entries(_entries(io, ns, name))
    # every input file was packed and the deletes folded in — the delete
    # entries can never hit a row again (rewritten files carry a newer
    # sequence number) and are dropped, not carried forever
    assert len(data) == 1 and deletes == []
    ids = sorted(r["id"] for r in io.read_table(ns, name).collect())
    assert ids == sorted(set(range(100)) - {0, 30})


def test_partial_compaction_carries_live_delete(spark, io):
    """A where-scoped compaction that leaves a file UNTOUCHED must carry
    an equality delete that still applies to it — dropping it would
    resurrect the row on the next read."""
    ns, name = _chunked_table(spark, io, name="live")
    delete_where_mor(io, ns, name, E.in_("id", [10, 80]))
    # compact ONLY the low-id files; the file holding id=80 stays
    compact_data_files(
        io, ns, name, target_file_size_bytes=10 * 1024 * 1024,
        where="id < 50",
    )
    data, deletes = split_entries(_entries(io, ns, name))
    assert len(data) >= 2  # packed low files + untouched high file(s)
    assert deletes, "the still-applicable delete must be carried"
    ids = sorted(r["id"] for r in io.read_table(ns, name).collect())
    assert ids == sorted(set(range(100)) - {10, 80})


def test_live_delete_entries_unit():
    from denali_spark.sources.maintenance import _live_delete_entries

    old = {"path": "a.parquet", "sequence-number": 1}
    eq_new = {"content": "equality-deletes", "sequence-number": 2}
    eq_old = {"content": "equality-deletes", "sequence-number": 1}
    dv_a = {"content": "position-deletes", "referenced-data-file": "a.parquet"}
    dv_b = {"content": "position-deletes", "referenced-data-file": "b.parquet"}
    pos = {"content": "position-deletes"}  # no per-entry scoping
    # an older surviving data file keeps the newer equality delete live
    assert _live_delete_entries([old], [eq_new]) == [eq_new]
    # same-or-newer survivors only: the equality delete is dead
    assert _live_delete_entries(
        [{"path": "n.parquet", "sequence-number": 3}], [eq_old]) == []
    # DVs live exactly while their referenced file survives
    assert _live_delete_entries([old], [dv_a, dv_b]) == [dv_a]
    # unscoped position deletes are kept while ANY old file survives
    assert _live_delete_entries([old], [pos]) == [pos]
    assert _live_delete_entries([], [pos, dv_a, eq_new]) == []
