"""Per-file bloom-filter pruning: the point-predicate index for columns
min/max stats cannot prune (high-cardinality identifiers)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.sources import SparkCatalogIO, analyze_table
from denali_spark.sources import expressions as E
from denali_spark.sources.bloom import (
    bloom_might_contain,
    bloom_params,
    build_bloom,
    conjunctive_eqs,
)
from denali_spark.sources.manifests import read_manifest_list


# --- kernel level -----------------------------------------------------------


def test_bloom_no_false_negatives_and_low_fpp():
    vals = [f"user-{i:06d}" for i in range(5000)]
    blob = build_bloom(vals, fpp=0.01)
    assert all(bloom_might_contain(blob, v) for v in vals)  # soundness
    fp = sum(
        bloom_might_contain(blob, f"absent-{i}") for i in range(10000)
    )
    assert fp < 300  # ~1% target, 3x headroom


def test_bloom_params_scale():
    m1, _ = bloom_params(100)
    m2, _ = bloom_params(10000)
    assert m2 > m1 and m1 % 8 == 0 and m2 % 8 == 0


def test_conjunctive_eq_extraction():
    e = E.and_(E.eq("a", 1), E.and_(E.gt("b", 5), E.eq("c", "x")))
    assert sorted(conjunctive_eqs(e)) == [("a", [1]), ("c", ["x"])]
    # eq under OR must NOT be extracted
    assert conjunctive_eqs(E.or_(E.eq("a", 1), E.eq("c", "x"))) == []
    assert conjunctive_eqs(None) == []
    # IN-lists extract their non-null members (NULL matches no row)
    assert conjunctive_eqs(E.in_("a", [1, 2, None])) == [("a", [1, 2])]
    assert conjunctive_eqs(E.in_("a", [None])) == []


# --- table level ------------------------------------------------------------


@pytest.fixture()
def io(spark, tmp_path):
    server = CatalogServer(make_state(str(tmp_path / "wh"))).start()
    yield SparkCatalogIO(spark, server.uri)
    server.stop()


def _uuid_table(spark, io, ns, name, n_files=6, rows=500):
    """High-cardinality string keys interleaved across files, so min/max
    ranges overlap completely and stats pruning is useless."""
    for k in range(n_files):
        df = spark.range(k, n_files * rows, n_files).select(
            F.md5(F.col("id").cast("string")).alias("key"),
            F.col("id").alias("v"),
        ).coalesce(1)
        io.write_table(df, ns, name, mode="append")


def test_bloom_prunes_point_lookup_to_one_file(spark, io):
    ns = ["bl"]
    _uuid_table(spark, io, ns, "t")
    res = analyze_table(io, ns, "t", columns=["key"], bloom_columns=["key"])
    assert res["row-count"] == 3000

    probe = spark.sql("SELECT md5(CAST(17 AS STRING)) AS h").collect()[0]["h"]
    df = io.read_table(ns, "t", where=E.eq("key", probe))
    files = {f for f in df.inputFiles() if f.endswith(".parquet")}
    assert len(files) <= 2  # 6 without blooms; ~1 + rare false positives
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["v"] == 17

    # soundness: every present key must be found despite pruning
    for vid in (0, 999, 2500):
        h = spark.sql(f"SELECT md5(CAST({vid} AS STRING)) AS h").collect()[0]["h"]
        assert io.read_table(ns, "t", where=E.eq("key", h)).count() == 1


def test_bloom_index_goes_stale_conservatively(spark, io):
    """After a new commit the snapshot changes: blooms no longer apply (no
    pruning), but results stay correct."""
    ns = ["bl2"]
    _uuid_table(spark, io, ns, "t", n_files=3)
    analyze_table(io, ns, "t", columns=["key"], bloom_columns=["key"])
    io.write_table(
        spark.range(0, 5).select(
            F.lit("brand-new-key").alias("key"), F.col("id").alias("v")
        ).coalesce(1),
        ns, "t", mode="append",
    )
    df = io.read_table(ns, "t", where=E.eq("key", "brand-new-key"))
    assert df.count() == 5  # would be 0 if the stale bloom index applied


def test_bloom_rejects_unbloomable_columns(spark, io):
    ns = ["bl3"]
    io.write_table(
        spark.range(0, 10).select("id", (F.col("id") * 0.5).alias("d")),
        ns, "t", mode="overwrite",
    )
    with pytest.raises(ValueError, match="int/long/string"):
        analyze_table(io, ns, "t", bloom_columns=["d"])


def test_bloom_ignored_under_or_predicates(spark, io):
    ns = ["bl4"]
    _uuid_table(spark, io, ns, "t", n_files=3)
    analyze_table(io, ns, "t", columns=["key"], bloom_columns=["key"])
    h0 = spark.sql("SELECT md5('0') AS h").collect()[0]["h"]
    df = io.read_table(
        ns, "t", where=E.or_(E.eq("key", h0), E.eq("key", "nope"))
    )
    # OR disables bloom pruning entirely — all files scanned, result exact
    assert df.count() == 1


def test_bloom_prunes_in_list(spark, io):
    """IN-list pruning: a file survives if ANY member might be present."""
    ns = ["bl5"]
    _uuid_table(spark, io, ns, "t")
    analyze_table(io, ns, "t", columns=["key"], bloom_columns=["key"])
    h = [
        spark.sql(f"SELECT md5(CAST({i} AS STRING)) AS h").collect()[0]["h"]
        for i in (17, 18)  # adjacent ids land in DIFFERENT interleaved files
    ]
    df = io.read_table(ns, "t", where=E.in_("key", h))
    files = {f for f in df.inputFiles() if f.endswith(".parquet")}
    assert len(files) <= 3  # ~2 of 6 plus rare false positives
    assert sorted(r["v"] for r in df.collect()) == [17, 18]


def test_expire_trims_statistics_and_reclaims_files(spark, io):
    """Expiring a snapshot drops its statistics entry server-side and the
    client reclaims the Puffin file; the current snapshot's stats stay."""
    import os

    from denali_spark.sources import expire_snapshots

    ns = ["blx"]
    io.write_table(
        spark.range(0, 20).select("id", (F.col("id") % 3).alias("k")),
        ns, "t", mode="overwrite",
    )
    r1 = analyze_table(io, ns, "t", columns=["id"])
    io.write_table(
        spark.range(20, 30).select("id", (F.col("id") % 3).alias("k")),
        ns, "t", mode="append",
    )
    r2 = analyze_table(io, ns, "t", columns=["id"])
    assert os.path.exists(r1["path"]) and os.path.exists(r2["path"])

    expire_snapshots(io, ns, "t", keep_last=1)
    md = io.client.load_table(ns, "t")["metadata"]
    sids = {s["snapshot-id"] for s in md.get("statistics", [])}
    assert sids == {r2["snapshot-id"]}  # expired snapshot's entry dropped
    assert not os.path.exists(r1["path"])  # file reclaimed
    assert os.path.exists(r2["path"])  # live stats untouched


def test_partition_statistics_roundtrip(spark, io):
    from denali_spark.sources import analyze_partitions, partition_statistics

    ns = ["pst"]
    df = spark.range(0, 90).select("id", (F.col("id") % 3).cast("int").alias("k"))
    io.write_table(df, ns, "t", mode="overwrite", partition_by=[("k", "identity")])
    entry = analyze_partitions(io, ns, "t")
    assert entry["file-size-in-bytes"] > 0

    stats = partition_statistics(io, ns, "t")
    rows = {tuple(sorted(r["partition"].items())): r for r in stats.collect()}
    assert len(rows) == 3
    for r in rows.values():
        assert r["record_count"] == 30 and r["delete_file_count"] == 0
    # registered in table metadata for the current snapshot
    md = io.client.load_table(ns, "t")["metadata"]
    sid = md["refs"]["main"]["snapshot-id"]
    assert any(
        s["snapshot-id"] == sid for s in md.get("partition-statistics", [])
    )


def test_run_maintenance_pipeline(spark, io):
    from denali_spark.sources import delete_where_dv, run_maintenance
    from denali_spark.sources.catalog_io import split_entries

    ns = ["rm"]
    for k in range(4):
        io.write_table(
            spark.range(k * 25, (k + 1) * 25).select("id").coalesce(1),
            ns, "t", mode="append",
        )
    delete_where_dv(io, ns, "t", E.lt("id", 10))
    report = run_maintenance(
        io, ns, "t", keep_last=1, analyze_columns=["id"]
    )
    assert report["rewrite_deletes"] == "done"
    assert report["compact_data_files"] == "done"
    assert report["expire_snapshots"] == "done"
    assert report["analyze_table"] == "90 rows analyzed"
    md = io.client.load_table(ns, "t")["metadata"]
    assert len(md["snapshots"]) == 1
    snap = io._resolve_snapshot(md)
    data, deletes = split_entries(read_manifest_list(snap["manifest-list"]))
    assert deletes == [] and len(data) == 1  # folded + compacted
    assert io.read_table(ns, "t").count() == 90


def test_bloom_sound_on_nullable_int_column(spark, io):
    """Regression: a NULL in an int64 column coerced pandas to float64 and
    rendered values as '17.0', producing false NEGATIVES (wrongly pruned
    files). Values must stay findable with NULLs present."""
    ns = ["bln"]
    df = spark.range(0, 300).select(
        F.when(F.col("id") % 50 == 0, None).otherwise(F.col("id")).alias("uid"),
        F.col("id").alias("v"),
    )
    for k in range(3):
        io.write_table(df.where(F.col("v") % 3 == k).coalesce(1), ns, "t",
                       mode="append")
    analyze_table(io, ns, "t", columns=["uid"], bloom_columns=["uid"])
    for probe in (17, 101, 299):
        got = io.read_table(ns, "t", where=E.eq("uid", probe)).collect()
        assert len(got) == 1 and got[0]["v"] == probe, probe


def test_bloom_matches_by_field_id_after_rename(spark, io):
    """Blobs are matched to predicates by FIELD ID, not column name: after
    a metadata-only commit that swaps two column names (snapshot id — and
    hence the statistics registration — unchanged), a probe on the reused
    name must consult the filter of the column that NOW carries that name
    (same field id as before the swap held the other name), not the stale
    name->blob mapping. A name-keyed lookup silently drops matching rows
    here; the field-id lookup keeps the scan correct."""
    ns = ["blr"]
    for k in range(4):
        df = spark.range(k * 100, (k + 1) * 100).select(
            F.md5(F.col("id").cast("string")).alias("a"),
            F.md5((F.col("id") + 1000000).cast("string")).alias("b"),
        ).coalesce(1)
        io.write_table(df, ns, "t", mode="append")
    analyze_table(io, ns, "t", columns=["a", "b"], bloom_columns=["a", "b"])

    # the value we'll look up lives in file 2's ORIGINAL column b
    probe = spark.sql(
        "SELECT md5(CAST(1000250 AS STRING)) AS h"
    ).collect()[0]["h"]

    md = io.client.load_table(ns, "t")["metadata"]
    cur = next(
        s for s in md["schemas"] if s["schema-id"] == md["current-schema-id"]
    )
    swapped = {
        "type": "struct",
        "schema-id": max(s["schema-id"] for s in md["schemas"]) + 1,
        "fields": [
            {**f, "name": {"a": "b", "b": "a"}[f["name"]]}
            for f in cur["fields"]
        ],
    }
    io.client.commit_table(
        ns, "t",
        requirements=[{"type": "assert-table-uuid", "uuid": md["table-uuid"]}],
        updates=[
            {"action": "add-schema", "schema": swapped},
            {"action": "set-current-schema", "schema-id": -1},
        ],
    )

    # post-swap, the value is under the NAME "a" (field id of original b)
    rows = io.read_table(ns, "t", where=E.eq("a", probe)).collect()
    assert len(rows) == 1 and rows[0]["a"] == probe


def test_incremental_analyze_merges_sketches_and_reuses_blooms(spark, io):
    """append → incremental analyze: NDV from the merged HLL sketches
    equals a full recompute, row/null counts add, bloom blobs exist for
    the new files WITHOUT rebuilding the old files' (their sidecar paths
    and offsets carry over bit-identical)."""
    from denali_spark.sources import analyze_table_incremental, table_statistics
    from denali_spark.sources.bloom import BLOOM_BLOB_TYPE

    ns = ["inc"]
    _uuid_table(spark, io, ns, "t", n_files=3, rows=200)
    analyze_table(io, ns, "t", columns=["key", "v"], bloom_columns=["key"])
    md1 = io.client.load_table(ns, "t")["metadata"]
    stat1 = next(
        s for s in md1["statistics"]
        if s["snapshot-id"] == md1["refs"]["main"]["snapshot-id"]
    )
    old_blooms = {
        (b["properties"]["file"], b["properties"]["path"], b["offset"])
        for b in stat1["blob-metadata"] if b.get("type") == BLOOM_BLOB_TYPE
    }
    assert len(old_blooms) == 3

    # two appends with overlapping + new keys
    for k in range(2):
        df = spark.range(600 + k * 100, 700 + k * 100).select(
            F.md5((F.col("id") % 650).cast("string")).alias("key"),
            F.col("id").alias("v"),
        ).coalesce(1)
        io.write_table(df, ns, "t", mode="append")

    res = analyze_table_incremental(io, ns, "t")
    assert res["mode"] == "incremental" and res["new-files"] == 2
    assert res["row-count"] == 3 * 200 + 200

    # the registered blob list = old bloom entries CARRIED (same sidecar
    # path + offset, no rebuild) + blooms for the 2 new files
    md2 = io.client.load_table(ns, "t")["metadata"]
    stat2 = next(
        s for s in md2["statistics"]
        if s["snapshot-id"] == md2["refs"]["main"]["snapshot-id"]
    )
    blooms2 = {
        (b["properties"]["file"], b["properties"]["path"], b["offset"])
        for b in stat2["blob-metadata"] if b.get("type") == BLOOM_BLOB_TYPE
    }
    assert old_blooms <= blooms2 and len(blooms2) == 5
    # and the probe path still prunes through the carried + new filters
    probe = spark.sql("SELECT md5(CAST(17 AS STRING)) AS h").collect()[0]["h"]
    assert io.read_table(ns, "t", where=E.eq("key", probe)).count() >= 1

    # NDV matches a full recompute (union-merged sketches carry the same
    # accuracy class; the union operator's estimate can differ from a
    # single-pass sketch by a hair — observed 802 vs 803 on n=800 — so
    # compare within 1%, far tighter than HLL's own error bound)
    full = analyze_table(io, ns, "t", columns=["key", "v"])
    for c in ("key", "v"):
        a, b = res["ndv"][c], full["ndv"][c]
        assert abs(a - b) <= max(1, b // 100), (c, a, b)

    # statistics read-back proves the merged sketches are genuine
    stats = table_statistics(io, ns, "t")
    assert stats["row-count"] == 800

    # unchanged table: incremental is a no-op
    again = analyze_table_incremental(io, ns, "t")
    assert again.get("noop") is True
