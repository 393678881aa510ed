"""Clustered rewrite (sort / Z-order) tests: after rewrite_clustered, the
per-file min/max stats the expression pruner consumes become selective —
the point of Iceberg's rewrite_data_files sort/zorder strategies."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.sources import (
    SparkCatalogIO,
    equality_delete,
    rewrite_clustered,
)
from denali_spark.sources import expressions as E
from denali_spark.sources.catalog_io import split_entries
from denali_spark.sources.expressions import file_might_match
from denali_spark.sources.manifests import read_manifest_list


@pytest.fixture()
def io(spark, tmp_path):
    server = CatalogServer(make_state(str(tmp_path / "wh"))).start()
    yield SparkCatalogIO(spark, server.uri)
    server.stop()


def _grid_table(spark, io, ns="rw", name="grid", n=4096, chunks=8):
    """4096 rows over an (a, b) grid, appended in hash-shuffled chunks so
    every file's min/max spans nearly the full range of both columns —
    the worst layout for pruning."""
    df = spark.range(0, n).select(
        F.col("id"),
        (F.col("id") / 64).cast("long").alias("a"),
        (F.col("id") % 64).alias("b"),
        ((F.col("id") * 2654435761) % n).alias("shuf"),
    )
    for k in range(chunks):
        chunk = df.where(F.col("shuf") % chunks == k).drop("shuf").coalesce(1)
        io.write_table(chunk, [ns], name, mode="append")
    return [ns], name


def _data_entries(io, ns, name):
    md = io.client.load_table(ns, name)["metadata"]
    snap = io._resolve_snapshot(md)
    return split_entries(read_manifest_list(snap["manifest-list"]))


def _match_fraction(entries, expr):
    hits = sum(1 for e in entries if file_might_match(expr, e.get("stats")))
    return hits / len(entries)


def _target_for(entries, n_files):
    """File-size target that splits the current data into ~n_files."""
    total = sum(e.get("file-size-bytes", 0) for e in entries)
    return max(1, total // n_files)


def test_sort_rewrite_makes_leading_column_selective(spark, io):
    ns, name = _grid_table(spark, io)
    data, _ = _data_entries(io, ns, name)
    assert _match_fraction(data, E.eq("a", 3)) == 1.0  # shuffled: no pruning

    rewrite_clustered(
        io, ns, name, sort_by=["a"], target_file_size_bytes=_target_for(data, 8)
    )
    data, deletes = _data_entries(io, ns, name)
    assert len(data) >= 4  # actually split into several range files
    assert _match_fraction(data, E.eq("a", 3)) <= 2 / len(data)
    # row fidelity
    assert io.read_table(ns, name).count() == 4096


def test_zorder_rewrite_prunes_on_both_dimensions(spark, io):
    ns, name = _grid_table(spark, io)
    data, _ = _data_entries(io, ns, name)
    rewrite_clustered(
        io, ns, name, sort_by=["a", "b"], strategy="zorder",
        target_file_size_bytes=_target_for(data, 16),
    )
    data, _ = _data_entries(io, ns, name)
    assert len(data) >= 8
    fa = _match_fraction(data, E.eq("a", 3))
    fb = _match_fraction(data, E.eq("b", 3))
    # Morton clustering: a point predicate on EITHER dimension skips most
    # files (a plain sort would leave the trailing column at 1.0).
    assert fa <= 0.5 and fb <= 0.5
    df = io.read_table(ns, name)
    assert df.count() == 4096
    assert df.where("a = 3 and b = 3").count() == 1


def test_rewrite_folds_pending_deletes(spark, io):
    ns, name = _grid_table(spark, io, name="fold")
    keys = spark.createDataFrame([(7,), (8,)], "id long")
    equality_delete(io, ns, name, keys, on=["id"])
    _, deletes = _data_entries(io, ns, name)
    assert deletes  # MoR delete pending before the rewrite

    data, _ = _data_entries(io, ns, name)
    rewrite_clustered(
        io, ns, name, sort_by=["id"], target_file_size_bytes=_target_for(data, 4)
    )
    data, deletes = _data_entries(io, ns, name)
    assert deletes == []  # materialized into the rewritten files
    assert io.read_table(ns, name).count() == 4094
    assert io.read_table(ns, name).where("id in (7, 8)").count() == 0


def test_sort_rewrite_keeps_partition_layout(spark, io):
    df = spark.range(0, 400).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("grp"),
        (F.col("id") * 37 % 400).alias("v"),
    )
    io.write_table(df, ["rw"], "pt", mode="overwrite", partition_by=["grp"])
    rewrite_clustered(io, ["rw"], "pt", sort_by=["v"])
    data, _ = _data_entries(io, ["rw"], "pt")
    assert all(e.get("partition") for e in data)  # layout preserved
    assert io.read_table(["rw"], "pt").count() == 400

    with pytest.raises(NotImplementedError):
        rewrite_clustered(io, ["rw"], "pt", sort_by=["v", "id"], strategy="zorder")


def test_rewrite_rejects_bad_args(spark, io):
    ns, name = _grid_table(spark, io, name="bad", n=128, chunks=2)
    with pytest.raises(ValueError):
        rewrite_clustered(io, ns, name, sort_by=["a"], strategy="cluster")
    with pytest.raises(ValueError):
        rewrite_clustered(io, ns, name, sort_by=[])


def test_zorder_rewrite_folds_deletion_vectors(spark, io):
    """Clustered rewrite folds V3 deletion vectors like any other pending
    MoR delete: rows gone, vectors dropped, clean clustered files remain."""
    from denali_spark.sources import delete_where_dv
    from denali_spark.sources import expressions as E
    from denali_spark.sources.catalog_io import split_entries

    ns = ["zdv"]
    for k in range(3):
        io.write_table(
            spark.range(k * 100, (k + 1) * 100).select(
                "id", (F.col("id") % 9).alias("a"), (F.col("id") % 7).alias("b")
            ).coalesce(1),
            ns, "t", mode="append",
        )
    delete_where_dv(io, ns, "t", E.lt("id", 30))
    rewrite_clustered(io, ns, "t", sort_by=["a", "b"], strategy="zorder",
                      target_file_size_bytes=4096)
    md = io.client.load_table(ns, "t")["metadata"]
    snap = io._resolve_snapshot(md)
    _data, deletes = split_entries(read_manifest_list(snap["manifest-list"]))
    assert deletes == []
    got = sorted(r["id"] for r in io.read_table(ns, "t").collect())
    assert got == list(range(30, 300))
