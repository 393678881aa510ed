"""Schema evolution end-to-end: add/rename/drop column as metadata-only
commits, field-id-based reads across mixed-schema file sets, time travel
seeing the snapshot's own schema, and row-ops on evolved tables."""

from __future__ import annotations

import pytest

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.sources import SparkCatalogIO, delete_where, update_where
from denali_spark.sources import expressions as E
from denali_spark.sources.schema_evolution import (
    add_column,
    drop_column,
    rename_column,
)
from denali_spark.sources.manifests import read_manifest_list


@pytest.fixture()
def io(spark, tmp_path):
    server = CatalogServer(make_state(str(tmp_path / "wh"))).start()
    yield SparkCatalogIO(spark, server.uri)
    server.stop()


def _seed(spark, io, ns=("se",), name="t"):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id long, label string, v double"
    ).coalesce(1)
    io.write_table(df, list(ns), name)
    return list(ns), name


def test_add_column_backfills_null(spark, io):
    ns, name = _seed(spark, io)
    add_column(io, ns, name, "score", "double")
    got = io.read_table(ns, name)
    assert got.columns == ["id", "label", "v", "score"]
    assert all(r.score is None for r in got.collect())
    # New writes carry the column; old files still read as NULL.
    df2 = spark.createDataFrame([(3, "c", 30.0, 0.5)], got.schema).coalesce(1)
    io.write_table(df2, ns, name, mode="append")
    rows = {r.id: r.score for r in io.read_table(ns, name).collect()}
    assert rows == {1: None, 2: None, 3: 0.5}


def test_rename_column_is_metadata_only(spark, io):
    ns, name = _seed(spark, io)
    before = {
        e["path"]
        for e in read_manifest_list(
            io._resolve_snapshot(io.client.load_table(ns, name)["metadata"])[
                "manifest-list"
            ]
        )
    }
    rename_column(io, ns, name, "v", "value")
    md = io.client.load_table(ns, name)["metadata"]
    after = {
        e["path"]
        for e in read_manifest_list(io._resolve_snapshot(md)["manifest-list"])
    }
    assert before == after  # zero files rewritten
    got = io.read_table(ns, name)
    assert "value" in got.columns and "v" not in got.columns
    assert sorted(r.value for r in got.collect()) == [10.0, 20.0]
    # Field id survived the rename.
    schemas = md["schemas"]
    old_f = next(f for f in schemas[0]["fields"] if f["name"] == "v")
    new_f = next(f for f in schemas[-1]["fields"] if f["name"] == "value")
    assert old_f["id"] == new_f["id"]


def test_drop_column_projected_away_but_time_travel_sees_it(spark, io):
    ns, name = _seed(spark, io)
    md0 = io.client.load_table(ns, name)["metadata"]
    snap0 = md0["current-snapshot-id"]
    drop_column(io, ns, name, "label")
    got = io.read_table(ns, name)
    assert got.columns == ["id", "v"]
    # Time travel to the pre-drop snapshot reads the old schema.
    old = io.read_table(ns, name, snapshot_id=snap0)
    assert old.columns == ["id", "label", "v"]
    assert sorted(r.label for r in old.collect()) == ["a", "b"]


def test_mixed_schema_appends_then_rename(spark, io):
    """Files written under 3 different schemas are all readable under the
    latest one, mapped by field id."""
    ns, name = _seed(spark, io)
    add_column(io, ns, name, "score", "long")
    cur = io.read_table(ns, name)
    io.write_table(
        spark.createDataFrame([(3, "c", 30.0, 7)], cur.schema).coalesce(1),
        ns, name, mode="append",
    )
    rename_column(io, ns, name, "score", "points")
    io.write_table(
        spark.createDataFrame(
            [(4, "d", 40.0, 9)], "id long, label string, v double, points long"
        ).coalesce(1),
        ns, name, mode="append",
    )
    got = {r.id: r.points for r in io.read_table(ns, name).collect()}
    assert got == {1: None, 2: None, 3: 7, 4: 9}


def test_row_ops_on_evolved_table(spark, io):
    """DELETE/UPDATE against a renamed column rewrite files into the
    CURRENT schema."""
    ns, name = _seed(spark, io)
    rename_column(io, ns, name, "v", "value")
    update_where(io, ns, name, E.eq("id", 1), {"value": "value + 5"})
    got = {r.id: r.value for r in io.read_table(ns, name).collect()}
    assert got == {1: 15.0, 2: 20.0}
    delete_where(io, ns, name, E.gt("value", 18.0))
    assert [r.id for r in io.read_table(ns, name).collect()] == [1]


def test_evolution_errors(spark, io):
    ns, name = _seed(spark, io)
    with pytest.raises(ValueError, match="already exists"):
        add_column(io, ns, name, "id", "long")
    with pytest.raises(ValueError, match="not found"):
        rename_column(io, ns, name, "zzz", "yyy")
    with pytest.raises(ValueError, match="not found"):
        drop_column(io, ns, name, "zzz")
