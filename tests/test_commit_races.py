"""Concurrent-writer commit races at the Iceberg semantic level.

The optimistic-concurrency story (SURVEY §3.2; reference: the catalog's
assert-ref-snapshot-id CAS, `logic/updates.go` requirement checks) is only
sound if a writer that LOSES the race re-plans from the fresh snapshot —
replaying a stale file list would drop the winner's changes (lost update).

These tests force the exact interleave: writer B's commit lands between
writer A's plan and A's commit on the SAME files. The injection wraps A's
client.commit_table so A's FIRST commit attempt runs B's full operation
before posting — A's CAS then fails with 409, `row_ops._retrying` re-plans,
and the second attempt must see B's changes (in particular, a copy-on-write
rewrite must not resurrect rows B's merge-on-read delete removed).

Every final state is checked against SERIAL execution of the same two ops
in BOTH orders on twin tables — the op pairs are chosen to commute, so one
expected state covers any serialization the CAS could produce.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.sources import (
    SparkCatalogIO,
    delete_where,
    equality_delete,
    update_where,
)
from denali_spark.sources import expressions as E
from denali_spark.sources.manifests import read_manifest_list


@pytest.fixture()
def server(tmp_path):
    s = CatalogServer(make_state(str(tmp_path / "wh"))).start()
    yield s
    s.stop()


@pytest.fixture()
def io_a(spark, server):
    return SparkCatalogIO(spark, server.uri)


@pytest.fixture()
def io_b(spark, server):
    return SparkCatalogIO(spark, server.uri)


def _seed(spark, io, name):
    df = spark.range(0, 100).select(
        "id", (F.col("id") * 10).alias("v")
    ).coalesce(1)  # ONE data file: both writers must touch the same file
    io.write_table(df, ["race"], name, mode="append")


def _interleave(io_a, b_op):
    """Arm io_a so its NEXT commit_table call first runs b_op() (writer B
    committing through its own client), then posts A's original — stale —
    commit. Returns a dict that records how many commit attempts A made."""
    real = io_a.client.commit_table
    stats = {"attempts": 0}

    def hooked(levels, name, requirements, updates):
        stats["attempts"] += 1
        if stats["attempts"] == 1:
            b_op()  # B wins the race; A's parent snapshot is now stale
        return real(levels, name, requirements, updates)

    io_a.client.commit_table = hooked
    return stats


def _rows(io, name):
    return {(r.id, r.v) for r in io.read_table(["race"], name).collect()}


def _serial_state(spark, io, name, first, second):
    _seed(spark, io, name)
    first(name)
    second(name)
    return _rows(io, name)


def test_mor_delete_lands_mid_cow_delete(spark, io_a, io_b):
    """B's equality delete (ids 5 and 15) commits between A's CoW DELETE
    (id < 10) plan and commit. A must re-plan and carry B's delete file:
    id=15 stays deleted even though A's rewrite touches its file."""
    _seed(spark, io_a, "t1")
    a_op = lambda n: delete_where(io_a, ["race"], n, E.lt("id", 10))
    b_keys = spark.createDataFrame([(5,), (15,)], "id long")
    b_op = lambda n: equality_delete(io_b, ["race"], n, b_keys, on=["id"])

    stats = _interleave(io_a, lambda: b_op("t1"))
    a_op("t1")
    assert stats["attempts"] == 2  # first CAS lost, re-planned once
    got = _rows(io_a, "t1")

    assert got == _serial_state(spark, io_b, "t1_ab", a_op, b_op)
    assert got == _serial_state(spark, io_b, "t1_ba", b_op, a_op)
    assert {i for i, _v in got} == set(range(10, 100)) - {15}


def test_cow_update_vs_mor_delete_commutes(spark, io_a, io_b):
    """B's equality delete (ids 20 and 70) lands mid-flight in A's CoW
    UPDATE (v += 1000 where id < 50). The pair commutes: deleted rows are
    gone whether or not the update touched them first."""
    _seed(spark, io_a, "t2")
    a_op = lambda n: update_where(
        io_a, ["race"], n, E.lt("id", 50), {"v": "v + 1000"}
    )
    b_keys = spark.createDataFrame([(20,), (70,)], "id long")
    b_op = lambda n: equality_delete(io_b, ["race"], n, b_keys, on=["id"])

    stats = _interleave(io_a, lambda: b_op("t2"))
    a_op("t2")
    assert stats["attempts"] == 2
    got = _rows(io_a, "t2")

    assert got == _serial_state(spark, io_b, "t2_ab", a_op, b_op)
    assert got == _serial_state(spark, io_b, "t2_ba", b_op, a_op)
    assert (20, 1200) not in got and (20, 200) not in got
    assert (5, 1050) in got and (60, 600) in got


def test_two_cow_deletes_on_disjoint_predicates(spark, io_a, io_b):
    """Both writers rewrite the SAME single data file with copy-on-write
    deletes over disjoint predicates. The loser's re-plan must read the
    winner's rewritten file — replaying its stale plan would resurrect
    the winner's deleted rows."""
    _seed(spark, io_a, "t3")
    a_op = lambda n: delete_where(io_a, ["race"], n, E.lt("id", 10))
    b_op = lambda n: delete_where(io_b, ["race"], n, E.gt_eq("id", 90))

    stats = _interleave(io_a, lambda: b_op("t3"))
    a_op("t3")
    assert stats["attempts"] == 2
    got = _rows(io_a, "t3")

    assert got == _serial_state(spark, io_b, "t3_ab", a_op, b_op)
    assert got == _serial_state(spark, io_b, "t3_ba", b_op, a_op)
    assert {i for i, _v in got} == set(range(10, 90))


def test_mor_delete_races_mor_delete(spark, io_a, io_b):
    """Two merge-on-read equality deletes race: both are pure delete-file
    appends, so the loser's retry just re-parents — and BOTH key sets
    must be dead afterward."""
    _seed(spark, io_a, "t4")
    a_keys = spark.createDataFrame([(1,), (2,)], "id long")
    b_keys = spark.createDataFrame([(2,), (3,)], "id long")
    a_op = lambda n: equality_delete(io_a, ["race"], n, a_keys, on=["id"])
    b_op = lambda n: equality_delete(io_b, ["race"], n, b_keys, on=["id"])

    stats = _interleave(io_a, lambda: b_op("t4"))
    a_op("t4")
    assert stats["attempts"] == 2
    got = _rows(io_a, "t4")

    assert got == _serial_state(spark, io_b, "t4_ab", a_op, b_op)
    assert {i for i, _v in got} == set(range(4, 100)) | {0}


def _ivm_seed(spark, io, name):
    df = spark.range(0, 100).select(
        "id", (F.col("id") % 5).alias("k"),
        (F.col("id").cast("decimal(18,2)") / 4).alias("amount"),
    )
    io.write_table(df.coalesce(1), ["race"], name, mode="append")


def _ivm_append(spark, io, name, lo, hi):
    df = spark.range(lo, hi).select(
        "id", (F.col("id") % 5).alias("k"),
        (F.col("id").cast("decimal(18,2)") / 4).alias("amount"),
    )
    io.write_table(df.coalesce(1), ["race"], name, mode="append")


def test_concurrent_refresh_is_single_maintainer(spark, io_a, io_b):
    """Two refreshers race on one rollup: the CAS loser must fail LOUDLY
    with the single-maintainer error (an IVM refresh is not a blind
    retry — the winner already advanced the watermark, so replaying the
    loser's fold would double-apply the delta), and a subsequent re-run
    against the new state is a clean no-op."""
    from denali_spark.sources import RollupSpec, create_rollup, refresh_rollup

    _ivm_seed(spark, io_a, "f5")
    spec = RollupSpec(
        source_namespace=["race"], source_name="f5",
        target_namespace=["race"], target_name="f5_by_k",
        group_by=["k"],
        sums={"amount_sum": "CAST(amount AS DECIMAL(18,2))"},
    )
    create_rollup(io_a, spec)
    _ivm_append(spark, io_a, "f5", 100, 200)

    stats = _interleave(io_a, lambda: refresh_rollup(io_b, spec))
    with pytest.raises(RuntimeError, match="single-maintainer"):
        refresh_rollup(io_a, spec)
    assert stats["attempts"] == 1
    # the winner's refresh landed in full; re-running is a watermark no-op
    assert refresh_rollup(io_a, spec)["noop"] is True
    got = {(r.k, r.n_rows) for r in
           io_a.read_table(["race"], "f5_by_k").select("k", "n_rows").collect()}
    assert got == {(k, 40) for k in range(5)}


def test_source_append_during_refresh_stays_watermark_pinned(spark, io_a, io_b):
    """A SOURCE append landing mid-refresh must not leak into the running
    refresh (its changelog range and rescans are pinned at the watermark
    snapshot) and must not conflict with it either (the refresh commits
    to the TARGET table). The racing rows belong to the NEXT refresh."""
    from denali_spark.sources import RollupSpec, create_rollup, refresh_rollup

    _ivm_seed(spark, io_a, "f6")
    spec = RollupSpec(
        source_namespace=["race"], source_name="f6",
        target_namespace=["race"], target_name="f6_by_k",
        group_by=["k"],
        sums={"amount_sum": "CAST(amount AS DECIMAL(18,2))"},
    )
    create_rollup(io_a, spec)
    _ivm_append(spark, io_a, "f6", 100, 150)

    stats = _interleave(
        io_a, lambda: _ivm_append(spark, io_b, "f6", 150, 200)
    )
    res = refresh_rollup(io_a, spec)
    assert res["noop"] is False and stats["attempts"] == 1  # no CAS conflict
    counts = {(r.k, r.n_rows) for r in
              io_a.read_table(["race"], "f6_by_k").select("k", "n_rows").collect()}
    assert counts == {(k, 30) for k in range(5)}  # racing rows EXCLUDED
    refresh_rollup(io_a, spec)  # the next refresh folds them
    counts = {(r.k, r.n_rows) for r in
              io_a.read_table(["race"], "f6_by_k").select("k", "n_rows").collect()}
    assert counts == {(k, 40) for k in range(5)}


def test_concurrent_mv_creates_on_one_source_are_both_listed(spark, io_a, io_b):
    """Two sessions create MVs over one source at once: B's whole CREATE
    lands between A's build and A's stamp. Each MV lists itself on the
    source under its own key, so neither entry is lost, and each session
    is served from both MVs."""
    _ivm_seed(spark, io_a, "f7")
    real = io_a.client.commit_transaction

    def hooked(changes):
        io_a.client.commit_transaction = real
        io_b.sql("CREATE MATERIALIZED VIEW race.f7_b AS "
                 "SELECT id, COUNT(*) AS n_rows FROM race.f7 GROUP BY id")
        return real(changes)

    io_a.client.commit_transaction = hooked
    io_a.sql("CREATE MATERIALIZED VIEW race.f7_a AS SELECT k, COUNT(*) AS "
             "n_rows, SUM(CAST(amount AS DECIMAL(18,2))) AS amount_sum "
             "FROM race.f7 GROUP BY k")
    props = io_a.client.load_table(["race"], "f7")["metadata"]["properties"]
    assert {"ivm.dependent.race.f7_a", "ivm.dependent.race.f7_b"} <= set(props)
    for io in (io_a, io_b):
        rows = io.sql("SELECT k, SUM(CAST(amount AS DECIMAL(18,2))) AS s "
                      "FROM race.f7 GROUP BY k").collect()
        assert io.last_mv_rewrite["view"] == "race.f7_a" and len(rows) == 5
        rows = io.sql("SELECT id, COUNT(*) AS n FROM race.f7 GROUP BY id").collect()
        assert io.last_mv_rewrite["view"] == "race.f7_b"
        assert {(r.id, r.n) for r in rows} == {(i, 1) for i in range(100)}


# --- r16: maintenance rewrites racing MoR deletes ---------------------------


def _seed_two_files(spark, io, name):
    for lo, hi in ((0, 50), (50, 100)):
        df = spark.range(lo, hi).select(
            "id", (F.col("id") * 10).alias("v")
        ).coalesce(1)
        io.write_table(df, ["race"], name, mode="append")


def test_mor_delete_lands_mid_compaction(spark, io_a, io_b):
    """B's equality delete (ids 5 and 55 — one per input file) commits
    between A's compaction plan and commit. A's CAS loses; the re-plan
    reloads the fresh snapshot, sees B's delete file, and FOLDS it into
    the rewritten pack — replaying the stale plan would resurrect both
    rows (Iceberg's validateNoNewDeletes scenario, solved here by
    re-planning instead of refusing)."""
    from denali_spark.sources.maintenance import compact_data_files

    _seed_two_files(spark, io_a, "m1")
    b_keys = spark.createDataFrame([(5,), (55,)], "id long")
    b_op = lambda n: equality_delete(io_b, ["race"], n, b_keys, on=["id"])
    a_op = lambda n: compact_data_files(
        io_a, ["race"], n,
        target_file_size_bytes=1 << 30, min_input_files=2,
    )

    stats = _interleave(io_a, lambda: b_op("m1"))
    res = a_op("m1")
    assert stats["attempts"] == 2  # first CAS lost, re-planned once
    assert not res.get("noop")
    got = _rows(io_a, "m1")

    def serial(name, first, second):
        _seed_two_files(spark, io_b, name)
        first(name)
        second(name)
        return _rows(io_b, name)

    assert got == serial("m1_ab", a_op, b_op)
    assert got == serial("m1_ba", b_op, a_op)
    assert {i for i, _v in got} == set(range(100)) - {5, 55}
    # the compaction materialized the deletes: one data file, no live
    # delete files remain attached to the current snapshot
    md = io_a.client.load_table(["race"], "m1")["metadata"]
    snap = next(s for s in md["snapshots"]
                if s["snapshot-id"] == md["refs"]["main"]["snapshot-id"])
    from denali_spark.sources.catalog_io import split_entries
    data, deletes = split_entries(read_manifest_list(snap["manifest-list"]))
    assert len(data) == 1 and not deletes


def test_mor_delete_lands_mid_clustered_rewrite(spark, io_a, io_b):
    """Same interleave against rewrite_clustered (sort strategy): the
    loser's re-plan must carry B's delete — and the clustered layout must
    still land (files range-own the sort key)."""
    from denali_spark.sources.maintenance import rewrite_clustered

    _seed_two_files(spark, io_a, "m2")
    b_keys = spark.createDataFrame([(7,), (77,)], "id long")
    b_op = lambda n: equality_delete(io_b, ["race"], n, b_keys, on=["id"])
    a_op = lambda n: rewrite_clustered(
        io_a, ["race"], n, sort_by=["id"], strategy="sort",
        target_file_size_bytes=1 << 30,
    )

    stats = _interleave(io_a, lambda: b_op("m2"))
    a_op("m2")
    assert stats["attempts"] == 2
    got = _rows(io_a, "m2")

    def serial(name, first, second):
        _seed_two_files(spark, io_b, name)
        first(name)
        second(name)
        return _rows(io_b, name)

    assert got == serial("m2_ab", a_op, b_op)
    assert got == serial("m2_ba", b_op, a_op)
    assert {i for i, _v in got} == set(range(100)) - {7, 77}
