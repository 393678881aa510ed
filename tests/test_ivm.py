"""Incremental view maintenance: the maintained rollup must equal a
from-scratch recompute after every kind of source commit — appends,
copy-on-write deletes/updates, merge-on-read equality deletes, and
compaction — with the watermark riding the commit atomically (re-running a
refresh is a no-op, never a double-apply)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.sources import (
    RollupSpec,
    SparkCatalogIO,
    compact_data_files,
    create_rollup,
    delete_where,
    equality_delete,
    refresh_rollup,
)
from denali_spark.sources import expressions as E
from denali_spark.sources.ivm import WATERMARK_KEY, _aggregate_full
from denali_spark.sources.manifests import read_manifest_list


@pytest.fixture()
def io(spark, tmp_path):
    server = CatalogServer(make_state(str(tmp_path / "wh"))).start()
    yield SparkCatalogIO(spark, server.uri)
    server.stop()


SPEC = RollupSpec(
    source_namespace=["ivm"],
    source_name="facts",
    target_namespace=["ivm"],
    target_name="facts_by_k",
    group_by=["k"],
    sums={"amount_sum": "CAST(amount AS DECIMAL(18,2))"},
)


def _rows(spark, lo, hi, k_mod=5):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % k_mod).alias("k"),
        (F.col("id").cast("decimal(18,2)") / 4).alias("amount"),
    )


def _append(spark, io, lo, hi, **kw):
    io.write_table(
        _rows(spark, lo, hi, **kw).coalesce(1), ["ivm"], "facts", mode="append"
    )


def _assert_matches_recompute(io):
    got = {
        (r.k, r.n_rows, r.amount_sum)
        for r in io.read_table(["ivm"], "facts_by_k").collect()
    }
    want = {
        (r.k, r.n_rows, r.amount_sum)
        for r in _aggregate_full(io, SPEC).collect()
    }
    assert got == want
    return got


def test_create_then_refresh_appends(spark, io):
    _append(spark, io, 0, 100)
    create_rollup(io, SPEC)
    _assert_matches_recompute(io)

    _append(spark, io, 100, 250)
    res = refresh_rollup(io, SPEC)
    assert res["kind"] == "incremental" and res["delta_groups"] == 5
    _assert_matches_recompute(io)

    # idempotent: no new source commits -> no-op, no new target snapshot
    before = io.client.load_table(["ivm"], "facts_by_k")["metadata"]
    assert refresh_rollup(io, SPEC)["noop"] is True
    after = io.client.load_table(["ivm"], "facts_by_k")["metadata"]
    assert before["current-snapshot-id"] == after["current-snapshot-id"]


def test_cow_delete_folds_out(spark, io):
    _append(spark, io, 0, 100)
    create_rollup(io, SPEC)
    delete_where(io, ["ivm"], "facts", E.lt("id", 40))
    refresh_rollup(io, SPEC)
    got = _assert_matches_recompute(io)
    assert all(n == 12 for _, n, _ in got)  # 60 survivors over 5 groups


def test_group_vanishes_at_zero_count(spark, io):
    # k has 10 distinct values; delete every row of k == 7
    _append(spark, io, 0, 100, k_mod=10)
    create_rollup(io, SPEC)
    delete_where(io, ["ivm"], "facts", E.eq("k", 7))
    refresh_rollup(io, SPEC)
    got = _assert_matches_recompute(io)
    assert {k for k, _, _ in got} == set(range(10)) - {7}


def test_mor_equality_delete_and_update(spark, io):
    _append(spark, io, 0, 100)
    create_rollup(io, SPEC)
    keys = spark.createDataFrame([(i,) for i in range(0, 100, 3)], "id long")
    equality_delete(io, ["ivm"], "facts", keys, on=["id"])
    io.sql("UPDATE ivm.facts SET amount = CAST(999.99 AS DECIMAL(18,2)) WHERE id = 50")
    refresh_rollup(io, SPEC)
    _assert_matches_recompute(io)


def test_compaction_is_net_zero_but_advances_watermark(spark, io):
    _append(spark, io, 0, 50)
    _append(spark, io, 50, 100)
    create_rollup(io, SPEC)
    compact_data_files(io, ["ivm"], "facts")
    res = refresh_rollup(io, SPEC)
    # compaction's delete+insert pairs cancel per group, and the zero-
    # delta filter drops the churn rows: a pure compaction is a
    # watermark-only carry, never a rollup rewrite
    assert res["kind"] == "watermark-only"
    _assert_matches_recompute(io)
    # and the watermark advanced so the next refresh is a clean no-op
    assert refresh_rollup(io, SPEC)["noop"] is True


def test_watermark_rides_the_snapshot_summary(spark, io):
    _append(spark, io, 0, 10)
    create_rollup(io, SPEC)
    _append(spark, io, 10, 20)
    refresh_rollup(io, SPEC)
    md = io.client.load_table(["ivm"], "facts_by_k")["metadata"]
    cur = md["current-snapshot-id"]
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == cur)
    src = io.client.load_table(["ivm"], "facts")["metadata"]
    assert snap["summary"][WATERMARK_KEY] == str(src["current-snapshot-id"])


def test_foreign_write_invalidates_loudly(spark, io):
    _append(spark, io, 0, 10)
    create_rollup(io, SPEC)
    rogue = spark.createDataFrame(
        [(99, 1, None)], "k long, n_rows long, amount_sum decimal(28,2)"
    )
    io.write_table(rogue, ["ivm"], "facts_by_k", mode="append")
    _append(spark, io, 10, 20)
    with pytest.raises(ValueError, match="foreign write"):
        refresh_rollup(io, SPEC)


def test_refresh_prunes_untouched_files(spark, io):
    # two key ranges written as separate sorted files; a delta touching only
    # the high range must carry the low-range file by reference
    wide = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 100).alias("k"),
        (F.col("id").cast("decimal(18,2)") / 4).alias("amount"),
    )
    io.write_table(wide.coalesce(1), ["ivm"], "facts", mode="append")
    create_rollup(io, SPEC)
    # rewrite the rollup as two key-disjoint files: [0..49], [50..99]
    cur = io.read_table(["ivm"], "facts_by_k")
    lo = cur.filter(F.col("k") < 50).coalesce(1)
    hi = cur.filter(F.col("k") >= 50).coalesce(1)
    src_md = io.client.load_table(["ivm"], "facts")["metadata"]
    io.write_table(
        lo.unionByName(hi), ["ivm"], "facts_by_k", mode="overwrite",
        num_files=None, sort_by=["k"],
        summary_extra={WATERMARK_KEY: str(src_md["current-snapshot-id"]),
                       "ivm.source-table": "ivm.facts"},
    )
    # hand-split: write lo and hi separately via repartitionByRange is
    # overkill here — re-check the file count and skip if Spark merged them
    md = io.client.load_table(["ivm"], "facts_by_k")["metadata"]
    ref = md["refs"]["main"]
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == ref["snapshot-id"])
    n_files = len(read_manifest_list(snap["manifest-list"]))

    delta = spark.createDataFrame(
        [(10_000 + i, 90 + (i % 5)) for i in range(20)], "id long, k long"
    ).select("id", "k", (F.col("id").cast("decimal(18,2)") / 4).alias("amount"))
    io.write_table(delta.coalesce(1), ["ivm"], "facts", mode="append")
    res = refresh_rollup(io, SPEC)
    _assert_matches_recompute(io)
    if n_files >= 2:
        # keys 90..94 live only in the high file; the low file is carried
        assert res["rewritten_files"] < n_files


# ---------------------------------------------------------------------------
# MIN/MAX: fold + targeted-rescan hybrid (net-negative multiset rule)
# ---------------------------------------------------------------------------

EXTREMA_SPEC = RollupSpec(
    source_namespace=["ivm"],
    source_name="facts",
    target_namespace=["ivm"],
    target_name="facts_minmax",
    group_by=["k"],
    sums={"amount_sum": "CAST(amount AS DECIMAL(18,2))"},
    mins={"amount_min": "amount", "id_min": "id"},
    maxs={"amount_max": "amount", "id_max": "id"},
)


def _assert_rollup_matches(io, spec):
    tgt = io.read_table(spec.target_namespace, spec.target_name)
    cols = sorted(tgt.columns)
    got = {tuple(r) for r in tgt.select(*cols).collect()}
    want = {tuple(r) for r in _aggregate_full(io, spec).select(*cols).collect()}
    assert got == want
    return got


def test_minmax_appends_fold_without_rescan(spark, io):
    _append(spark, io, 0, 100)
    create_rollup(io, EXTREMA_SPEC)
    _assert_rollup_matches(io, EXTREMA_SPEC)

    # new rows include a new global minimum for k=0 (id 100..250 only raise
    # maxes) — pure inserts must stay on the fold path
    _append(spark, io, 100, 250)
    res = refresh_rollup(io, EXTREMA_SPEC)
    assert res["kind"] == "incremental" and res["rescanned_groups"] == 0
    _assert_rollup_matches(io, EXTREMA_SPEC)


def test_minmax_delete_of_minimum_rescans(spark, io):
    _append(spark, io, 0, 100)
    create_rollup(io, EXTREMA_SPEC)
    # ids < 40 hold every group's current min — genuine net removals
    delete_where(io, ["ivm"], "facts", E.lt("id", 40))
    res = refresh_rollup(io, EXTREMA_SPEC)
    assert res["rescanned_groups"] == 5
    _assert_rollup_matches(io, EXTREMA_SPEC)


def test_minmax_cow_update_moves_extrema(spark, io):
    _append(spark, io, 0, 100)
    create_rollup(io, EXTREMA_SPEC)
    # id=95 is k=0's max id; moving its amount off the extremes is a net
    # removal at the old value tuple -> rescan of k=0 only
    io.sql(
        "UPDATE ivm.facts SET amount = CAST(-1 AS DECIMAL(18,2)) WHERE id = 95"
    )
    res = refresh_rollup(io, EXTREMA_SPEC)
    assert res["rescanned_groups"] == 1
    _assert_rollup_matches(io, EXTREMA_SPEC)


def test_minmax_compaction_stays_on_fold_path(spark, io):
    _append(spark, io, 0, 50)
    _append(spark, io, 50, 100)
    create_rollup(io, EXTREMA_SPEC)
    compact_data_files(io, ["ivm"], "facts")
    res = refresh_rollup(io, EXTREMA_SPEC)
    # compaction's delete+insert pairs cancel per (group, value tuple):
    # NO rescans AND no rewrite — the zero-delta filter makes it a
    # watermark-only carry even with extrema tracked
    assert res.get("rescanned_groups", 0) == 0
    assert res["kind"] == "watermark-only"
    _assert_rollup_matches(io, EXTREMA_SPEC)
    assert refresh_rollup(io, EXTREMA_SPEC)["noop"] is True


def test_minmax_mor_equality_delete(spark, io):
    _append(spark, io, 0, 100)
    create_rollup(io, EXTREMA_SPEC)
    keys = spark.createDataFrame([(i,) for i in range(0, 100, 3)], "id long")
    equality_delete(io, ["ivm"], "facts", keys, on=["id"])
    res = refresh_rollup(io, EXTREMA_SPEC)
    assert res["rescanned_groups"] > 0
    _assert_rollup_matches(io, EXTREMA_SPEC)


def test_minmax_group_fully_deleted_drops(spark, io):
    _append(spark, io, 0, 100, k_mod=10)
    create_rollup(io, EXTREMA_SPEC)
    delete_where(io, ["ivm"], "facts", E.eq("k", 7))
    refresh_rollup(io, EXTREMA_SPEC)
    got = _assert_rollup_matches(io, EXTREMA_SPEC)
    ks = {t[sorted(["amount_max", "amount_min", "amount_sum", "id_max",
                    "id_min", "k", "n_rows"]).index("k")] for t in got}
    assert ks == set(range(10)) - {7}


def test_minmax_null_group_key_and_null_values(spark, io):
    rows = [
        (1, None, None),        # NULL group, NULL value
        (2, None, 5.00),        # NULL group's real min/max
        (3, None, 9.00),
        (4, 1, 3.00),
        (5, 1, None),           # NULL value inside a real group
        (6, 1, 8.00),
    ]
    df = spark.createDataFrame(rows, "id long, k long, amount_raw double").select(
        "id", "k", F.col("amount_raw").cast("decimal(18,2)").alias("amount")
    )
    io.write_table(df.coalesce(1), ["ivm"], "facts", mode="append")
    create_rollup(io, EXTREMA_SPEC)
    _assert_rollup_matches(io, EXTREMA_SPEC)

    # delete the NULL group's maximum (id=3) AND k=1's minimum (id=4):
    # both groups must rescan, reached through NULL-SAFE anti/semi joins
    keys = spark.createDataFrame([(3,), (4,)], "id long")
    equality_delete(io, ["ivm"], "facts", keys, on=["id"])
    res = refresh_rollup(io, EXTREMA_SPEC)
    assert res["rescanned_groups"] == 2
    _assert_rollup_matches(io, EXTREMA_SPEC)


def test_null_tracked_delete_cannot_cancel_extrema_insert(spark, io):
    """Zero-delta-drop soundness (r15): a NULL-tracked delete is exempt
    from the rescan split (NULLs can't move extrema), so it CAN cancel the
    row count of an insert carrying a new minimum inside one refresh
    window. With a min-only spec (no sums) the count/sum zero predicate
    alone would drop the delta row and silently discard the attached
    extremum — the drop must also require all extrema columns NULL."""
    spec = RollupSpec(
        source_namespace=["ivm"],
        source_name="facts",
        target_namespace=["ivm"],
        target_name="facts_min_only",
        group_by=["k"],
        mins={"amount_min": "amount"},
    )
    rows = [(1, 0, 10.00), (2, 0, None)]
    df = spark.createDataFrame(rows, "id long, k long, amount_raw double").select(
        "id", "k", F.col("amount_raw").cast("decimal(18,2)").alias("amount")
    )
    io.write_table(df.coalesce(1), ["ivm"], "facts", mode="append")
    create_rollup(io, spec)

    # one refresh window: delete the NULL-amount row AND insert a new min
    keys = spark.createDataFrame([(2,)], "id long")
    equality_delete(io, ["ivm"], "facts", keys, on=["id"])
    ins = spark.createDataFrame([(3, 0, 5.00)], "id long, k long, amount_raw double").select(
        "id", "k", F.col("amount_raw").cast("decimal(18,2)").alias("amount")
    )
    io.write_table(ins.coalesce(1), ["ivm"], "facts", mode="append")

    res = refresh_rollup(io, spec)
    assert res["rescanned_groups"] == 0  # the NULL delete must NOT rescan
    _assert_rollup_matches(io, spec)
    got = io.read_table(["ivm"], "facts_min_only").collect()
    assert [(r.k, str(r.amount_min)) for r in got] == [(0, "5.00")]


def test_minmax_rescan_pins_source_snapshot(spark, io):
    _append(spark, io, 0, 100)
    create_rollup(io, EXTREMA_SPEC)
    delete_where(io, ["ivm"], "facts", E.lt("id", 20))
    # the refresh below folds changes up to THIS snapshot; rows appended
    # mid-refresh belong to the NEXT refresh, so the rescan must read the
    # pinned snapshot, not current. Simulate by appending BEFORE refresh
    # but verifying the watermark lands on the pre-append snapshot when we
    # pass the already-loaded metadata path: simplest observable contract —
    # two sequential refreshes each match a recompute at their watermark.
    refresh_rollup(io, EXTREMA_SPEC)
    _assert_rollup_matches(io, EXTREMA_SPEC)
    _append(spark, io, 200, 240)
    delete_where(io, ["ivm"], "facts", E.lt("id", 25))
    refresh_rollup(io, EXTREMA_SPEC)
    _assert_rollup_matches(io, EXTREMA_SPEC)


def test_duplicate_output_columns_rejected():
    with pytest.raises(ValueError, match="duplicate rollup output columns"):
        RollupSpec(
            source_namespace=["ivm"], source_name="facts",
            target_namespace=["ivm"], target_name="t",
            group_by=["k"],
            sums={"x": "a"}, mins={"x": "a"},
        )


# ---------------------------------------------------------------------------
# Maintained NDV: per-group HLL sketch columns
# ---------------------------------------------------------------------------

NDV_SPEC = RollupSpec(
    source_namespace=["ivm"],
    source_name="facts",
    target_namespace=["ivm"],
    target_name="facts_ndv",
    group_by=["k"],
    sums={"amount_sum": "CAST(amount AS DECIMAL(18,2))"},
    ndvs={"uniq_ids": "id", "uniq_cents": "CAST(amount * 100 AS BIGINT)"},
)


def _assert_ndv_matches_recompute(io, spec=NDV_SPEC):
    def rows(df):
        # sketch BYTES may differ by representation mode; the ESTIMATE is
        # the maintained value and is merge-shape-invariant
        plain = [c for c in df.columns if c not in spec.ndvs]
        ests = [F.hll_sketch_estimate(c).alias(f"{c}_est") for c in spec.ndvs]
        return {tuple(r) for r in df.select(*plain, *ests).collect()}

    got = rows(io.read_table(spec.target_namespace, spec.target_name))
    expect = rows(_aggregate_full(io, spec))
    assert got == expect
    return got


def test_ndv_appends_fold_without_rescan(spark, io):
    _append(spark, io, 0, 100)
    create_rollup(io, NDV_SPEC)
    _assert_ndv_matches_recompute(io)
    _append(spark, io, 100, 300)
    res = refresh_rollup(io, NDV_SPEC)
    assert res["kind"] == "incremental" and res["rescanned_groups"] == 0
    _assert_ndv_matches_recompute(io)


def test_ndv_delete_rescans_and_matches(spark, io):
    _append(spark, io, 0, 200)
    create_rollup(io, NDV_SPEC)
    delete_where(io, ["ivm"], "facts", E.lt("id", 60))
    res = refresh_rollup(io, NDV_SPEC)
    assert res["rescanned_groups"] == 5
    _assert_ndv_matches_recompute(io)


def test_ndv_duplicate_value_delete_still_exact(spark, io):
    # two rows per (k, amount-cents) value; deleting ONE copy leaves the
    # distinct set unchanged — the rescan recomputes it correctly anyway
    df = _rows(spark, 0, 50).unionByName(
        _rows(spark, 0, 50).withColumn("id", F.col("id") + 1_000_000)
    )
    io.write_table(df.coalesce(1), ["ivm"], "facts", mode="append")
    create_rollup(io, NDV_SPEC)
    delete_where(io, ["ivm"], "facts", E.lt("id", 10))
    refresh_rollup(io, NDV_SPEC)
    _assert_ndv_matches_recompute(io)


def test_ndv_compaction_stays_on_fold_path(spark, io):
    _append(spark, io, 0, 60)
    _append(spark, io, 60, 120)
    create_rollup(io, NDV_SPEC)
    compact_data_files(io, ["ivm"], "facts")
    res = refresh_rollup(io, NDV_SPEC)
    assert res.get("rescanned_groups", 0) == 0
    _assert_ndv_matches_recompute(io)


# ---------------------------------------------------------------------------
# Join-view IVM: GROUP BY over fact ⋈ dim
# ---------------------------------------------------------------------------

from denali_spark.sources import (  # noqa: E402
    JoinRollupSpec,
    create_join_rollup,
    refresh_join_rollup,
)
from denali_spark.sources.ivm import _aggregate_join_full  # noqa: E402

JOIN_SPEC = JoinRollupSpec(
    left_namespace=["ivm"], left_name="facts",
    right_namespace=["ivm"], right_name="dims",
    on=[("k", "k")],
    target_namespace=["ivm"], target_name="facts_by_region",
    group_by=["region"],
    sums={"amount_sum": "CAST(amount AS DECIMAL(18,2))"},
)


def _write_dims(spark, io, regions):
    """dims: (k, region). `regions` maps k -> region label."""
    df = spark.createDataFrame(
        [(k, r) for k, r in regions.items()], "k long, region string"
    )
    io.write_table(df.coalesce(1), ["ivm"], "dims", mode="overwrite")


def _assert_join_matches(io, spec=JOIN_SPEC):
    tgt = io.read_table(spec.target_namespace, spec.target_name)
    cols = sorted(tgt.columns)
    got = {tuple(r) for r in tgt.select(*cols).collect()}
    want = {tuple(r) for r in _aggregate_join_full(io, spec).select(*cols).collect()}
    assert got == want
    return got


def test_join_fact_append_and_delete(spark, io):
    _append(spark, io, 0, 100)
    _write_dims(spark, io, {0: "east", 1: "east", 2: "west", 3: "west", 4: "north"})
    create_join_rollup(io, JOIN_SPEC)
    _assert_join_matches(io)

    _append(spark, io, 100, 250)
    res = refresh_join_rollup(io, JOIN_SPEC)
    assert res["kind"] == "incremental"
    _assert_join_matches(io)

    delete_where(io, ["ivm"], "facts", E.lt("id", 30))
    refresh_join_rollup(io, JOIN_SPEC)
    _assert_join_matches(io)

    assert refresh_join_rollup(io, JOIN_SPEC)["noop"] is True


def test_join_dim_update_moves_groups(spark, io):
    _append(spark, io, 0, 100)
    _write_dims(spark, io, {0: "east", 1: "east", 2: "west", 3: "west", 4: "north"})
    create_join_rollup(io, JOIN_SPEC)
    # CoW-update one dim row: k=4 moves north -> south; the delta joins
    # ONLY facts with k=4, never the whole fact table
    io.sql("UPDATE ivm.dims SET region = 'south' WHERE k = 4")
    res = refresh_join_rollup(io, JOIN_SPEC)
    assert res["kind"] == "incremental"
    got = _assert_join_matches(io)
    regions = {t[sorted(["amount_sum", "n_rows", "region"]).index("region")]
               for t in got}
    assert "south" in regions and "north" not in regions


def test_join_dim_append_resolves_dangling_facts(spark, io):
    _append(spark, io, 0, 100, k_mod=7)  # ks 0..6; dims only cover 0..4
    _write_dims(spark, io, {0: "east", 1: "east", 2: "west", 3: "west", 4: "north"})
    create_join_rollup(io, JOIN_SPEC)
    before = _assert_join_matches(io)
    new = spark.createDataFrame([(5, "south"), (6, "south")], "k long, region string")
    io.write_table(new.coalesce(1), ["ivm"], "dims", mode="append")
    refresh_join_rollup(io, JOIN_SPEC)
    after = _assert_join_matches(io)
    assert len(after) == len(before) + 1  # the south group appeared


def test_join_dim_delete_drops_facts(spark, io):
    _append(spark, io, 0, 100)
    _write_dims(spark, io, {0: "east", 1: "east", 2: "west", 3: "west", 4: "north"})
    create_join_rollup(io, JOIN_SPEC)
    delete_where(io, ["ivm"], "dims", E.eq("k", 4))
    refresh_join_rollup(io, JOIN_SPEC)
    got = _assert_join_matches(io)
    regions = {t[sorted(["amount_sum", "n_rows", "region"]).index("region")]
               for t in got}
    assert regions == {"east", "west"}


def test_join_both_sides_change_in_one_refresh(spark, io):
    _append(spark, io, 0, 100)
    _write_dims(spark, io, {0: "east", 1: "east", 2: "west", 3: "west", 4: "north"})
    create_join_rollup(io, JOIN_SPEC)
    _append(spark, io, 100, 180)
    io.sql("UPDATE ivm.dims SET region = 'south' WHERE k = 0")
    delete_where(io, ["ivm"], "facts", E.lt("id", 20))
    res = refresh_join_rollup(io, JOIN_SPEC)
    assert res["kind"] == "incremental"
    _assert_join_matches(io)


def test_join_compaction_is_watermark_only(spark, io):
    _append(spark, io, 0, 50)
    _append(spark, io, 50, 100)
    _write_dims(spark, io, {0: "east", 1: "east", 2: "west", 3: "west", 4: "north"})
    create_join_rollup(io, JOIN_SPEC)
    compact_data_files(io, ["ivm"], "facts")
    res = refresh_join_rollup(io, JOIN_SPEC)
    # the pre-cancelled fact delta is EMPTY: the rewrite never reaches the
    # join, and the refresh just advances both watermarks
    assert res["kind"] == "watermark-only"
    _assert_join_matches(io)
    assert refresh_join_rollup(io, JOIN_SPEC)["noop"] is True


def test_join_null_fact_keys_never_join(spark, io):
    rows = spark.createDataFrame(
        [(1, None, 10.0), (2, 0, 20.0), (3, None, 30.0)],
        "id long, k long, amount_raw double",
    ).select("id", "k", F.col("amount_raw").cast("decimal(18,2)").alias("amount"))
    io.write_table(rows.coalesce(1), ["ivm"], "facts", mode="append")
    _write_dims(spark, io, {0: "east"})
    create_join_rollup(io, JOIN_SPEC)
    _assert_join_matches(io)
    # deleting a NULL-key fact row must be invisible to the view
    keys = spark.createDataFrame([(1,)], "id long")
    equality_delete(io, ["ivm"], "facts", keys, on=["id"])
    res = refresh_join_rollup(io, JOIN_SPEC)
    _assert_join_matches(io)


def test_join_foreign_write_invalidates(spark, io):
    _append(spark, io, 0, 10)
    _write_dims(spark, io, {0: "east", 1: "east", 2: "west", 3: "west", 4: "north"})
    create_join_rollup(io, JOIN_SPEC)
    rogue = spark.createDataFrame(
        [("mars", 1, None)], "region string, n_rows long, amount_sum decimal(28,2)"
    )
    io.write_table(rogue, ["ivm"], "facts_by_region", mode="append")
    _append(spark, io, 10, 20)
    with pytest.raises(ValueError, match="foreign write"):
        refresh_join_rollup(io, JOIN_SPEC)


def test_join_ambiguous_columns_rejected(spark, io):
    # both sides expose a column named `amount` -> loud error
    df = spark.createDataFrame([(0, "east", 1.0)], "k long, region string, amount double")
    io.write_table(df.coalesce(1), ["ivm"], "dims", mode="overwrite")
    _append(spark, io, 0, 10)
    with pytest.raises(ValueError, match="ambiguous column names"):
        create_join_rollup(io, JOIN_SPEC)


# ---------------------------------------------------------------------------
# SQL surface: CREATE / REFRESH / DROP MATERIALIZED VIEW
# ---------------------------------------------------------------------------


def test_sql_materialized_view_single_table(spark, io):
    _append(spark, io, 0, 100)
    io.sql("""
        CREATE MATERIALIZED VIEW ivm.mv_by_k AS
        SELECT k, COUNT(*) AS n_rows,
               SUM(CAST(amount AS DECIMAL(18,2))) AS amount_sum,
               MIN(amount) AS amount_min,
               APPROX_COUNT_DISTINCT(id) AS uniq_ids
        FROM ivm.facts GROUP BY k
    """)
    got = {(r.k, r.n_rows, r.amount_sum)
           for r in io.sql("SELECT k, n_rows, amount_sum FROM ivm.mv_by_k").collect()}
    assert len(got) == 5 and all(n == 20 for _, n, _ in got)

    _append(spark, io, 100, 250)
    delete_where(io, ["ivm"], "facts", E.lt("id", 10))
    rep = io.sql("REFRESH MATERIALIZED VIEW ivm.mv_by_k").collect()[0]
    assert rep.kind == "incremental" and rep.rescanned_groups > 0

    spec = RollupSpec(
        source_namespace=["ivm"], source_name="facts",
        target_namespace=["ivm"], target_name="mv_by_k",
        group_by=["k"],
        sums={"amount_sum": "CAST(amount AS DECIMAL(18,2))"},
        mins={"amount_min": "amount"}, ndvs={"uniq_ids": "id"},
    )
    _assert_rollup_matches(io, spec)

    # steady state: refresh with no new commits reports noop
    assert io.sql("REFRESH MATERIALIZED VIEW ivm.mv_by_k").collect()[0].kind == "noop"

    io.sql("DROP MATERIALIZED VIEW ivm.mv_by_k")
    with pytest.raises(Exception):
        io.read_table(["ivm"], "mv_by_k")


def test_sql_materialized_view_join(spark, io):
    _append(spark, io, 0, 100)
    _write_dims(spark, io, {0: "east", 1: "east", 2: "west", 3: "west", 4: "north"})
    io.sql("""
        CREATE MATERIALIZED VIEW ivm.mv_by_region AS
        SELECT region, COUNT(*) AS n_rows,
               SUM(CAST(amount AS DECIMAL(18,2))) AS amount_sum
        FROM ivm.facts JOIN ivm.dims ON facts.k = dims.k
        GROUP BY region
    """)
    io.sql("UPDATE ivm.dims SET region = 'south' WHERE k = 4")
    _append(spark, io, 100, 150)
    rep = io.sql("REFRESH MATERIALIZED VIEW ivm.mv_by_region").collect()[0]
    assert rep.kind == "incremental"
    spec = JoinRollupSpec(
        left_namespace=["ivm"], left_name="facts",
        right_namespace=["ivm"], right_name="dims",
        on=[("k", "k")],
        target_namespace=["ivm"], target_name="mv_by_region",
        group_by=["region"],
        sums={"amount_sum": "CAST(amount AS DECIMAL(18,2))"},
    )
    _assert_join_matches(io, spec)


def test_sql_materialized_view_rejections(spark, io):
    _append(spark, io, 0, 10)
    with pytest.raises(ValueError, match="n_rows"):
        io.sql("CREATE MATERIALIZED VIEW ivm.bad AS "
               "SELECT k, COUNT(*) AS cnt FROM ivm.facts GROUP BY k")
    with pytest.raises(ValueError, match="share the table name"):
        io.sql("CREATE MATERIALIZED VIEW ivm.bad AS "
               "SELECT k, COUNT(*) AS n_rows FROM ivm.facts "
               "JOIN other.facts ON facts.k = facts.k GROUP BY k")
    with pytest.raises(ValueError, match="not a maintained materialized view"):
        io.sql("REFRESH MATERIALIZED VIEW ivm.facts")


def test_call_refresh_materialized_view(spark, io):
    _append(spark, io, 0, 50)
    io.sql("CREATE MATERIALIZED VIEW ivm.mv_call AS "
           "SELECT k, COUNT(*) AS n_rows FROM ivm.facts GROUP BY k")
    _append(spark, io, 50, 100)
    rep = io.sql("CALL system.refresh_materialized_view('ivm.mv_call')").collect()[0]
    assert rep.kind == "incremental"
    got = {(r.k, r.n_rows) for r in io.sql(
        "SELECT k, n_rows FROM ivm.mv_call").collect()}
    assert got == {(k, 20) for k in range(5)}


def test_expired_watermark_fails_loudly(spark, io):
    from denali_spark.sources import expire_snapshots

    _append(spark, io, 0, 50)
    create_rollup(io, SPEC)
    _append(spark, io, 50, 100)
    _append(spark, io, 100, 150)
    # trim source history past the rollup's watermark
    expire_snapshots(io, ["ivm"], "facts", keep_last=1)
    with pytest.raises(ValueError, match="expired past the rollup watermark"):
        refresh_rollup(io, SPEC)


def test_run_maintenance_refreshes_dependent_mviews(spark, io):
    from denali_spark.sources import run_maintenance

    _append(spark, io, 0, 50)
    io.sql("CREATE MATERIALIZED VIEW ivm.mv_maint AS "
           "SELECT k, COUNT(*) AS n_rows FROM ivm.facts GROUP BY k")
    _append(spark, io, 50, 100)
    _append(spark, io, 100, 150)
    report = run_maintenance(io, ["ivm"], "facts", keep_last=1)
    assert report.get("refresh_materialized_views") == "1 refreshed"
    # the MV is current DESPITE the keep_last=1 expiry: the refresh ran
    # first, so its watermark survived the trim
    got = {(r.k, r.n_rows) for r in io.sql(
        "SELECT k, n_rows FROM ivm.mv_maint").collect()}
    assert got == {(k, 30) for k in range(5)}
    assert io.sql("REFRESH MATERIALIZED VIEW ivm.mv_maint").collect()[0].kind == "noop"


def test_rename_of_mv_or_its_source_is_refused(spark, io):
    """REFRESH reads the source and writes the target that the MV's spec
    names, so renaming either would strand the MV: both renames are
    refused, and the source renames once the MV is dropped."""
    _append(spark, io, 0, 50)
    io.sql("CREATE MATERIALIZED VIEW ivm.mv_ren AS "
           "SELECT k, COUNT(*) AS n_rows FROM ivm.facts GROUP BY k")
    for name in ("ivm.mv_ren", "ivm.facts"):
        with pytest.raises(ValueError, match="drop the materialized view"):
            io.sql(f"ALTER TABLE {name} RENAME TO ivm.renamed")
    assert io.sql("REFRESH MATERIALIZED VIEW ivm.mv_ren").collect()[0].kind \
        == "noop"
    io.sql("DROP MATERIALIZED VIEW ivm.mv_ren")
    io.sql("ALTER TABLE ivm.facts RENAME TO ivm.renamed")
    assert io.read_table(["ivm"], "renamed").count() == 50


def test_show_create_table_renders_mv_ddl_that_reparses(spark, io):
    _append(spark, io, 0, 50)
    io.sql("CREATE MATERIALIZED VIEW ivm.mv_show AS "
           "SELECT k, COUNT(*) AS n_rows, "
           "SUM(CAST(amount AS DECIMAL(18,2))) AS amount_sum, "
           "MIN(amount) AS amount_min FROM ivm.facts GROUP BY k")
    stmt = io.sql("SHOW CREATE TABLE ivm.mv_show").collect()[0].createtab_stmt
    assert stmt.startswith("CREATE MATERIALIZED VIEW ivm.mv_show AS")
    # the rendered DDL is executable: drop and re-create from it
    io.sql("DROP MATERIALIZED VIEW ivm.mv_show")
    io.sql(stmt)
    _append(spark, io, 50, 100)
    assert io.sql("REFRESH MATERIALIZED VIEW ivm.mv_show").collect()[0].kind \
        == "incremental"
    got = {(r.k, r.n_rows) for r in io.sql(
        "SELECT k, n_rows FROM ivm.mv_show").collect()}
    assert got == {(k, 20) for k in range(5)}


# ---------------------------------------------------------------------------
# WHERE predicates: the view maintains the FILTERED relation
# ---------------------------------------------------------------------------

FILTERED_SPEC = RollupSpec(
    source_namespace=["ivm"], source_name="facts",
    target_namespace=["ivm"], target_name="facts_hot",
    group_by=["k"],
    sums={"amount_sum": "CAST(amount AS DECIMAL(18,2))"},
    mins={"amount_min": "amount"},
    where="amount > 5 AND k < 4",
)


def test_where_single_table_twin(spark, io):
    _append(spark, io, 0, 100)
    create_rollup(io, FILTERED_SPEC)
    _assert_rollup_matches(io, FILTERED_SPEC)
    # appends straddling the predicate boundary fold only in-filter rows
    _append(spark, io, 100, 200)
    res = refresh_rollup(io, FILTERED_SPEC)
    assert res["kind"] == "incremental" and res["rescanned_groups"] == 0
    _assert_rollup_matches(io, FILTERED_SPEC)
    # a delete of in-filter minima rescans; out-of-filter deletes invisible
    delete_where(io, ["ivm"], "facts", E.lt("id", 60))
    res = refresh_rollup(io, FILTERED_SPEC)
    assert res["rescanned_groups"] > 0
    _assert_rollup_matches(io, FILTERED_SPEC)


def test_where_join_twin(spark, io):
    _append(spark, io, 0, 100)
    _write_dims(spark, io, {0: "east", 1: "east", 2: "west", 3: "west", 4: "north"})
    spec = JoinRollupSpec(
        left_namespace=["ivm"], left_name="facts",
        right_namespace=["ivm"], right_name="dims",
        on=[("k", "k")],
        target_namespace=["ivm"], target_name="facts_hot_region",
        group_by=["region"],
        sums={"amount_sum": "CAST(amount AS DECIMAL(18,2))"},
        where="amount > 3 AND region <> 'north'",
    )
    create_join_rollup(io, spec)
    _assert_join_matches(io, spec)
    _append(spark, io, 100, 160)
    io.sql("UPDATE ivm.dims SET region = 'south' WHERE k = 0")
    refresh_join_rollup(io, spec)
    _assert_join_matches(io, spec)


def test_sql_materialized_view_with_where(spark, io):
    _append(spark, io, 0, 100)
    io.sql("""
        CREATE MATERIALIZED VIEW ivm.mv_hot AS
        SELECT k, COUNT(*) AS n_rows,
               SUM(CAST(amount AS DECIMAL(18,2))) AS amount_sum
        FROM ivm.facts WHERE amount > 5 GROUP BY k
    """)
    _append(spark, io, 100, 150)
    assert io.sql("REFRESH MATERIALIZED VIEW ivm.mv_hot").collect()[0].kind \
        == "incremental"
    spec = RollupSpec(
        source_namespace=["ivm"], source_name="facts",
        target_namespace=["ivm"], target_name="mv_hot",
        group_by=["k"],
        sums={"amount_sum": "CAST(amount AS DECIMAL(18,2))"},
        where="amount > 5",
    )
    _assert_rollup_matches(io, spec)
    # SHOW CREATE renders the WHERE back and the DDL re-executes
    stmt = io.sql("SHOW CREATE TABLE ivm.mv_hot").collect()[0].createtab_stmt
    assert "WHERE amount > 5" in stmt
    io.sql("DROP MATERIALIZED VIEW ivm.mv_hot")
    io.sql(stmt)
    _assert_rollup_matches(io, spec)


# ---------------------------------------------------------------------------
# Property: render(spec) re-parses to an equal spec for ANY valid shape
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

_ident = st.from_regex(r"[a-z][a-z0-9_]{0,7}", fullmatch=True)
_expr = st.sampled_from(
    ["amount", "id", "CAST(amount AS DECIMAL(18,2))", "id * 2", "length(txt)"]
)
_aggs = st.dictionaries(_ident, _expr, min_size=0, max_size=3)
_where = st.one_of(
    st.none(), st.sampled_from(["amount > 5", "k < 4 AND amount > 0", "id % 2 = 0"])
)


def _disjoint(*dicts_and_keys):
    seen = set()
    for d in dicts_and_keys:
        for k in d:
            if k in seen or k == "n_rows":
                return False
            seen.add(k)
    return True


@settings(max_examples=60, deadline=None)
@given(keys=st.lists(_ident, min_size=1, max_size=3, unique=True),
       sums=_aggs, mins=_aggs, maxs=_aggs, ndvs=_aggs, avgs=_aggs,
       where=_where)
def test_mv_ddl_roundtrip_property_single(keys, sums, mins, maxs, ndvs, avgs,
                                          where):
    from denali_spark.sources.ivm import (
        RollupSpec,
        parse_materialized_view_sql,
        render_materialized_view_sql,
    )

    hidden = {f"_{c}_sum" for c in avgs}
    if not _disjoint(sums, mins, maxs, ndvs, avgs, hidden) or set(keys) & (
        set(sums) | set(mins) | set(maxs) | set(ndvs) | set(avgs) | hidden
    ):
        return
    spec = RollupSpec(
        source_namespace=["ns"], source_name="src",
        target_namespace=["ns"], target_name="mv",
        group_by=keys, sums=sums, mins=mins, maxs=maxs, ndvs=ndvs,
        avgs=avgs, where=where,
    )
    back = parse_materialized_view_sql(
        render_materialized_view_sql(spec), ["ns"], "mv"
    )
    assert back == spec


@settings(max_examples=40, deadline=None)
@given(keys=st.lists(_ident, min_size=1, max_size=2, unique=True),
       sums=_aggs, where=_where,
       on=st.lists(st.tuples(_ident, _ident), min_size=1, max_size=2,
                   unique_by=lambda p: p[0]))
def test_mv_ddl_roundtrip_property_join(keys, sums, where, on):
    from denali_spark.sources.ivm import (
        JoinRollupSpec,
        parse_materialized_view_sql,
        render_materialized_view_sql,
    )

    if "n_rows" in sums or set(keys) & set(sums):
        return
    spec = JoinRollupSpec(
        left_namespace=["ns"], left_name="fact",
        right_namespace=["ns"], right_name="dim",
        on=on,
        target_namespace=["ns"], target_name="mv",
        group_by=keys, sums=sums, where=where,
    )
    back = parse_materialized_view_sql(
        render_materialized_view_sql(spec), ["ns"], "mv"
    )
    assert back == spec


# ---------------------------------------------------------------------------
# AVG: hidden exact sum + derived double recomputed from maintained state
# ---------------------------------------------------------------------------

AVG_SPEC = RollupSpec(
    source_namespace=["ivm"], source_name="facts",
    target_namespace=["ivm"], target_name="facts_avg",
    group_by=["k"],
    avgs={"avg_amount": "CAST(amount AS DECIMAL(18,2))"},
    mins={"amount_min": "amount"},
)


def test_avg_twin_through_append_and_delete(spark, io):
    _append(spark, io, 0, 100)
    create_rollup(io, AVG_SPEC)
    _assert_rollup_matches(io, AVG_SPEC)
    _append(spark, io, 100, 250)
    res = refresh_rollup(io, AVG_SPEC)
    assert res["rescanned_groups"] == 0
    _assert_rollup_matches(io, AVG_SPEC)
    delete_where(io, ["ivm"], "facts", E.lt("id", 40))  # forces min rescans
    res = refresh_rollup(io, AVG_SPEC)
    assert res["rescanned_groups"] == 5
    _assert_rollup_matches(io, AVG_SPEC)


def test_avg_join_twin(spark, io):
    _append(spark, io, 0, 100)
    _write_dims(spark, io, {0: "east", 1: "east", 2: "west", 3: "west", 4: "north"})
    spec = JoinRollupSpec(
        left_namespace=["ivm"], left_name="facts",
        right_namespace=["ivm"], right_name="dims",
        on=[("k", "k")],
        target_namespace=["ivm"], target_name="facts_avg_region",
        group_by=["region"],
        avgs={"avg_amount": "CAST(amount AS DECIMAL(18,2))"},
    )
    create_join_rollup(io, spec)
    _assert_join_matches(io, spec)
    _append(spark, io, 100, 160)
    io.sql("UPDATE ivm.dims SET region = 'south' WHERE k = 4")
    refresh_join_rollup(io, spec)
    _assert_join_matches(io, spec)


def test_sql_materialized_view_avg(spark, io):
    _append(spark, io, 0, 100)
    io.sql("""
        CREATE MATERIALIZED VIEW ivm.mv_avg AS
        SELECT k, COUNT(*) AS n_rows,
               AVG(CAST(amount AS DECIMAL(18,2))) AS avg_amount
        FROM ivm.facts GROUP BY k
    """)
    _append(spark, io, 100, 150)
    assert io.sql("REFRESH MATERIALIZED VIEW ivm.mv_avg").collect()[0].kind \
        == "incremental"
    spec = RollupSpec(
        source_namespace=["ivm"], source_name="facts",
        target_namespace=["ivm"], target_name="mv_avg",
        group_by=["k"],
        avgs={"avg_amount": "CAST(amount AS DECIMAL(18,2))"},
    )
    _assert_rollup_matches(io, spec)
    stmt = io.sql("SHOW CREATE TABLE ivm.mv_avg").collect()[0].createtab_stmt
    assert "AVG(CAST(amount AS DECIMAL(18,2))) AS avg_amount" in stmt


def test_call_verify_materialized_view(spark, io):
    _append(spark, io, 0, 50)
    io.sql("CREATE MATERIALIZED VIEW ivm.mv_verify AS "
           "SELECT k, COUNT(*) AS n_rows, "
           "AVG(CAST(amount AS DECIMAL(18,2))) AS avg_amount, "
           "APPROX_COUNT_DISTINCT(id) AS uniq_ids "
           "FROM ivm.facts GROUP BY k")
    _append(spark, io, 50, 100)
    io.sql("REFRESH MATERIALIZED VIEW ivm.mv_verify")
    rep = io.sql(
        "CALL system.verify_materialized_view('ivm.mv_verify')"
    ).collect()[0]
    assert rep.consistent is True and rep.maintained_rows == 5

    # corrupt the maintained state via a foreign-looking overwrite of one
    # value and confirm the drift alarm fires (read -> tamper -> rewrite)
    cur = io.read_table(["ivm"], "mv_verify")
    tampered = cur.withColumn(
        "n_rows",
        F.when(F.col("k") == 0, F.col("n_rows") + 1).otherwise(F.col("n_rows")),
    )
    io.write_table(tampered, ["ivm"], "mv_verify", mode="overwrite")
    rep = io.sql(
        "CALL system.verify_materialized_view('ivm.mv_verify')"
    ).collect()[0]
    assert rep.consistent is False and rep.rows_only_in_maintained == 1


def test_verify_pins_at_watermark_not_current(spark, io):
    # a source that moved on since the last refresh must NOT alarm
    _append(spark, io, 0, 50)
    io.sql("CREATE MATERIALIZED VIEW ivm.mv_pin AS "
           "SELECT k, COUNT(*) AS n_rows FROM ivm.facts GROUP BY k")
    _append(spark, io, 50, 100)  # pending, unrefreshed
    rep = io.sql(
        "CALL system.verify_materialized_view('ivm.mv_pin')"
    ).collect()[0]
    assert rep.consistent is True and rep.watermarked is True
    assert rep.recomputed_rows == 5  # the watermark state, not current


def test_run_maintenance_isolates_broken_mv(spark, io):
    from denali_spark.sources import run_maintenance

    _append(spark, io, 0, 50)
    io.sql("CREATE MATERIALIZED VIEW ivm.mv_ok AS "
           "SELECT k, COUNT(*) AS n_rows FROM ivm.facts GROUP BY k")
    io.sql("CREATE MATERIALIZED VIEW ivm.mv_broken AS "
           "SELECT k, COUNT(*) AS n_rows FROM ivm.facts GROUP BY k")
    # foreign-write the second MV: its refresh now raises
    rogue = spark.createDataFrame([(99, 1)], "k long, n_rows long")
    io.write_table(rogue, ["ivm"], "mv_broken", mode="append")
    _append(spark, io, 50, 100)
    report = run_maintenance(io, ["ivm"], "facts", keep_last=1)
    # the broken MV lands in the report; the healthy one refreshed and
    # the remaining steps (expiry) still ran
    assert report["refresh_materialized_views"] == "1 refreshed"
    assert any("mv_broken" in f for f in report["refresh_materialized_views_failed"])
    assert "expire_snapshots" in report
    got = {(r.k, r.n_rows) for r in io.sql(
        "SELECT k, n_rows FROM ivm.mv_ok").collect()}
    assert got == {(k, 20) for k in range(5)}


# ---------------------------------------------------------------------------
# Round 14: COUNT(expr), extrema/NDV over join views, spec validation
# ---------------------------------------------------------------------------

COUNT_SPEC = RollupSpec(
    source_namespace=["ivm"], source_name="facts",
    target_namespace=["ivm"], target_name="facts_counts",
    group_by=["k"],
    sums={"amount_sum": "CAST(amount AS DECIMAL(18,2))"},
    counts={"n_big": "CASE WHEN id >= 50 THEN id END"},
)


def test_count_expr_folds_exactly(spark, io):
    _append(spark, io, 0, 100)
    create_rollup(io, COUNT_SPEC)
    _assert_rollup_matches(io, COUNT_SPEC)
    _append(spark, io, 100, 250)
    res = refresh_rollup(io, COUNT_SPEC)
    assert res["kind"] == "incremental"
    _assert_rollup_matches(io, COUNT_SPEC)
    delete_where(io, ["ivm"], "facts", E.lt("id", 60))
    refresh_rollup(io, COUNT_SPEC)
    _assert_rollup_matches(io, COUNT_SPEC)
    # the maintained column equals a true COUNT(expr) (NULLs excluded)
    want = {
        (r.k, r.n_big)
        for r in io.read_table(["ivm"], "facts")
        .groupBy("k")
        .agg(F.count(F.expr("CASE WHEN id >= 50 THEN id END")).alias("n_big"))
        .collect()
    }
    got = {
        (r.k, r.n_big)
        for r in io.read_table(["ivm"], "facts_counts")
        .select("k", "n_big").collect()
    }
    assert got == want


def test_sql_count_expr_mview_round_trips(spark, io):
    _append(spark, io, 0, 100)
    io.sql("CREATE MATERIALIZED VIEW ivm.mv_cnt AS "
           "SELECT k, COUNT(*) AS n_rows, "
           "COUNT(CASE WHEN id >= 50 THEN id END) AS n_big "
           "FROM ivm.facts GROUP BY k")
    _append(spark, io, 100, 200)
    rep = io.sql("REFRESH MATERIALIZED VIEW ivm.mv_cnt").collect()[0]
    assert rep.kind == "incremental"
    got = {(r.k, r.n_big) for r in io.sql(
        "SELECT k, n_big FROM ivm.mv_cnt").collect()}
    assert got == {(k, 30) for k in range(5)}
    body = io.sql("SHOW CREATE TABLE ivm.mv_cnt").collect()[0][0]
    assert "COUNT(CASE WHEN id >= 50 THEN id END) AS n_big" in body


JOIN_EXT_SPEC = JoinRollupSpec(
    left_namespace=["ivm"], left_name="facts",
    right_namespace=["ivm"], right_name="dims",
    on=[("k", "k")],
    target_namespace=["ivm"], target_name="facts_by_region_ext",
    group_by=["region"],
    sums={"amount_sum": "CAST(amount AS DECIMAL(18,2))"},
    mins={"amount_min": "amount", "id_min": "id"},
    maxs={"id_max": "id"},
    ndvs={"uniq_k": "k"},
    counts={"n_small": "CASE WHEN id < 20 THEN id END"},
)


def _assert_join_ext_matches(io, spec=JOIN_EXT_SPEC):
    def rows(df):
        plain = [c for c in df.columns if c not in spec.ndvs]
        ests = [F.hll_sketch_estimate(c).alias(f"{c}_est") for c in spec.ndvs]
        return {tuple(r) for r in df.select(*sorted(plain), *ests).collect()}

    got = rows(io.read_table(spec.target_namespace, spec.target_name))
    want = rows(_aggregate_join_full(io, spec))
    assert got == want
    return got


def test_join_extrema_append_folds_without_rescan(spark, io):
    _append(spark, io, 0, 100)
    _write_dims(spark, io, {0: "east", 1: "east", 2: "west", 3: "west", 4: "north"})
    create_join_rollup(io, JOIN_EXT_SPEC)
    _assert_join_ext_matches(io)
    _append(spark, io, 100, 250)
    res = refresh_join_rollup(io, JOIN_EXT_SPEC)
    assert res["kind"] == "incremental" and res["rescanned_groups"] == 0
    _assert_join_ext_matches(io)


def test_join_extrema_fact_delete_of_minimum_rescans(spark, io):
    _append(spark, io, 0, 100)
    _write_dims(spark, io, {0: "east", 1: "east", 2: "west", 3: "west", 4: "north"})
    create_join_rollup(io, JOIN_EXT_SPEC)
    delete_where(io, ["ivm"], "facts", E.lt("id", 40))
    res = refresh_join_rollup(io, JOIN_EXT_SPEC)
    assert res["rescanned_groups"] == 3  # east/west/north all lose minima
    _assert_join_ext_matches(io)


def test_join_extrema_dim_update_moves_groups(spark, io):
    _append(spark, io, 0, 100)
    _write_dims(spark, io, {0: "east", 1: "east", 2: "west", 3: "west", 4: "north"})
    create_join_rollup(io, JOIN_EXT_SPEC)
    # k=4 moves north->south: 'north' sees net removals (rescan; it then
    # vanishes — no dim row feeds it), 'south' is pure insert (fold)
    io.sql("UPDATE ivm.dims SET region = 'south' WHERE k = 4")
    res = refresh_join_rollup(io, JOIN_EXT_SPEC)
    assert res["rescanned_groups"] == 1
    got = _assert_join_ext_matches(io)
    regions = {r[-2] for r in got}  # region is last plain col alphabetically
    assert "south" in regions and "north" not in regions


def test_join_extrema_compaction_is_watermark_only(spark, io):
    _append(spark, io, 0, 50)
    _append(spark, io, 50, 100)
    _write_dims(spark, io, {0: "east", 1: "east", 2: "west", 3: "west", 4: "north"})
    create_join_rollup(io, JOIN_EXT_SPEC)
    compact_data_files(io, ["ivm"], "facts")
    res = refresh_join_rollup(io, JOIN_EXT_SPEC)
    assert res["kind"] == "watermark-only"
    _assert_join_ext_matches(io)


def test_sql_join_extrema_mview(spark, io):
    _append(spark, io, 0, 100)
    _write_dims(spark, io, {0: "east", 1: "east", 2: "west", 3: "west", 4: "north"})
    io.sql("""
        CREATE MATERIALIZED VIEW ivm.mv_region_ext AS
        SELECT region, COUNT(*) AS n_rows,
               MIN(amount) AS amount_min, MAX(id) AS id_max
        FROM ivm.facts JOIN ivm.dims ON facts.k = dims.k
        GROUP BY region
    """)
    delete_where(io, ["ivm"], "facts", E.lt("id", 30))
    rep = io.sql("REFRESH MATERIALIZED VIEW ivm.mv_region_ext").collect()[0]
    assert rep.kind == "incremental" and rep.rescanned_groups > 0
    spec = JoinRollupSpec(
        left_namespace=["ivm"], left_name="facts",
        right_namespace=["ivm"], right_name="dims",
        on=[("k", "k")],
        target_namespace=["ivm"], target_name="mv_region_ext",
        group_by=["region"],
        mins={"amount_min": "amount"}, maxs={"id_max": "id"},
    )
    _assert_join_matches(io, spec)
    rep = io.sql(
        "CALL system.verify_materialized_view('ivm.mv_region_ext')"
    ).collect()[0]
    assert rep.consistent is True


def test_join_on_swapped_bare_operands_corrected(spark, io):
    facts = spark.createDataFrame(
        [(i, i % 3, i * 10) for i in range(30)], "fid long, kf long, cents long"
    )
    dims = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "b")], "kd long, label string"
    )
    io.write_table(facts.coalesce(1), ["ivm"], "f14", mode="overwrite")
    io.write_table(dims.coalesce(1), ["ivm"], "d14", mode="overwrite")
    spec = JoinRollupSpec(
        left_namespace=["ivm"], left_name="f14",
        right_namespace=["ivm"], right_name="d14",
        on=[("kd", "kf")],  # swapped: kd is a RIGHT column, kf a LEFT one
        target_namespace=["ivm"], target_name="f14_by_label",
        group_by=["label"], sums={"cents_sum": "cents"},
    )
    create_join_rollup(io, spec)
    assert spec.on == [("kf", "kd")]
    _assert_join_matches(io, spec)


def test_join_on_unresolvable_operands_rejected(spark, io):
    facts = spark.createDataFrame([(1, 2)], "fid long, kf long")
    dims = spark.createDataFrame([(1, "a")], "kd long, label string")
    io.write_table(facts, ["ivm"], "f14b", mode="overwrite")
    io.write_table(dims, ["ivm"], "d14b", mode="overwrite")
    spec = JoinRollupSpec(
        left_namespace=["ivm"], left_name="f14b",
        right_namespace=["ivm"], right_name="d14b",
        on=[("nope", "kd")],
        target_namespace=["ivm"], target_name="f14b_mv",
        group_by=["label"],
    )
    with pytest.raises(ValueError, match="does not resolve"):
        create_join_rollup(io, spec)


def test_join_same_table_name_rejected():
    with pytest.raises(ValueError, match="share the table name"):
        JoinRollupSpec(
            left_namespace=["ns1"], left_name="t",
            right_namespace=["ns2"], right_name="t",
            on=[("k", "k")],
            target_namespace=["ivm"], target_name="bad",
            group_by=["k"],
        )


def test_inexact_sum_type_rejected(spark, io):
    df = spark.range(0, 10).select(
        F.col("id"), (F.col("id") * 1.5).alias("x")  # double column
    )
    io.write_table(df.coalesce(1), ["ivm"], "dfacts", mode="overwrite")
    spec = RollupSpec(
        source_namespace=["ivm"], source_name="dfacts",
        target_namespace=["ivm"], target_name="dfacts_mv",
        group_by=["id"], sums={"x_sum": "x"},
    )
    with pytest.raises(ValueError, match="inexact SUM/AVG"):
        create_rollup(io, spec)
    with pytest.raises(ValueError, match="inexact SUM/AVG"):
        io.sql("CREATE MATERIALIZED VIEW ivm.dbad AS "
               "SELECT id, COUNT(*) AS n_rows, AVG(x) AS xa "
               "FROM ivm.dfacts GROUP BY id")
    # the rebuild-safe spelling is accepted
    io.sql("CREATE MATERIALIZED VIEW ivm.dok AS "
           "SELECT id, COUNT(*) AS n_rows, "
           "SUM(CAST(x AS DECIMAL(18,2))) AS x_sum "
           "FROM ivm.dfacts GROUP BY id")


def test_inexact_join_sum_type_rejected(spark, io):
    _append(spark, io, 0, 10)
    _write_dims(spark, io, {0: "east"})
    spec = JoinRollupSpec(
        left_namespace=["ivm"], left_name="facts",
        right_namespace=["ivm"], right_name="dims",
        on=[("k", "k")],
        target_namespace=["ivm"], target_name="bad_join",
        group_by=["region"], sums={"s": "CAST(amount AS DOUBLE)"},
    )
    with pytest.raises(ValueError, match="inexact SUM/AVG"):
        create_join_rollup(io, spec)


def test_cascading_mv_over_mv(spark, io):
    """An MV whose SOURCE is another MV: the parent's refresh commits are
    ordinary CoW snapshots, so the child folds the parent's changelog —
    and run_maintenance refreshes the chain transitively in dependency
    order."""
    from denali_spark.sources import run_maintenance

    _append(spark, io, 0, 100, k_mod=20)
    io.sql("CREATE MATERIALIZED VIEW ivm.mv_fine AS "
           "SELECT k, COUNT(*) AS n_rows, "
           "SUM(CAST(amount AS DECIMAL(18,2))) AS amount_sum "
           "FROM ivm.facts GROUP BY k")
    # coarser rollup OVER the fine one (k -> k % 4 buckets not possible:
    # plain-column keys only — reuse k but aggregate the partials)
    io.sql("CREATE MATERIALIZED VIEW ivm.mv_total AS "
           "SELECT k, COUNT(*) AS n_rows, SUM(n_rows) AS rows_sum, "
           "SUM(amount_sum) AS amount_total "
           "FROM ivm.mv_fine GROUP BY k")

    _append(spark, io, 100, 300, k_mod=20)
    delete_where(io, ["ivm"], "facts", E.lt("id", 40))
    report = run_maintenance(io, ["ivm"], "facts", keep_last=2)
    assert report["refresh_materialized_views"] == "2 refreshed"

    # the chain end equals a from-scratch recompute over the live facts
    facts = io.read_table(["ivm"], "facts")
    want = {
        (r.k, 1, r.n, r.amount)
        for r in facts.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(amount AS DECIMAL(18,2))")).alias("amount"),
        ).collect()
    }
    got = {
        (r.k, r.n_rows, r.rows_sum, r.amount_total)
        for r in io.sql("SELECT k, n_rows, rows_sum, amount_total "
                        "FROM ivm.mv_total").collect()
    }
    assert got == want
    # steady state: both no-op
    assert io.sql("REFRESH MATERIALIZED VIEW ivm.mv_fine").collect()[0].kind == "noop"
    assert io.sql("REFRESH MATERIALIZED VIEW ivm.mv_total").collect()[0].kind == "noop"


def test_minmax_ephemeral_row_is_not_folded(spark, io):
    """A row inserted AND deleted within ONE refresh window nets to zero
    per tracked tuple — its value must NOT fold into MIN/MAX (the group
    stays on the fold path because nothing is net-negative, and the old
    insert-side fold admitted the phantom). The extra surviving append
    keeps the group's delta nonzero so the zero-churn filter cannot mask
    the bug."""
    _append(spark, io, 50, 100)
    create_rollup(io, EXTREMA_SPEC)
    # one refresh window: a would-be new minimum appears and vanishes,
    # plus a legitimate surviving append to every group (amount typed
    # exactly like _rows' division result so every file matches the
    # table schema)
    amount_type = _rows(spark, 0, 1).schema["amount"].dataType
    ephemeral = spark.range(7000, 7005).select(
        F.col("id"), (F.col("id") % 5).alias("k"),
        F.lit("-999.00").cast(amount_type).alias("amount"),
    )
    io.write_table(ephemeral.coalesce(1), ["ivm"], "facts", mode="append")
    _append(spark, io, 100, 120)
    delete_where(io, ["ivm"], "facts", E.gt_eq("id", 7000))
    res = refresh_rollup(io, EXTREMA_SPEC)
    # nothing is net-negative: the ephemeral tuples cancel to zero
    assert res["rescanned_groups"] == 0
    got = _assert_rollup_matches(io, EXTREMA_SPEC)
    assert all(row[1] > -900 for row in got)  # no phantom -999 minimum


def test_join_extrema_ephemeral_bilinear_pair_not_folded(spark, io):
    """Join-view twin of the phantom test: a dim insert for a previously
    unmatched key lands in the SAME window as the delete of its facts —
    the bilinear terms generate +/- pairs for rows that exist in neither
    the pre nor the post joined relation. Their values must not fold."""
    from decimal import Decimal

    facts = spark.createDataFrame(
        [(i, i % 5, Decimal(100 + i)) for i in range(50)]
        + [(900 + j, 9, Decimal(-500 - j)) for j in range(3)],  # k=9: dangling
        "id long, k long, amount decimal(18,2)",
    )
    io.write_table(facts.coalesce(1), ["ivm"], "facts", mode="append")
    _write_dims(spark, io, {0: "east", 1: "east", 2: "west", 3: "west", 4: "east"})
    create_join_rollup(io, JOIN_EXT_SPEC)
    # one window: k=9 gains a dim row ('east') AND loses its facts, plus
    # a surviving append so 'east' has a real delta
    io.sql("INSERT INTO ivm.dims SELECT 9 AS k, 'east' AS region")
    delete_where(io, ["ivm"], "facts", E.gt_eq("id", 900))
    more = spark.createDataFrame(
        [(2000 + i, i % 5, Decimal(50 + i)) for i in range(10)],
        "id long, k long, amount decimal(18,2)",
    )
    io.write_table(more.coalesce(1), ["ivm"], "facts", mode="append")
    refresh_join_rollup(io, JOIN_EXT_SPEC)
    got = _assert_join_ext_matches(io)
    # the -500.x amounts never joined in any live state
    assert all(row[0] > -400 for row in got)  # amount_min is first sorted col


def test_count_distinct_rejected_with_clear_message(spark, io):
    _append(spark, io, 0, 10)
    with pytest.raises(ValueError, match="not incrementally maintainable"):
        io.sql("CREATE MATERIALIZED VIEW ivm.bad_cd AS "
               "SELECT k, COUNT(*) AS n_rows, COUNT(DISTINCT id) AS d "
               "FROM ivm.facts GROUP BY k")


def test_diamond_topology_refreshes_parent_first(spark, io):
    """C = T ⋈ B where B is itself an MV over T: run_maintenance(T) must
    refresh B BEFORE C whatever the catalog walk order, and a broken B
    must SKIP C (refreshing a child over a stale parent would advance its
    watermark over nothing)."""
    from denali_spark.sources import run_maintenance

    _append(spark, io, 0, 100)
    # name the child so a plain walk would visit it FIRST (a_... < mv_...)
    io.sql("CREATE MATERIALIZED VIEW ivm.mv_b AS "
           "SELECT k, COUNT(*) AS n_rows, "
           "SUM(CAST(amount AS DECIMAL(18,2))) AS amount_sum "
           "FROM ivm.facts GROUP BY k")
    io.sql("""
        CREATE MATERIALIZED VIEW ivm.a_child AS
        SELECT k, COUNT(*) AS n_rows,
               SUM(CAST(amount AS DECIMAL(18,2))) AS fact_amount,
               SUM(amount_sum) AS rolled_amount
        FROM ivm.facts JOIN ivm.mv_b ON facts.k = mv_b.k
        GROUP BY k
    """)
    _append(spark, io, 100, 200)
    report = run_maintenance(io, ["ivm"], "facts", keep_last=2)
    assert report["refresh_materialized_views"] == "2 refreshed"
    # the child reflects B's POST-refresh state: per k, 40 facts joined to
    # B's one row whose amount_sum covers all 40
    got = {(r.k, r.n_rows, r.fact_amount, r.rolled_amount)
           for r in io.sql("SELECT k, n_rows, fact_amount, rolled_amount "
                           "FROM ivm.a_child").collect()}
    facts = io.read_table(["ivm"], "facts")
    want = {
        (r.k, r.n, r.amt, r.amt * r.n)
        for r in facts.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(amount AS DECIMAL(18,2))")).alias("amt"),
        ).collect()
    }
    assert got == want

    # break the parent: its refresh fails, the child must be SKIPPED
    rogue = spark.createDataFrame(
        [(99, 1, None)], "k long, n_rows long, amount_sum decimal(28,2)"
    )
    io.write_table(rogue, ["ivm"], "mv_b", mode="append")
    _append(spark, io, 200, 250)
    report = run_maintenance(io, ["ivm"], "facts", keep_last=2)
    assert report["refresh_materialized_views"] == "0 refreshed"
    assert any("mv_b" in f for f in report["refresh_materialized_views_failed"])
    assert any("a_child" in sk
               for sk in report["refresh_materialized_views_skipped"])


def test_outer_join_spellings_rejected(spark, io):
    """LEFT/RIGHT/FULL/CROSS joins are outside the maintainable subset and
    must be REJECTED — the alias slot must not swallow the join type and
    silently build an INNER-join rollup."""
    _append(spark, io, 0, 10)
    _write_dims(spark, io, {0: "east"})
    for jt in ("LEFT", "RIGHT", "FULL", "CROSS", "LEFT OUTER"):
        with pytest.raises(ValueError, match="unsupported FROM clause"):
            io.sql(f"CREATE MATERIALIZED VIEW ivm.bad_oj AS "
                   f"SELECT region, COUNT(*) AS n_rows "
                   f"FROM ivm.facts {jt} JOIN ivm.dims ON facts.k = dims.k "
                   f"GROUP BY region")


def test_aggregate_alias_shadowing_key_rejected():
    with pytest.raises(ValueError, match="shadow"):
        RollupSpec(
            source_namespace=["ivm"], source_name="facts",
            target_namespace=["ivm"], target_name="bad",
            group_by=["k"], sums={"k": "CAST(amount AS DECIMAL(18,2))"},
        )


def test_sibling_aggregate_sum_rejected_cleanly(spark, io):
    _append(spark, io, 0, 10)
    with pytest.raises(ValueError, match="plain select items"):
        io.sql("CREATE MATERIALIZED VIEW ivm.bad_sib AS "
               "SELECT k, COUNT(*) AS n_rows, "
               "SUM(amount) + SUM(id) AS total FROM ivm.facts GROUP BY k")


def test_all_null_tracked_delete_stays_on_fold_path(spark, io):
    """Deleting rows whose tracked value is NULL must not trigger a
    rescan — NULLs can never move MIN/MAX (a recompute ignores them)."""
    from decimal import Decimal

    base = spark.createDataFrame(
        [(i, i % 5, Decimal(i)) for i in range(40)]
        + [(100 + i, i % 5, None) for i in range(10)],
        "id long, k long, amount decimal(18,2)",
    )
    io.write_table(base.coalesce(1), ["ivm"], "facts", mode="append")
    spec = RollupSpec(
        source_namespace=["ivm"], source_name="facts",
        target_namespace=["ivm"], target_name="facts_nullmin",
        group_by=["k"], mins={"amount_min": "amount"},
    )
    create_rollup(io, spec)
    delete_where(io, ["ivm"], "facts", E.gt_eq("id", 100))  # NULL rows only
    res = refresh_rollup(io, spec)
    assert res["rescanned_groups"] == 0
    _assert_rollup_matches(io, spec)


def test_join_null_tracked_delete_cannot_cancel_extrema_insert(spark, io):
    """Join-path twin of the r15 zero-delta-drop fix: the bilinear fact
    delta can pair a NULL-tracked delete (rescan-exempt) with an insert
    carrying a new minimum in one refresh window; with a min-only join
    spec the count/sum zero predicate alone would drop the group's delta
    row and discard the extremum. The extrema-column guard on the shared
    fold tail must keep it."""
    rows = [(1, 0, 10.00), (2, 0, None)]
    df = spark.createDataFrame(rows, "id long, k long, amount_raw double").select(
        "id", "k", F.col("amount_raw").cast("decimal(18,2)").alias("amount")
    )
    io.write_table(df.coalesce(1), ["ivm"], "facts", mode="append")
    _write_dims(spark, io, {0: "east"})
    spec = JoinRollupSpec(
        left_namespace=["ivm"], left_name="facts",
        right_namespace=["ivm"], right_name="dims",
        on=[("k", "k")],
        target_namespace=["ivm"], target_name="facts_min_region",
        group_by=["region"],
        mins={"amount_min": "amount"},
    )
    create_join_rollup(io, spec)

    keys = spark.createDataFrame([(2,)], "id long")
    equality_delete(io, ["ivm"], "facts", keys, on=["id"])
    ins = spark.createDataFrame(
        [(3, 0, 5.00)], "id long, k long, amount_raw double"
    ).select(
        "id", "k", F.col("amount_raw").cast("decimal(18,2)").alias("amount")
    )
    io.write_table(ins.coalesce(1), ["ivm"], "facts", mode="append")

    res = refresh_join_rollup(io, spec)
    assert res.get("rescanned_groups", 0) == 0
    _assert_join_matches(io, spec)
    got = io.read_table(["ivm"], "facts_min_region").collect()
    assert [(r.region, str(r.amount_min)) for r in got] == [("east", "5.00")]


def test_run_maintenance_protects_programmatic_rollups(spark, io):
    """r15: create_rollup stamps ivm.spec itself, so a PROGRAMMATIC
    rollup gets the same refresh-before-expiry protection as a
    SQL-created MV — previously aggressive source expiry could strand
    its watermark (the dependent walk only discovers stamped specs)."""
    from denali_spark.sources import run_maintenance

    _append(spark, io, 0, 50)
    create_rollup(io, SPEC)
    _append(spark, io, 50, 100)
    _append(spark, io, 100, 150)
    report = run_maintenance(io, ["ivm"], "facts", keep_last=1)
    assert report.get("refresh_materialized_views") == "1 refreshed"
    _assert_matches_recompute(io)
    # the watermark survived the keep_last=1 trim: a re-refresh no-ops
    assert refresh_rollup(io, SPEC)["noop"] is True
    # and the programmatic rollup is listed like any MV
    names = {r.mviewName
             for r in io.sql("SHOW MATERIALIZED VIEWS IN ivm").collect()}
    assert "facts_by_k" in names


def test_create_or_replace_of_a_source_keeps_its_mv_entry(spark, io):
    """CREATE OR REPLACE TABLE of an MV's source keeps the source's
    `ivm.dependent.*` entry (replace_table keeps table properties), so the
    MV is still found through its source. The replace gives every field a
    new id, so no changelog spans it: REFRESH rebuilds the view."""
    from denali_spark.sources.ivm import DEPENDENT_PREFIX

    _append(spark, io, 0, 20)
    io.sql(
        "CREATE MATERIALIZED VIEW ivm.mv_rep AS "
        "SELECT k, COUNT(*) AS n_rows FROM ivm.facts GROUP BY k"
    )
    io.sql("CREATE OR REPLACE TABLE ivm.facts AS SELECT * FROM ivm.facts WHERE id < 10")
    props = io.client.load_table(["ivm"], "facts")["metadata"]["properties"]
    assert DEPENDENT_PREFIX + "ivm.mv_rep" in props
    assert io.sql("REFRESH MATERIALIZED VIEW ivm.mv_rep").collect()[0].kind == "full"
    got = {(r.k, r.n_rows) for r in io.sql("SELECT k, n_rows FROM ivm.mv_rep").collect()}
    assert got == {(k, 2) for k in range(5)}
    assert io.sql("REFRESH MATERIALIZED VIEW ivm.mv_rep").collect()[0].kind == "noop"
