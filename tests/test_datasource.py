"""Python Data Source tests: spark.read.format("denali") batch reads with
time travel, the snapshot-offset streaming source, and scope errors."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.sources import SparkCatalogIO, equality_delete
from denali_spark.sources.datasource import register_denali_source


@pytest.fixture()
def io(spark, tmp_path):
    register_denali_source(spark)
    server = CatalogServer(make_state(str(tmp_path / "wh"))).start()
    yield SparkCatalogIO(spark, server.uri)
    server.stop()


def _append(spark, io, ns, name, lo, hi):
    df = spark.range(lo, hi).select("id", (F.col("id") * 2).alias("v")).coalesce(1)
    io.write_table(df, ns, name, mode="append")
    return io.client.load_table(ns, name)["metadata"]["current-snapshot-id"]


def _fmt(spark, io, name):
    return (
        spark.read.format("denali")
        .option("uri", io.client.uri)
        .option("namespace", "dsrc")
        .option("table", name)
    )


def test_batch_read_matches_io(spark, io):
    ns = ["dsrc"]
    s1 = _append(spark, io, ns, "t", 0, 10)
    _append(spark, io, ns, "t", 10, 15)
    df = _fmt(spark, io, "t").load()
    assert sorted((r.id, r.v) for r in df.collect()) == [
        (i, 2 * i) for i in range(15)
    ]
    # time travel by snapshot id
    old = _fmt(spark, io, "t").option("snapshot_id", str(s1)).load()
    assert old.count() == 10
    # and by ref
    io.create_tag(ns, "t", "v1")
    by_ref = _fmt(spark, io, "t").option("ref", "v1").load()
    assert by_ref.count() == 15


def test_batch_read_empty_table(spark, io):
    io.client.create_namespace(["dsrc"])
    io.client.create_table(
        ["dsrc"], "empty",
        {"type": "struct", "schema-id": 0,
         "fields": [{"id": 1, "name": "id", "type": "long", "required": False}]},
    )
    df = _fmt(spark, io, "empty").load()
    assert df.count() == 0 and df.columns == ["id"]


def test_batch_read_applies_equality_deletes(spark, io):
    """Equality-delete key sets ship in the partition and apply with the
    strictly-lower-sequence rule: rows appended AFTER the delete keep
    their key."""
    ns = ["dsrc"]
    _append(spark, io, ns, "mor", 0, 10)
    equality_delete(io, ns, "mor", spark.createDataFrame([(3,)], "id long"), on=["id"])
    _append(spark, io, ns, "mor", 20, 24)  # higher sequence than the delete
    got = sorted(r.id for r in _fmt(spark, io, "mor").load().collect())
    assert got == [0, 1, 2, 4, 5, 6, 7, 8, 9, 20, 21, 22, 23]
    # agrees with the reconciled path
    assert got == sorted(r.id for r in io.read_table(ns, "mor").collect())


def test_stream_consumes_snapshots_incrementally(spark, io):
    ns = ["dsrc"]
    _append(spark, io, ns, "s", 0, 5)
    stream = (
        spark.readStream.format("denali")
        .option("uri", io.client.uri)
        .option("namespace", "dsrc")
        .option("table", "s")
        .option("starting", "earliest")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dsrc_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        first = sorted(r.id for r in spark.sql("select * from dsrc_stream").collect())
        assert first == list(range(5))

        _append(spark, io, ns, "s", 5, 9)
        q.processAllAvailable()
        both = sorted(r.id for r in spark.sql("select * from dsrc_stream").collect())
        assert both == list(range(9))
    finally:
        q.stop()


def test_stream_default_start_is_latest(spark, io):
    ns = ["dsrc"]
    _append(spark, io, ns, "s2", 0, 5)  # pre-existing data: skipped by default
    stream = (
        spark.readStream.format("denali")
        .option("uri", io.client.uri)
        .option("namespace", "dsrc")
        .option("table", "s2")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dsrc_latest")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("select * from dsrc_latest").count() == 0
        _append(spark, io, ns, "s2", 100, 103)
        q.processAllAvailable()
        got = sorted(r.id for r in spark.sql("select * from dsrc_latest").collect())
        assert got == [100, 101, 102]
    finally:
        q.stop()


def test_batch_write_append_and_overwrite(spark, io):
    ns = ["dsrc"]
    _append(spark, io, ns, "w", 0, 5)
    df = spark.range(100, 104).select("id", (F.col("id") * 2).alias("v"))
    (
        df.write.format("denali")
        .option("uri", io.client.uri)
        .option("namespace", "dsrc")
        .option("table", "w")
        .mode("append")
        .save()
    )
    got = sorted(r.id for r in io.read_table(ns, "w").collect())
    assert got == [0, 1, 2, 3, 4, 100, 101, 102, 103]

    (
        df.write.format("denali")
        .option("uri", io.client.uri)
        .option("namespace", "dsrc")
        .option("table", "w")
        .mode("overwrite")
        .save()
    )
    got = sorted(r.id for r in io.read_table(ns, "w").collect())
    assert got == [100, 101, 102, 103]
    # snapshot history records the operations
    md = io.client.load_table(ns, "w")["metadata"]
    ops = [s["summary"]["operation"] for s in md["snapshots"]]
    assert ops[-2:] == ["append", "overwrite"]


def test_batch_write_rejects_schema_mismatch(spark, io):
    ns = ["dsrc"]
    _append(spark, io, ns, "wm", 0, 3)
    bad = spark.range(0, 2).select("id", F.lit("x").alias("other"))
    with pytest.raises(Exception, match="does not match table schema"):
        (
            bad.write.format("denali")
            .option("uri", io.client.uri)
            .option("namespace", "dsrc")
            .option("table", "wm")
            .mode("append")
            .save()
        )


def test_stream_write_commits_snapshot_per_batch(spark, io, tmp_path):
    import time

    ns = ["dsrc"]
    _append(spark, io, ns, "sw", 0, 3)  # seeds schema

    src = str(tmp_path / "in")
    for k in (1, 2):
        spark.range(10 * k, 10 * k + 4).select(
            "id", (F.col("id") * 2).alias("v")
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    stream = (
        spark.readStream.schema("id long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.format("denali")
        .option("uri", io.client.uri)
        .option("namespace", "dsrc")
        .option("table", "sw")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(r.id for r in io.read_table(ns, "sw").collect())
    assert got == [0, 1, 2, 10, 11, 12, 13, 20, 21, 22, 23]
    md = io.client.load_table(ns, "sw")["metadata"]
    batch_ids = [
        s["summary"].get("streaming-batch-id")
        for s in md["snapshots"]
        if "streaming-batch-id" in s.get("summary", {})
    ]
    assert len(batch_ids) == 2 and len(set(batch_ids)) == 2


def test_stream_write_replay_is_idempotent(spark, io):
    from denali_spark.sources.datasource import _commit_files, _FilesWritten

    ns = ["dsrc"]
    _append(spark, io, ns, "rp", 0, 3)
    df = spark.range(50, 53).select("id", (F.col("id") * 2).alias("v")).coalesce(1)
    # write one parquet file the way an executor task would
    md = io.client.load_table(ns, "rp")["metadata"]
    from denali_spark.sources.datasource import _writer_preflight

    ctx = _writer_preflight(
        {"uri": io.client.uri, "namespace": "dsrc", "table": "rp"}, df.schema
    )
    from denali_spark.sources.datasource import _write_partition_file

    msg = _write_partition_file(ctx, iter(df.collect()))
    extra = {"streaming-batch-id": "7"}
    _commit_files(ctx, [msg], False, extra)
    n1 = io.read_table(ns, "rp").count()
    _commit_files(ctx, [msg], False, extra)  # replay: same batch id
    assert io.read_table(ns, "rp").count() == n1 == 6


def test_batch_read_pushdown_prunes_files(spark, io):
    """Translatable filters drop whole files from the plan via manifest
    stats (pushFilters), while Spark still applies the exact predicate."""
    ns = ["dsrc"]
    for lo, hi in ((0, 10), (100, 110), (200, 210)):
        _append(spark, io, ns, "pf", lo, hi)

    df = _fmt(spark, io, "pf").load().where("id >= 100 and id < 110")
    assert sorted(r.id for r in df.collect()) == list(range(100, 110))
    # plan-level proof: count scan partitions for the filtered read
    from denali_spark.sources.datasource import _DenaliBatchReader, _filter_to_expr
    from pyspark.sql.datasource import EqualTo, GreaterThan, IsNull

    md = io.client.load_table(ns, "pf")["metadata"]
    r = _DenaliBatchReader(
        {"uri": io.client.uri, "namespace": "dsrc", "table": "pf"}, md
    )
    assert len(r.partitions()) == 3  # unfiltered: one per file
    leftover = list(r.pushFilters([GreaterThan(("id",), 150)]))
    assert len(leftover) == 1  # every filter returned for exact evaluation
    assert len(r.partitions()) == 1  # only the 200-210 file survives
    # untranslatable shapes leave pruning unchanged
    r2 = _DenaliBatchReader(
        {"uri": io.client.uri, "namespace": "dsrc", "table": "pf"}, md
    )
    list(r2.pushFilters([IsNull(("id",))]))
    assert len(r2.partitions()) == 0 or all(p.path for p in r2.partitions()) is not None
    r3 = _DenaliBatchReader(
        {"uri": io.client.uri, "namespace": "dsrc", "table": "pf"}, md
    )
    list(r3.pushFilters([EqualTo(("id",), 5), EqualTo(("id",), 105)]))
    # contradictory AND: no file can satisfy both → empty scan sentinel
    parts = r3.partitions()
    assert len(parts) == 1 and parts[0].path == ""


def test_batch_read_applies_deletion_vectors(spark, io):
    """format("denali") reads tables with V3 deletion vectors natively:
    each file's task masks its own bitmap — no reconciled-path fallback."""
    from denali_spark.sources import delete_where_dv
    from denali_spark.sources import expressions as E

    ns = ["dsrc"]
    _append(spark, io, ns, "dv", 0, 50)
    _append(spark, io, ns, "dv", 50, 100)
    delete_where_dv(io, ns, "dv", E.and_(E.gt_eq("id", 10), E.lt("id", 60)))

    df = _fmt(spark, io, "dv").load()
    got = sorted(r.id for r in df.collect())
    assert got == [i for i in range(100) if not (10 <= i < 60)]
    # agrees with the reconciled path
    assert got == sorted(r.id for r in io.read_table(ns, "dv").collect())
    # pushdown pruning composes with vectors: only the second file survives
    pruned = _fmt(spark, io, "dv").load().filter("id >= 60")
    assert pruned.count() == 40


def test_batch_read_applies_parquet_position_deletes_natively(spark, io):
    """V2 parquet position-delete files read natively alongside deletion
    vectors: each task scans the delete files with a file_path == its-file
    filter and merges the positions into its mask — no reconciled-path
    fallback, no convert_deletes_to_dvs required."""
    from denali_spark.sources import delete_where_dv, delete_where_mor
    from denali_spark.sources import expressions as E

    ns = ["dsrc"]
    _append(spark, io, ns, "mix", 0, 20)
    _append(spark, io, ns, "mix", 20, 40)
    delete_where_dv(io, ns, "mix", E.eq("id", 1))
    delete_where_mor(io, ns, "mix", E.eq("id", 2))
    delete_where_mor(io, ns, "mix", E.and_(E.gt_eq("id", 18), E.lt("id", 22)))

    got = sorted(r.id for r in _fmt(spark, io, "mix").load().collect())
    assert got == [i for i in range(40) if i not in (1, 2, 18, 19, 20, 21)]
    # agrees with the reconciled path
    assert got == sorted(r.id for r in io.read_table(ns, "mix").collect())


def test_stream_rate_limit_max_files_per_trigger(spark, io):
    """Offset negotiation honors maxfilespertrigger: each trigger advances
    along the snapshot chain by at most N data files (always >= one
    snapshot), replaying the backlog over several batches. Driven through
    the reader's own offset API for determinism."""
    from denali_spark.sources.datasource import _DenaliStreamReader

    ns = ["dsrc"]
    first = _append(spark, io, ns, "rl", 0, 4)
    _append(spark, io, ns, "rl", 4, 8)
    md = io.client.load_table(ns, "rl")["metadata"]
    reader = _DenaliStreamReader(
        {"namespace": "dsrc", "table": "rl", "uri": io.client.uri,
         "starting_snapshot_id": str(first), "maxfilespertrigger": "1"},
        md,
    )
    start = reader.initialOffset()
    seen = []

    def trigger():
        nonlocal start
        end = reader.latestOffset()
        if end == start:
            return False
        parts = reader.partitions(start, end)
        seen.append([p.path for p in parts if p.path])
        start = end
        return True

    # trigger 1 is UNCAPPED by design (no base before the first planned
    # batch — restart safety); it drains the initial backlog
    assert trigger() and len(seen[0]) == 1
    # three more single-file commits: steady-state triggers cap at 1 file
    for k in range(2, 5):
        _append(spark, io, ns, "rl", k * 4, (k + 1) * 4)
    while trigger():
        pass
    assert [len(b) for b in seen] == [1, 1, 1, 1]
    total_rows = sum(
        spark.read.parquet(p).count() for batch in seen for p in batch
    )
    assert total_rows == 16


def test_rate_limiter_counts_unstamped_snapshots_via_manifests(spark, io):
    """Snapshots lacking the added-data-files summary stamp (tables
    written by commit paths that don't stamp it) must NOT count as zero
    files — the limiter falls back to counting the snapshot's
    manifest-list data entries at its own sequence number, so a trigger
    still respects the cap."""
    from denali_spark.sources.datasource import _DenaliStreamReader

    ns = ["dsrc"]
    _append(spark, io, ns, "rlu", 0, 4)
    snap2 = _append(spark, io, ns, "rlu", 4, 8)
    md = io.client.load_table(ns, "rlu")["metadata"]
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == snap2)
    stamped = _DenaliStreamReader._added_file_count(None, snap)
    stripped = {**snap, "summary": {
        k: v for k, v in snap.get("summary", {}).items()
        if k != "added-data-files"
    }}
    fallback = _DenaliStreamReader._added_file_count(None, stripped)
    assert stamped == fallback == 1


def test_batch_read_row_ids(spark, io):
    """option("rowids","true") appends the V3 lineage _row_id column
    (first-row-id + pre-delete position) to batch reads — stable under
    deletion vectors, matching the reconciled path's with_row_ids."""
    from denali_spark.sources import delete_where_dv
    from denali_spark.sources import expressions as E

    ns = ["dsrc"]
    _append(spark, io, ns, "rid", 0, 10)
    _append(spark, io, ns, "rid", 10, 20)
    delete_where_dv(io, ns, "rid", E.eq("id", 3))

    df = _fmt(spark, io, "rid").option("rowids", "true").load()
    got = {r["id"]: r["_row_id"] for r in df.collect()}
    assert got == {i: i for i in range(20) if i != 3}
    # agrees with the reconciled read path
    rec = {
        r["id"]: r["_row_id"]
        for r in io.read_table(ns, "rid", with_row_ids=True).collect()
    }
    assert got == rec


def test_stream_reader_keeps_one_catalog_client(spark, io, monkeypatch):
    """Offset polling reuses one client: every trigger arrives on the same
    kept-alive connection and an unchanged table is answered 304."""
    import pickle

    from denali_spark.catalog import service
    from denali_spark.sources.datasource import _DenaliStreamReader

    _append(spark, io, ["dsrc"], "poll", 0, 4)
    md = io.client.load_table(["dsrc"], "poll")["metadata"]
    reader = _DenaliStreamReader(
        {"namespace": "dsrc", "table": "poll", "uri": io.client.uri}, md
    )
    seen = []
    send = service._Handler._send

    def recording(self, status, *args, **kwargs):
        seen.append((self.client_address[1], status))
        return send(self, status, *args, **kwargs)

    monkeypatch.setattr(service._Handler, "_send", recording)
    offsets = [reader.latestOffset() for _ in range(5)]
    assert offsets == [{"snapshot_id": md["current-snapshot-id"]}] * 5
    assert len(seen) == 5 and len({port for port, _ in seen}) == 1
    assert sum(status == 304 for _, status in seen) >= 4
    assert pickle.loads(pickle.dumps(reader))._client is None
