"""Regression tests for the round-1 ADVICE findings.

1. Equality deletes are keyed by field id: rename_column after an
   equality_delete must not break reads or detach the delete.
2. Streaming foreachBatch sinks are idempotent under micro-batch replay
   (at-least-once foreachBatch semantics) via a batch-id snapshot stamp.
3. Pagination: pageSize=0 is a 400, and the client walk always terminates.
4. The Iceberg last-sequence-number only advances on snapshot-producing
   commits, never on metadata-only commits.
5. expire_snapshots trims snapshot-log entries for removed snapshots, and
   a stale log entry yields a retention error, not a lookup failure.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.catalog.client import CatalogHTTPError
from denali_spark.sources import (
    SparkCatalogIO,
    drop_column,
    equality_delete,
    expire_snapshots,
    rename_column,
)


@pytest.fixture()
def io(spark, tmp_path):
    server = CatalogServer(make_state(str(tmp_path / "wh"))).start()
    yield SparkCatalogIO(spark, server.uri)
    server.stop()


# --- 1. equality deletes survive renames (field-id keyed) ------------------


def test_equality_delete_survives_rename(spark, io):
    ns = ["adv"]
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id int, s string"
    ).coalesce(1)
    io.write_table(df, ns, "t")
    keys = spark.createDataFrame([(2,)], "id int")
    equality_delete(io, ns, "t", keys, on=["id"])
    # rename the delete's key column AFTER the delete was written
    rename_column(io, ns, "t", "id", "ident")
    rows = io.read_table(ns, "t").collect()
    assert {(r["ident"], r["s"]) for r in rows} == {(1, "a"), (3, "c")}


def test_equality_delete_rename_nonkey_column(spark, io):
    ns = ["adv"]
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id int, s string"
    ).coalesce(1)
    io.write_table(df, ns, "t2")
    equality_delete(io, ns, "t2", spark.createDataFrame([("a",)], "s string"), on=["s"])
    rename_column(io, ns, "t2", "s", "label")
    rows = io.read_table(ns, "t2").collect()
    assert {(r["id"], r["label"]) for r in rows} == {(2, "b")}


def test_equality_delete_dropped_key_column_errors(spark, io):
    ns = ["adv"]
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string").coalesce(1)
    io.write_table(df, ns, "t3")
    equality_delete(io, ns, "t3", spark.createDataFrame([(1,)], "id int"), on=["id"])
    drop_column(io, ns, "t3", "id")
    with pytest.raises(ValueError, match="rewrite_deletes"):
        io.read_table(ns, "t3").collect()


# --- 2. streaming replay idempotence ---------------------------------------


def test_append_sink_replay_is_idempotent(spark, io, tmp_path):
    from denali_spark.streaming.events_stream import make_append_sink

    ns, name = ["adv"], "stream_t"
    sink = make_append_sink(io, ns, name, str(tmp_path / "ckpt"))
    batch = spark.createDataFrame([(1, "x"), (2, "y")], "id int, s string")
    sink(batch, 0)
    sink(batch, 0)  # foreachBatch replay after restart: must be a no-op
    sink(batch, 1)
    assert io.read_table(ns, name).count() == 4
    md = io.client.load_table(ns, name)["metadata"]
    assert len(md["snapshots"]) == 2


def test_cdc_sink_replay_preserves_later_upserts(spark, io, tmp_path):
    """The ADVICE scenario's sharpest corner: a replayed delete-only batch
    must not emit a fresh (higher-sequence) equality delete that would kill
    keys re-inserted by later batches."""
    from denali_spark.streaming.events_stream import make_cdc_sink

    ns, name = ["adv"], "cdc_t"
    sink = make_cdc_sink(io, ns, name, keys=["id"], checkpoint_dir=str(tmp_path / "c"))
    b0 = spark.createDataFrame([(1, "v1", "u"), (2, "v2", "u")], "id int, v string, op string")
    b1 = spark.createDataFrame([(1, None, "d")], "id int, v string, op string")
    b2 = spark.createDataFrame([(1, "v1b", "u")], "id int, v string, op string")
    sink(b0, 0)
    sink(b1, 1)   # delete-only batch
    sink(b2, 2)   # re-insert key 1
    sink(b1, 1)   # replay of the delete-only batch — must be skipped
    rows = {(r["id"], r["v"]) for r in io.read_table(ns, name).collect()}
    assert rows == {(1, "v1b"), (2, "v2")}


# --- 3. pagination ----------------------------------------------------------


def test_page_size_zero_is_rejected(spark, io):
    io.client.create_namespace(["pg"])
    for t in ("a", "b"):
        io.client.create_table(
            ["pg"], t,
            {"type": "struct", "fields": [
                {"id": 1, "name": "x", "type": "int", "required": False}]},
        )
    with pytest.raises(CatalogHTTPError) as exc:
        io.client._request("GET", "/v1/namespaces/pg/tables", query="pageSize=0")
    assert exc.value.status == 400
    # the normal paged walk still drains everything and terminates
    names = [t["name"] for t in io.client.list_tables(["pg"], page_size=1)]
    assert names == ["a", "b"]


# --- 4. sequence number semantics -------------------------------------------


def test_metadata_only_commits_keep_sequence_number(spark, io):
    ns, name = ["adv"], "seq_t"
    df = spark.createDataFrame([(1,)], "id int")
    io.write_table(df, ns, name)
    before = io.client.load_table(ns, name)["metadata"]["last-sequence-number"]
    io.client.commit_table(
        ns, name, requirements=[],
        updates=[{"action": "set-properties", "updates": {"touched": "yes"}}],
    )
    md = io.client.load_table(ns, name)["metadata"]
    assert md["last-sequence-number"] == before  # metadata-only: unchanged
    assert md["properties"]["touched"] == "yes"
    io.write_table(df, ns, name, mode="append")
    md = io.client.load_table(ns, name)["metadata"]
    assert md["last-sequence-number"] == before + 1  # snapshot commit: +1


# --- 5. snapshot expiry trims the snapshot log ------------------------------


def test_expire_snapshots_trims_snapshot_log(spark, io):
    ns, name = ["adv"], "exp_t"
    df = spark.createDataFrame([(1,)], "id int")
    for _ in range(3):
        io.write_table(df, ns, name, mode="append")
    md = io.client.load_table(ns, name)["metadata"]
    assert len(md["snapshots"]) == 3 and len(md["snapshot-log"]) == 3
    expire_snapshots(io, ns, name, keep_last=1)
    md = io.client.load_table(ns, name)["metadata"]
    live = {s["snapshot-id"] for s in md["snapshots"]}
    assert len(live) == 1
    # every surviving log entry points at a live snapshot
    assert all(e["snapshot-id"] in live for e in md["snapshot-log"])
    # TIMESTAMP AS OF before the earliest surviving entry → clean error
    earliest = min(e["timestamp-ms"] for e in md["snapshot-log"])
    with pytest.raises(ValueError, match="no snapshot committed|retention"):
        io.read_table(ns, name, as_of_ms=earliest - 1)


# --- round-2/3 ADVICE regressions -------------------------------------------
# 6. Pagination: an EMPTY page carrying a fresh token must not end the walk
#    (spec-legal server behavior, e.g. skipping a tombstoned range); only a
#    missing or repeated token terminates.
# 7. Avro timestamp-micros encoding is exact integer arithmetic — float
#    seconds truncate the low microsecond for current epochs.
# 8. Connected components warns (never silently splits clusters) when the
#    round cap is hit before fixpoint.


def test_paged_walk_survives_empty_page_with_token(monkeypatch):
    from denali_spark.catalog.client import CatalogClient

    client = CatalogClient.__new__(CatalogClient)
    pages = {
        None: ({"tables": [{"name": "a"}]}, "t1"),
        "t1": ({"tables": []}, "t2"),  # empty page, valid token: keep going
        "t2": ({"tables": [{"name": "b"}]}, None),
    }

    def fake_request(method, path, body=None, query=""):
        token = None
        for part in query.split("&"):
            if part.startswith("pageToken="):
                token = part.split("=", 1)[1]
        payload, nxt = pages[token]
        payload = dict(payload)
        if nxt:
            payload["next-page-token"] = nxt
        return 200, payload

    monkeypatch.setattr(client, "_request", fake_request)
    out = client._paged_get("/v1/namespaces/x/tables", "tables", "", page_size=1)
    assert [t["name"] for t in out] == ["a", "b"]


def test_paged_walk_raises_on_repeated_token(monkeypatch):
    """A degenerate server repeating a next-page-token must raise (round-4
    ADVICE): silently returning a partial listing as success would mask
    server paging bugs from every caller."""
    from denali_spark.catalog.client import CatalogClient, ClientProtocolError

    client = CatalogClient.__new__(CatalogClient)

    def fake_request(method, path, body=None, query=""):
        # degenerate server: always the same token — must not loop forever
        return 200, {"tables": [{"name": "x"}], "next-page-token": "same"}

    monkeypatch.setattr(client, "_request", fake_request)
    with pytest.raises(ClientProtocolError, match="repeated next-page-token"):
        client._paged_get("/v1/namespaces/x/tables", "tables", "", page_size=1)


def test_avro_timestamp_micros_is_exact():
    import datetime

    from denali_spark.sources.avro_ocf import read_ocf, write_ocf

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"type": {"type": "long", "logicalType": "timestamp-micros"},
             "name": "ts"},
        ],
    }
    # 2024-01-01 00:00:00.000001: float-seconds arithmetic rounds this to
    # ...000000 (1704067200.000001 is not representable in binary64 with
    # sub-µs accuracy); integer arithmetic must keep the trailing 1.
    naive = datetime.datetime(2024, 1, 1, 0, 0, 0, 1)
    aware = naive.replace(tzinfo=datetime.timezone.utc)
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "t.avro")
        write_ocf(p, schema, [(naive,), (aware,)])
        _, rows = read_ocf(p)
    # decoded back to datetimes: the trailing microsecond must survive
    for got in (rows[0][0], rows[1][0]):
        base = got.replace(tzinfo=None) if got.tzinfo else got
        assert base == naive, got


def test_connected_components_warns_on_round_cap(spark, monkeypatch, tmp_path):
    """Non-convergence must WARN, never silently split components. The
    propagation now runs at ingest (cc_label_index build), so exercise it
    through a cache-missing fresh corpus copy — the warm query path never
    propagates at all (that's the point of the index)."""
    import os
    import shutil
    import warnings

    import denali_spark.operators.dedup as dedup

    d = str(tmp_path / "sf")
    os.makedirs(d)
    shutil.copy("/root/testdata/sf0.001/documents.parquet", d)
    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 0)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        dedup.cc_label_index(spark, d).count()
    assert any("fixpoint" in str(w.message) for w in caught)


# --- r15: write_table implicit casts are whitelisted widenings only --------


def test_safe_widening_whitelist_unit():
    from pyspark.sql.types import (
        ByteType, DateType, DecimalType, DoubleType, FloatType, IntegerType,
        LongType, ShortType, StringType, TimestampType,
    )

    from denali_spark.sources.catalog_io import _is_safe_widening

    ok = [
        (IntegerType(), LongType()),
        (ShortType(), IntegerType()),
        (ByteType(), LongType()),
        (FloatType(), DoubleType()),
        (DecimalType(18, 2), DecimalType(28, 8)),   # scale + headroom grow
        (DecimalType(18, 2), DecimalType(19, 2)),   # precision-only grow
        (IntegerType(), DecimalType(12, 2)),        # 10 int digits fit
        (LongType(), DecimalType(21, 2)),           # 19 int digits fit
        (DateType(), TimestampType()),
    ]
    bad = [
        (LongType(), IntegerType()),                # narrowing wraps
        (DoubleType(), FloatType()),
        (StringType(), LongType()),                 # cross-family NULLs
        (LongType(), StringType()),
        (DecimalType(28, 8), DecimalType(18, 2)),   # loses scale + headroom
        (DecimalType(18, 2), DecimalType(20, 8)),   # headroom shrinks 16->12
        (LongType(), DecimalType(18, 2)),           # 16 int digits < 19
        (DoubleType(), DecimalType(38, 10)),        # float->exact is lossy
        (TimestampType(), DateType()),
    ]
    for src, tgt in ok:
        assert _is_safe_widening(src, tgt), f"{src} -> {tgt} should widen"
    for src, tgt in bad:
        assert not _is_safe_widening(src, tgt), f"{src} -> {tgt} must raise"


def test_write_table_rejects_lossy_implicit_cast(spark, io):
    ns = ["adv"]
    io.write_table(
        spark.createDataFrame([(1, 10)], "id long, v long").coalesce(1),
        ns, "strict",
    )
    # string rows into a long column: a plain cast would silently NULL
    with pytest.raises(ValueError, match="cannot implicitly cast"):
        io.write_table(
            spark.createDataFrame([(2, "oops")], "id long, v string"),
            ns, "strict", mode="append",
        )
    # and a genuine widening still aligns implicitly
    io.write_table(
        spark.createDataFrame([(3, 30)], "id long, v int"),
        ns, "strict", mode="append",
    )
    got = {(r.id, r.v) for r in io.read_table(ns, "strict").collect()}
    assert got == {(1, 10), (3, 30)}


# --- r15: corpus identity keys on part files, not the directory stat -------


def test_corpus_stat_key_sees_inplace_part_rewrite(tmp_path):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from denali_spark.engine.index_cache import _corpus_stat_key, corpus_rows

    d = tmp_path / "docs.parquet"
    d.mkdir()
    pq.write_table(pa.table({"x": [1, 2, 3]}), d / "part-0.parquet")
    assert corpus_rows(str(tmp_path), "docs") == 3
    k1 = _corpus_stat_key(str(d))
    # rewrite the part IN PLACE (same file set) with more rows; pin the
    # directory mtime back so only the per-file key can notice
    st = os.stat(d)
    pq.write_table(pa.table({"x": [1, 2, 3, 4, 5]}), d / "part-0.parquet")
    os.utime(d, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert _corpus_stat_key(str(d)) != k1
    assert corpus_rows(str(tmp_path), "docs") == 5


# --- r15: one unextractable column must not cost the file's stats ----------


def test_parquet_stats_survive_unextractable_column(spark, tmp_path):
    """pyarrow's Statistics.min/.max raise ArrowNotImplementedError for
    physical types they cannot cast (FLBA-backed wide decimals, binary).
    The footer-stats reader must lose only THAT column's min/max — losing
    record-count zeroed total-records on every MV carrying a wide-decimal
    sum, which the rewrite cost chooser reads."""
    from denali_spark.sources.catalog_io import _parquet_stats

    path = str(tmp_path / "wide")
    spark.range(0, 7).select(
        "id",
        (F.col("id").cast("decimal(28,2)") * 3).alias("wide"),
        F.expr("sha2(CAST(id AS STRING), 256)").alias("s"),
    ).coalesce(1).write.mode("overwrite").parquet(path)
    import os

    part = next(os.path.join(path, f) for f in os.listdir(path)
                if f.endswith(".parquet"))
    stats = _parquet_stats(part)
    assert stats["record-count"] == 7
    assert stats["file-size-bytes"] > 0
    # the extractable columns keep their pruning bounds
    assert stats["stats"]["id"]["min"] == 0 and stats["stats"]["id"]["max"] == 6


# --- r16: nested/partitioned corpus layouts keep a real identity key -------


def test_corpus_stat_key_nested_partition_layout(tmp_path):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from denali_spark.engine.index_cache import _corpus_stat_key

    d = tmp_path / "docs.parquet"
    sub = d / "lang=en"
    sub.mkdir(parents=True)
    pq.write_table(pa.table({"x": [1, 2]}), sub / "part-0.parquet")
    k1 = _corpus_stat_key(str(d))
    assert k1 != ()  # the empty tuple made every rewrite invisible
    # rewriting a NESTED part in place must change the key even with the
    # corpus directory's own mtime pinned back
    st = os.stat(d)
    pq.write_table(pa.table({"x": [1, 2, 3]}), sub / "part-0.parquet")
    os.utime(d, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert _corpus_stat_key(str(d)) != k1


def test_corpus_stat_key_no_parquet_falls_back_to_dir_stat(tmp_path):
    from denali_spark.engine.index_cache import _corpus_stat_key

    d = tmp_path / "empty.parquet"
    d.mkdir()
    assert _corpus_stat_key(str(d)) != ()


# --- r16: same-millisecond commits can't serve under a zero staleness ------


def test_staleness_lag_floored_when_snapshots_differ():
    """Two source commits landing in the same millisecond yield a
    timestamp delta of 0, but the view IS behind (snapshot identity
    differs) — the lag must floor at 1ms so bound=0 strictly means
    fresh-only."""
    from denali_spark.sources.ivm import (
        SOURCE_KEY,
        WATERMARK_KEY,
        RollupSpec,
        mv_staleness_lag_ms,
    )

    spec = RollupSpec(
        source_namespace=["ns"], source_name="src",
        target_namespace=["ns"], target_name="mv", group_by=["k"],
    )
    t = 1_700_000_000_000
    source_md = {
        "current-snapshot-id": 2,
        "snapshots": [
            {"snapshot-id": 1, "timestamp-ms": t},
            {"snapshot-id": 2, "timestamp-ms": t},  # same ms as snap 1
        ],
    }
    mv_md = {
        "refs": {"main": {"snapshot-id": 10}},
        "snapshots": [{
            "snapshot-id": 10,
            "summary": {WATERMARK_KEY: "1", SOURCE_KEY: "ns.src"},
        }],
    }

    class _Client:
        def load_table(self, ns, name):
            return {"metadata": source_md}

    class _IO:
        client = _Client()

    assert mv_staleness_lag_ms(_IO(), spec, mv_md) == 1
    # and watermark == current still reads as exactly fresh (lag 0)
    source_md["current-snapshot-id"] = 1
    assert mv_staleness_lag_ms(_IO(), spec, mv_md) == 0


# --- r17: widen_build_input no-op check must not force physical planning ---


def test_widen_build_input_no_rdd_planning(spark, tmp_path, monkeypatch):
    """r16 ADVICE: the no-op check previously called df.rdd.getNumPartitions()
    (full physical planning per build; eager under AQE past an exchange).
    It now estimates the scan's split count from inputFiles + split confs.
    Pin both branches: a single tiny file widens to the row-derived target;
    a scan whose natural parallelism already covers the target is returned
    untouched (identity, no repartition node)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from denali_spark.engine.index_cache import widen_build_input

    d = tmp_path / "one"
    d.mkdir()
    pq.write_table(pa.table({"x": list(range(600))}), d / "part-0.parquet")
    df = spark.read.parquet(str(d))
    out = widen_build_input(df, rows=600)
    assert out is not df  # 1 natural split < ceil(600/256)=3 -> widened
    assert out.rdd.getNumPartitions() == min(
        spark.sparkContext.defaultParallelism, 3
    )
    assert sorted(r.x for r in out.collect()) == list(range(600))

    # many files -> natural splits already >= target: identity, no shuffle
    m = tmp_path / "many"
    m.mkdir()
    for i in range(4):
        pq.write_table(pa.table({"x": [i]}), m / f"part-{i}.parquet")
    dfm = spark.read.parquet(str(m))
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024))
    try:
        assert widen_build_input(dfm, rows=600) is dfm
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_widen_build_input_sizes_object_store_inputs():
    """Input sizes come from each path's Hadoop FileSystem: an s3a:// scan
    whose natural splits already cover the target is returned untouched
    (os.stat raised on such paths, so every build paid a repartition)."""
    from types import SimpleNamespace

    from denali_spark.engine.index_cache import widen_build_input

    class Path:
        def __init__(self, p):
            assert p.startswith("s3a://")

        def getFileSystem(self, conf):
            status = SimpleNamespace(getLen=lambda: 64 << 20)
            return SimpleNamespace(getFileStatus=lambda path: status)

    confs = {
        "spark.sql.files.maxPartitionBytes": str(128 << 20),
        "spark.sql.files.openCostInBytes": str(4 << 20),
    }
    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(defaultParallelism=8),
        conf=SimpleNamespace(get=confs.__getitem__),
        _jvm=SimpleNamespace(org=SimpleNamespace(apache=SimpleNamespace(
            hadoop=SimpleNamespace(fs=SimpleNamespace(Path=Path))))),
        _jsc=SimpleNamespace(hadoopConfiguration=lambda: None),
    )

    class ObjectStoreScan:
        sparkSession = spark

        def inputFiles(self):
            return [f"s3a://corpus/docs/part-{i}.parquet" for i in range(16)]

        def repartition(self, n):
            raise AssertionError(f"repartition({n}) of a wide scan")

    # 16 files of 64 MB + 4 MB open cost: one per 128 MB split -> 16 >= 8
    df = ObjectStoreScan()
    assert widen_build_input(df, rows=1 << 20) is df
