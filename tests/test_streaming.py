"""Structured Streaming tests: every streaming operator's result is checked
against its batch twin computed on the same data — semantic equivalence, not
just 'it ran'."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from denali_spark.engine.tables import load_table
from denali_spark.streaming import (
    read_event_stream,
    sessionize_stream,
    stream_to_catalog,
    user_running_totals,
    windowed_counts,
)
from denali_spark.sources.manifests import read_manifest_list
from tests.conftest import SF_SMOKE


@pytest.fixture()
def landing(spark, tmp_path):
    """Split the events table into 4 time-ordered parquet chunks in a landing
    dir, so the file stream sees 4 micro-batches arriving in rough event-time
    order (the real landing-zone shape — chunking on a hash key instead would
    advance the watermark to stream-end on batch 1 and drop everything after
    as late)."""
    import time

    from pyspark.sql import Window

    events = load_table(spark, SF_SMOKE, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    src = str(tmp_path / "landing")
    chunked = events.withColumn("chunk", F.ntile(4).over(Window.orderBy("ts")))
    # Written oldest-quartile first: the file source replays by modification
    # time, so micro-batches arrive in event-time order.
    for i in range(1, 5):
        chunked.filter(F.col("chunk") == i).drop("chunk").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.1)
    return src, events


def _run_stream(query):
    query.processAllAvailable()
    query.stop()


def test_windowed_counts_match_batch(spark, landing):
    src, events = landing
    stream = read_event_stream(spark, src)
    q = (
        windowed_counts(stream)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .start()
    )
    _run_stream(q)
    got = {
        r.window_start: (r.n_events, r.total_value)
        for r in spark.table("win_counts").collect()
    }
    expected = {
        r.h: (r.n, r.tv)
        for r in events.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm").alias("h")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("tv"),
        )
        .collect()
    }
    assert got == expected


def test_user_running_totals_stateful(spark, landing):
    src, events = landing
    stream = read_event_stream(spark, src)
    q = (
        user_running_totals(stream)
        .writeStream.format("memory")
        .queryName("user_totals")
        .outputMode("update")
        .start()
    )
    _run_stream(q)
    # In update mode the memory sink accumulates one row per (batch, user);
    # the final state per user is the row with the max n_events.
    pdf = spark.table("user_totals").toPandas()
    final = pdf.sort_values("n_events").groupby("user_id").last()
    expected = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv"))
        .collect()
    )
    for r in expected:
        assert final.loc[r.user_id, "n_events"] == r.n
        assert abs(final.loc[r.user_id, "total_value"] - r.tv) < 1e-6


def test_sessionize_stream_matches_batch_sessions(spark, landing):
    src, events = landing
    stream = read_event_stream(spark, src)
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .start()
    )
    _run_stream(q)
    got = spark.table("sessions")
    # Batch twin: session count and event-sum per user must agree with the
    # batch sessionizer (30-min gap) from the oracle-checked operator.
    from denali_spark.operators.registry import REGISTRY

    batch = REGISTRY["ts_sessionize"].fn(spark, SF_SMOKE)
    got_per_user = {
        r.user_id: (r.sessions, r.n)
        for r in got.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("sessions"), F.sum("n_events").alias("n"))
        .collect()
    }
    batch_per_user = {
        r.user_id: (r.sessions, r.n)
        for r in batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("sessions"), F.sum("n_events").alias("n"))
        .collect()
    }
    assert got_per_user == batch_per_user


def test_stream_to_catalog_snapshot_per_batch(spark, landing, tmp_path):
    from denali_spark.catalog import CatalogServer, make_state
    from denali_spark.sources import SparkCatalogIO

    src, events = landing
    server = CatalogServer(make_state(str(tmp_path / "wh"))).start()
    try:
        io = SparkCatalogIO(spark, server.uri)
        stream = read_event_stream(spark, src)
        q = stream_to_catalog(
            stream, io, ["streams"], "events_sink", str(tmp_path / "ckpt")
        )
        _run_stream(q)
        total = io.read_table(["streams"], "events_sink").count()
        assert total == events.count()
        md = io.client.load_table(["streams"], "events_sink")["metadata"]
        # One snapshot per non-empty micro-batch (4 chunks → 4 appends).
        assert len(md["snapshots"]) == 4
        assert md["refs"]["main"]["snapshot-id"] == md["current-snapshot-id"]
    finally:
        server.stop()


def test_stream_cdc_apply_equality_deletes(spark, tmp_path):
    """CDC changelog stream → catalog upsert sink: batch 2 updates k2,
    deletes k3, inserts k5; the table converges to the compacted state
    without any data file being rewritten (merge-on-read)."""
    import time

    from denali_spark.catalog import CatalogServer, make_state
    from denali_spark.sources import SparkCatalogIO
    from denali_spark.sources.catalog_io import split_entries
    from denali_spark.streaming import stream_cdc_apply

    server = CatalogServer(make_state(str(tmp_path / "wh"))).start()
    try:
        io = SparkCatalogIO(spark, server.uri)
        src = str(tmp_path / "cdc_landing")
        b1 = spark.createDataFrame(
            [("u", 1, "a1"), ("u", 2, "b1"), ("u", 3, "c1"), ("u", 4, "d1")],
            "op string, k int, payload string",
        )
        b2 = spark.createDataFrame(
            [("u", 2, "b2"), ("d", 3, None), ("u", 5, "e1")],
            "op string, k int, payload string",
        )
        b1.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtimes → file source replays in order
        b2.coalesce(1).write.mode("append").parquet(src)

        stream = (
            spark.readStream.schema("op string, k int, payload string")
            .option("maxFilesPerTrigger", 1)  # one landing file per micro-batch
            .parquet(src)
        )
        q = stream_cdc_apply(
            stream, io, ["cdc"], "t", keys=["k"],
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.processAllAvailable()
        q.stop()

        rows = {(r.k, r.payload) for r in io.read_table(["cdc"], "t").collect()}
        assert rows == {(1, "a1"), (2, "b2"), (4, "d1"), (5, "e1")}
        # merge-on-read property: batch 1's data file was never rewritten
        md = io.client.load_table(["cdc"], "t")["metadata"]
        snap = io._resolve_snapshot(md)
        data, deletes = split_entries(read_manifest_list(snap["manifest-list"]))
        assert [e["content"] for e in deletes] == ["equality-deletes"]
        assert len(data) == 2  # one append per batch, both carried by reference
    finally:
        server.stop()


def test_dedup_stream_matches_batch_distinct(spark, tmp_path, landing):
    """Duplicated landing files: the streaming dedup emits each event_id
    once, matching batch dropDuplicates on the same data."""
    import time

    from denali_spark.streaming import dedup_stream, read_event_stream

    src, events = landing
    # re-drop one chunk to simulate an at-least-once redelivery
    dup_src = str(tmp_path / "dup_landing")
    spark.read.parquet(src).coalesce(1).write.mode("append").parquet(dup_src)
    time.sleep(1.1)
    spark.read.parquet(src).limit(200).coalesce(1).write.mode("append").parquet(dup_src)

    stream = read_event_stream(spark, dup_src)
    q = (
        dedup_stream(stream, ["event_id"], watermark="10 hours")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    _run_stream(q)
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_out").first()
    want = events.select("event_id").distinct().count()
    assert got["n"] == got["d"] == want


def test_anomaly_stream_matches_batch_zscore(spark, landing):
    """The stateful streaming z-score must reproduce the batch operator's
    verdicts bit-for-bit when micro-batches arrive in event-time order."""
    from denali_spark.operators.timeseries import ts_anomaly_zscore
    from denali_spark.streaming.events_stream import anomaly_stream

    src, _events = landing
    stream = read_event_stream(spark, src)
    q = (
        anomaly_stream(stream)
        .writeStream.format("memory")
        .queryName("anomaly_out")
        .outputMode("append")
        .start()
    )
    _run_stream(q)
    got = {
        r["event_id"]: (r["trail_n"], r["z"], r["is_anomaly"])
        for r in spark.table("anomaly_out").collect()
    }
    expect = {
        r["event_id"]: (r["trail_n"], r["z"], r["is_anomaly"])
        for r in ts_anomaly_zscore(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(expect)
    mism = [
        (e, got[e], expect[e])
        for e in expect
        if got[e][0] != expect[e][0]
        or got[e][2] != expect[e][2]
        or (got[e][1] is None) != (expect[e][1] is None)
        or (got[e][1] is not None and got[e][1] != expect[e][1])
    ]
    assert not mism, f"{len(mism)} mismatches, first 3: {mism[:3]}"
    assert any(v[2] for v in got.values()) or all(
        v[0] < 30 for v in got.values()
    )  # the battery exercises real verdicts unless trails never fill


def test_ohlc_stream_matches_batch_bars(spark, landing):
    from denali_spark.operators.timeseries import ts_ohlc_bars
    from denali_spark.streaming.events_stream import ohlc_stream

    src, _events = landing
    stream = read_event_stream(spark, src)
    q = (
        ohlc_stream(stream)
        .writeStream.format("memory")
        .queryName("ohlc_bars")
        .outputMode("complete")
        .start()
    )
    _run_stream(q)
    got = {
        (r.window_start, r.event_type): (r.open, r.high, r.low, r.close, r.n)
        for r in spark.table("ohlc_bars").collect()
    }
    expect = {
        (r.hour[:-3] + ":00", r.event_type): (r.open, r.high, r.low, r.close, r.n)
        for r in ts_ohlc_bars(spark, SF_SMOKE).collect()
    }
    # batch hour format is "yyyy-MM-dd HH:00", stream "yyyy-MM-dd HH:mm" on
    # hour boundaries — normalize both to HH:00 strings
    expect = {
        (k[0][:13] + ":00", k[1]): v for k, v in expect.items()
    }
    got = {(k[0][:13] + ":00", k[1]): v for k, v in got.items()}
    assert got == expect


def test_anomaly_kernel_excludes_prior_batch_same_ts_peers():
    """A same-timestamp group split across two micro-batches must score
    exactly as if it arrived in one batch: the batch frame [T-24h, T-1]
    never includes same-ts peers, so the second batch's event at T must not
    see the first batch's T-event in its trailing window."""
    import pandas as pd

    from denali_spark.streaming.events_stream import _update_anomaly

    class MockState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    T = pd.Timestamp("2024-01-02 12:00:00")
    earlier = pd.Timestamp("2024-01-02 11:00:00")

    def batch(rows):
        return iter([pd.DataFrame(rows, columns=["event_id", "ts", "value"])])

    state = MockState()
    # batch 1: 40 earlier events (fills min-trail) + one event at T
    rows1 = [(i, earlier + pd.Timedelta(seconds=i), 10.0) for i in range(40)]
    rows1.append((100, T, 10.0))
    out1 = pd.concat(list(_update_anomaly(("click",), batch(rows1), state)))
    n_at_T_batch1 = int(out1.loc[out1.event_id == 100, "trail_n"].iloc[0])

    # batch 2: another event at the SAME timestamp T
    out2 = pd.concat(list(_update_anomaly(("click",), batch([(101, T, 10.0)]), state)))
    n_at_T_batch2 = int(out2.loc[out2.event_id == 101, "trail_n"].iloc[0])

    # identical frames: neither sees the other same-ts event
    assert n_at_T_batch2 == n_at_T_batch1 == 40
    # and state admitted both T events for FUTURE rows
    assert state.get[0].count(int(T.value // 1000)) == 2


def test_attribution_join_stream_matches_batch(spark, landing):
    from denali_spark.streaming import attribution_join_stream

    src, events = landing
    stream = read_event_stream(spark, src)
    q = (
        attribution_join_stream(stream, within="1 hour")
        .writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .start()
    )
    _run_stream(q)
    got = {
        (r.trigger_event_id, r.outcome_event_id, r.lag_us)
        for r in spark.sql("select * from attrib").collect()
    }

    trig = events.where("event_type = 'click'").selectExpr(
        "user_id tu", "event_id te", "ts tts"
    )
    out = events.where("event_type = 'purchase'").selectExpr(
        "user_id ou", "event_id oe", "ts ots"
    )
    want = {
        (r.te, r.oe, r.lag)
        for r in trig.join(
            out,
            F.expr("tu = ou AND ots >= tts AND ots <= tts + interval 1 hour"),
        )
        .selectExpr("te", "oe", "unix_micros(ots) - unix_micros(tts) lag")
        .collect()
    }
    assert got == want
    assert want  # non-vacuous: the smoke data does contain conversions


def test_attribution_join_left_outer_emits_unconverted(spark, landing):
    from denali_spark.streaming import attribution_join_stream

    src, events = landing
    stream = read_event_stream(spark, src)
    q = (
        attribution_join_stream(stream, within="1 hour", how="leftOuter")
        .writeStream.format("memory")
        .queryName("attrib_lo")
        .outputMode("append")
        .start()
    )
    _run_stream(q)
    rows = spark.sql("select * from attrib_lo").collect()
    matched = {r.trigger_event_id for r in rows if r.outcome_event_id is not None}
    unmatched = {r.trigger_event_id for r in rows if r.outcome_event_id is None}
    # every matched pair also appears in the inner-join set
    assert matched.isdisjoint(unmatched) or True  # a trigger can have both? no:
    # a trigger with any match must not ALSO emit a null row
    assert not (matched & unmatched)
    # null rows only for triggers the batch join finds unconverted — but the
    # final micro-batch's triggers may still be buffered (watermark never
    # passes them), so unmatched ⊆ batch-unconverted rather than equality.
    trig = events.where("event_type = 'click'").selectExpr(
        "user_id tu", "event_id te", "ts tts"
    )
    out = events.where("event_type = 'purchase'").selectExpr("user_id ou", "ts ots")
    batch_matched = {
        r.te
        for r in trig.join(
            out, F.expr("tu = ou AND ots >= tts AND ots <= tts + interval 1 hour")
        ).collect()
    }
    assert unmatched.isdisjoint(batch_matched)
    assert matched == batch_matched


def test_heavy_hitters_stream_matches_sequential_twin(spark, landing):
    """The sharded Misra-Gries summary after all micro-batches equals a
    sequential fold of the whole stream in (ts, event_id) order — the
    operator is a pure function of stream content, not batch boundaries
    — and MG's frequency guarantee holds against exact counts."""
    from denali_spark.streaming.events_stream import (
        MG_K,
        heavy_hitters_batch,
        heavy_hitters_stream,
        read_event_stream,
    )

    src, events = landing
    stream = read_event_stream(spark, src)
    q = (
        heavy_hitters_stream(stream)
        .writeStream.format("memory")
        .queryName("mg_hh")
        .outputMode("update")
        .start()
    )
    _run_stream(q)
    pdf = spark.table("mg_hh").toPandas()
    # update mode accumulates one summary emission per (batch, shard);
    # the final one per shard is the row set with that shard's max n_seen
    got = {}
    for shard, grp in pdf.groupby("shard"):
        last = grp[grp["n_seen"] == grp["n_seen"].max()]
        got[int(shard)] = (
            dict(zip(last["item"].astype(int), last["mg_count"].astype(int))),
            int(last["n_seen"].iloc[0]),
            int(last["decrements"].iloc[0]),
        )
    expected = heavy_hitters_batch(events)
    assert got == {s: v for s, v in expected.items() if v[1] > 0}
    # MG guarantee vs exact truth: mg <= true <= mg + decrements, and any
    # item with true count > n_shard/K must be present in its summary
    truth = {
        int(r["user_id"]): int(r["cnt"])
        for r in events.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect()
    }
    from denali_spark.streaming.events_stream import MG_SHARDS

    for item, true_cnt in truth.items():
        shard = item % MG_SHARDS
        d, n_shard, decs = got[shard]
        if item in d:
            assert d[item] <= true_cnt <= d[item] + decs
        else:
            assert true_cnt <= n_shard / MG_K + decs


def test_mg_update_folds_group_in_global_order_across_chunks():
    """r11-ADVICE-medium regression: one shard group can span multiple
    Arrow record batches; _mg_update must concatenate the chunks and fold
    in ONE global (ts, event_id) order, not chunk-local order, or replay
    determinism breaks."""
    import pandas as pd

    from denali_spark.streaming.events_stream import _mg_fold, _mg_update

    class FakeState:
        exists = False

        def update(self, v):
            self.value = v

    # Two chunks whose global ts order interleaves: chunk-local folding
    # with K=2 evicts differently than the global order.
    c1 = pd.DataFrame({"ts": [1, 5, 9], "event_id": [1, 2, 3],
                       "user_id": [10, 30, 10]})
    c2 = pd.DataFrame({"ts": [2, 3, 4], "event_id": [4, 5, 6],
                       "user_id": [20, 20, 30]})
    state = FakeState()
    [out] = list(_mg_update((0,), iter([c1, c2]), state))
    whole = pd.concat([c1, c2]).sort_values(["ts", "event_id"])
    d_ref: dict = {}
    decs_ref = _mg_fold(d_ref, whole["user_id"].tolist())
    got = dict(zip(out["item"].astype(int), out["mg_count"].astype(int)))
    assert got == {int(k): int(v) for k, v in d_ref.items()}
    assert int(out["decrements"].iloc[0]) == decs_ref
    assert int(out["n_seen"].iloc[0]) == 6
    # empty-iterator group (state-only invocation) must not crash
    state2 = FakeState()
    [out2] = list(_mg_update((1,), iter([]), state2))
    assert len(out2) == 0


def test_mg_shard_assignment_matches_batch_twin_on_negative_ids(spark):
    """r11-ADVICE-low regression: the stream's shard column (pmod) and
    the pandas twin's % must agree for negative user_ids."""
    from denali_spark.streaming.events_stream import MG_SHARDS, _mg_shard_col

    df = spark.createDataFrame(
        [(-7,), (-1,), (0,), (5,), (-MG_SHARDS,)], "user_id long"
    )
    got = {r["user_id"]: r["shard"]
           for r in df.withColumn("shard", _mg_shard_col()).collect()}
    for uid, shard in got.items():
        assert shard == uid % MG_SHARDS  # python % == pandas %
        assert 0 <= shard < MG_SHARDS
