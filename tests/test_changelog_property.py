"""Property-based fuzzer for changelog (CDC) reads (hypothesis): over a
random interleave of appends, CoW predicate deletes, MoR equality
deletes, CoW updates, and full overwrites, and over a RANDOM snapshot
window (from, to] of the resulting lineage,

    state(from)  ∪  inserts(from→to)  ⊖  deletes(from→to)  ==  state(to)

as multisets (exceptAll semantics) — the incremental-consumer contract:
a reader who materialized the table at `from` and applies the changelog
arrives at exactly the table at `to`.  The fixed-seed replay test
(tests/test_changelog.py::test_changelog_replay_reconstructs_state)
checks from-creation ranges only; this fuzzer also drives mid-lineage
windows, where CoW rewrite pairing and MoR delta visibility are easiest
to get wrong."""

from __future__ import annotations

import itertools

import pytest

from hypothesis import HealthCheck, event, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.sources import (
    SparkCatalogIO,
    delete_where,
    equality_delete,
    read_changes,
)
from denali_spark.sources import expressions as E
from tests.fuzz_budget import examples


_SEQ = itertools.count()


@pytest.fixture(scope="module")
def io(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cdc_fuzz_wh")
    server = CatalogServer(make_state(str(root))).start()
    yield SparkCatalogIO(spark, server.uri)
    server.stop()


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        "id", (F.col("id") * 2).alias("v")).coalesce(1)


_append_op = st.tuples(st.just("append"),
                       st.integers(min_value=0, max_value=200),
                       st.integers(min_value=1, max_value=40))
_cow_delete_op = st.tuples(st.just("cow_delete"),
                           st.integers(min_value=0, max_value=200),
                           st.integers(min_value=1, max_value=30))
_mor_delete_op = st.tuples(st.just("mor_delete"),
                           st.lists(st.integers(min_value=0, max_value=200),
                                    min_size=1, max_size=4, unique=True))
# WHERE stays inside the scan-expression grammar (comparisons/BETWEEN —
# the DML router's documented predicate language, expressions.py)
_update_op = st.tuples(st.just("update"),
                       st.integers(min_value=0, max_value=200),
                       st.integers(min_value=1, max_value=99))
_overwrite_op = st.tuples(st.just("overwrite"),
                          st.integers(min_value=0, max_value=200),
                          st.integers(min_value=1, max_value=40))

_ops = st.lists(st.one_of(_append_op, _cow_delete_op, _mor_delete_op,
                          _update_op, _overwrite_op),
                min_size=1, max_size=5)


def _apply(spark, io, t, op):
    if op[0] == "append":
        io.write_table(_rows(spark, op[1], op[1] + op[2]), ["cl"], t,
                       mode="append")
    elif op[0] == "cow_delete":
        delete_where(io, ["cl"], t,
                     E.and_(E.gt_eq("id", op[1]), E.lt("id", op[1] + op[2])))
    elif op[0] == "mor_delete":
        keys = spark.createDataFrame([(int(k),) for k in op[1]], "id long")
        equality_delete(io, ["cl"], t, keys.coalesce(1), on=["id"])
    elif op[0] == "update":
        io.sql(f"UPDATE cl.{t} SET v = v + {op[2]} "
               f"WHERE id BETWEEN {op[1]} AND {op[1] + 25}")
    else:
        io.write_table(_rows(spark, op[1], op[1] + op[2]), ["cl"], t,
                       mode="overwrite")


def _state(io, t, snap):
    df = io.read_table(["cl"], t, snapshot_id=snap)
    return sorted((r.id, r.v) for r in df.collect())


@given(ops=_ops, seed_width=st.integers(min_value=3, max_value=50),
       wa=st.integers(min_value=0, max_value=11),
       wb=st.integers(min_value=0, max_value=11))
@settings(max_examples=examples(5), deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_windowed_changelog_reconstructs_state(spark, io, ops, seed_width,
                                               wa, wb):
    i = next(_SEQ)
    t = f"t{i}"
    snaps = []

    def snap():
        md = io.client.load_table(["cl"], t)["metadata"]
        snaps.append(md["current-snapshot-id"])

    io.write_table(_rows(spark, 0, seed_width), ["cl"], t, mode="append")
    snap()
    for op in ops:
        _apply(spark, io, t, op)
        snap()
    event("+".join(op[0] for op in ops))

    a, b = sorted((wa % len(snaps), wb % len(snaps)))
    sa, sb = snaps[a], snaps[b]
    ch = read_changes(io, ["cl"], t, from_snapshot_id=sa, to_snapshot_id=sb)
    ins = ch.where("_change_type = 'insert'").select("id", "v")
    dels = ch.where("_change_type = 'delete'").select("id", "v")
    base = io.read_table(["cl"], t, snapshot_id=sa).select("id", "v")
    replayed = sorted(
        (r.id, r.v)
        for r in base.unionByName(ins).exceptAll(dels).collect()
    )
    assert replayed == _state(io, t, sb), \
        f"ops={ops} window=({a},{b}) of {len(snaps)}"
