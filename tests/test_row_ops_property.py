"""Property-based fuzzer for row-level DML (hypothesis): a random
interleave of appends, predicate DELETEs (prunable-grammar AND raw-SQL
modulo shapes), arithmetic UPDATEs, equality deletes, and two-branch
MERGEs — run against a table in copy-on-write OR merge-on-read mode —
must leave the table exactly equal to a plain Python dict model of the
same operations.

One generator drives every write mode through the same op sequence, so
CoW rewrites, MoR deletion vectors + appended replacement images, and
the raw-predicate full-candidate path all answer identically; the model
is the SQL semantics spelled out (DELETE removes pred-TRUE rows, UPDATE
assigns simultaneously from the pre-update row, MERGE updates matches
and inserts the rest).  Ids are unique per table by construction so
MERGE's cardinality rule can never fire spuriously."""

from __future__ import annotations

import itertools

import pytest

from hypothesis import HealthCheck, event, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.sources import SparkCatalogIO, equality_delete
from tests.fuzz_budget import examples


_SEQ = itertools.count()


@pytest.fixture(scope="module")
def io(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("dml_fuzz_wh")
    server = CatalogServer(make_state(str(root))).start()
    yield SparkCatalogIO(spark, server.uri)
    server.stop()


_append_op = st.tuples(st.just("append"),
                       st.integers(min_value=1, max_value=30))
_delete_op = st.tuples(st.just("delete"),
                       st.sampled_from(["range", "mod"]),
                       st.integers(min_value=0, max_value=120),
                       st.integers(min_value=2, max_value=7))
_update_op = st.tuples(st.just("update"),
                       st.sampled_from(["range", "mod"]),
                       st.integers(min_value=0, max_value=120),
                       st.integers(min_value=2, max_value=7),
                       st.integers(min_value=-50, max_value=50))
_eqdel_op = st.tuples(st.just("eqdel"),
                      st.lists(st.integers(min_value=0, max_value=120),
                               min_size=1, max_size=4, unique=True))
_merge_op = st.tuples(st.just("merge"),
                      st.integers(min_value=0, max_value=130),
                      st.integers(min_value=1, max_value=10),
                      st.integers(min_value=-99, max_value=99))

_ops = st.lists(st.one_of(_append_op, _delete_op, _update_op, _eqdel_op,
                          _merge_op),
                min_size=1, max_size=5)


def _pred_sql(kind, a, b):
    if kind == "range":
        return f"id BETWEEN {a} AND {a + 20}"
    return f"id % {b} = {a % b}"  # raw-SQL fallback path


def _pred_py(kind, a, b):
    if kind == "range":
        return lambda i: a <= i <= a + 20
    return lambda i: i % b == a % b


def _apply(spark, io, t, state, next_id, op):
    """Mutate the real table AND the dict model; returns next free id."""
    if op[0] == "append":
        width = op[1]
        rows = [(i, i * 2) for i in range(next_id, next_id + width)]
        df = spark.createDataFrame(rows, "id long, v long").coalesce(1)
        io.write_table(df, ["dml"], t, mode="append")
        state.update({i: v for i, v in rows})
        return next_id + width
    if op[0] == "delete":
        _, kind, a, b = op
        io.sql(f"DELETE FROM dml.{t} WHERE {_pred_sql(kind, a, b)}")
        pred = _pred_py(kind, a, b)
        for i in [i for i in state if pred(i)]:
            del state[i]
        return next_id
    if op[0] == "update":
        _, kind, a, b, c = op
        io.sql(f"UPDATE dml.{t} SET v = v + id + {c} "
               f"WHERE {_pred_sql(kind, a, b)}")
        pred = _pred_py(kind, a, b)
        for i in state:
            if pred(i):
                state[i] = state[i] + i + c
        return next_id
    if op[0] == "eqdel":
        keys = spark.createDataFrame([(int(k),) for k in op[1]], "id long")
        equality_delete(io, ["dml"], t, keys.coalesce(1), on=["id"])
        for k in op[1]:
            state.pop(k, None)
        return next_id
    _, lo, width, val = op
    src = " UNION ALL ".join(
        f"SELECT {i} AS id, {val} AS v" for i in range(lo, lo + width))
    io.sql(f"MERGE INTO dml.{t} USING ({src}) s ON (id) "
           f"WHEN MATCHED THEN UPDATE SET v = t.v + s.v "
           f"WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)")
    for i in range(lo, lo + width):
        state[i] = state[i] + val if i in state else val
    return max(next_id, lo + width)


@given(ops=_ops, mor=st.booleans(),
       seed_width=st.integers(min_value=1, max_value=40))
@settings(max_examples=examples(5), deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_dml_state_equals_model(spark, io, ops, mor, seed_width):
    i = next(_SEQ)
    t = f"t{i}"
    rows = [(j, j * 2) for j in range(seed_width)]
    io.write_table(
        spark.createDataFrame(rows, "id long, v long").coalesce(1),
        ["dml"], t, mode="append")
    if mor:
        md = io.client.load_table(["dml"], t)["metadata"]
        io.client.commit_table(
            ["dml"], t,
            requirements=[{"type": "assert-table-uuid",
                           "uuid": md["table-uuid"]}],
            updates=[{"action": "set-properties", "updates": {
                "write.delete.mode": "merge-on-read",
                "write.update.mode": "merge-on-read",
                "write.merge.mode": "merge-on-read",
            }}])
    state = {j: v for j, v in rows}
    next_id = seed_width
    for op in ops:
        next_id = _apply(spark, io, t, state, next_id, op)
    event(("mor+" if mor else "cow+") + "+".join(op[0] for op in ops))

    got = sorted((r.id, r.v)
                 for r in io.read_table(["dml"], t).collect())
    assert got == sorted(state.items()), f"mor={mor} ops={ops}"
