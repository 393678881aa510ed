"""Property-based soundness fuzzer for incremental view maintenance
(hypothesis): a random interleave of appends, predicate deletes, and
mid-stream refreshes against a maintained rollup, closed by a final
refresh, must leave the STORED summary exactly equal (values and dtypes)
to a from-scratch recompute of the defining query over the live table.

This is the IVM plane's one invariant — the maintained state is
indistinguishable from a recompute — and it is exactly where the round-15
soundness bug lived (a pure-churn delta whose row count folded to zero
but whose extremum delta did not).  The generator deliberately produces
the hard shapes: overlapping id ranges (duplicate rows), deletes that
fully retire groups (liveness-drop path), deletes that retire stored
extrema (targeted-rescan path), no-op deletes, refreshes with empty delta
windows, and WHERE-filtered views whose predicate intersects the delete.

The targeted example-based suite is tests/test_ivm.py; this file is its
randomized adversary."""

from __future__ import annotations

import itertools

import pytest

from hypothesis import HealthCheck, event, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.sources import SparkCatalogIO, delete_where
from denali_spark.sources import expressions as E
from tests.fuzz_budget import examples


_SEQ = itertools.count()

AGG_LIST = """COUNT(*) AS n_rows,
       SUM(CAST(amount AS DECIMAL(18,2))) AS amount_sum,
       COUNT(amount) AS n_amount,
       MIN(amount) AS amount_min, MAX(id) AS id_max,
       AVG(CAST(amount AS DECIMAL(18,2))) AS amount_avg"""


def _rows(spark, lo, hi):
    # NULL amounts (id % 7 == 0) exercise COUNT(expr)/AVG divisor and the
    # extrema NULL-ignore rule on every interleave.
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 5).alias("k"),
        F.when(F.col("id") % 7 != 0,
               F.col("id").cast("decimal(18,2)") / 4).alias("amount"),
    )


@pytest.fixture(scope="module")
def io(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("ivm_fuzz_wh")
    server = CatalogServer(make_state(str(root))).start()
    yield SparkCatalogIO(spark, server.uri)
    server.stop()


# (lo, width) appends can overlap earlier ranges — duplicate full rows
# are legal table states and the rollup must count them all.
_append_op = st.tuples(
    st.just("append"),
    st.integers(min_value=0, max_value=300),
    st.integers(min_value=1, max_value=80),
)
_delete_op = st.tuples(
    st.just("delete"),
    st.sampled_from(["id_lt", "id_ge", "k_eq", "amount_gt"]),
    st.integers(min_value=0, max_value=300),
)
_refresh_op = st.tuples(st.just("refresh"))

_ops = st.lists(st.one_of(_append_op, _delete_op, _refresh_op),
                min_size=1, max_size=5)


def _apply(spark, io, tbl, mv, op):
    if op[0] == "append":
        _, lo, width = op
        io.write_table(_rows(spark, lo, lo + width).coalesce(1),
                       ["fz"], tbl, mode="append")
    elif op[0] == "delete":
        _, kind, c = op
        pred = {
            "id_lt": lambda: E.lt("id", c),
            "id_ge": lambda: E.gt_eq("id", c),
            "k_eq": lambda: E.eq("k", c % 5),
            "amount_gt": lambda: E.gt("amount", c / 4),
        }[kind]()
        delete_where(io, ["fz"], tbl, pred)
    else:
        io.sql(f"REFRESH MATERIALIZED VIEW fz.{mv}")


@given(ops=_ops,
       where=st.sampled_from([None, "id >= 10", "k < 4"]),
       seed_width=st.integers(min_value=5, max_value=120))
@settings(max_examples=examples(5), deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_maintained_state_equals_recompute(spark, io, ops, where, seed_width):
    i = next(_SEQ)
    tbl, mv = f"facts{i}", f"mv{i}"
    io.write_table(_rows(spark, 0, seed_width).coalesce(1),
                   ["fz"], tbl, mode="append")
    pred = f" WHERE {where}" if where else ""
    io.sql(f"""
        CREATE MATERIALIZED VIEW fz.{mv} AS
        SELECT k, {AGG_LIST}
        FROM fz.{tbl}{pred} GROUP BY k
    """)
    for op in ops:
        _apply(spark, io, tbl, mv, op)
    event("+".join(op[0] for op in ops))
    io.sql(f"REFRESH MATERIALIZED VIEW fz.{mv}")

    cols = "k, n_rows, amount_sum, n_amount, amount_min, id_max, amount_avg"
    io.mv_rewrite = "off"
    got_df = io.sql(f"SELECT {cols} FROM fz.{mv}")
    want_df = io.sql(f"""
        SELECT k, {AGG_LIST}
        FROM fz.{tbl}{pred} GROUP BY k
    """)
    got = {tuple(r) for r in got_df.collect()}
    want = {tuple(r) for r in want_df.collect()}
    assert got_df.dtypes == want_df.dtypes
    assert got == want, f"ops={ops} where={where!r}"
