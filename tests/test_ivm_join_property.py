"""Property-based soundness fuzzer for JOIN-view incremental maintenance
(hypothesis): a random interleave of fact appends, fact deletes, dim
UPDATEs (CoW re-pointing of join keys), dim overwrites, and mid-stream
refreshes against a maintained fact⋈dim rollup, closed by a final
refresh, must leave the stored summary exactly equal to a from-scratch
recompute of the defining join query over the live tables.

The bilinear delta rule (d(R⋈S) = dR⋈S_new ∪ R_old⋈dS, ivm.py) is the
most intricate algebra in the IVM plane; the generator drives both terms
at once — a fact append in the same window as a dim re-point is the
cross-term a sequential test never produces — plus group retirement
(delete every fact of a region), extrema rescans under deletes, and AVG
hidden-pair folding through the join.

The targeted example-based suite is tests/test_ivm.py's join twins; this
file is their randomized adversary."""

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

REGIONS = ["east", "west", "north", "south"]

AGG_LIST = """COUNT(*) AS n_rows,
       SUM(CAST(amount AS DECIMAL(18,2))) AS amount_sum,
       MIN(amount) AS amount_min, MAX(id) AS id_max,
       AVG(CAST(amount AS DECIMAL(18,2))) AS amount_avg"""


def _facts(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 5).alias("k"),
        F.when(F.col("id") % 7 != 0,
               F.col("id").cast("decimal(18,2)") / 4).alias("amount"),
    )


def _dims(spark, labels):
    return spark.createDataFrame(
        [(k, r) for k, r in enumerate(labels)], "k long, region string")


@pytest.fixture(scope="module")
def io(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("ivm_join_fuzz_wh")
    server = CatalogServer(make_state(str(root))).start()
    yield SparkCatalogIO(spark, server.uri)
    server.stop()


_fact_append = st.tuples(
    st.just("append"),
    st.integers(min_value=0, max_value=250),
    st.integers(min_value=1, max_value=70),
)
_fact_delete = st.tuples(
    st.just("delete"),
    st.sampled_from(["id_lt", "id_ge", "k_eq"]),
    st.integers(min_value=0, max_value=250),
)
# re-point one join key to another region (the R_old ⋈ dS term)
_dim_update = st.tuples(
    st.just("dim_update"),
    st.integers(min_value=0, max_value=4),
    st.sampled_from(REGIONS),
)
# replace the whole dim table (every group can move at once)
_dim_overwrite = st.tuples(
    st.just("dim_overwrite"),
    st.lists(st.sampled_from(REGIONS), min_size=5, max_size=5),
)
_refresh_op = st.tuples(st.just("refresh"))

_ops = st.lists(
    st.one_of(_fact_append, _fact_delete, _dim_update, _dim_overwrite,
              _refresh_op),
    min_size=1, max_size=5)


def _apply(spark, io, facts, dims, mv, op):
    if op[0] == "append":
        _, lo, width = op
        io.write_table(_facts(spark, lo, lo + width).coalesce(1),
                       ["fj"], facts, mode="append")
    elif op[0] == "delete":
        _, kind, c = op
        pred = {
            "id_lt": lambda: E.lt("id", c),
            "id_ge": lambda: E.gt_eq("id", c),
            "k_eq": lambda: E.eq("k", c % 5),
        }[kind]()
        delete_where(io, ["fj"], facts, pred)
    elif op[0] == "dim_update":
        _, k, region = op
        io.sql(f"UPDATE fj.{dims} SET region = '{region}' WHERE k = {k}")
    elif op[0] == "dim_overwrite":
        io.write_table(_dims(spark, op[1]).coalesce(1), ["fj"], dims,
                       mode="overwrite")
    else:
        io.sql(f"REFRESH MATERIALIZED VIEW fj.{mv}")


@given(ops=_ops,
       labels=st.lists(st.sampled_from(REGIONS), min_size=5, max_size=5),
       seed_width=st.integers(min_value=5, max_value=120))
@settings(max_examples=examples(4), deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_join_view_state_equals_recompute(spark, io, ops, labels, seed_width):
    i = next(_SEQ)
    facts, dims, mv = f"facts{i}", f"dims{i}", f"mv{i}"
    io.write_table(_facts(spark, 0, seed_width).coalesce(1),
                   ["fj"], facts, mode="append")
    io.write_table(_dims(spark, labels).coalesce(1), ["fj"], dims,
                   mode="overwrite")
    io.sql(f"""
        CREATE MATERIALIZED VIEW fj.{mv} AS
        SELECT region, {AGG_LIST}
        FROM fj.{facts} JOIN fj.{dims} ON {facts}.k = {dims}.k
        GROUP BY region
    """)
    for op in ops:
        _apply(spark, io, facts, dims, mv, op)
    event("+".join(op[0] for op in ops))
    io.sql(f"REFRESH MATERIALIZED VIEW fj.{mv}")

    cols = "region, n_rows, amount_sum, amount_min, id_max, amount_avg"
    io.mv_rewrite = "off"
    got_df = io.sql(f"SELECT {cols} FROM fj.{mv}")
    want_df = io.sql(f"""
        SELECT region, {AGG_LIST}
        FROM fj.{facts} JOIN fj.{dims} ON {facts}.k = {dims}.k
        GROUP BY region
    """)
    got = {tuple(r) for r in got_df.collect()}
    want = {tuple(r) for r in want_df.collect()}
    assert got_df.dtypes == want_df.dtypes
    assert got == want, f"ops={ops} labels={labels}"
