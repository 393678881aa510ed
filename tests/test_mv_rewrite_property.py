"""Property-based equivalence fuzzer for the MV rewrite plane
(hypothesis): random rollup-shaped SELECTs — key subsets in either order,
maintained AND unmaintained aggregates, key-only / non-key / OR / BETWEEN
WHERE shapes, raw-aggregate and alias HAVING tails, ORDER BY/LIMIT — run
with the rewrite enabled and disabled, and the answers (values AND dtypes)
must be identical whether or not a rewrite fired.  This is the one
invariant the whole plane hangs on: a transparent rewrite must NEVER
change a query's answer, on the serve path or the fallback path.

Two corpora:

- a FRESH warehouse (three subsuming MVs: fine (k, j), coarse (k), and a
  WHERE-filtered (k)) fuzzed under 'fresh-only' — exercises candidate
  selection, rollup reduction, predicate conjunct matching, HAVING
  mapping, and every fallback rule;
- a STALE warehouse (append + delete landed after CREATE) fuzzed under
  'fresh-only' (must NEVER fire — staleness gate) and 'topup' (must equal
  the LIVE base answer with zero commits on the view; extrema queries
  over the deleting delta window must fall back, and falling back must
  also be answer-identical).

The targeted example-based suite is tests/test_mv_rewrite.py; this file
is its randomized adversary."""

from __future__ import annotations

from collections import Counter

import pytest

from hypothesis import HealthCheck, event, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.sources import SparkCatalogIO, delete_where
from denali_spark.sources import expressions as E
from tests.fuzz_budget import examples


# Aggregates the fine MV maintains (same normalized expressions) and ones
# no MV carries — the generator mixes both so serve and fallback paths
# interleave within one run.
MAINTAINED = [
    "COUNT(*)",
    "SUM(CAST(amount AS DECIMAL(18,2)))",
    "COUNT(CASE WHEN id >= 100 THEN id END)",
    "MIN(amount)",
    "MAX(id)",
    "AVG(CAST(amount AS DECIMAL(18,2)))",
]
UNMAINTAINED = ["SUM(id)", "MAX(amount)", "MIN(id)", "AVG(id)"]

KEY_PREDS = [
    "k = 2", "k < 3", "j = 1", "k IN (0, 2, 4)",
    "k BETWEEN 1 AND 3", "(k = 1 OR k = 4)",
]
NONKEY_PREDS = ["id >= 20", "id < 150", "amount > 10"]

HAVING_RAW = [
    "COUNT(*) > 3",
    "SUM(CAST(amount AS DECIMAL(18,2))) > 100",
    "MAX(id) >= 50",
    "MIN(amount) >= 0",
]


def _rows(spark, lo, hi):
    # NULL amounts (id % 7 == 0) keep the AVG divisor and SUM null
    # semantics honest in every generated query.
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 5).alias("k"),
        (F.col("id") % 2).alias("j"),
        F.when(F.col("id") % 7 != 0,
               F.col("id").cast("decimal(18,2)") / 4).alias("amount"),
    )


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("mv_fuzz_wh")
    server = CatalogServer(make_state(str(root))).start()
    io = SparkCatalogIO(spark, server.uri)
    io.write_table(_rows(spark, 0, 200).coalesce(1), ["rw"], "facts",
                   mode="append")
    io.sql("""
        CREATE MATERIALIZED VIEW rw.mv_fine AS
        SELECT k, j, COUNT(*) AS n_rows,
               SUM(CAST(amount AS DECIMAL(18,2))) AS amount_sum,
               COUNT(CASE WHEN id >= 100 THEN id END) AS n_late,
               MIN(amount) AS amount_min, MAX(id) AS id_max,
               AVG(CAST(amount AS DECIMAL(18,2))) AS amount_avg
        FROM rw.facts GROUP BY k, j
    """)
    io.sql("""
        CREATE MATERIALIZED VIEW rw.mv_coarse AS
        SELECT k, COUNT(*) AS n_rows,
               SUM(CAST(amount AS DECIMAL(18,2))) AS amount_sum
        FROM rw.facts GROUP BY k
    """)
    io.sql("""
        CREATE MATERIALIZED VIEW rw.mv_pred AS
        SELECT k, COUNT(*) AS n_rows,
               SUM(CAST(amount AS DECIMAL(18,2))) AS amount_sum
        FROM rw.facts WHERE id >= 20 GROUP BY k
    """)
    # Stale corpus: MV created, then an append AND a delete land — the
    # delta window both grows and retires rows, so sum-family topup must
    # fold deletes and extrema topup must refuse.
    io.write_table(_rows(spark, 0, 200).coalesce(1), ["rw"], "sfacts",
                   mode="append")
    io.sql("""
        CREATE MATERIALIZED VIEW rw.smv AS
        SELECT k, j, COUNT(*) AS n_rows,
               SUM(CAST(amount AS DECIMAL(18,2))) AS amount_sum,
               COUNT(CASE WHEN id >= 100 THEN id END) AS n_late,
               MIN(amount) AS amount_min, MAX(id) AS id_max,
               AVG(CAST(amount AS DECIMAL(18,2))) AS amount_avg
        FROM rw.sfacts GROUP BY k, j
    """)
    io.write_table(_rows(spark, 200, 280).coalesce(1), ["rw"], "sfacts",
                   mode="append")
    delete_where(io, ["rw"], "sfacts", E.lt("id", 15))
    yield io
    server.stop()


SUM_FAMILY = [a for a in MAINTAINED if not a.startswith(("MIN", "MAX"))]


@st.composite
def rollup_query(draw, table, sum_bias=False):
    keys = draw(st.sampled_from(
        [[], ["k"], ["j"], ["k", "j"], ["j", "k"]]))
    # Under a deleting delta window only the sum family can top up, so
    # the stale-corpus generator doubles its weight to keep the serve
    # path well represented (extrema/unmaintained still drawn).
    pool = (SUM_FAMILY * 3 + MAINTAINED + UNMAINTAINED if sum_bias
            else MAINTAINED + UNMAINTAINED)
    n_aggs = draw(st.integers(min_value=0 if keys else 1, max_value=3))
    aggs = [draw(st.sampled_from(pool)) for _ in range(n_aggs)]

    preds = draw(st.lists(st.sampled_from(KEY_PREDS + NONKEY_PREDS),
                          max_size=2, unique=True))

    having = None
    if draw(st.booleans()):
        if aggs and draw(st.booleans()):
            having = f"a{draw(st.integers(0, len(aggs) - 1))} > 5"
        else:
            having = draw(st.sampled_from(HAVING_RAW))

    order, limit = None, None
    if keys and draw(st.booleans()):
        # ORDER BY all grouping keys is a total order over the result
        # (one row per group), so a LIMIT is deterministic under it.
        order = ", ".join(draw(st.permutations(keys)))
        if draw(st.booleans()):
            limit = draw(st.integers(min_value=1, max_value=7))

    items = list(keys) + [f"{a} AS a{i}" for i, a in enumerate(aggs)]
    sql = f"SELECT {', '.join(items)} FROM {table}"
    if preds:
        sql += " WHERE " + " AND ".join(preds)
    if keys:
        sql += " GROUP BY " + ", ".join(keys)
    if having:
        sql += " HAVING " + having
    if order:
        sql += " ORDER BY " + order
    if limit is not None:
        sql += f" LIMIT {limit}"
    return sql


def _run(io, sql, policy):
    io.mv_rewrite = policy
    try:
        df = io.sql(sql)
        rows = Counter(tuple(r) for r in df.collect())
        return df.dtypes, rows, io.last_mv_rewrite
    finally:
        io.mv_rewrite = "off"


@given(sql=rollup_query("rw.facts"))
@settings(max_examples=examples(12), deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_rewrite_never_changes_the_answer(wh, sql):
    dt, rows, info = _run(wh, sql, "fresh-only")
    event("fired" if info else "fallback")
    base_dt, base_rows, off_info = _run(wh, sql, "off")
    assert off_info is None
    assert dt == base_dt, sql
    assert rows == base_rows, sql


def _snap_count(io, ns, name):
    md = io.client.load_table(ns, name)["metadata"]
    return len(md.get("snapshots", []))


@given(sql=rollup_query("rw.sfacts", sum_bias=True))
@settings(max_examples=examples(8), deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_topup_on_stale_view_equals_live_base(wh, sql):
    # fresh-only must never serve a stale view — and still answer right.
    dt, rows, info = _run(wh, sql, "fresh-only")
    assert info is None, sql
    before = _snap_count(wh, ["rw"], "smv")
    t_dt, t_rows, t_info = _run(wh, sql, "topup")
    event("topup" if t_info else "fallback")
    if t_info is not None:
        assert t_info["fresh"] is True, sql
        # the delta window contains a delete: extrema cannot have served
        assert not any(a in sql for a in ("MIN(amount)", "MAX(id)")), sql
    assert _snap_count(wh, ["rw"], "smv") == before, "topup committed!"
    assert t_dt == dt and t_rows == rows, sql
