"""Materialized-view query rewrite: a rollup-shaped SELECT that a
maintained MV subsumes must be answered from the summary table with
EXACTLY the base plan's values and types — and must fall back to the base
path whenever equivalence cannot be proven (unknown aggregate, non-key
predicate, stale view under fresh-only)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.sources import SparkCatalogIO, delete_where
from denali_spark.sources import expressions as E


@pytest.fixture()
def io(spark, tmp_path):
    server = CatalogServer(make_state(str(tmp_path / "wh"))).start()
    yield SparkCatalogIO(spark, server.uri)
    server.stop()


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 5).alias("k"),
        (F.col("id") % 2).alias("j"),
        (F.col("id").cast("decimal(18,2)") / 4).alias("amount"),
    )


def _seed(spark, io):
    io.write_table(_rows(spark, 0, 200).coalesce(1), ["rw"], "facts",
                   mode="append")
    io.sql("""
        CREATE MATERIALIZED VIEW rw.mv AS
        SELECT k, j, COUNT(*) AS n_rows,
               SUM(CAST(amount AS DECIMAL(18,2))) AS amount_sum,
               COUNT(CASE WHEN id >= 100 THEN id END) AS n_late,
               MIN(amount) AS amount_min, MAX(id) AS id_max
        FROM rw.facts GROUP BY k, j
    """)


def _both(io, q):
    """Run q with rewrite on and off; assert the rewrite fired and the
    results (values AND dtypes) are identical; return the rewritten rows."""
    io.mv_rewrite = "fresh-only"
    got_df = io.sql(q)
    info = io.last_mv_rewrite
    assert info is not None, f"expected a rewrite for {q!r}"
    got = {tuple(r) for r in got_df.collect()}
    io.mv_rewrite = "off"
    base_df = io.sql(q)
    assert io.last_mv_rewrite is None
    assert got_df.dtypes == base_df.dtypes
    assert got == {tuple(r) for r in base_df.collect()}
    io.mv_rewrite = "fresh-only"
    return info


def test_exact_group_match_rewrites(spark, io):
    _seed(spark, io)
    info = _both(io, """
        SELECT k, j, COUNT(*) AS n,
               SUM(CAST(amount AS DECIMAL(18,2))) AS total,
               MIN(amount) AS lo, MAX(id) AS hi
        FROM rw.facts GROUP BY k, j
    """)
    assert info["view"] == "rw.mv" and info["reduced"] is False


def test_rollup_reduction_to_coarser_keys(spark, io):
    _seed(spark, io)
    info = _both(io, """
        SELECT k, COUNT(*) AS n,
               SUM(CAST(amount AS DECIMAL(18,2))) AS total,
               COUNT(CASE WHEN id >= 100 THEN id END) AS n_late
        FROM rw.facts GROUP BY k
    """)
    assert info["reduced"] is True


def test_key_only_where_is_applied_on_the_summary(spark, io):
    _seed(spark, io)
    info = _both(io, """
        SELECT k, COUNT(*) AS n, MAX(id) AS hi
        FROM rw.facts WHERE k IN (1, 2) AND j = 0 GROUP BY k
    """)
    assert info["filtered"] is True


def test_distinct_keys_from_the_summary(spark, io):
    _seed(spark, io)
    _both(io, "SELECT k FROM rw.facts GROUP BY k")


def test_non_key_where_falls_back(spark, io):
    _seed(spark, io)
    io.sql("SELECT k, COUNT(*) AS n FROM rw.facts WHERE id > 10 GROUP BY k")
    assert io.last_mv_rewrite is None


def test_avg_without_maintained_divisor_falls_back(spark, io):
    # the seed MV maintains SUM(amount-expr) but no COUNT of the SAME
    # expression — AVG needs both (SQL AVG divides by the non-null
    # count), so the lookup miss correctly keeps the base path
    _seed(spark, io)
    io.sql("SELECT k, AVG(CAST(amount AS DECIMAL(18,2))) AS a "
           "FROM rw.facts GROUP BY k")
    assert io.last_mv_rewrite is None


def test_unknown_aggregate_expression_falls_back(spark, io):
    _seed(spark, io)
    io.sql("SELECT k, SUM(id) AS s FROM rw.facts GROUP BY k")
    assert io.last_mv_rewrite is None


def test_stale_view_fresh_only_falls_back(spark, io):
    _seed(spark, io)
    io.write_table(_rows(spark, 200, 300).coalesce(1), ["rw"], "facts",
                   mode="append")
    df = io.sql("SELECT k, COUNT(*) AS n FROM rw.facts GROUP BY k")
    assert io.last_mv_rewrite is None
    assert {(r.k, r.n) for r in df.collect()} == {(k, 60) for k in range(5)}


def test_stale_ok_serves_the_watermark_state(spark, io):
    _seed(spark, io)
    io.write_table(_rows(spark, 200, 300).coalesce(1), ["rw"], "facts",
                   mode="append")
    io.mv_rewrite = "stale-ok"
    df = io.sql("SELECT k, COUNT(*) AS n FROM rw.facts GROUP BY k")
    assert io.last_mv_rewrite is not None
    assert io.last_mv_rewrite["fresh"] is False
    # the MV still reflects the 200-row watermark state
    assert {(r.k, r.n) for r in df.collect()} == {(k, 40) for k in range(5)}


def test_refresh_mode_folds_then_rewrites(spark, io):
    _seed(spark, io)
    io.write_table(_rows(spark, 200, 300).coalesce(1), ["rw"], "facts",
                   mode="append")
    io.mv_rewrite = "refresh"
    df = io.sql("SELECT k, COUNT(*) AS n FROM rw.facts GROUP BY k")
    assert io.last_mv_rewrite is not None and io.last_mv_rewrite["fresh"]
    assert {(r.k, r.n) for r in df.collect()} == {(k, 60) for k in range(5)}
    # the refresh was a real fold: a fresh-only follow-up now rewrites too
    io.mv_rewrite = "fresh-only"
    io.sql("SELECT k, COUNT(*) AS n FROM rw.facts GROUP BY k")
    assert io.last_mv_rewrite is not None


def test_rewrite_survives_deletes_via_refresh(spark, io):
    _seed(spark, io)
    delete_where(io, ["rw"], "facts", E.lt("id", 40))
    io.mv_rewrite = "refresh"
    _both_q = ("SELECT k, COUNT(*) AS n, MIN(amount) AS lo "
               "FROM rw.facts GROUP BY k")
    got = {tuple(r) for r in io.sql(_both_q).collect()}
    assert io.last_mv_rewrite is not None
    io.mv_rewrite = "off"
    assert got == {tuple(r) for r in io.sql(_both_q).collect()}


def test_join_view_rewrite(spark, io):
    io.write_table(_rows(spark, 0, 200).coalesce(1), ["rw"], "facts",
                   mode="append")
    dims = spark.createDataFrame(
        [(0, "east"), (1, "east"), (2, "west"), (3, "west"), (4, "north")],
        "k long, region string",
    )
    io.write_table(dims.coalesce(1), ["rw"], "dims", mode="overwrite")
    io.sql("""
        CREATE MATERIALIZED VIEW rw.mv_region AS
        SELECT region, COUNT(*) AS n_rows,
               SUM(CAST(amount AS DECIMAL(18,2))) AS amount_sum
        FROM rw.facts JOIN rw.dims ON facts.k = dims.k
        GROUP BY region
    """)
    # aliased spelling: resolvable as plain Spark SQL on the base path AND
    # matched to the MV (aliases map back to the same tables/keys)
    q = ("SELECT region, COUNT(*) AS n, "
         "SUM(CAST(amount AS DECIMAL(18,2))) AS total "
         "FROM rw.facts f JOIN rw.dims d ON f.k = d.k GROUP BY region")
    info = _both(io, q)
    assert info["view"] == "rw.mv_region"


def test_off_mode_never_rewrites(spark, io):
    _seed(spark, io)
    io.mv_rewrite = "off"
    io.sql("SELECT k, COUNT(*) AS n FROM rw.facts GROUP BY k")
    assert io.last_mv_rewrite is None


def test_grand_total_reduction(spark, io):
    _seed(spark, io)
    info = _both(io, "SELECT COUNT(*) AS n, MAX(id) AS hi, "
                     "SUM(CAST(amount AS DECIMAL(18,2))) AS total "
                     "FROM rw.facts")
    assert info["view"] == "rw.mv" and info["reduced"] is True


def test_order_by_and_limit_reapplied(spark, io):
    _seed(spark, io)
    io.mv_rewrite = "fresh-only"
    df = io.sql("SELECT k, COUNT(*) AS n FROM rw.facts "
                "GROUP BY k ORDER BY n DESC, k LIMIT 3")
    assert io.last_mv_rewrite is not None
    got = [(r.k, r.n) for r in df.collect()]
    io.mv_rewrite = "off"
    base = [(r.k, r.n) for r in io.sql(
        "SELECT k, COUNT(*) AS n FROM rw.facts "
        "GROUP BY k ORDER BY n DESC, k LIMIT 3").collect()]
    assert got == base and len(got) == 3


def test_order_by_non_output_falls_back(spark, io):
    _seed(spark, io)
    # ORDER BY a grouping column that is NOT in the select list: valid
    # Spark SQL, but the rewrite cannot order by a column it does not
    # emit — must fall back (and the base path answers it)
    df = io.sql("SELECT COUNT(*) AS n FROM rw.facts GROUP BY k ORDER BY k")
    assert io.last_mv_rewrite is None
    assert [r.n for r in df.collect()] == [40] * 5


def test_conjunctive_where_superset_of_mv_predicate(spark, io):
    io.write_table(_rows(spark, 0, 200).coalesce(1), ["rw"], "facts",
                   mode="append")
    io.sql("""
        CREATE MATERIALIZED VIEW rw.mv_pred AS
        SELECT k, COUNT(*) AS n_rows
        FROM rw.facts WHERE id >= 20 GROUP BY k
    """)
    # query = the MV's predicate AND an extra key-only conjunct
    info = _both(io, "SELECT k, COUNT(*) AS n FROM rw.facts "
                     "WHERE id >= 20 AND k IN (0, 1) GROUP BY k")
    assert info["view"] == "rw.mv_pred" and info["filtered"] is True
    # conjunct ORDER is immaterial (AND commutes)
    info = _both(io, "SELECT k, COUNT(*) AS n FROM rw.facts "
                     "WHERE k IN (0, 1) AND id >= 20 GROUP BY k")
    assert info["view"] == "rw.mv_pred"
    # a top-level OR disables conjunct matching (precedence-unsafe)
    io.mv_rewrite = "fresh-only"
    io.sql("SELECT k, COUNT(*) AS n FROM rw.facts "
           "WHERE id >= 20 OR k = 1 GROUP BY k")
    assert io.last_mv_rewrite is None
    # a non-key extra conjunct falls back
    io.sql("SELECT k, COUNT(*) AS n FROM rw.facts "
           "WHERE id >= 20 AND id < 100 GROUP BY k")
    assert io.last_mv_rewrite is None


def test_grand_total_over_empty_filtered_summary_is_zero(spark, io):
    """COUNT over zero rows is 0 on the base path; the grand-total rewrite
    must coalesce its SUM-over-empty-summary NULL to match."""
    _seed(spark, io)
    q = ("SELECT COUNT(*) AS n FROM rw.facts WHERE k = 77")  # absent key
    io.mv_rewrite = "fresh-only"
    got = io.sql(q).collect()
    assert io.last_mv_rewrite is not None
    io.mv_rewrite = "off"
    base = io.sql(q).collect()
    assert [r.n for r in got] == [r.n for r in base] == [0]


def test_between_predicate_never_crashes(spark, io):
    """BETWEEN's own AND must not be split as a conjunct: the extra-filter
    fragments would be invalid SQL. Against the UNFILTERED MV a key-only
    BETWEEN applies wholesale (r15e); with an exact-WHERE MV present the
    cheaper exact summary serves the same query."""
    _seed(spark, io)
    q = "SELECT k, COUNT(*) AS n FROM rw.facts WHERE k BETWEEN 1 AND 3 GROUP BY k"
    info = _both(io, q)  # key-only BETWEEN on the unfiltered (k, j) MV
    assert info["view"] == "rw.mv" and info["filtered"] is True
    got = {(r.k, r.n) for r in io.sql(q).collect()}
    io.sql("""
        CREATE MATERIALIZED VIEW rw.mv_btw AS
        SELECT k, COUNT(*) AS n_rows
        FROM rw.facts WHERE k BETWEEN 1 AND 3 GROUP BY k
    """)
    rewritten = {(r.k, r.n) for r in io.sql(q).collect()}
    assert io.last_mv_rewrite is not None
    assert io.last_mv_rewrite["view"] == "rw.mv_btw"  # 3 rows beat 10
    assert rewritten == got


def test_cross_session_mv_ddl_is_seen_at_once(spark, io):
    from denali_spark.sources import SparkCatalogIO

    _seed(spark, io)
    q = "SELECT k, COUNT(*) AS n FROM rw.facts GROUP BY k"
    io.sql(q)
    assert io.last_mv_rewrite is not None
    # a SECOND session drops the MV: the next SELECT here falls back
    # without error, and the source no longer lists the MV
    other = SparkCatalogIO(spark, io.client.uri)
    other.sql("DROP MATERIALIZED VIEW rw.mv")
    df = io.sql(q)
    assert io.last_mv_rewrite is None
    assert {(r.k, r.n) for r in df.collect()} == {(k, 40) for k in range(5)}
    props = io.client.load_table(["rw"], "facts")["metadata"]["properties"]
    assert not any(key.startswith("ivm.dependent.") for key in props)
    # a cross-session CREATE is served from on the very next SELECT
    other.sql("CREATE MATERIALIZED VIEW rw.mv2 AS "
              "SELECT k, COUNT(*) AS n_rows FROM rw.facts GROUP BY k")
    io.sql(q)
    assert io.last_mv_rewrite is not None
    assert io.last_mv_rewrite["view"] == "rw.mv2"


def test_first_rollup_select_requests_do_not_grow_with_catalog(spark, io):
    """A fresh session's first rollup-shaped SELECT finds MVs through the
    source's entries, not a catalog walk: it sends as many catalog
    requests with 20 more one-table namespaces as without them."""
    from denali_spark.sources import SparkCatalogIO

    _seed(spark, io)
    q = "SELECT k, COUNT(*) AS n FROM rw.facts GROUP BY k"
    schema = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "id", "required": False, "type": "long"}]}

    def first_select_requests():
        fresh = SparkCatalogIO(spark, io.client.uri)
        calls = []
        request_h = fresh.client._request_h

        def counting(*args, **kwargs):
            calls.append(args[:2])
            return request_h(*args, **kwargs)

        fresh.client._request_h = counting
        fresh.sql(q).collect()
        assert fresh.last_mv_rewrite["view"] == "rw.mv"
        return calls

    before = first_select_requests()
    for i in range(20):
        io.client.create_namespace([f"other{i:02d}"])
        io.client.create_table([f"other{i:02d}"], "t", schema)
    assert first_select_requests() == before


def test_left_join_query_never_served_from_inner_join_mv(spark, io):
    io.write_table(_rows(spark, 0, 100).coalesce(1), ["rw"], "facts",
                   mode="append")
    dims = spark.createDataFrame(
        [(0, "east"), (1, "west")], "k long, region string"  # k=2..4 dangle
    )
    io.write_table(dims.coalesce(1), ["rw"], "dims", mode="overwrite")
    io.sql("""
        CREATE MATERIALIZED VIEW rw.mv_inner AS
        SELECT region, COUNT(*) AS n_rows
        FROM rw.facts JOIN rw.dims ON facts.k = dims.k GROUP BY region
    """)
    io.mv_rewrite = "fresh-only"
    df = io.sql("SELECT region, COUNT(*) AS n FROM rw.facts f "
                "LEFT JOIN rw.dims d ON f.k = d.k GROUP BY region")
    assert io.last_mv_rewrite is None  # MUST NOT match the inner-join MV
    got = {(r.region, r.n) for r in df.collect()}
    assert (None, 60) in got  # the dangling-fact group the MV lacks


def test_invalid_mv_never_served_even_stale_ok(spark, io):
    _seed(spark, io)
    # foreign write: contents are no longer the view at ANY snapshot
    mv_schema = io.read_table(["rw"], "mv").schema
    rogue = spark.createDataFrame([(99, 99, 1, None, 0, None, 0)], mv_schema)
    io.write_table(rogue, ["rw"], "mv", mode="append")
    io.mv_rewrite = "stale-ok"
    df = io.sql("SELECT k, COUNT(*) AS n FROM rw.facts GROUP BY k")
    assert io.last_mv_rewrite is None
    assert {(r.k, r.n) for r in df.collect()} == {(k, 40) for k in range(5)}


def test_refresh_mode_failure_falls_back_to_base(spark, io):
    from denali_spark.sources import expire_snapshots

    _seed(spark, io)
    io.write_table(_rows(spark, 200, 300).coalesce(1), ["rw"], "facts",
                   mode="append")
    io.write_table(_rows(spark, 300, 400).coalesce(1), ["rw"], "facts",
                   mode="append")
    # trim the source past the MV watermark: an incremental refresh is
    # underivable and raises — the SELECT must degrade to the base path
    expire_snapshots(io, ["rw"], "facts", keep_last=1)
    io.mv_rewrite = "refresh"
    df = io.sql("SELECT k, COUNT(*) AS n FROM rw.facts GROUP BY k")
    assert io.last_mv_rewrite is None
    assert {(r.k, r.n) for r in df.collect()} == {(k, 80) for k in range(5)}


def test_literal_case_is_significant_in_where_matching(spark, io):
    io.write_table(
        _rows(spark, 0, 100).withColumn(
            "cat", F.when(F.col("id") % 2 == 0, "Food").otherwise("food")
        ).coalesce(1),
        ["rw"], "facts", mode="append",
    )
    io.sql("""
        CREATE MATERIALIZED VIEW rw.mv_lit AS
        SELECT k, COUNT(*) AS n_rows
        FROM rw.facts WHERE cat = 'Food' GROUP BY k
    """)
    io.mv_rewrite = "fresh-only"
    df = io.sql("SELECT k, COUNT(*) AS n FROM rw.facts "
                "WHERE cat = 'food' GROUP BY k")
    assert io.last_mv_rewrite is None  # different literal, different rows
    assert {(r.k, r.n) for r in df.collect()} == {(k, 10) for k in range(5)}
    # identical-literal spelling still rewrites
    io.sql("SELECT k, COUNT(*) AS n FROM rw.facts "
           "WHERE cat = 'Food' GROUP BY k")
    assert io.last_mv_rewrite is not None


def test_duplicate_output_aliases_fall_back(spark, io):
    _seed(spark, io)
    df = io.sql("SELECT k, COUNT(*) AS x, MAX(id) AS x "
                "FROM rw.facts GROUP BY k")
    assert io.last_mv_rewrite is None
    assert df.count() == 5  # base path handles the duplicate names


def test_having_tail_over_output_alias(spark, io):
    """r15: HAVING over output columns commutes with the rollup
    reduction — applied to the re-aggregated summary before ORDER
    BY/LIMIT, matching the base plan exactly."""
    _seed(spark, io)
    info = _both(io, "SELECT k, COUNT(*) AS n FROM rw.facts "
                     "GROUP BY k HAVING n > 20 AND k < 4")
    assert info["having"] is True and info["reduced"] is True


def test_having_with_order_by_and_limit(spark, io):
    _seed(spark, io)
    io.mv_rewrite = "fresh-only"
    q = ("SELECT k, SUM(CAST(amount AS DECIMAL(18,2))) AS total "
         "FROM rw.facts GROUP BY k HAVING total > 900 "
         "ORDER BY total DESC LIMIT 2")
    df = io.sql(q)
    assert io.last_mv_rewrite is not None
    got = [(r.k, str(r.total)) for r in df.collect()]
    io.mv_rewrite = "off"
    base = [(r.k, str(r.total)) for r in io.sql(q).collect()]
    assert got == base and len(got) == 2


def test_having_on_grand_total(spark, io):
    _seed(spark, io)
    # global aggregate with a HAVING that filters the single row out:
    # both plans must emit zero rows
    io.mv_rewrite = "fresh-only"
    df = io.sql("SELECT COUNT(*) AS n FROM rw.facts HAVING n > 1000")
    assert io.last_mv_rewrite is not None
    assert df.count() == 0
    io.mv_rewrite = "off"
    assert io.sql("SELECT COUNT(*) AS n FROM rw.facts HAVING n > 1000").count() == 0


def test_having_raw_aggregate_maps_to_maintained_column(spark, io):
    """r15b: the portable HAVING spelling (raw aggregate calls, which
    classic SQL requires since aliases are not in scope there) maps
    through the maintained-column lookup — even when the aggregate is
    NOT in the select list — and is computed as a hidden column of the
    summary re-aggregation."""
    _seed(spark, io)
    info = _both(io, "SELECT k, COUNT(*) AS n FROM rw.facts GROUP BY k "
                     "HAVING SUM(CAST(amount AS DECIMAL(18,2))) > 900 "
                     "AND COUNT(*) > 1")
    assert info["having"] is True and info["having_mapped_aggs"] == 2


def test_having_mapped_extrema_on_grand_total(spark, io):
    _seed(spark, io)
    # grand total + hidden MAX: both plans emit one row iff the filter
    # holds globally
    info = _both(io, "SELECT COUNT(*) AS n FROM rw.facts "
                     "HAVING MAX(id) >= 199")
    assert info["reduced"] is True and info["having_mapped_aggs"] == 1
    io.mv_rewrite = "fresh-only"
    df = io.sql("SELECT COUNT(*) AS n FROM rw.facts HAVING MAX(id) > 500")
    assert io.last_mv_rewrite is not None
    assert df.count() == 0


def test_having_unmaintained_aggregate_falls_back(spark, io):
    _seed(spark, io)
    # SUM(id) is not a maintained column of rw.mv — conservative fall
    # back; the base path answers it
    df = io.sql("SELECT k, COUNT(*) AS n FROM rw.facts GROUP BY k "
                "HAVING SUM(id) > 100")
    assert io.last_mv_rewrite is None
    assert df.count() > 0


def test_having_on_distinct_keys(spark, io):
    _seed(spark, io)
    info = _both(io, "SELECT k, j FROM rw.facts GROUP BY k, j "
                     "HAVING k > 2 AND j = 0")
    assert info["having"] is True


def test_join_view_coarser_key_reduction(spark, io):
    """r15: a query grouping by a strict SUBSET of a join-MV's keys
    reduces from the summary instead of re-joining the base tables."""
    io.write_table(_rows(spark, 0, 200).coalesce(1), ["rw"], "facts",
                   mode="append")
    dims = spark.createDataFrame(
        [(0, "east"), (1, "east"), (2, "west"), (3, "west"), (4, "north")],
        "k long, region string",
    )
    io.write_table(dims.coalesce(1), ["rw"], "dims", mode="overwrite")
    io.sql("""
        CREATE MATERIALIZED VIEW rw.mv_rj AS
        SELECT region, j, COUNT(*) AS n_rows,
               SUM(CAST(amount AS DECIMAL(18,2))) AS amount_sum
        FROM rw.facts JOIN rw.dims ON facts.k = dims.k
        GROUP BY region, j
    """)
    info = _both(io, "SELECT region, COUNT(*) AS n, "
                     "SUM(CAST(amount AS DECIMAL(18,2))) AS total "
                     "FROM rw.facts f JOIN rw.dims d ON f.k = d.k "
                     "GROUP BY region")
    assert info["view"] == "rw.mv_rj" and info["reduced"] is True
    # ... and with a HAVING tail over the reduced outputs
    info = _both(io, "SELECT region, COUNT(*) AS n "
                     "FROM rw.facts f JOIN rw.dims d ON f.k = d.k "
                     "GROUP BY region HAVING n > 50")
    assert info["having"] is True and info["reduced"] is True


def test_cheapest_subsuming_mv_wins(spark, io):
    """r15c: cost-based candidate choice — when both a fine (k, j) and a
    coarse (k) rollup subsume a GROUP BY k, the rewrite must read the
    smaller summary (snapshot total-records), regardless of listing
    order."""
    _seed(spark, io)  # creates rw.mv over (k, j) — 10 summary rows
    io.sql("""
        CREATE MATERIALIZED VIEW rw.mv_k AS
        SELECT k, COUNT(*) AS n_rows,
               SUM(CAST(amount AS DECIMAL(18,2))) AS amount_sum
        FROM rw.facts GROUP BY k
    """)  # 5 summary rows — the cheaper subsumer
    info = _both(io, "SELECT k, COUNT(*) AS n FROM rw.facts GROUP BY k")
    assert info["view"] == "rw.mv_k" and info["candidates"] == 2
    assert info["summary_rows"] == 5
    # the finer grouping is only answerable from the (k, j) MV
    info = _both(io, "SELECT k, j, COUNT(*) AS n FROM rw.facts GROUP BY k, j")
    assert info["view"] == "rw.mv" and info["candidates"] == 1


def test_stale_cheapest_falls_through_to_fresh_subsumer(spark, io):
    _seed(spark, io)
    io.sql("""
        CREATE MATERIALIZED VIEW rw.mv_k AS
        SELECT k, COUNT(*) AS n_rows,
               SUM(CAST(amount AS DECIMAL(18,2))) AS amount_sum
        FROM rw.facts GROUP BY k
    """)
    # stale BOTH, then refresh only the fine (expensive) one
    io.write_table(_rows(spark, 200, 300).coalesce(1), ["rw"], "facts",
                   mode="append")
    io.sql("REFRESH MATERIALIZED VIEW rw.mv")
    io.mv_rewrite = "fresh-only"
    df = io.sql("SELECT k, COUNT(*) AS n FROM rw.facts GROUP BY k")
    info = io.last_mv_rewrite
    assert info is not None and info["view"] == "rw.mv"  # cheap one stale
    assert {(r.k, r.n) for r in df.collect()} == {(k, 60) for k in range(5)}


def test_explain_surfaces_the_rewrite_verdict(spark, io):
    """r15d: EXPLAIN through io.sql resolves the SELECT exactly as sql()
    would — including the MV-rewrite pass — without executing it, and
    heads the plan text with the rewrite verdict."""
    _seed(spark, io)
    io.mv_rewrite = "fresh-only"
    plan = io.sql("EXPLAIN SELECT k, COUNT(*) AS n FROM rw.facts "
                  "GROUP BY k").collect()[0].plan
    assert "Materialized View Rewrite" in plan
    assert '"view": "rw.mv"' in plan and "Physical Plan" in plan
    io.mv_rewrite = "off"
    plan = io.sql("EXPLAIN SELECT k, COUNT(*) AS n FROM rw.facts "
                  "GROUP BY k").collect()[0].plan
    assert "not applied" in plan
    io.mv_rewrite = "fresh-only"
    plan = io.sql("EXPLAIN FORMATTED SELECT k, COUNT(*) AS n "
                  "FROM rw.facts GROUP BY k").collect()[0].plan
    assert "Materialized View Rewrite" in plan and len(plan) > 100
    plan = io.sql("EXPLAIN EXTENDED SELECT COUNT(*) AS n "
                  "FROM rw.facts").collect()[0].plan
    assert "Analyzed Logical Plan" in plan or "Parsed Logical Plan" in plan


def test_extract_agg_calls_unit():
    from denali_spark.sources.mv_rewrite import _extract_agg_calls

    # literals are opaque: "sum(" inside a string must not extract
    spans = _extract_agg_calls("n > 1 AND note LIKE 'sum(x)'")
    assert spans == []
    # nested parens in the aggregate argument
    spans = _extract_agg_calls("SUM(CAST(x AS DECIMAL(18,2))) > 5")
    assert len(spans) == 1
    _a, _b, fn, inner = spans[0]
    assert fn == "SUM" and inner == "CAST(x AS DECIMAL(18,2))"
    # two calls, mixed case, COUNT(*)
    spans = _extract_agg_calls("count(*) > 1 AND Max(id) <= 9")
    assert [(s[2], s[3]) for s in spans] == [("COUNT", "*"), ("MAX", "id")]
    # identifiers merely containing an agg name never match
    assert _extract_agg_calls("checksum(x) > 1") == []
    assert _extract_agg_calls("my_count(x) > 1") == []
    # doubled quotes inside a literal stay inside the literal
    assert _extract_agg_calls("note = 'don''t sum(x)'") == []
    # unbalanced parens -> None (caller must fall back, never guess)
    assert _extract_agg_calls("SUM(x > 1") is None


def test_or_and_between_key_predicates_on_unfiltered_mv(spark, io):
    """r15e: an unfiltered MV + a key-only query predicate needs no
    conjunct-subset proof — OR and BETWEEN shapes apply wholesale to the
    summary scan."""
    _seed(spark, io)
    info = _both(io, "SELECT k, COUNT(*) AS n FROM rw.facts "
                     "WHERE k BETWEEN 1 AND 2 OR k = 4 GROUP BY k")
    assert info["filtered"] is True
    # a parenthesized OR is ONE precedence-safe conjunct: with j and k
    # both keys the query matches the unfiltered (k, j) MV wholesale AND
    # the filtered j=0 MV via conjunct subset — the cheaper (5-row)
    # filtered summary serves it
    io.sql("""
        CREATE MATERIALIZED VIEW rw.mv_j0 AS
        SELECT k, COUNT(*) AS n_rows FROM rw.facts WHERE j = 0 GROUP BY k
    """)
    info = _both(io, "SELECT k, COUNT(*) AS n FROM rw.facts "
                     "WHERE j = 0 AND (k = 1 OR k = 2) GROUP BY k")
    assert info["view"] == "rw.mv_j0" and info["candidates"] == 2
    # a BARE top-level OR against a FILTERED MV still requires the exact
    # textual match: `j = 0 OR k = 1` must not be served from mv_j0
    df = io.sql("SELECT k, COUNT(*) AS n FROM rw.facts "
                "WHERE j = 0 OR k = 1 GROUP BY k")
    assert (io.last_mv_rewrite is None
            or io.last_mv_rewrite["view"] != "rw.mv_j0")
    base = {(r.k, r.n) for r in df.collect()}
    assert base == {(0, 20), (1, 40), (2, 20), (3, 20), (4, 20)}


def test_stale_ok_staleness_bound(spark, io):
    """r15f: bounded staleness — stale-ok with mv_rewrite_max_staleness_ms
    serves only views whose watermark lags the source by at most the
    bound; unset keeps the legacy any-watermark contract."""
    _seed(spark, io)
    io.write_table(_rows(spark, 200, 300).coalesce(1), ["rw"], "facts",
                   mode="append")
    io.mv_rewrite = "stale-ok"
    # a zero bound: the stale view must NOT serve — base path answers
    io.mv_rewrite_max_staleness_ms = 0
    df = io.sql("SELECT k, COUNT(*) AS n FROM rw.facts GROUP BY k")
    assert io.last_mv_rewrite is None
    assert {(r.k, r.n) for r in df.collect()} == {(k, 60) for k in range(5)}
    # a day-wide bound: the seconds-stale view serves the watermark state
    io.mv_rewrite_max_staleness_ms = 24 * 3600 * 1000
    df = io.sql("SELECT k, COUNT(*) AS n FROM rw.facts GROUP BY k")
    assert io.last_mv_rewrite is not None
    assert io.last_mv_rewrite["fresh"] is False
    assert {(r.k, r.n) for r in df.collect()} == {(k, 40) for k in range(5)}
    # unset: legacy unbounded stale-ok
    io.mv_rewrite_max_staleness_ms = None
    io.sql("SELECT k, COUNT(*) AS n FROM rw.facts GROUP BY k")
    assert io.last_mv_rewrite is not None
    # a FRESH view always serves regardless of the bound
    io.mv_rewrite_max_staleness_ms = 0
    io.sql("REFRESH MATERIALIZED VIEW rw.mv")
    io.sql("SELECT k, COUNT(*) AS n FROM rw.facts GROUP BY k")
    assert io.last_mv_rewrite is not None and io.last_mv_rewrite["fresh"]
    io.mv_rewrite_max_staleness_ms = None


def test_explain_non_select_fails_loudly(spark, io):
    # r16: EXPLAIN UPDATE/DELETE/MERGE now emit the read-side plan
    # (tests/test_sql_interface.py); DDL under EXPLAIN still fails loudly
    _seed(spark, io)
    with pytest.raises(ValueError, match="EXPLAIN supports"):
        io.sql("EXPLAIN CREATE TABLE rw.nope AS SELECT 1 AS one")


def test_invalid_cheapest_falls_through_to_valid_subsumer(spark, io):
    """r15g: the serve phase must skip an INVALID (foreign-written)
    cheapest candidate and serve the next-cheapest valid one — cost order
    never outranks validity."""
    _seed(spark, io)  # rw.mv over (k, j): 10 rows — the EXPENSIVE one
    io.sql("""
        CREATE MATERIALIZED VIEW rw.mv_k AS
        SELECT k, COUNT(*) AS n_rows FROM rw.facts GROUP BY k
    """)  # 5 rows — the cheap one
    # foreign write invalidates the CHEAP candidate only
    rogue = spark.createDataFrame([(99, 1)], "k long, n_rows long")
    io.write_table(rogue, ["rw"], "mv_k", mode="append")
    io.mv_rewrite = "stale-ok"
    df = io.sql("SELECT k, COUNT(*) AS n FROM rw.facts GROUP BY k")
    info = io.last_mv_rewrite
    assert info is not None and info["view"] == "rw.mv"
    assert {(r.k, r.n) for r in df.collect()} == {(k, 40) for k in range(5)}


# --- r16: AVG via the maintained hidden sum/count pair ----------------------


def _seed_avg(spark, io):
    """Facts with NULL amounts (id % 7 == 0) — the divisor MUST be the
    non-null count, not n_rows, or every NULL-holding group dilutes."""
    rows = spark.range(0, 200).select(
        F.col("id"),
        (F.col("id") % 5).alias("k"),
        (F.col("id") % 2).alias("j"),
        F.when(F.col("id") % 7 != 0,
               F.col("id").cast("decimal(18,2)") / 4).alias("amount"),
    )
    io.write_table(rows.coalesce(1), ["rw"], "nfacts", mode="append")
    io.sql("""
        CREATE MATERIALIZED VIEW rw.mv_avg AS
        SELECT k, j, COUNT(*) AS n_rows,
               AVG(CAST(amount AS DECIMAL(18,2))) AS amount_avg,
               AVG(id) AS id_avg
        FROM rw.nfacts GROUP BY k, j
    """)


def test_avg_decimal_rewrites_via_hidden_pair(spark, io):
    _seed_avg(spark, io)
    info = _both(io, """
        SELECT k, j, AVG(CAST(amount AS DECIMAL(18,2))) AS a
        FROM rw.nfacts GROUP BY k, j
    """)
    assert info["view"] == "rw.mv_avg"


def test_avg_decimal_coarser_key_reduction(spark, io):
    # re-aggregating the summary re-derives AVG from the folded hidden
    # sums/counts — bit-equal to the base plan across NULL-holding groups
    _seed_avg(spark, io)
    info = _both(io, """
        SELECT k, AVG(CAST(amount AS DECIMAL(18,2))) AS a, AVG(id) AS b
        FROM rw.nfacts GROUP BY k
    """)
    assert info["reduced"] is True


def test_avg_integer_grand_total(spark, io):
    _seed_avg(spark, io)
    _both(io, "SELECT AVG(id) AS a FROM rw.nfacts")


def test_avg_via_explicit_sum_count_pair(spark, io):
    # no maintained AVG column at all: an MV carrying SUM + COUNT of the
    # same expression serves the AVG query from that pair
    rows = spark.range(0, 100).select(
        (F.col("id") % 4).alias("k"),
        F.when(F.col("id") % 9 != 0,
               F.col("id").cast("decimal(12,2)")).alias("v"),
    )
    io.write_table(rows.coalesce(1), ["rw"], "pfacts", mode="append")
    io.sql("""
        CREATE MATERIALIZED VIEW rw.mv_pair AS
        SELECT k, COUNT(*) AS n_rows,
               SUM(CAST(v AS DECIMAL(12,2))) AS v_sum,
               COUNT(CAST(v AS DECIMAL(12,2))) AS v_cnt
        FROM rw.pfacts GROUP BY k
    """)
    info = _both(io, """
        SELECT k, AVG(CAST(v AS DECIMAL(12,2))) AS a FROM rw.pfacts
        GROUP BY k
    """)
    assert info["view"] == "rw.mv_pair"


def test_having_avg_maps_to_hidden_pair(spark, io):
    _seed_avg(spark, io)
    info = _both(io, """
        SELECT k, COUNT(*) AS n FROM rw.nfacts GROUP BY k
        HAVING AVG(CAST(amount AS DECIMAL(18,2))) > 24 AND AVG(id) < 120
    """)
    assert info["having_mapped_aggs"] == 2


def test_avg_float_typed_falls_back(spark, io):
    # a double-typed average cannot be maintained (the IVM create path
    # rejects inexact sums) and recompute association order could differ
    # — the deliberate non-rewrite
    _seed_avg(spark, io)
    io.sql("SELECT k, AVG(CAST(amount AS DOUBLE)) AS a "
           "FROM rw.nfacts GROUP BY k")
    assert io.last_mv_rewrite is None


def test_maintained_avg_is_null_correct(spark, io):
    # IVM-level pin for the divisor + storage-type contract: the STORED
    # average over NULL-holding groups equals SQL AVG exactly — hidden
    # sum / NON-NULL count, materialized in the defining query's own
    # result type (decimal(22,6) for the decimal expression, double for
    # the integral id average) — and stays exactly equal through an
    # incremental refresh.
    _seed_avg(spark, io)
    io.mv_rewrite = "off"

    def check():
        expect = {(r["k"], r["j"]): (r["a"], r["b"]) for r in io.sql(
            "SELECT k, j, AVG(CAST(amount AS DECIMAL(18,2))) AS a, "
            "AVG(id) AS b FROM rw.nfacts GROUP BY k, j").collect()}
        mv = io.read_table(["rw"], "mv_avg")
        types = dict(mv.dtypes)
        assert types["amount_avg"] == "decimal(22,6)"
        assert types["id_avg"] == "double"
        got = {(r["k"], r["j"]): (r["amount_avg"], r["id_avg"])
               for r in mv.collect()}
        assert got == expect

    check()
    # append more NULL-holding rows, refresh, re-check bit-for-bit
    extra = spark.range(200, 260).select(
        F.col("id"), (F.col("id") % 5).alias("k"), (F.col("id") % 2).alias("j"),
        F.when(F.col("id") % 7 != 0,
               F.col("id").cast("decimal(18,2)") / 4).alias("amount"),
    )
    io.write_table(extra.coalesce(1), ["rw"], "nfacts", mode="append")
    io.sql("REFRESH MATERIALIZED VIEW rw.mv_avg")
    check()


# --- r16: delta top-up serving (fresh answers from a stale MV, no commit) ---


def _snap_count(io, ns, name):
    md = io.client.load_table(ns, name)["metadata"]
    return len(md.get("snapshots", []))


def test_topup_serves_fresh_without_commit(spark, io):
    _seed(spark, io)
    io.write_table(_rows(spark, 200, 300).coalesce(1), ["rw"], "facts",
                   mode="append")  # MV now stale
    before = _snap_count(io, ["rw"], "mv")
    io.mv_rewrite = "topup"
    q = ("SELECT k, COUNT(*) AS n, "
         "SUM(CAST(amount AS DECIMAL(18,2))) AS total FROM rw.facts "
         "GROUP BY k")
    got_df = io.sql(q)
    info = io.last_mv_rewrite
    assert info is not None and info["fresh"] is True
    assert info["topup_delta_rows"] > 0
    got = {tuple(r) for r in got_df.collect()}
    # the answer is the LIVE state (300 rows), not the 200-row watermark
    io.mv_rewrite = "off"
    base_df = io.sql(q)
    assert got_df.dtypes == base_df.dtypes
    assert got == {tuple(r) for r in base_df.collect()}
    # and NO commit landed on the MV (snapshot count pinned)
    assert _snap_count(io, ["rw"], "mv") == before
    # the view itself is STILL stale: fresh-only now falls back
    io.mv_rewrite = "fresh-only"
    io.sql(q)
    assert io.last_mv_rewrite is None


def test_topup_folds_deletes_and_drops_dead_groups(spark, io):
    _seed(spark, io)
    # fully delete group k=3 and thin the others
    delete_where(io, ["rw"], "facts", E.eq("k", 3))
    delete_where(io, ["rw"], "facts", E.lt("id", 20))
    before = _snap_count(io, ["rw"], "mv")
    io.mv_rewrite = "topup"
    q = ("SELECT k, COUNT(*) AS n, "
         "SUM(CAST(amount AS DECIMAL(18,2))) AS total FROM rw.facts "
         "GROUP BY k")
    got_df = io.sql(q)
    assert io.last_mv_rewrite is not None
    got = {tuple(r) for r in got_df.collect()}
    assert all(r[0] != 3 for r in got), "fully-deleted group must vanish"
    io.mv_rewrite = "off"
    assert got == {tuple(r) for r in io.sql(q).collect()}
    assert _snap_count(io, ["rw"], "mv") == before


def test_topup_avg_from_hidden_pair(spark, io):
    _seed_avg(spark, io)
    extra = spark.range(200, 270).select(
        F.col("id"), (F.col("id") % 5).alias("k"), (F.col("id") % 2).alias("j"),
        F.when(F.col("id") % 7 != 0,
               F.col("id").cast("decimal(18,2)") / 4).alias("amount"),
    )
    io.write_table(extra.coalesce(1), ["rw"], "nfacts", mode="append")
    io.mv_rewrite = "topup"
    q = ("SELECT k, AVG(CAST(amount AS DECIMAL(18,2))) AS a, AVG(id) AS b "
         "FROM rw.nfacts GROUP BY k")
    got_df = io.sql(q)
    assert io.last_mv_rewrite is not None
    assert io.last_mv_rewrite["fresh"] is True
    got = {tuple(r) for r in got_df.collect()}
    io.mv_rewrite = "off"
    base_df = io.sql(q)
    assert got_df.dtypes == base_df.dtypes
    assert got == {tuple(r) for r in base_df.collect()}


def test_topup_extrema_insert_only_serves(spark, io):
    """r16: an INSERT-ONLY delta window cannot retire a stored extremum,
    so MIN/MAX fold exactly over summary + delta — the append-only hot
    path serves without a commit."""
    _seed(spark, io)
    io.write_table(_rows(spark, 200, 300).coalesce(1), ["rw"], "facts",
                   mode="append")
    before = _snap_count(io, ["rw"], "mv")
    io.mv_rewrite = "topup"
    q = ("SELECT k, MIN(amount) AS lo, MAX(id) AS hi, COUNT(*) AS n "
         "FROM rw.facts GROUP BY k")
    got_df = io.sql(q)
    info = io.last_mv_rewrite
    assert info is not None and info["fresh"] is True
    got = {tuple(r) for r in got_df.collect()}
    io.mv_rewrite = "off"
    base_df = io.sql(q)
    assert got_df.dtypes == base_df.dtypes
    assert got == {tuple(r) for r in base_df.collect()}
    assert _snap_count(io, ["rw"], "mv") == before


def test_topup_extrema_with_deletes_falls_back(spark, io):
    _seed(spark, io)
    delete_where(io, ["rw"], "facts", E.lt("id", 20))
    io.mv_rewrite = "topup"
    io.sql("SELECT k, MIN(amount) AS lo FROM rw.facts GROUP BY k")
    # the delete could have retired the stored extremum — base path
    assert io.last_mv_rewrite is None
    # but the SUM family still tops up over the same deleting window
    q = "SELECT k, COUNT(*) AS n FROM rw.facts GROUP BY k"
    got_df = io.sql(q)
    assert io.last_mv_rewrite is not None
    io.mv_rewrite = "off"
    assert {tuple(r) for r in got_df.collect()} == {
        tuple(r) for r in io.sql(q).collect()}


def test_topup_join_view_bilinear_delta(spark, io):
    """r16: join-view topup — BOTH sides change after CREATE (a fact
    append exercises the dR join S_new term, a dim overwrite re-pointing
    k=4 from north to west exercises R_old join dS), and the stale MV +
    read-time bilinear delta must equal the live base plan with zero
    commits on the view."""
    io.write_table(_rows(spark, 0, 200).coalesce(1), ["rw"], "facts",
                   mode="append")
    dims = spark.createDataFrame(
        [(0, "east"), (1, "west"), (2, "west"), (3, "east"), (4, "north")],
        "k long, region string",
    )
    io.write_table(dims.coalesce(1), ["rw"], "dims", mode="overwrite")
    io.sql("""
        CREATE MATERIALIZED VIEW rw.mv_tj AS
        SELECT region, COUNT(*) AS n_rows,
               SUM(CAST(amount AS DECIMAL(18,2))) AS amount_sum
        FROM rw.facts JOIN rw.dims ON facts.k = dims.k GROUP BY region
    """)
    io.write_table(_rows(spark, 200, 260).coalesce(1), ["rw"], "facts",
                   mode="append")
    dims2 = spark.createDataFrame(
        [(0, "east"), (1, "west"), (2, "west"), (3, "east"), (4, "west")],
        "k long, region string",
    )
    io.write_table(dims2.coalesce(1), ["rw"], "dims", mode="overwrite")
    before = _snap_count(io, ["rw"], "mv_tj")
    io.mv_rewrite = "topup"
    q = ("SELECT region, COUNT(*) AS n, "
         "SUM(CAST(amount AS DECIMAL(18,2))) AS total FROM rw.facts f "
         "JOIN rw.dims d ON f.k = d.k GROUP BY region")
    got_df = io.sql(q)
    info = io.last_mv_rewrite
    assert info is not None and info["fresh"] is True
    assert info["topup_delta_rows"] is not None
    got = {tuple(r) for r in got_df.collect()}
    io.mv_rewrite = "off"
    base_df = io.sql(q)
    assert got_df.dtypes == base_df.dtypes
    assert got == {tuple(r) for r in base_df.collect()}
    assert {r[0] for r in got} == {"east", "west"}  # north re-pointed away
    assert _snap_count(io, ["rw"], "mv_tj") == before


def test_topup_join_view_extrema_insert_only(spark, io):
    io.write_table(_rows(spark, 0, 100).coalesce(1), ["rw"], "xfacts",
                   mode="append")
    dims = spark.createDataFrame([(0, "a"), (1, "a"), (2, "b"), (3, "b"),
                                  (4, "b")], "k long, region string")
    io.write_table(dims.coalesce(1), ["rw"], "xdims", mode="overwrite")
    io.sql("""
        CREATE MATERIALIZED VIEW rw.mv_xj AS
        SELECT region, COUNT(*) AS n_rows, MAX(id) AS id_max
        FROM rw.xfacts JOIN rw.xdims ON xfacts.k = xdims.k GROUP BY region
    """)
    io.write_table(_rows(spark, 100, 130).coalesce(1), ["rw"], "xfacts",
                   mode="append")
    io.mv_rewrite = "topup"
    q = ("SELECT region, MAX(id) AS hi FROM rw.xfacts f "
         "JOIN rw.xdims d ON f.k = d.k GROUP BY region")
    got_df = io.sql(q)
    # both changelogs insert-only: the extrema fold is exact even
    # through the join
    assert io.last_mv_rewrite is not None
    got = {tuple(r) for r in got_df.collect()}
    io.mv_rewrite = "off"
    assert got == {tuple(r) for r in io.sql(q).collect()}
    # a dim-side overwrite (delete+insert) disqualifies the extrema fold
    dims2 = spark.createDataFrame([(0, "a"), (1, "a"), (2, "b"), (3, "b"),
                                   (4, "a")], "k long, region string")
    io.write_table(dims2.coalesce(1), ["rw"], "xdims", mode="overwrite")
    io.mv_rewrite = "topup"
    io.sql(q)
    assert io.last_mv_rewrite is None


def test_topup_fresh_view_serves_directly(spark, io):
    _seed(spark, io)
    io.mv_rewrite = "topup"
    q = "SELECT k, COUNT(*) AS n FROM rw.facts GROUP BY k"
    got_df = io.sql(q)
    info = io.last_mv_rewrite
    assert info is not None and info["fresh"] is True
    assert info["topup_delta_rows"] is None  # no delta needed
    io.mv_rewrite = "off"
    assert {tuple(r) for r in got_df.collect()} == {
        tuple(r) for r in io.sql(q).collect()}


def test_explain_under_refresh_policy_never_commits(spark, io):
    """ADVICE r15: EXPLAIN is a diagnostic — under mv_rewrite='refresh'
    the match runs downgraded to stale-ok so no refresh snapshot lands,
    and the verdict header says so."""
    _seed(spark, io)
    io.write_table(_rows(spark, 200, 300).coalesce(1), ["rw"], "facts",
                   mode="append")  # MV stale
    before = _snap_count(io, ["rw"], "mv")
    io.mv_rewrite = "refresh"
    [r] = io.sql("EXPLAIN SELECT k, COUNT(*) AS n "
                 "FROM rw.facts GROUP BY k").collect()
    plan = r["plan"]
    assert "rw.mv" in plan  # the stale view still matched (served stale-ok)
    assert "explain_policy_downgrade" in plan
    assert _snap_count(io, ["rw"], "mv") == before  # no refresh commit
    # the policy itself is untouched after the EXPLAIN
    assert io.mv_rewrite == "refresh"
    # and a REAL query under refresh still folds (commits) as before
    io.sql("SELECT k, COUNT(*) AS n FROM rw.facts GROUP BY k")
    assert _snap_count(io, ["rw"], "mv") == before + 1


def test_topup_delta_cache_reuses_state_identity(spark, io):
    _seed(spark, io)
    io.write_table(_rows(spark, 200, 260).coalesce(1), ["rw"], "facts",
                   mode="append")
    io.mv_rewrite = "topup"
    q = "SELECT k, COUNT(*) AS n FROM rw.facts GROUP BY k"
    io.sql(q).collect()
    cache = io._topup_delta_cache
    assert len(cache) == 1
    (key1, (df1, rows1)) = next(iter(cache.items()))
    # a second query against the SAME stale state reuses the entry
    io.sql("SELECT COUNT(*) AS n FROM rw.facts").collect()
    assert len(io._topup_delta_cache) == 1
    assert io._topup_delta_cache[key1][0] is df1
    assert io.last_mv_rewrite["topup_delta_rows"] == rows1
    # a new source commit mints a NEW key (never serves a stale delta)
    io.write_table(_rows(spark, 260, 280).coalesce(1), ["rw"], "facts",
                   mode="append")
    got = {(r.k, r.n) for r in io.sql(q).collect()}
    assert len(io._topup_delta_cache) == 2
    io.mv_rewrite = "off"
    assert got == {(r.k, r.n) for r in io.sql(q).collect()}


def test_topup_serves_cascading_mv(spark, io):
    """An MV over an MV: the child's source IS the parent table, so the
    child's topup folds the PARENT's refresh changelog — serving stays
    correct one level up the cascade."""
    _seed(spark, io)  # rw.mv over rw.facts
    io.sql("""
        CREATE MATERIALIZED VIEW rw.mv_child AS
        SELECT k, SUM(CAST(amount_sum AS DECIMAL(18,2))) AS amount_total
        FROM rw.mv GROUP BY k
    """)
    # advance the parent: source append + parent refresh (a CoW commit
    # the child's changelog must fold), child left stale
    io.write_table(_rows(spark, 200, 240).coalesce(1), ["rw"], "facts",
                   mode="append")
    io.sql("REFRESH MATERIALIZED VIEW rw.mv")
    before = _snap_count(io, ["rw"], "mv_child")
    io.mv_rewrite = "topup"
    q = ("SELECT k, SUM(CAST(amount_sum AS DECIMAL(18,2))) AS total "
         "FROM rw.mv GROUP BY k")
    got_df = io.sql(q)
    info = io.last_mv_rewrite
    assert info is not None and info["view"] == "rw.mv_child"
    assert info["fresh"] is True
    got = {tuple(r) for r in got_df.collect()}
    io.mv_rewrite = "off"
    assert got == {tuple(r) for r in io.sql(q).collect()}
    assert _snap_count(io, ["rw"], "mv_child") == before


def test_serve_read_is_pinned_to_checked_snapshot(spark, io):
    """r16 self-review: freshness / topup deltas are judged against the
    metadata the match phase loaded — the serve-phase read must PIN to
    that snapshot, or a concurrent refresh landing in between would
    double-apply a topup delta. The pin is observable: read_table is
    called with the checked snapshot id."""
    _seed(spark, io)
    io.write_table(_rows(spark, 200, 240).coalesce(1), ["rw"], "facts",
                   mode="append")
    checked = io.client.load_table(["rw"], "mv")["metadata"]
    checked_snap = checked["refs"]["main"]["snapshot-id"]
    calls = []
    real = io.read_table

    def spying(ns, name, *a, **kw):
        if name == "mv":
            calls.append(kw.get("snapshot_id"))
        return real(ns, name, *a, **kw)

    io.read_table = spying
    try:
        io.mv_rewrite = "topup"
        q = "SELECT k, COUNT(*) AS n FROM rw.facts GROUP BY k"
        got = {(r.k, r.n) for r in io.sql(q).collect()}
    finally:
        io.read_table = real
    assert calls == [checked_snap]
    io.mv_rewrite = "off"
    assert got == {(r.k, r.n) for r in io.sql(q).collect()}
    # and a refresh-mode fold re-points the pin to ITS OWN commit (the
    # post-fold snapshot), never the stale checked one
    io.write_table(_rows(spark, 240, 260).coalesce(1), ["rw"], "facts",
                   mode="append")
    calls.clear()
    io.read_table = spying
    try:
        io.mv_rewrite = "refresh"
        got2 = {(r.k, r.n) for r in io.sql(q).collect()}
    finally:
        io.read_table = real
    post = io.client.load_table(["rw"], "mv")["metadata"]
    assert calls == [post["refs"]["main"]["snapshot-id"]]
    io.mv_rewrite = "off"
    assert got2 == {(r.k, r.n) for r in io.sql(q).collect()}
