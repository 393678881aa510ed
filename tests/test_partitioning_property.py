"""Property-based fuzzer for partition-transform pruning (hypothesis):
random partition specs (identity/bucket/truncate, one or two fields),
random mid-lineage spec evolutions (including transform-width changes on
the SAME source column), and random predicates — a pruned + residual
read (`read_table(where=...)`) must return exactly the rows a full scan
filtered by the same predicate returns.

Pruning is the 100 TB lever (a point lookup on a bucket[N]-partitioned
key must scan ~1/N of the files) and mispruning is silent data loss, so
this is the one plane where a randomized adversary over the
transform × evolution × predicate cross-product earns its suite time;
the stats pruner already has its own pure-Python fuzzer
(tests/test_expressions_property.py)."""

from __future__ import annotations

import itertools

import pytest

from hypothesis import HealthCheck, event, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.sources import SparkCatalogIO
from denali_spark.sources import expressions as E
from tests.fuzz_budget import examples


_SEQ = itertools.count()

SPECS = [
    [("k", "identity")],
    [("j", "identity")],
    [("id", "bucket[4]")],
    [("id", "bucket[8]")],
    [("id", "truncate[16]")],
    [("k", "identity"), ("j", "identity")],
    [("k", "identity"), ("id", "bucket[4]")],
]


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        "id",
        (F.col("id") % 5).cast("int").alias("k"),
        (F.col("id") % 3).cast("int").alias("j"),
    )


@pytest.fixture(scope="module")
def io(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("part_fuzz_wh")
    server = CatalogServer(make_state(str(root))).start()
    yield SparkCatalogIO(spark, server.uri)
    server.stop()


_pred = st.one_of(
    st.integers(min_value=0, max_value=4).map(lambda v: E.eq("k", v)),
    st.integers(min_value=0, max_value=2).map(lambda v: E.eq("j", v)),
    st.integers(min_value=0, max_value=120).map(lambda c: E.eq("id", c)),
    st.lists(st.integers(min_value=0, max_value=120), min_size=1,
             max_size=4, unique=True).map(lambda vs: E.in_("id", vs)),
    st.integers(min_value=0, max_value=100).map(
        lambda c: E.and_(E.gt_eq("id", c), E.lt("id", c + 30))),
    st.integers(min_value=0, max_value=4).map(
        lambda v: E.and_(E.eq("k", v), E.gt_eq("id", 40))),
    st.integers(min_value=0, max_value=4).map(lambda v: E.not_eq("k", v)),
)


@given(spec_i=st.integers(min_value=0, max_value=len(SPECS) - 1),
       evolve_i=st.none() | st.integers(min_value=0, max_value=len(SPECS) - 1),
       widths=st.tuples(st.integers(min_value=5, max_value=60),
                        st.integers(min_value=5, max_value=60)),
       preds=st.lists(_pred, min_size=1, max_size=3))
@settings(max_examples=examples(6), deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pruned_read_equals_filtered_full_scan(spark, io, spec_i, evolve_i,
                                               widths, preds):
    i = next(_SEQ)
    t = f"t{i}"
    w1, w2 = widths
    io.write_table(_rows(spark, 0, w1), ["pf"], t, mode="overwrite",
                   partition_by=SPECS[spec_i])
    if evolve_i is not None and evolve_i != spec_i:
        io.evolve_partition_spec(["pf"], t, SPECS[evolve_i])
        event(f"evolve {SPECS[spec_i]} -> {SPECS[evolve_i]}")
    # second write lands under the (possibly evolved) current spec, so
    # live files carry tuples from up to two layouts
    io.write_table(_rows(spark, w1, w1 + w2), ["pf"], t, mode="append")

    full = io.read_table(["pf"], t)
    for pred in preds:
        want = sorted(r.id for r in
                      full.filter(E.to_spark_sql(pred)).collect())
        got = sorted(r.id for r in
                     io.read_table(["pf"], t, where=pred).collect())
        assert got == want, f"spec={SPECS[spec_i]} evolve={evolve_i} {pred}"
