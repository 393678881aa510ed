"""Property-based fuzzer for schema evolution (hypothesis): a random
interleave of ALTER TABLE ADD/RENAME/DROP COLUMN (through the SQL DDL
spellings) and appends — each append written under the then-current
schema — must read back exactly as a Python row model projected onto the
final schema: added columns NULL-backfill older rows, renamed columns
carry their old data (projection is by FIELD ID, not name), dropped
columns vanish, and — the classic lake-format bug — a column re-added
under a previously DROPPED name is a NEW field id whose value is NULL
for every pre-existing row (old data must never resurrect by name).

The targeted suite is tests/test_schema_evolution.py; this fuzzer drives
the name-reuse and rename-chains cross-product it cannot enumerate."""

from __future__ import annotations

import itertools

import pytest

from hypothesis import HealthCheck, event, given, settings
from hypothesis import strategies as st

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.sources import SparkCatalogIO
from tests.fuzz_budget import examples


_SEQ = itertools.count()

NAME_POOL = [f"c{i}" for i in range(8)]


@pytest.fixture(scope="module")
def io(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("se_fuzz_wh")
    server = CatalogServer(make_state(str(root))).start()
    yield SparkCatalogIO(spark, server.uri)
    server.stop()


# ops are drawn as (kind, a, b) with indices resolved against the LIVE
# column set at apply time, so shrinking stays stable
_op = st.tuples(
    st.sampled_from(["add", "rename", "drop", "append"]),
    st.integers(min_value=0, max_value=7),
    st.integers(min_value=0, max_value=7),
)


def _apply(spark, io, t, live, rows, next_id, op, value_of):
    """Mutate table + model. `live` maps live column name -> value kind
    ('long'|'string'); `rows` is the model (dict per row, live names)."""
    kind, a, b = op
    if kind == "add":
        dead = [n for n in NAME_POOL if n not in live]
        if not dead:
            return next_id
        name = dead[a % len(dead)]
        typ = ["bigint", "string"][b % 2]
        io.sql(f"ALTER TABLE se.{t} ADD COLUMN {name} {typ}")
        live[name] = "long" if typ == "bigint" else "string"
        for r in rows:
            r[name] = None  # NULL backfill — even if `name` lived before
        return next_id
    if kind == "rename":
        cands = sorted(live)
        if not cands:
            return next_id
        old = cands[a % len(cands)]
        fresh = [n for n in NAME_POOL if n not in live and n != old]
        if not fresh:
            return next_id
        new = fresh[b % len(fresh)]
        io.sql(f"ALTER TABLE se.{t} RENAME COLUMN {old} TO {new}")
        live[new] = live.pop(old)
        for r in rows:
            r[new] = r.pop(old)
        return next_id
    if kind == "drop":
        cands = sorted(live)
        if len(cands) < 2:  # keep at least one payload column
            return next_id
        name = cands[a % len(cands)]
        io.sql(f"ALTER TABLE se.{t} DROP COLUMN {name}")
        del live[name]
        for r in rows:
            del r[name]
        return next_id
    # append under the CURRENT schema
    width = 1 + a % 4
    cols = sorted(live)
    batch = []
    for i in range(next_id, next_id + width):
        r = {"id": i}
        for c in cols:
            r[c] = (i * 10 + int(c[1:])) if live[c] == "long" \
                else f"v{i}_{c}"
        batch.append(r)
    schema = "id long, " + ", ".join(
        f"{c} {'long' if live[c] == 'long' else 'string'}" for c in cols)
    df = spark.createDataFrame(
        [tuple(r[k] for k in ["id", *cols]) for r in batch], schema)
    io.write_table(df.coalesce(1), ["se"], t, mode="append")
    rows.extend(batch)
    return next_id + width


@given(ops=st.lists(_op, min_size=1, max_size=6),
       seed_cols=st.integers(min_value=1, max_value=3))
@settings(max_examples=examples(5), deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_evolved_reads_match_row_model(spark, io, ops, seed_cols):
    i = next(_SEQ)
    t = f"t{i}"
    live = {f"c{j}": "long" for j in range(seed_cols)}
    cols = sorted(live)
    io.sql(f"CREATE TABLE se.{t} (id bigint, "
           + ", ".join(f"{c} bigint" for c in cols) + ")")
    rows: list[dict] = []
    next_id = 0
    # seed one append so every example has pre-evolution rows
    next_id = _apply(spark, io, t, live, rows, next_id,
                     ("append", 2, 0), None)
    for op in ops:
        next_id = _apply(spark, io, t, live, rows, next_id, op, None)
    event("+".join(op[0] for op in ops))

    final_cols = ["id", *sorted(live)]
    got = sorted(
        tuple(r[c] for c in final_cols)
        for r in io.read_table(["se"], t).select(*final_cols).collect()
    )
    want = sorted(
        tuple(r["id"] if c == "id" else r.get(c) for c in final_cols)
        for r in rows
    )
    assert got == want, f"ops={ops} live={live}"
