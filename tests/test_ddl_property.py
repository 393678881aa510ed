"""Property-based round-trip for the SQL DDL surface (hypothesis):
random schemas (types, NOT NULL, quoted comments, type-matched DEFAULTs),
partition specs, and quoted properties go through

    CREATE TABLE → SHOW CREATE TABLE → re-CREATE from the rendered DDL

and the second table's current schema fields, default partition spec, and
properties must equal the first's. This is the generalized form of the
targeted round-trip test in test_sql_interface.py — any rendering/parsing
asymmetry (escaping, transform spelling, DEFAULT literals) fails here."""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.sources import SparkCatalogIO
from tests.fuzz_budget import examples


_TYPES = [
    "boolean", "int", "long", "float", "double", "string",
    "binary", "date", "timestamp_ntz", "decimal(12, 2)",
]

_IDENT = st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True)
_TEXT = st.text(
    alphabet="ab c'xy_9", min_size=1, max_size=12
).filter(lambda s: s.strip())


def _default_for(typ):
    if typ == "boolean":
        return st.sampled_from(["TRUE", "FALSE"])
    if typ in ("int", "long"):
        return st.integers(min_value=-99, max_value=99).map(str)
    if typ in ("float", "double"):
        return st.sampled_from(["0.5", "1.25", "-3.75"])
    if typ == "string":
        return _TEXT.map(lambda s: "'" + s.replace("'", "''") + "'")
    return st.none()


@st.composite
def _columns(draw):
    names = draw(
        st.lists(_IDENT, min_size=1, max_size=5, unique=True)
    )
    cols = []
    for n in names:
        typ = draw(st.sampled_from(_TYPES))
        not_null = draw(st.booleans())
        default_strategy = _default_for(typ)
        default = draw(default_strategy) if default_strategy is not None else None
        comment = draw(st.none() | _TEXT)
        cols.append((n, typ, not_null, default, comment))
    return cols


@st.composite
def _table_defs(draw):
    cols = draw(_columns())
    parts = []
    for n, typ, *_ in cols:
        if len(parts) >= 2 or not draw(st.booleans()):
            continue
        if typ in ("int", "long"):
            parts.append(
                draw(st.sampled_from([n, f"bucket(8, {n})", f"truncate(10, {n})"]))
            )
        elif typ == "timestamp_ntz":
            parts.append(draw(st.sampled_from([f"months({n})", f"days({n})"])))
        elif typ == "string":
            parts.append(f"truncate(4, {n})")
    props = draw(
        st.dictionaries(_IDENT, _TEXT, max_size=2)
    )
    return cols, parts, props


@pytest.fixture(scope="module")
def io(spark, tmp_path_factory):
    server = CatalogServer(
        make_state(str(tmp_path_factory.mktemp("wh")))
    ).start()
    yield SparkCatalogIO(spark, server.uri)
    server.stop()


_counter = [0]


@settings(
    max_examples=examples(15), deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_table_defs())
def test_create_show_recreate_round_trips(io, table_def):
    cols, parts, props = table_def
    _counter[0] += 1
    src = f"ddlprop.t{_counter[0]}_a"
    dst = f"ddlprop.t{_counter[0]}_b"

    col_lines = []
    for n, typ, not_null, default, comment in cols:
        line = f"{n} {typ}"
        if not_null:
            line += " NOT NULL"
        if default is not None:
            line += f" DEFAULT {default}"
        if comment is not None:
            line += " COMMENT '" + comment.replace("'", "''") + "'"
        col_lines.append(line)
    stmt = f"CREATE TABLE {src} (" + ", ".join(col_lines) + ")"
    if parts:
        stmt += " PARTITIONED BY (" + ", ".join(parts) + ")"
    if props:
        stmt += " TBLPROPERTIES (" + ", ".join(
            "'{}' = '{}'".format(
                k.replace("'", "''"), v.replace("'", "''")
            )
            for k, v in props.items()
        ) + ")"

    io.sql(stmt)
    rendered = io.sql(f"SHOW CREATE TABLE {src}").collect()[0]["createtab_stmt"]
    io.sql(rendered.replace(src, dst, 1))

    md_a = io.client.load_table(["ddlprop"], src.split(".")[1])["metadata"]
    md_b = io.client.load_table(["ddlprop"], dst.split(".")[1])["metadata"]

    def cur_fields(md):
        return next(
            s for s in md["schemas"]
            if s["schema-id"] == md["current-schema-id"]
        )["fields"]

    def spec(md):
        s = next(
            p for p in md["partition-specs"]
            if p["spec-id"] == md["default-spec-id"]
        )
        return [(f["transform"], f["source-id"]) for f in s["fields"]]

    assert cur_fields(md_a) == cur_fields(md_b)
    assert spec(md_a) == spec(md_b)
    assert md_a["properties"] == md_b["properties"]
