"""Name resolution for `SparkCatalogIO.sql`: which catalog tables and views
a statement names, and the statement text Spark runs in their place.

The SQL front end (sources/sql_frontend.py) parses the statement once and
hands its plan here; only a view body is parsed here. Every
`UnresolvedRelation` with two or more name parts is looked up once in the
catalog (loadTable, then loadView on a 404; `ns.t.<kind>` for a
`metadata_tables.KINDS` kind is a metadata table when `ns.t` is a table),
loaded through the full read path into a temp view, and its exact source
span, time-travel clause included, is replaced with the view name. Nothing
else in the text is touched: string literals, comments, column names and
CTE names are never rewritten, and no catalog listing is read. A name the
catalog does not know is left for Spark to resolve (a session temp view, or
Spark's own TABLE_OR_VIEW_NOT_FOUND). Lookups try the name as written, then
lower-cased, because SQL identifiers are case-insensitive and catalog names
are usually stored lower-case.

Single-part names stay Spark's, except in a view body, where a name that is
not an in-scope CTE is looked up in the view's default namespace and
qualified when that lookup hits. View bodies resolve recursively, at most
MAX_VIEW_DEPTH levels deep.
"""

from __future__ import annotations

import datetime
import hashlib
import re

from pyspark.errors import ParseException
from pyspark.sql import DataFrame

from denali_spark.catalog.client import CatalogHTTPError
from denali_spark.sources.metadata_tables import KINDS, metadata_table

MAX_VIEW_DEPTH = 10
# text that ends in the TABLE keyword, comments allowed after it: the
# relation that follows is the operand of a `TABLE ns.t` query, where an
# `AS <bare>` correlation name is a syntax error
_TABLE_QUERY = re.compile(
    r"\bTABLE(?:\s|/\*(?:[^*]|\*(?!/))*\*/|--[^\n]*\n)*$", re.IGNORECASE
)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _references(plan):
    """(relation, time-travel node or None, parent node or None, CTE
    names in scope) for every UnresolvedRelation in a parsed plan:
    children, expression subqueries (innerChildren), CTE definitions and
    the relation a RelationTimeTravel holds as a field."""
    out = []

    def walk(node, parent, ctes, tt=None):
        kind = node.nodeName()
        if kind == "UnresolvedRelation":
            out.append((node, tt, parent, ctes))
        elif kind == "RelationTimeTravel":
            walk(node.relation(), parent, ctes, node)
        elif kind == "UnresolvedWith":
            # a CTE is visible to later definitions and the body, and to
            # its own definition only under WITH RECURSIVE
            scope = ctes
            for d in _seq(node.cteRelations()):
                name = d._1().lower()
                walk(d._2(), node, scope | {name} if node.allowRecursion() else scope)
                scope = scope | {name}
            walk(node.child(), node, scope)
        else:
            for child in _seq(node.children()) + _seq(node.innerChildren()):
                walk(child, node, ctes)

    walk(plan, None, frozenset())
    return out


def _span(node) -> tuple[int, int]:
    o = node.origin()
    return o.startIndex().get(), o.stopIndex().get() + 1


def _time_travel(tt, clause: str) -> tuple[int | None, str | None, int | None]:
    """(snapshot id, ref, as-of ms) of a `FOR VERSION|TIMESTAMP AS OF`
    clause. The clause text decides between a snapshot id and a ref,
    because Spark's version string drops the quotes: bare `123` is a
    snapshot id, quoted `'123'` a branch or tag."""
    if tt is None:
        return None, None, None
    operand = re.search(r"\bOF\s+(.*)$", clause, re.IGNORECASE | re.DOTALL).group(1)
    if tt.version().isDefined():
        version = tt.version().get()
        if operand.rstrip()[-1:] in ("'", '"'):
            return None, version, None
        return int(version), None, None
    if operand.strip()[:1] not in ("'", '"'):
        raise ValueError(
            f"FOR TIMESTAMP AS OF needs a timestamp string literal, got {operand!r}"
        )
    dt = datetime.datetime.fromisoformat(operand.strip()[1:-1])
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=datetime.timezone.utc)
    return None, None, int(dt.timestamp() * 1000)


def _load(io, parts, depth, snapshot_id, ref, as_of_ms, md=None) -> DataFrame | None:
    """One catalog lookup of `parts` as a metadata table, table or view
    (none for a table whose metadata `md` is given); None when the catalog
    has none of them."""
    ns, name = parts[:-1], parts[-1]
    if name in KINDS and len(parts) >= 3:
        try:
            if as_of_ms is not None:
                io.client.load_table(parts[:-2], parts[-2])
                raise ValueError(
                    f"{'.'.join(parts)}: FOR TIMESTAMP AS OF is not supported "
                    "on metadata tables; use FOR VERSION AS OF "
                    "<snapshot-id|'ref'>"
                )
            return metadata_table(
                io, parts[:-2], parts[-2], name, snapshot_id=snapshot_id, ref=ref
            )
        except CatalogHTTPError as exc:
            if exc.status != 404:
                raise
    try:
        return io.read_table(
            ns, name, snapshot_id=snapshot_id, ref=ref, as_of_ms=as_of_ms,
            metadata=md,
        )
    except CatalogHTTPError as exc:
        if exc.status != 404:
            raise
    try:
        md = io.client.load_view(ns, name)["metadata"]
    except CatalogHTTPError as exc:
        if exc.status != 404:
            raise
        return None
    if ref is not None:
        raise ValueError(
            f"view {'.'.join(parts)!r}: FOR VERSION AS OF '<name>' is not "
            "applicable — views have numbered versions, not "
            "branches/tags; use the version id or a timestamp"
        )
    return io._view_df(md, ns, name, depth, version_id=snapshot_id, as_of_ms=as_of_ms)


def _temp_view(io, parts, depth, travel, tables) -> str | None:
    """Load `parts`, as written and then lower-cased, into a temp view and
    return its name; None when the catalog has no such object. `tables`
    holds table metadata already loaded for this statement."""
    for cand in dict.fromkeys((tuple(parts), tuple(p.lower() for p in parts))):
        df = _load(io, list(cand), depth, *travel, md=tables.get(cand))
        if df is not None:
            key = "|".join(map(str, (*parts, *travel)))
            view = "__denali_" + hashlib.md5(key.encode()).hexdigest()[:10]
            df.createOrReplaceTempView(view)
            return view
    return None


def resolve_sql(
    io, query: str, plan=None, depth: int = 0, default_ns: list[str] | None = None,
    keep: list[tuple[int, int]] | None = None, tables: dict | None = None,
) -> DataFrame:
    """Run `query` on `io.spark` with its catalog table and view references
    replaced by temp views (see the module docstring). `plan` is the
    statement's parsed plan, or the node of it to resolve; without one the
    text is parsed here (a view body), and a text that does not parse goes
    to spark.sql unchanged, which raises Spark's own ParseException. `keep`
    lists the spans of `query` that make up the text to run (all of it by
    default); edits take their offsets from the whole statement. `tables`
    maps name parts to table metadata this statement already loaded.
    `default_ns` is set for view bodies and qualifies their single-part
    names."""
    if depth > MAX_VIEW_DEPTH:
        raise ValueError(f"view resolution exceeded depth {MAX_VIEW_DEPTH} (cycle?)")
    if plan is None:
        from denali_spark.sources import sql_frontend

        try:
            plan = sql_frontend.parse_plan(io.spark, query)
        except ParseException:
            return io.spark.sql(query)
    views: dict[tuple, str | None] = {}
    edits: dict[int, tuple[int, str]] = {}  # span start -> (stop, text)
    for rel, tt, parent, ctes in _references(plan):
        parts = _seq(rel.multipartIdentifier())
        if len(parts) == 1:
            if default_ns is None or parts[0].lower() in ctes:
                continue
            parts = [*default_ns, *parts]
        start, stop = _span(rel)
        if tt is not None:
            stop = _span(tt)[1]
        travel = _time_travel(tt, query[start:stop])
        key = (*parts, *travel)
        if key not in views:
            views[key] = _temp_view(io, parts, depth, travel, tables or {})
        if views[key] is None:
            continue
        edits[start] = (stop, views[key])
        # ANSI: an unaliased reference's correlation name is its bare table
        # name (`FROM a.facts JOIN a.dims ON facts.k = dims.k`); it follows
        # a TABLESAMPLE clause, which Spark parses as the parent node
        alias = " AS `" + parts[-1].replace("`", "``") + "`"
        kind = parent.nodeName() if parent is not None else None
        if kind in ("Sample", "LocalLimit") and re.match(
            r"TABLESAMPLE\b", query[_span(parent)[0]:], re.IGNORECASE
        ):
            edits[_span(parent)[1]] = (_span(parent)[1], alias)
        elif kind != "SubqueryAlias" and not _TABLE_QUERY.search(query, 0, start):
            edits[start] = (stop, views[key] + alias)
    out = []
    for a, b in keep or [(0, len(query))]:
        pos = a
        for start in sorted(e for e in edits if a <= e <= b):
            stop, text = edits[start]
            out += [query[pos:start], text]
            pos = stop
        out.append(query[pos:b])
    return io.spark.sql("".join(out))
