"""The SQL front end of `SparkCatalogIO.sql`: parse a statement once and
dispatch on its plan.

`run` parses each statement once with the session's own SQL parser
(`parse_plan`) and picks the handler from `_HANDLERS` by the plan's class.
Target names come from the plan as name parts, so backticks, case,
comments, column lists and `WITH` are Spark's business, and a target is
looked up as written, then lower-cased. A clause that a handler reads as
text is cut out of the statement by its node's `origin()` span. A query,
including the query part of INSERT, CTAS, CREATE VIEW and EXPLAIN, goes to
`resolve.resolve_sql` with its parsed plan, so the only other parse of the
statement is the final `spark.sql`. A plan with no handler runs as a query.

Spark's parser refuses a few forms this surface accepts. Only these keep a
keyword match (`_REFUSED`); each takes its target name through Spark's
`parseMultipartIdentifier` and ends in the same handlers:

- REFRESH MATERIALIZED VIEW, DROP MATERIALIZED VIEW, SHOW MATERIALIZED VIEWS;
- Iceberg's ALTER TABLE extensions: {ADD|DROP|REPLACE} PARTITION FIELD,
  {CREATE|DROP} {BRANCH|TAG} and WRITE ORDERED BY;
- the MERGE shorthand: `ON (k) WHEN MATCHED THEN UPDATE` and a bare
  `THEN INSERT`, with no SET or VALUES;
- CREATE TABLE and ALTER TABLE that set a key Spark reserves in
  TBLPROPERTIES, such as 'owner', 'location' or 'provider'.

Any other refused statement raises Spark's ParseException, except that a
DELETE or UPDATE whose WHERE clause is at fault reports the WHERE
diagnostic of `_parse_dml_where`.
"""

from __future__ import annotations

import datetime
import json
import re
import time

from pyspark.errors import ParseException
from pyspark.logger import PySparkLogger
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from denali_spark.catalog.client import CatalogHTTPError
from denali_spark.sources.catalog_io import MAIN
from denali_spark.sources.resolve import _seq, _span, resolve_sql


# PySpark logs every ParseException that carries a query context (with a
# stack trace, at ERROR); a statement Spark refuses may still be one this
# front end runs, and one it cannot run re-raises the exception anyway
_CONTEXT_LOG = PySparkLogger.getLogger("SQLQueryContextLogger")


def parse_plan(spark, text: str):
    """The front end's one parse of a statement: Spark's unresolved plan,
    or Spark's ParseException."""
    disabled, _CONTEXT_LOG.disabled = _CONTEXT_LOG.disabled, True
    try:
        return spark._jsparkSession.sessionState().sqlParser().parsePlan(text)
    finally:
        _CONTEXT_LOG.disabled = disabled


def run(io, text: str) -> DataFrame:
    """Run one statement of `SparkCatalogIO.sql` (see the module docstring)."""
    try:
        plan = parse_plan(io.spark, text)
    except ParseException as exc:
        return _refused(io, text, exc)
    return _HANDLERS.get(_kind(plan), _select)(io, text, plan)


# --- plan access ------------------------------------------------------------


def _kind(plan) -> str:
    kind = plan.nodeName()
    if kind == "UnresolvedWith" and plan.child().nodeName() == "InsertIntoStatement":
        return "InsertIntoStatement"  # WITH ... INSERT: the CTEs feed the query
    return kind


def _name(node) -> list[str]:
    """Name parts of a relation, identifier, table or namespace node."""
    node = _relation(node)
    if node.nodeName() == "UnresolvedIdentifier":
        return _seq(node.nameParts())
    return _seq(node.multipartIdentifier())


def _scope(node) -> list[str] | None:
    """Namespace parts of a SHOW's IN/FROM clause; None when absent."""
    if node.nodeName().startswith("CurrentNamespace"):  # a Scala object: `$`
        return None
    return _seq(node.multipartIdentifier()) or None


def _parts(io, name: str) -> list[str]:
    return _seq(
        io.spark._jsparkSession.sessionState().sqlParser()
        .parseMultipartIdentifier(name)
    )


def _map(m) -> dict[str, str]:
    return {k: m.apply(k) for k in _seq(m.keys().toSeq())}


def _relation(node):
    """The relation under an optional alias."""
    return node.child() if node.nodeName() == "SubqueryAlias" else node


def _where(text: str, start: int) -> str:
    """The WHERE clause that ends a DELETE or UPDATE: found by top-level
    keyword search after `start`, because Spark's spans of a predicate
    such as `a BETWEEN 0 AND 4` leave out its left operand."""
    w = _find_top_level(text, "WHERE", start)
    return _strip_stmt(text[w + len("WHERE"):]) if w >= 0 else ""


_GAP = r"(?:\s|/\*.*?\*/|--[^\n]*(?:\n|$))*"


def _after_words(text: str, start: int, n: int) -> int:
    """Index just past the next `n` words of `text` from `start` and the
    whitespace and comments that follow them."""
    return re.compile(rf"(?:{_GAP}\w+){{{n}}}{_GAP}", re.S).match(text, start).end()


def _is_command(io, plan) -> bool:
    return io.spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.plans.logical.Command"
    ).isInstance(plan)


def _strip_stmt(text: str) -> str:
    t = text.strip()
    return t[:-1].strip() if t.endswith(";") else t


# --- text helpers for clause bodies ------------------------------------------


def _find_top_level(text: str, word: str, start: int = 0) -> int:
    """Index of the first occurrence of keyword `word` (case-insensitive,
    word-bounded) outside single-quoted strings and parentheses — how
    clause bodies are split without a literal containing " where " or a
    USING subquery's JOIN ... ON fooling the split."""
    depth = 0
    in_str = False
    i = start
    n = len(text)
    low = text.lower()
    wlow = word.lower()
    wl = len(word)
    while i < n:
        ch = text[i]
        if in_str:
            if ch == "'":
                if i + 1 < n and text[i + 1] == "'":
                    i += 2
                    continue
                in_str = False
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and low.startswith(wlow, i):
            before_ok = i == 0 or not (text[i - 1].isalnum() or text[i - 1] == "_")
            j = i + wl
            after_ok = j >= n or not (text[j].isalnum() or text[j] == "_")
            if before_ok and after_ok:
                return i
        i += 1
    return -1


def _split_top_level_commas(text: str) -> list[str]:
    """Split on commas outside single-quoted strings and parentheses —
    how SET-assignment and VALUES lists are separated without a nested
    function call's argument commas fooling the parser."""
    parts: list[str] = []
    cur: list[str] = []
    depth = 0
    in_str = False
    i = 0
    n = len(text)
    while i < n:
        ch = text[i]
        if in_str:
            cur.append(ch)
            if ch == "'":
                if i + 1 < n and text[i + 1] == "'":
                    cur.append(text[i + 1])
                    i += 2
                    continue
                in_str = False
        elif ch == "'":
            in_str = True
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    parts.append("".join(cur))
    return parts


def _match_paren(text: str) -> int:
    """Index of the ')' closing the '(' at text[0], honoring nested
    parens and single-quoted literals. -1 when unbalanced."""
    depth, i, n = 0, 0, len(text)
    while i < n:
        c = text[i]
        if c == "'":
            j = text.find("'", i + 1)
            if j < 0:
                return -1
            i = j
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    return -1


def _parse_sql_literal(raw: str | None):
    """Parse a scalar SQL literal ('str', number, TRUE/FALSE) into the
    Python value stored in Iceberg metadata (e.g. a column's V3
    initial-default). None passes through (no literal present)."""
    if raw is None:
        return None
    raw = raw.strip()
    if raw.startswith("'") and raw.endswith("'"):
        return raw[1:-1].replace("''", "'")
    if raw.lower() in ("true", "false"):
        return raw.lower() == "true"
    try:
        return int(raw)
    except ValueError:
        pass
    try:
        return float(raw)
    except ValueError:
        raise ValueError(f"unparseable SQL literal {raw!r}") from None


def _parse_prop_assignment(item: str) -> tuple[str, str]:
    """Parse one `'key' = 'value'` pair, unescaping doubled quotes —
    the inverse of SHOW CREATE TABLE's rendering, so DDL round-trips."""
    m = re.fullmatch(r"\s*'((?:[^']|'')+)'\s*=\s*'((?:[^']|'')*)'\s*", item)
    if not m:
        raise ValueError(
            f"malformed property assignment {item!r} (expected 'key' = 'value')"
        )
    return m.group(1).replace("''", "'"), m.group(2).replace("''", "'")


def _parse_prop_keys(body: str) -> list[str]:
    keys = []
    for item in _split_top_level_commas(body):
        km = re.fullmatch(r"\s*'([^']+)'\s*", item)
        if not km:
            raise ValueError(f"malformed property key {item!r}")
        keys.append(km.group(1))
    return keys


def _rewrite_merge_quals(expr: str, t_names: set[str], s_names: set[str]) -> str:
    """Rewrite `alias.` qualifiers in a MERGE SET/VALUES expression to the
    canonical `t.` (target row) / `s.` (source row) aliases the engine
    binds, outside single-quoted literals — so users can qualify by table
    name or their own alias and the expression still resolves."""
    out: list[str] = []
    i = 0
    n = len(expr)
    in_str = False
    while i < n:
        ch = expr[i]
        if in_str:
            out.append(ch)
            if ch == "'":
                if i + 1 < n and expr[i + 1] == "'":
                    out.append(expr[i + 1])
                    i += 2
                    continue
                in_str = False
            i += 1
            continue
        if ch == "'":
            in_str = True
            out.append(ch)
            i += 1
            continue
        if ch.isalpha() or ch == "_":
            j = i
            while j < n and (expr[j].isalnum() or expr[j] == "_"):
                j += 1
            word = expr[i:j]
            prev_dot = i > 0 and expr[i - 1] == "."
            if j < n and expr[j] == "." and not prev_dot:
                lw = word.lower()
                if lw in t_names:
                    out.append("t.")
                    i = j + 1
                    continue
                if lw in s_names:
                    out.append("s.")
                    i = j + 1
                    continue
            out.append(word)
            i = j
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _parse_partition_field(text: str) -> tuple[str, str]:
    """Iceberg DDL partition-transform spelling → (column, transform):
    bare column, years/months/days/hours(col), year/month/day/hour(col),
    bucket(N, col), truncate(W, col)."""
    t = text.strip()
    m = re.fullmatch(r"(\w+)", t)
    if m:
        return m.group(1), "identity"
    m = re.fullmatch(r"(years?|months?|days?|hours?)\s*\(\s*(\w+)\s*\)", t, re.I)
    if m:
        return m.group(2), m.group(1).lower().rstrip("s")
    m = re.fullmatch(r"(bucket|truncate)\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)", t, re.I)
    if m:
        return m.group(3), f"{m.group(1).lower()}[{m.group(2)}]"
    raise ValueError(
        f"unsupported partition field {text!r} (expected col, "
        "years/months/days/hours(col), bucket(N, col), or "
        "truncate(W, col))"
    )


def _render_transform(col: str, transform: str) -> str:
    if transform == "identity":
        return col
    m = re.fullmatch(r"(bucket|truncate)\[(\d+)\]", transform)
    if m:
        return f"{m.group(1)}({m.group(2)}, {col})"
    # Spark DDL spells temporal transforms plural (months(ts)), while
    # Iceberg metadata stores them singular — render the DDL spelling
    # so SHOW CREATE TABLE output re-parses through a Spark parser.
    plural = {"year": "years", "month": "months", "day": "days", "hour": "hours"}
    return f"{plural.get(transform, transform)}({col})"


def _table_clauses(tail: str) -> tuple[list[tuple[str, str]], dict[str, str]]:
    """Parse the optional clause tail of a CREATE TABLE / CTAS —
    `[USING iceberg] [PARTITIONED BY (...)] [TBLPROPERTIES (...)]`
    in any order — into (partition_by, properties)."""
    tail = tail.strip()
    partition_by: list[tuple[str, str]] = []
    properties: dict[str, str] = {}
    while tail:
        um = re.match(r"USING\s+(\w+)\s*", tail, re.I)
        if um:
            if um.group(1).lower() != "iceberg":
                raise ValueError(
                    f"unsupported provider {um.group(1)!r} (USING iceberg)"
                )
            tail = tail[um.end():]
            continue
        pm = re.match(r"PARTITIONED\s+BY\s*(\(.*)$", tail, re.I | re.S)
        if pm:
            rest = pm.group(1)
            close = _match_paren(rest)
            if close < 0:
                raise ValueError("unbalanced PARTITIONED BY parentheses")
            partition_by = [
                _parse_partition_field(p)
                for p in _split_top_level_commas(rest[1:close])
            ]
            tail = rest[close + 1:].strip()
            continue
        tm = re.match(r"TBLPROPERTIES\s*(\(.*)$", tail, re.I | re.S)
        if tm:
            rest = tm.group(1)
            close = _match_paren(rest)
            if close < 0:
                raise ValueError("unbalanced TBLPROPERTIES parentheses")
            for item in _split_top_level_commas(rest[1:close]):
                k, v = _parse_prop_assignment(item)
                properties[k] = v
            tail = rest[close + 1:].strip()
            continue
        raise ValueError(f"unsupported CREATE TABLE clause {tail[:60]!r}")
    return partition_by, properties


# --- catalog lookups and summaries ---------------------------------------------


def _lookup(parts: list[str], load):
    """(namespace, name, load(namespace, name)) for `parts`, tried as
    written and then lower-cased (SQL names are case-insensitive, catalog
    names are usually stored lower-case); the last 404 propagates."""
    if len(parts) < 2:
        raise ValueError(f"unqualified name {'.'.join(parts)!r}: use ns.table")
    cands = list(dict.fromkeys((tuple(parts), tuple(p.lower() for p in parts))))
    for i, cand in enumerate(cands):
        ns, name = list(cand[:-1]), cand[-1]
        try:
            return ns, name, load(ns, name)
        except CatalogHTTPError as exc:
            if exc.status != 404 or i == len(cands) - 1:
                raise


def _table(io, parts: list[str]) -> tuple[list[str], str, dict]:
    return _lookup(parts, lambda ns, n: io.client.load_table(ns, n)["metadata"])


def _view(io, parts: list[str]):
    """(namespace, name, metadata) of the view `parts` names; None when
    there is none."""
    if len(parts) < 2:
        return None
    try:
        return _lookup(parts, lambda ns, n: io.client.load_view(ns, n)["metadata"])
    except CatalogHTTPError as exc:
        if exc.status != 404:
            raise
        return None


def _summary(io, qualified: str, operation: str, detail: str) -> DataFrame:
    return io.spark.range(1).select(
        F.lit(qualified).alias("table"),
        F.lit(operation).alias("operation"),
        F.lit(detail).alias("detail"),
    )


def _row(io, **cols) -> DataFrame:
    return io.spark.range(1).select(*[F.lit(v).alias(k) for k, v in cols.items()])


def _plan_df(io, text: str) -> DataFrame:
    return io.spark.createDataFrame([(text,)], "plan string")


# --- queries --------------------------------------------------------------------


def _select(io, text: str, plan=None, keep=None) -> DataFrame:
    """A query: the statement's `keep` spans (all of it by default) with
    its catalog names resolved from the parsed `plan`. A rollup-shaped
    SELECT that a maintained materialized view subsumes is answered from
    the view (sources/mv_rewrite.py, under io.mv_rewrite; the outcome is
    in io.last_mv_rewrite). Without a plan the text is parsed here: it is
    the query part of a statement Spark refused as a whole."""
    from denali_spark.sources.mv_rewrite import try_rewrite

    if plan is None:
        plan = parse_plan(io.spark, text)
    keep = keep or [(0, len(text))]
    tables: dict = {}  # metadata loaded by the rewrite pass, for the resolver
    resolved: list[DataFrame] = []

    def base() -> DataFrame:
        if not resolved:
            resolved.append(resolve_sql(io, text, plan=plan, keep=keep, tables=tables))
        return resolved[0]

    out = try_rewrite(io, "".join(text[a:b] for a, b in keep), base, tables)
    return out if out is not None else base()


def _explain(io, text: str, plan) -> DataFrame:
    """EXPLAIN [EXTENDED|FORMATTED|...] of a DELETE, UPDATE or MERGE (their
    read side: `_explain_dml`; the explained statement dispatches through
    the same table) or of a query. A query resolves exactly as sql() would
    (catalog reads, time travel, the MV-rewrite pass under the session's
    mv_rewrite policy) WITHOUT executing, and its one 'plan' row is headed
    by the materialized-view rewrite verdict (the served view +
    freshness/reduction flags, or 'not applied') so operators can see WHY
    a query reads a summary table. Under mv_rewrite='refresh' the match
    runs downgraded to 'stale-ok' so that EXPLAIN — a diagnostic — never
    commits a refresh snapshot to the catalog; the verdict header notes
    the downgrade so the operator knows the real query would fold the
    delta first. Any other statement is refused."""
    inner, mode = plan.logicalPlan(), plan.mode()
    handler = _HANDLERS.get(_kind(inner))
    if handler in (_delete, _update, _merge):
        return handler(io, text, inner, explain=mode)
    if handler is not None or _is_command(io, inner):
        # fail loudly rather than running a DDL as the query to explain
        raise ValueError(
            "EXPLAIN supports SELECT and DELETE/UPDATE/MERGE "
            "statements only — run the DDL itself (its commit "
            "summary reports the plan class), or EXPLAIN the "
            "equivalent SELECT"
        )
    start = _after_words(text, 0, 1 if mode.name() == "simple" else 2)
    policy = io.mv_rewrite
    bound = getattr(io, "mv_rewrite_max_staleness_ms", None)
    downgraded = policy == "refresh"
    if downgraded:
        # stale-ok stands in for refresh, and the staleness bound is
        # suspended: refresh mode serves ANY refreshable view, so the
        # explain must not let a stale-ok-only bound hide the match.
        io.mv_rewrite = "stale-ok"
        io.mv_rewrite_max_staleness_ms = None
    try:
        df = _select(io, text, inner, [(start, len(text))])
    finally:
        io.mv_rewrite = policy
        io.mv_rewrite_max_staleness_ms = bound
    info = io.last_mv_rewrite
    if downgraded and info:
        info = {**info, "explain_policy_downgrade": "refresh->stale-ok"}
    header = "== Materialized View Rewrite ==\n" + (
        json.dumps(info) if info else "not applied"
    )
    return _plan_df(
        io, header + "\n\n" + df._jdf.queryExecution().explainString(mode)
    )


def _set(io, text: str, plan) -> DataFrame:
    """SET mv_rewrite [= off|fresh-only|refresh|stale-ok|topup] /
    SET mv_rewrite_max_staleness_ms [= <ms>|NONE] — the SQL spelling of
    the session rewrite knobs (Spark's `SET key[=value]` shape: no value
    reads the current setting). Any other key is Spark's own SET."""
    from denali_spark.sources.mv_rewrite import MODES

    kv = plan.kv()
    key = kv.get()._1().lower() if kv.isDefined() else None
    if key not in ("mv_rewrite", "mv_rewrite_max_staleness_ms"):
        return _select(io, text, plan)
    value = kv.get()._2()
    if value.isDefined():
        v = value.get().strip().strip("'\"")
        if key == "mv_rewrite":
            if v not in MODES:
                raise ValueError(f"mv_rewrite must be one of {MODES}, got {v!r}")
            io.mv_rewrite = v
        elif v.upper() in ("NONE", "NULL"):
            io.mv_rewrite_max_staleness_ms = None
        else:
            try:
                io.mv_rewrite_max_staleness_ms = int(v)
            except ValueError:
                raise ValueError(
                    "mv_rewrite_max_staleness_ms must be an "
                    f"integer millisecond count or NONE, got {v!r}"
                ) from None
    current = (
        io.mv_rewrite if key == "mv_rewrite"
        else getattr(io, "mv_rewrite_max_staleness_ms", None)
    )
    return io.spark.createDataFrame([(key, str(current))], "key string, value string")


# --- writes -------------------------------------------------------------------


def _insert(io, text: str, plan) -> DataFrame:
    """INSERT INTO|OVERWRITE [TABLE] ns.t [(cols)] <query>, also under a
    WITH: the query is the statement minus the INSERT clause."""
    cte = None
    if plan.nodeName() == "UnresolvedWith":
        cte, plan = plan, plan.child()
    if not plan.partitionSpec().isEmpty():
        raise ValueError(
            "INSERT ... PARTITION (...) is not supported: partition values "
            "come from the rows"
        )
    start, stop = _span(plan)
    keep = ([(_span(cte)[0], start)] if cte is not None else []) + [(stop, len(text))]
    return _write(
        io, _name(plan.table()),
        "insert_overwrite" if plan.overwrite() else "append",
        lambda: _select(io, text, cte if cte is not None else plan.query(), keep),
        cols=_seq(plan.userSpecifiedCols()),
    )


def _ctas(io, text: str, plan) -> DataFrame:
    """CREATE [OR REPLACE] TABLE ns.t [clauses] AS <query>."""
    stop = _span(plan.name())[1]
    as_at = _find_top_level(text, "AS", stop)
    return _write(
        io, _name(plan.name()),
        "overwrite" if plan.nodeName() == "ReplaceTableAsSelect" else "create",
        lambda: _select(io, text, plan.query(), [(as_at + 2, len(text))]),
        clause_sql=text[stop:as_at],
    )


def _write(io, parts: list[str], mode: str, select, clause_sql: str = "",
           cols: list[str] = ()) -> DataFrame:
    """INSERT / CTAS: run the query (`select()`), commit it through
    write_table, and return a one-row summary (table, operation, snapshot
    id, row count) read from the commit's own metadata.

    INSERT maps the query's columns to the target POSITIONALLY (SQL
    semantics — `INSERT INTO t SELECT 4, 'x'` must not depend on the
    literals' auto-generated column names), or to a given column list,
    which fills the other columns with their write-default or NULL, and
    casts to the target types. CREATE OR REPLACE routes through
    replace_table — a single-CAS Iceberg replace commit that installs the
    query's schema and an overwrite snapshot atomically while preserving
    the table's identity and snapshot history."""
    qualified = ".".join(parts)
    if len(parts) < 2:
        raise ValueError(f"unqualified write target {qualified!r}: use ns.table")
    partition_by, properties = _table_clauses(clause_sql)
    if (partition_by or properties) and mode != "create":
        raise ValueError(
            "PARTITIONED BY / TBLPROPERTIES clauses apply to plain "
            "CREATE TABLE ... AS only (use ALTER TABLE after a "
            "CREATE OR REPLACE)"
        )
    if mode in ("append", "insert_overwrite"):
        try:
            ns, name, md = _table(io, parts)
        except CatalogHTTPError as exc:
            if exc.status != 404:
                raise
            raise ValueError(
                f"INSERT {'OVERWRITE' if mode == 'insert_overwrite' else 'INTO'}"
                f" unknown table {qualified!r}"
            ) from None
        qualified = ".".join([*ns, name])
        df = _to_table_schema(select(), md, cols, qualified)
        res = io.write_table(
            df, ns, name, mode="append" if mode == "append" else "overwrite",
            metadata=md,
        )
    else:
        ns, name = parts[:-1], parts[-1]
        exists = io.client.table_exists(ns, name)
        if mode == "create" and exists:
            raise ValueError(
                f"table {qualified!r} already exists (use CREATE OR REPLACE)"
            )
        df = select()
        if exists:
            # CREATE OR REPLACE: single-CAS Iceberg replace — schema swap +
            # overwrite snapshot in ONE commit (see replace_table). The data
            # files are written before the commit; any failure leaves the
            # original current.
            res = io.replace_table(df, ns, name)
        else:
            res = io.write_table(
                df, ns, name, mode="overwrite", partition_by=partition_by or None
            )
            if properties:
                res = io.client.commit_table(
                    ns, name,
                    requirements=[{"type": "assert-table-uuid",
                                   "uuid": res["metadata"]["table-uuid"]}],
                    updates=[{"action": "set-properties", "updates": properties}],
                )
    md = res["metadata"]
    # single execution: the row count comes from the committed snapshot's
    # summary, not a second run of the query
    snap = io._resolve_snapshot(md)
    return io.spark.range(1).select(
        F.lit(qualified).alias("table"),
        F.lit("append" if mode == "append" else "overwrite").alias("operation"),
        F.lit(md["refs"][MAIN]["snapshot-id"]).alias("snapshot_id"),
        F.lit(int(snap.get("summary", {}).get("added-records", -1)))
        .cast("long").alias("rows"),
    )


def _to_table_schema(df: DataFrame, md: dict, cols, qualified: str) -> DataFrame:
    from denali_spark.sources.schema_convert import iceberg_type_to_spark
    from denali_spark.sources.schema_evolution import current_schema

    fields = current_schema(md)["fields"]
    by_lower = {f["name"].lower(): f["name"] for f in fields}
    names = [by_lower.get(c.lower(), c) for c in cols] or [f["name"] for f in fields]
    unknown = [c for c in names if c.lower() not in by_lower]
    if unknown:
        raise ValueError(f"INSERT INTO {qualified}: unknown columns {unknown}")
    if len(df.columns) != len(names):
        raise ValueError(
            f"INSERT INTO {qualified}: select produces "
            f"{len(df.columns)} columns, "
            + (f"column list has {len(names)}" if cols else f"table has {len(fields)}")
        )
    # toDF renames positionally — robust to auto-generated select column
    # names like `10.0` that no column resolver can parse
    df = df.toDF(*names)

    def target_col(f):
        c = F.col(f["name"]) if f["name"] in names else F.lit(f.get("write-default"))
        return c.cast(iceberg_type_to_spark(f["type"])).alias(f["name"])

    return df.select(*[target_col(f) for f in fields])


def _truncate(io, parts: list[str]) -> DataFrame:
    """TRUNCATE TABLE ns.t — one overwrite snapshot carrying zero data
    files. Schema, properties, refs, and history stay: time travel
    still reaches every pre-truncate snapshot, and a rollback undoes
    the truncate (unlike a drop+recreate). No data is scanned — the
    empty relation comes from the schema alone."""
    ns, name, md = _table(io, parts)
    res = io.write_table(io._empty_df(md), ns, name, mode="overwrite", metadata=md)
    return _dml_summary(io, ns, name, "truncate", "overwrite",
                        res if isinstance(res, dict) else {})


# --- DDL ----------------------------------------------------------------------


def _create_namespace(io, text: str, plan) -> DataFrame:
    """CREATE NAMESPACE [IF NOT EXISTS] ns[.child] [WITH PROPERTIES (...)]
    — the reference client example's literal first statement, routed to
    the create-namespace endpoint."""
    levels = _name(plan.name())
    qualified = ".".join(levels)
    if io.client.namespace_exists(levels):
        if plan.ifNotExists():
            return _summary(io, qualified, "create-namespace", "exists (noop)")
        raise ValueError(f"namespace {qualified!r} already exists")
    io.client.create_namespace(levels, properties=_map(plan.properties()) or None)
    return _summary(io, qualified, "create-namespace", "created")


def _create_table(io, parts: list[str], if_not_exists: bool, body: str) -> DataFrame:
    """CREATE TABLE [IF NOT EXISTS] ns.t (col type [NOT NULL]
    [DEFAULT lit] [COMMENT '...'], ...) [USING iceberg]
    [PARTITIONED BY (col | transform(col), ...)]
    [TBLPROPERTIES ('k' = 'v', ...)] — explicit-schema creation routed to
    the createTable endpoint, field ids assigned 1..N. Complements CTAS,
    which derives the schema from a query instead."""
    from denali_spark.sources.partitioning import build_partition_spec
    from denali_spark.sources.schema_convert import ddl_type_to_iceberg

    qualified = ".".join(parts)
    namespace, name = parts[:-1], parts[-1]
    if not namespace:
        raise ValueError(f"unqualified table name {qualified!r}: use ns.table")
    body = _strip_stmt(body)
    close = _match_paren(body)
    if close < 0:
        raise ValueError("unbalanced parentheses in column list")
    col_body, tail = body[1:close], body[close + 1:].strip()

    fields = []
    for i, col_def in enumerate(_split_top_level_commas(col_body)):
        cm = re.fullmatch(
            r"\s*(\w+)\s+([\w()\s,]+?)"
            r"(?:\s+(NOT\s+NULL))?"
            r"(?:\s+DEFAULT\s+('(?:[^']|'')*'|[-\w.]+))?"
            r"(?:\s+COMMENT\s+'((?:[^']|'')*)')?\s*",
            col_def, re.I,
        )
        if not cm:
            raise ValueError(f"malformed column definition {col_def!r}")
        field = {
            "id": i + 1,
            "name": cm.group(1),
            "type": ddl_type_to_iceberg(cm.group(2)),
            "required": bool(cm.group(3)),
        }
        default = _parse_sql_literal(cm.group(4))
        if default is not None:
            field["initial-default"] = default
            field["write-default"] = default
        if cm.group(5):
            field["doc"] = cm.group(5).replace("''", "'")
        fields.append(field)
    if not fields:
        raise ValueError("CREATE TABLE requires at least one column")
    schema = {"type": "struct", "schema-id": 0, "fields": fields}

    partition_by, properties = _table_clauses(tail)

    if io.client.table_exists(namespace, name):
        if if_not_exists:
            return _summary(io, qualified, "create-table", "exists (noop)")
        raise ValueError(f"table {qualified!r} already exists")
    if not io.client.namespace_exists(namespace):
        io.client.create_namespace(namespace)
    spec = build_partition_spec(partition_by, schema) if partition_by else None
    io.client.create_table(
        namespace, name, schema,
        partition_spec=spec, properties=properties or None,
    )
    return _summary(
        io, qualified, "create-table",
        f"{len(fields)} columns"
        + (f", partitioned by {len(partition_by)}" if partition_by else ""),
    )


def _create_mview(io, parts: list[str], select_sql: str) -> DataFrame:
    """CREATE MATERIALIZED VIEW ns.mv AS <select> — an incrementally
    MAINTAINED rollup (sources/ivm.py): the parsed spec is stamped into
    the target's table properties, so `REFRESH MATERIALIZED VIEW ns.mv`
    folds source changelog deltas with no spec re-supplied. The target
    is a real catalog table — readable, time-travelable, droppable via
    DROP MATERIALIZED VIEW (or DROP TABLE)."""
    from denali_spark.sources import ivm as _ivm

    qualified = ".".join(parts)
    if len(parts) < 2:
        raise ValueError(f"unqualified name {qualified!r}: use ns.mv")
    res = _ivm.create_materialized_view(io, parts[:-1], parts[-1], select_sql)
    return _summary(io, qualified, "create-materialized-view", res["kind"])


def _refresh_mview(io, parts: list[str]) -> DataFrame:
    """REFRESH MATERIALIZED VIEW ns.mv — incremental fold of source
    changes since the stored watermark(s); returns the refresh report."""
    from denali_spark.sources import ivm as _ivm

    qualified = ".".join(parts)
    if len(parts) < 2:
        raise ValueError(f"unqualified name {qualified!r}: use ns.mv")
    res = _ivm.refresh_materialized_view(io, parts[:-1], parts[-1])
    return io.spark.range(1).select(
        F.lit(qualified).alias("table"),
        F.lit("noop" if res.get("noop") else res["kind"]).alias("kind"),
        *[F.lit(int(res.get(k, 0))).alias(k) for k in (
            "delta_groups", "rescanned_groups", "rewritten_files", "carried_files",
        )],
    )


def _view_schema(io, text: str, plan, body: str) -> dict:
    """The Iceberg schema of a view body, from analysis only: resolving
    the parsed body runs no job, so creating a view scans no data file."""
    from denali_spark.sources.schema_convert import spark_schema_to_iceberg

    start = text.rfind(body)
    return spark_schema_to_iceberg(
        resolve_sql(io, text, plan=plan, keep=[(start, start + len(body))]).schema
    )


def _create_view(io, parts: list[str], select_sql: str, schema: dict, *,
                 or_replace: bool, if_not_exists: bool) -> DataFrame:
    """CREATE [OR REPLACE] VIEW [IF NOT EXISTS] ns.v AS <select> — the
    view plane via SQL, with the select's resolved schema stored in the
    view metadata so DESCRIBE can answer without touching any table."""
    qualified = ".".join(parts)
    namespace, name = parts[:-1], parts[-1]
    if not namespace:
        raise ValueError(f"unqualified view name {qualified!r}: use ns.view")
    exists = io.client.view_exists(namespace, name)
    if exists and if_not_exists:
        return _summary(io, qualified, "create-view", "exists (noop)")
    if exists and not or_replace:
        raise ValueError(
            f"view {qualified!r} already exists (use CREATE OR REPLACE)"
        )
    if not io.client.namespace_exists(namespace):
        io.client.create_namespace(namespace)
    if not exists:
        io.client.create_view(
            namespace, name, select_sql, dialect="spark", schema=schema,
        )
        return _summary(io, qualified, "create-view", "created")
    # OR REPLACE on an existing view: one commit appending a new
    # schema + version and flipping current — history preserved
    # (version-log keeps the old versions addressable via time travel).
    md = io.client.load_view(namespace, name)["metadata"]
    new_sid = max(s["schema-id"] for s in md["schemas"]) + 1
    new_vid = max(v["version-id"] for v in md["versions"]) + 1
    schema = {**schema, "schema-id": new_sid}
    io.client.replace_view(
        namespace, name,
        requirements=[{"type": "assert-view-uuid", "uuid": md["view-uuid"]}],
        updates=[
            {"action": "add-schema", "schema": schema},
            {"action": "add-view-version", "view-version": {
                "version-id": new_vid,
                "timestamp-ms": int(time.time() * 1000),
                "schema-id": new_sid,
                "summary": {"operation": "replace"},
                "representations": [
                    {"type": "sql", "sql": select_sql, "dialect": "spark"}
                ],
                "default-namespace": namespace,
            }},
            {"action": "set-current-view-version", "view-version-id": new_vid},
        ],
    )
    return _summary(io, qualified, "replace-view", f"version {new_vid}")


def _create_view_stmt(io, text: str, plan) -> DataFrame:
    body = plan.originalText().get()
    return _create_view(
        io, _name(plan.child()), body, _view_schema(io, text, plan.query(), body),
        or_replace=plan.replace(), if_not_exists=plan.allowExisting(),
    )


def _alter_view_as(io, text: str, plan) -> DataFrame:
    """ALTER VIEW ns.v AS <select>: the same one-commit schema+version
    append as CREATE OR REPLACE VIEW."""
    found = _view(io, _name(plan.child()))
    if found is None:
        raise ValueError(f"view {'.'.join(_name(plan.child()))!r} does not exist")
    body = plan.originalText()
    return _create_view(
        io, [*found[0], found[1]], body, _view_schema(io, text, plan.query(), body),
        or_replace=True, if_not_exists=False,
    )


def _view_properties(io, parts: list[str], props: dict | None = None,
                     keys: list[str] | None = None) -> DataFrame:
    """ALTER VIEW ns.v SET TBLPROPERTIES (...) / UNSET TBLPROPERTIES (...)."""
    found = _view(io, parts)
    if found is None:
        raise ValueError(f"view {'.'.join(parts)!r} does not exist")
    ns, name, md = found
    if keys is not None:
        updates = [{"action": "remove-properties", "removals": keys}]
        op, detail = "unset-view-properties", ",".join(keys)
    else:
        updates = [{"action": "set-properties", "updates": props}]
        op, detail = "set-view-properties", ",".join(sorted(props))
    io.client.replace_view(
        ns, name,
        requirements=[{"type": "assert-view-uuid", "uuid": md["view-uuid"]}],
        updates=updates,
    )
    return _summary(io, ".".join([*ns, name]), op, detail)


def _drop_table(io, parts: list[str], if_exists: bool, purge: bool) -> DataFrame:
    """DROP TABLE|MATERIALIZED VIEW [IF EXISTS] ns.t [PURGE]. Dropping an
    MV also removes its entries from its sources."""
    from denali_spark.sources.ivm import unlist_materialized_view

    try:
        ns, name, md = _table(io, parts)
    except CatalogHTTPError as exc:
        if exc.status != 404:
            raise
        qualified = ".".join(parts)
        if if_exists:
            return _summary(io, qualified, "drop-table", "absent (noop)")
        raise ValueError(f"table {qualified!r} does not exist") from None
    io.client.drop_table(ns, name, purge=purge)
    unlist_materialized_view(io, md)
    return _summary(
        io, ".".join([*ns, name]), "drop-table", "purged" if purge else "dropped"
    )


def _drop_view(io, parts: list[str], if_exists: bool) -> DataFrame:
    found = _view(io, parts)
    if found is None:
        if if_exists:
            return _summary(io, ".".join(parts), "drop-view", "absent (noop)")
        raise ValueError(f"view {'.'.join(parts)!r} does not exist")
    io.client.drop_view(found[0], found[1])
    return _summary(io, ".".join([*found[0], found[1]]), "drop-view", "dropped")


def _drop_namespace(io, levels: list[str], if_exists: bool) -> DataFrame:
    qualified = ".".join(levels)
    if not io.client.namespace_exists(levels):
        if if_exists:
            return _summary(io, qualified, "drop-namespace", "absent (noop)")
        raise ValueError(f"namespace {qualified!r} does not exist")
    io.client.drop_namespace(levels)
    return _summary(io, qualified, "drop-namespace", "dropped")


# --- ALTER TABLE ------------------------------------------------------------------


def _add_columns(io, text: str, plan) -> DataFrame:
    """ALTER TABLE ns.t ADD COLUMN c type [DEFAULT lit] [COMMENT '...'] /
    ADD COLUMNS (c1 t1, c2 t2, ...): every definition is parsed before
    anything commits, and all columns land as ONE new schema — a
    malformed trailing column leaves the table untouched, and N columns
    cost one CAS commit."""
    from denali_spark.sources import schema_evolution as _se
    from denali_spark.sources.schema_convert import ddl_type_to_iceberg

    ns, name, _md = _table(io, _name(plan.table()))
    stop = _span(plan.table())[1]
    body = _strip_stmt(text[_after_words(text, stop, 2):])
    if body.startswith("(") and body.endswith(")"):
        body = body[1:-1]
    specs = []
    for col_def in _split_top_level_commas(body):
        cm = re.fullmatch(
            r"\s*(\w+)\s+([\w()\s,]+?)"
            r"(?:\s+DEFAULT\s+('(?:[^']|'')*'|[-\w.]+))?"
            r"(?:\s+COMMENT\s+'((?:[^']|'')*)')?\s*",
            col_def, re.I,
        )
        if not cm:
            raise ValueError(f"malformed column definition {col_def!r}")
        specs.append({
            "column": cm.group(1),
            "type": ddl_type_to_iceberg(cm.group(2)),
            "doc": cm.group(4).replace("''", "'") if cm.group(4) else None,
            "default": _parse_sql_literal(cm.group(3)),
        })
    _se.add_columns(io, ns, name, specs)
    return _summary(
        io, ".".join([*ns, name]), "add-columns", ",".join(s["column"] for s in specs)
    )


def _drop_columns(io, text: str, plan) -> DataFrame:
    from denali_spark.sources import schema_evolution as _se

    ns, name, _md = _table(io, _name(plan.table()))
    cols = [".".join(_seq(c.name())) for c in _seq(plan.columnsToDrop())]
    for col in cols:
        _se.drop_column(io, ns, name, col)
    return _summary(io, ".".join([*ns, name]), "drop-column", ",".join(cols))


def _rename_column(io, text: str, plan) -> DataFrame:
    from denali_spark.sources import schema_evolution as _se

    ns, name, _md = _table(io, _name(plan.table()))
    old, new = ".".join(_seq(plan.column().name())), plan.newName()
    _se.rename_column(io, ns, name, old, new)
    return _summary(io, ".".join([*ns, name]), "rename-column", f"{old}->{new}")


def _alter_columns(io, text: str, plan) -> DataFrame:
    """ALTER TABLE ns.t ALTER COLUMN c TYPE t (Iceberg-legal promotions
    only) / COMMENT '...' / DROP NOT NULL. SET NOT NULL is refused:
    existing rows may hold NULLs and DDL never rewrites data files."""
    from denali_spark.sources import schema_evolution as _se
    from denali_spark.sources.schema_convert import ddl_type_to_iceberg

    ns, name, _md = _table(io, _name(plan.table()))
    qualified = ".".join([*ns, name])
    out = None
    for spec in _seq(plan.specs()):
        col = ".".join(_seq(spec.column().name()))
        if spec.newDataType().isDefined():
            new_type = ddl_type_to_iceberg(spec.newDataType().get().simpleString())
            _se.update_column(io, ns, name, col, new_type=new_type)
            out = _summary(io, qualified, "alter-column-type", f"{col}:{new_type}")
        elif spec.newComment().isDefined():
            _se.update_column(io, ns, name, col, doc=spec.newComment().get())
            out = _summary(io, qualified, "alter-column-comment", col)
        elif spec.newNullability().isDefined():
            if not spec.newNullability().get():
                raise ValueError(
                    "SET NOT NULL is not allowed: existing rows may hold "
                    "NULLs and Iceberg data files are never rewritten by DDL"
                )
            _se.update_column(io, ns, name, col, make_optional=True)
            out = _summary(io, qualified, "alter-column-drop-not-null", col)
        else:
            raise ValueError(f"unsupported ALTER COLUMN change on {col!r}")
    return out


def _rename_table(io, text: str, plan) -> DataFrame:
    """ALTER TABLE ns.t RENAME TO [ns2.]t2 — refused for an MV or an MV's
    source, whose spec names it."""
    from denali_spark.sources.ivm import refuse_rename

    if plan.isView():
        raise ValueError("unsupported ALTER VIEW action 'RENAME TO'")
    ns, name, md = _table(io, _name(plan.child()))
    refuse_rename(io, ns, name, md)
    dest = _seq(plan.newName())
    io.client.rename_table((ns, name), (dest[:-1] or ns, dest[-1]))
    return _summary(io, ".".join([*ns, name]), "rename-table", ".".join(dest))


def _table_properties(io, parts: list[str], props: dict | None = None,
                      keys: list[str] | None = None) -> DataFrame:
    """ALTER TABLE ns.t SET TBLPROPERTIES ('k' = 'v', ...) / UNSET
    TBLPROPERTIES ('k', ...)."""
    ns, name, md = _table(io, parts)
    if keys is not None:
        updates = [{"action": "remove-properties", "removals": keys}]
        op, detail = "unset-tblproperties", ",".join(keys)
    else:
        updates = [{"action": "set-properties", "updates": props}]
        op, detail = "set-tblproperties", ",".join(sorted(props))
    io.client.commit_table(
        ns, name,
        requirements=[{"type": "assert-table-uuid", "uuid": md["table-uuid"]}],
        updates=updates,
    )
    return _summary(io, ".".join([*ns, name]), op, detail)


_UNIT_MS = {"DAYS": 86_400_000, "HOURS": 3_600_000, "MINUTES": 60_000}


def _alter_extension(io, parts: list[str], act: str, exc) -> DataFrame:
    """Iceberg's ALTER TABLE extensions, which Spark's parser refuses:
    ADD PARTITION FIELD col|transform(col) / DROP PARTITION FIELD ... /
    REPLACE PARTITION FIELD old WITH new; CREATE BRANCH|TAG [IF NOT
    EXISTS] ref [AS OF VERSION snapshot-id] [RETAIN n DAYS|HOURS|MINUTES]
    [WITH SNAPSHOT RETENTION k SNAPSHOTS [n DAYS|HOURS|MINUTES]] / DROP
    BRANCH|TAG ref; WRITE ORDERED BY c1[, c2 ...]; and SET|UNSET
    TBLPROPERTIES with a key Spark reserves."""
    from denali_spark.sources.partitioning import spec_to_partition_by

    qualified = ".".join(parts)
    m = re.match(r"(ADD|DROP|REPLACE)\s+PARTITION\s+FIELD\s+(.+)$", act, re.I | re.S)
    if m:
        verb = m.group(1).upper()
        ns, name, md = _table(io, parts)
        current = spec_to_partition_by(md) or []
        field = m.group(2)
        if verb == "REPLACE":
            rm = re.fullmatch(r"(.+?)\s+WITH\s+(.+)", field, re.I | re.S)
            if not rm:
                raise ValueError("REPLACE PARTITION FIELD needs `old WITH new`")
            field, new = rm.groups()
            new_col, new_tr = _parse_partition_field(new)
        col, transform = _parse_partition_field(field)
        present = (col, transform) in current
        if present == (verb == "ADD"):
            raise ValueError(
                f"partition field {field.strip()!r} already in the default spec"
                if present else
                f"partition field {field.strip()!r} is not in the default "
                f"spec {current}"
            )
        if verb == "ADD":
            spec, detail = current + [(col, transform)], f"{transform}({col})"
        elif verb == "DROP":
            spec = [p for p in current if p != (col, transform)]
            detail = f"{transform}({col})"
        else:
            spec = [(new_col, new_tr) if p == (col, transform) else p for p in current]
            detail = f"{transform}({col})->{new_tr}({new_col})"
        io.evolve_partition_spec(ns, name, spec)
        return _summary(io, qualified, f"{verb.lower()}-partition-field", detail)

    m = re.match(
        r"(CREATE|DROP)\s+(BRANCH|TAG)(\s+IF\s+NOT\s+EXISTS)?\s+(\w+)"
        r"(?:\s+AS\s+OF\s+VERSION\s+(\d+))?"
        r"(?:\s+RETAIN\s+(\d+)\s+(DAYS|HOURS|MINUTES))?"
        r"(?:\s+WITH\s+SNAPSHOT\s+RETENTION\s+"
        r"(?:(\d+)\s+SNAPSHOTS)?(?:\s*(\d+)\s+(DAYS|HOURS|MINUTES))?)?$",
        act, re.I,
    )
    if m:
        return _alter_ref(io, parts, m)

    m = re.match(r"WRITE\s+ORDERED\s+BY\s+(.+)$", act, re.I | re.S)
    if m:
        ns, name, _md = _table(io, parts)
        cols = [c.strip() for c in m.group(1).split(",")]
        io.evolve_sort_order(ns, name, cols)
        return _summary(io, qualified, "write-ordered-by", ",".join(cols))

    m = re.match(r"(UN)?SET\s+TBLPROPERTIES\s*\((.+)\)$", act, re.I | re.S)
    if m:
        if m.group(1):
            return _table_properties(io, parts, keys=_parse_prop_keys(m.group(2)))
        return _table_properties(io, parts, props=dict(
            _parse_prop_assignment(i) for i in _split_top_level_commas(m.group(2))
        ))
    raise ValueError(
        f"unsupported ALTER TABLE action {act[:80]!r} "
        f"(Spark's parser refuses it as malformed: {_first_line(exc)})"
    )


def _alter_ref(io, parts: list[str], m) -> DataFrame:
    qualified = ".".join(parts)
    verb, kind, if_not_exists, ref = (
        m.group(1).upper(), m.group(2).upper(), m.group(3), m.group(4),
    )
    # Iceberg's grammar scopes the retention clauses: none on DROP, and
    # WITH SNAPSHOT RETENTION only on BRANCH (the ancestry walk is
    # branch-only — stored on a tag it would be a dead option). Reject
    # instead of silently ignoring/storing them.
    if verb == "DROP" and any(m.group(i) is not None for i in (5, 6, 8, 9)):
        raise ValueError(f"DROP {kind} takes no AS OF/RETAIN/retention clause")
    if kind == "TAG" and (m.group(8) is not None or m.group(9) is not None):
        raise ValueError(
            "WITH SNAPSHOT RETENTION applies to branches only: "
            "snapshot ancestry retention is a branch walk; a tag "
            "pins exactly one snapshot (use RETAIN n DAYS for the "
            "tag's own lifetime)"
        )
    ns, name, md = _table(io, parts)
    if verb == "DROP":
        io.drop_ref(ns, name, ref)
        return _summary(io, qualified, f"drop-{kind.lower()}", ref)
    if if_not_exists and ref in md.get("refs", {}):
        return _summary(io, qualified, f"create-{kind.lower()}", f"{ref} (exists)")
    if m.group(5) is not None:
        # AS OF VERSION n — branch/tag from a specific snapshot id
        io.client.commit_table(
            ns, name,
            requirements=[{"type": "assert-table-uuid", "uuid": md["table-uuid"]}],
            updates=[{
                "action": "set-snapshot-ref", "ref-name": ref,
                "snapshot-id": int(m.group(5)),
                "type": "branch" if kind == "BRANCH" else "tag",
            }],
        )
    elif kind == "BRANCH":
        io.create_branch(ns, name, ref)
    else:
        io.create_tag(ns, name, ref)
    # Iceberg Spark SQL extension retention clauses: RETAIN sets the ref's
    # own lifetime, WITH SNAPSHOT RETENTION the branch's ancestry keep —
    # both stored on the ref and honored by expire_snapshots' per-ref
    # retention pass
    retention = {}
    if m.group(6) is not None:
        retention["max_ref_age_ms"] = int(m.group(6)) * _UNIT_MS[m.group(7).upper()]
    if m.group(8) is not None:
        retention["min_snapshots_to_keep"] = int(m.group(8))
    if m.group(9) is not None:
        retention["max_snapshot_age_ms"] = int(m.group(9)) * _UNIT_MS[m.group(10).upper()]
    if retention:
        io.set_ref_retention(ns, name, ref, **retention)
    return _summary(io, qualified, f"create-{kind.lower()}", ref)


# --- row-level DML ----------------------------------------------------------------


def _row_op_mode(md: dict, op: str) -> str:
    """Iceberg's write.<op>.mode table property picks the strategy:
    copy-on-write (default — rewrite affected files) or merge-on-read
    (deletion vectors / appended replacements)."""
    mode = md.get("properties", {}).get(f"write.{op}.mode", "copy-on-write")
    if mode not in ("copy-on-write", "merge-on-read"):
        raise ValueError(f"write.{op}.mode must be copy-on-write|merge-on-read")
    return mode


def _dml_summary(io, ns, name, operation: str, mode: str, result: dict) -> DataFrame:
    # the op returns the post-commit (or noop) metadata — reloading here
    # could report a CONCURRENT writer's snapshot instead
    md = result.get("metadata")
    if md is None:
        md = io.client.load_table(ns, name)["metadata"]
    snap = md.get("refs", {}).get(MAIN, {}).get("snapshot-id")
    return io.spark.range(1).select(
        F.lit(".".join([*ns, name])).alias("table"),
        F.lit(operation).alias("operation"),
        F.lit(mode).alias("mode"),
        F.lit(snap).cast("long").alias("snapshot_id"),
        F.lit(bool(result.get("noop"))).alias("noop"),
    )


def _parse_dml_where(io, where_sql: str) -> dict:
    """DML WHERE → scan expression. The prunable grammar first (file
    pruning applies before any data is read); a clause it cannot
    express (modulo/function/arithmetic, e.g. `id % 2 = 0`) falls
    back to an opaque raw-SQL leaf — exact row-level semantics via
    the same residual filter, at full-candidate (unpruned) cost. The
    fallback still validates the text parses as a Spark expression,
    so a typo fails here with both diagnostics, not deep in a job."""
    from denali_spark.sources.expressions import parse_where, raw_sql

    try:
        return parse_where(where_sql)
    except ValueError as grammar_err:
        try:
            io.spark._jsparkSession.sessionState().sqlParser() \
                .parseExpression(where_sql)
        except Exception as spark_err:  # noqa: BLE001 — diagnostics
            msg = str(spark_err).splitlines()
            raise ValueError(
                f"WHERE clause is neither a prunable scan predicate "
                f"({grammar_err}) nor valid Spark SQL "
                f"({' '.join(msg[:3])})"
            ) from grammar_err
        return raw_sql(where_sql)


def _delete(io, text: str, plan, explain=None) -> DataFrame:
    """DELETE FROM ns.t WHERE <expr> — routed to the copy-on-write or
    deletion-vector path by the table's write.delete.mode property. The
    WHERE clause parses into the scan-expression grammar, so file pruning
    applies before any data is read (_parse_dml_where)."""
    from denali_spark.sources.mor import delete_where_dv
    from denali_spark.sources.row_ops import delete_where

    parts = _name(plan.table())
    where_sql = _where(text, _span(_relation(plan.table()))[1])
    if not where_sql:
        raise ValueError("DELETE FROM requires a WHERE clause")
    if explain is not None:
        return _explain_dml(io, "delete", parts, explain, where_sql)
    ns, name, md = _table(io, parts)
    expr = _parse_dml_where(io, where_sql)
    mode = _row_op_mode(md, "delete")
    op = delete_where_dv if mode == "merge-on-read" else delete_where
    return _dml_summary(io, ns, name, "delete", mode, op(io, ns, name, expr))


def _update(io, text: str, plan, explain=None) -> DataFrame:
    """UPDATE ns.t SET c = <spark expr>[, ...] WHERE <expr> — routed by
    write.update.mode. Right-hand sides pass through as Spark SQL
    expressions (they may reference any column of the row); WHERE follows
    DELETE's contract (_parse_dml_where)."""
    from denali_spark.sources.mor import update_where_mor
    from denali_spark.sources.row_ops import update_where

    parts = _name(plan.table())
    set_at = _find_top_level(text, "SET", _span(_relation(plan.table()))[1])
    where_sql = _where(text, set_at)
    if plan.condition().isEmpty() or not where_sql:
        raise ValueError("UPDATE requires a WHERE clause")
    if explain is not None:
        return _explain_dml(io, "update", parts, explain, where_sql)
    ns, name, md = _table(io, parts)
    set_sql = text[set_at + len("SET"):_find_top_level(text, "WHERE", set_at)]
    set_exprs = {}
    for part in _split_top_level_commas(set_sql):
        col, _eq, rhs = part.partition("=")
        set_exprs[col.strip()] = rhs.strip()
    expr = _parse_dml_where(io, where_sql)
    mode = _row_op_mode(md, "update")
    op = update_where_mor if mode == "merge-on-read" else update_where
    return _dml_summary(io, ns, name, "update", mode, op(io, ns, name, expr, set_exprs))


def _merge(io, text: str, plan, explain=None) -> DataFrame:
    target = plan.targetTable()
    alias = target.alias() if target.nodeName() == "SubqueryAlias" else None
    relation = target.child() if alias is not None else target
    source = plan.sourceTable()
    if source.nodeName() == "SubqueryAlias":
        source = source.child()
    using_at = _find_top_level(text, "USING", _span(relation)[1])
    return _merge_into(io, _name(relation), alias, text, using_at, source, explain)


def _merge_into(io, parts: list[str], target_alias: str | None, text: str,
                using_at: int, source_plan=None, explain=None) -> DataFrame:
    """MERGE INTO ns.t [AS a] USING (<select>)|ns.src [AS b] ON
    (k[, ...])|t.k = s.k [AND ...]
    WHEN MATCHED THEN UPDATE [SET c = <expr>[, ...]] | DELETE
    [WHEN NOT MATCHED THEN INSERT [*|(cols) VALUES (exprs)|VALUES (exprs)]]
    — the canonical upsert/CDC-apply forms, routed by write.merge.mode.
    The USING/ON/WHEN clauses are split from `using_at` by top-level
    keyword search, so literals and a USING subquery's own JOIN ... ON
    never cut a clause. The ON columns must name the same column on both
    sides (equality merge keys). Bare UPDATE replaces matched target rows
    wholesale with their source row; UPDATE SET applies the assignments
    (expressions may qualify columns by either table's name/alias). Bare
    INSERT / INSERT * inserts source rows wholesale; INSERT (cols) VALUES
    (exprs) maps listed columns and NULLs the rest; INSERT VALUES (exprs)
    maps positionally. `WHEN ... AND <condition>` clauses and insert-only
    merges are unsupported. A subquery source resolves from
    `source_plan`, the statement's parsed plan of it, when there is one."""
    from denali_spark.sources.mor import merge_into_mor
    from denali_spark.sources.row_ops import merge_into

    at = using_at + len("USING")
    rest = _strip_stmt(text[at:])
    on_i = _find_top_level(rest, "ON")
    when_i = _find_top_level(rest, "WHEN", max(on_i, 0))
    if using_at < 0 or on_i < 0 or when_i <= on_i:
        raise ValueError("MERGE needs USING <source> ON <keys> WHEN ... clauses")
    on_sql = rest[on_i + 2: when_i].strip()
    if explain is not None:
        return _explain_dml(io, "merge", parts, explain, None, f"ON {on_sql}")
    ns, name, md = _table(io, parts)

    # the source, with a trailing alias ("(...) s" / "ns.src AS s") kept for
    # qualifier rewriting in SET/VALUES expressions
    using = rest[:on_i].strip()
    if using.startswith("("):
        close = _match_paren(using)
        if close < 0:
            raise ValueError("unbalanced parentheses in the MERGE source")
        a = at + len(text[at:]) - len(text[at:].lstrip()) + 1  # inside the (
        source = (
            _select(io, text, source_plan, [(a, a + close - 1)])
            if source_plan is not None else _select(io, text[a:a + close - 1])
        )
        src_name, tail = None, using[close + 1:]
    else:
        m = re.match(_IDENT, using)
        src_parts = _parts(io, m.group(1))
        source = io.read_table(src_parts[:-1], src_parts[-1])
        src_name, tail = src_parts[-1], using[m.end():]
    am = re.fullmatch(r"\s*(?:AS\s+)?(\w+)?\s*", tail, re.I)
    if am is None:
        raise ValueError(f"malformed MERGE source {using[:60]!r}")
    source_alias = am.group(1)

    if on_sql.startswith("("):
        on = [c.strip() for c in on_sql[1:-1].split(",")]
    else:
        on = []
        for clause in re.split(r"\bAND\b", on_sql, flags=re.I):
            me = re.match(r"\s*(?:\w+\.)?(\w+)\s*=\s*(?:\w+\.)?(\w+)\s*$", clause)
            if not me or me.group(1) != me.group(2):
                raise ValueError(
                    f"MERGE ON clause must equate the same column on "
                    f"both sides; got {clause.strip()!r}"
                )
            on.append(me.group(1))

    # Qualifier sets for rewriting expressions onto the engine's canonical
    # t/s aliases: the target's bare name + declared alias, the source's
    # table name + declared alias.
    t_names = {"t", name.lower()}
    if target_alias:
        t_names.add(target_alias.lower())
    s_names = {"s"}
    if source_alias:
        s_names.add(source_alias.lower())
    if src_name:
        s_names.add(src_name.lower())
    clash = (t_names & s_names) - {"t", "s"}
    if clash:
        raise ValueError(
            f"MERGE target and source share the name(s) {sorted(clash)}; "
            "give them distinct aliases"
        )
    when_matched, update_set, insert, insert_values = _merge_actions(
        rest[when_i:].strip(), t_names, s_names, md
    )
    mode = _row_op_mode(md, "merge")
    op = merge_into_mor if mode == "merge-on-read" else merge_into
    result = op(
        io, ns, name, source, on=on,
        when_matched=when_matched, when_not_matched_insert=insert,
        update_set=update_set, insert_values=insert_values,
    )
    return _dml_summary(io, ns, name, "merge", mode, result)


def _merge_actions(txt: str, t_names: set[str], s_names: set[str], md: dict):
    """(when_matched, update_set, insert, insert_values) of a MERGE's
    WHEN clauses."""
    when_matched = None
    update_set: dict[str, str] | None = None
    insert = False
    insert_values: tuple[list[str], list[str]] | None = None
    starts: list[int] = []
    i = 0
    while (wi := _find_top_level(txt, "WHEN", i)) >= 0:
        starts.append(wi)
        i = wi + 4
    for k, st in enumerate(starts):
        end = starts[k + 1] if k + 1 < len(starts) else len(txt)
        clause = txt[st:end].strip()
        cm = re.match(r"WHEN\s+MATCHED\s+THEN\s+(.*)$", clause, re.I | re.S)
        if cm:
            act = cm.group(1).strip()
            if re.fullmatch(r"DELETE", act, re.I):
                when_matched = "delete"
            elif re.fullmatch(r"UPDATE", act, re.I):
                when_matched = "update"
            else:
                m2 = re.match(r"UPDATE\s+SET\s+(.+)$", act, re.I | re.S)
                if not m2:
                    raise ValueError(
                        f"unsupported WHEN MATCHED action {act[:60]!r} "
                        "(expected DELETE, UPDATE, or UPDATE SET ...)"
                    )
                when_matched = "update"
                update_set = {}
                for assign in _split_top_level_commas(m2.group(1)):
                    eq = assign.find("=")
                    if eq < 0:
                        raise ValueError(
                            f"malformed SET assignment {assign.strip()!r}"
                        )
                    lhs = assign[:eq].strip()
                    lm = re.fullmatch(r"(?:(\w+)\.)?(\w+)", lhs)
                    if not lm:
                        raise ValueError(f"malformed SET target {lhs!r}")
                    if lm.group(1) and lm.group(1).lower() not in t_names:
                        raise ValueError(
                            f"SET target {lhs!r} must reference the "
                            "MERGE target table"
                        )
                    col = lm.group(2)
                    if col in update_set:
                        raise ValueError(f"column {col!r} SET twice")
                    update_set[col] = _rewrite_merge_quals(
                        assign[eq + 1:].strip(), t_names, s_names
                    )
            continue
        nm = re.match(
            r"WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s*(.*)$", clause, re.I | re.S
        )
        if nm:
            insert = True
            tail = nm.group(1).strip()
            if tail in ("", "*"):
                insert_values = None
                continue
            m3 = re.match(
                r"(?:\(([^()]*)\)\s*)?VALUES\s*\((.*)\)\s*$", tail, re.I | re.S
            )
            if not m3:
                raise ValueError(
                    f"unsupported INSERT form {tail[:60]!r} (expected "
                    "bare INSERT, INSERT *, or INSERT [(cols)] "
                    "VALUES (exprs))"
                )
            exprs = [
                _rewrite_merge_quals(e.strip(), t_names, s_names)
                for e in _split_top_level_commas(m3.group(2))
            ]
            if m3.group(1) is not None:
                cols = [c.strip() for c in m3.group(1).split(",")]
            else:
                from denali_spark.sources.schema_evolution import current_schema

                fields = current_schema(md)["fields"]
                if len(exprs) != len(fields):
                    raise ValueError(
                        f"INSERT VALUES lists {len(exprs)} values; "
                        f"table has {len(fields)} columns"
                    )
                cols = [f["name"] for f in fields]
            insert_values = (cols, exprs)
            continue
        raise ValueError(
            f"unsupported MERGE clause {clause[:60]!r} "
            "(WHEN ... AND <condition> forms are unsupported)"
        )
    if when_matched is None:
        raise ValueError(
            "MERGE needs a WHEN MATCHED THEN UPDATE|DELETE clause "
            "(insert-only merges are unsupported)"
        )
    if when_matched == "delete" and update_set:
        raise ValueError("UPDATE SET cannot combine with THEN DELETE")
    return when_matched, update_set, insert, insert_values


def _explain_dml(io, op: str, parts: list[str], mode, where_sql: str | None,
                 match: str | None = None) -> DataFrame:
    """EXPLAIN [EXTENDED|FORMATTED] DELETE/UPDATE/MERGE — the READ side
    of the row-level operation, without committing anything: the target
    scan (file pruning from the WHERE applies exactly as the real op's
    scan would), the match predicate, and the CoW/MoR strategy the write
    would take and why (the table's write.<op>.mode property). The write
    side is deliberately absent: its file set depends on the matched
    rows, which EXPLAIN must not compute. Zero snapshots are created.
    Returns one 'plan' row, same shape as EXPLAIN SELECT."""
    ns, name, md = _table(io, parts)
    strategy = _row_op_mode(md, op)
    md_props = md.get("properties", {}).get(f"write.{op}.mode")
    if where_sql is not None:
        # scan-grammar → file pruning; raw-SQL fallback → full read
        expr = _parse_dml_where(io, where_sql)
        read_df = io.read_table(ns, name, where=expr, metadata=md).filter(
            F.expr(where_sql)
        )
        match = where_sql.strip()
    else:
        # merge read side: the target scan that the source probes on the
        # equality keys to decide the matched rows
        read_df = io.read_table(ns, name, metadata=md)
    header = "== DML Read Plan ==\n" + json.dumps({
        "operation": op,
        "target": ".".join([*ns, name]),
        "strategy": strategy,
        "strategy_source": (
            f"write.{op}.mode={md_props}" if md_props
            else f"default (write.{op}.mode unset)"
        ),
        "match": match,
        "note": "read side only — no snapshot was created",
    })
    return _plan_df(
        io, header + "\n\n" + read_df._jdf.queryExecution().explainString(mode)
    )


# --- CALL system.<procedure> ---------------------------------------------------


def _call(io, text: str, plan) -> DataFrame:
    """CALL [catalog.]system.<proc>(table => 'ns.t', ...) — the Iceberg
    Spark stored-procedure surface (its users run exactly these for day-2
    ops). Named `name => value` arguments; `table` is required, and a
    positional argument is the table."""
    *ns, proc = _seq(plan.procedure().nameParts())
    if len(ns) not in (1, 2) or ns[-1].lower() != "system":
        raise ValueError(
            f"unknown procedure {'.'.join([*ns, proc])!r}; one of "
            f"system.{{{', '.join(sorted(_PROCEDURES))}}}"
        )
    proc = proc.lower()
    if proc not in _PROCEDURES:
        raise ValueError(f"unknown procedure {proc!r}; one of {sorted(_PROCEDURES)}")
    fn, allowed = _PROCEDURES[proc]
    kwargs: dict = {}
    table = None
    for arg in _seq(plan.args()):
        if arg.nodeName() == "NamedArgumentExpression":
            key, raw = arg.key().lower(), text[slice(*_span(arg.value()))]
        else:
            key, raw = "table", text[slice(*_span(arg))]
        if raw.startswith("'") and raw.endswith("'"):
            val: object = raw[1:-1].replace("''", "'")
        elif raw.lower() in ("true", "false"):
            val = raw.lower() == "true"
        else:
            try:
                val = int(raw)
            except ValueError:
                raise ValueError(
                    f"procedure argument {key!r}: unparseable value {raw!r}"
                ) from None
        if key == "table":
            table = str(val)
        elif key in allowed:
            kwargs[key] = val
        else:
            raise ValueError(
                f"procedure {proc!r} does not take argument {key!r} "
                f"(allowed: table, {', '.join(allowed) or '-'})"
            )
    if table is None:
        raise ValueError(f"procedure {proc!r} requires table => 'ns.t'")
    ns_, name, _md = _table(io, _parts(io, table))
    return fn(io, ns_, name, **kwargs)


def _utc_ms(ts) -> int | None:
    if ts is None:
        return None
    dt = datetime.datetime.fromisoformat(str(ts))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=datetime.timezone.utc)
    return int(dt.timestamp() * 1000)


def _proc_expire(io, ns, name, retain_last=1, older_than=None):
    from denali_spark.sources.maintenance import expire_snapshots

    r = expire_snapshots(
        io, ns, name, keep_last=int(retain_last), older_than_ms=_utc_ms(older_than)
    )
    return _row(io, procedure="expire_snapshots", noop=bool(r.get("noop")))


def _proc_orphans(io, ns, name, older_than=None, dry_run=False):
    from denali_spark.sources.maintenance import remove_orphan_files

    r = remove_orphan_files(
        io, ns, name, older_than_ms=_utc_ms(older_than), dry_run=bool(dry_run)
    )
    return _row(
        io, procedure="remove_orphan_files",
        orphan_file_count=len(r.get("removed", r.get("orphans", []))),
    )


def _proc_compact(io, ns, name, target_file_size_bytes=128 * 1024 * 1024, where=None):
    """`where` (Iceberg's rewrite_data_files filter): SQL predicate text
    scoping the rewrite to matching files — compact one hot partition
    without touching the other 100k."""
    from denali_spark.sources.maintenance import compact_data_files

    r = compact_data_files(
        io, ns, name,
        target_file_size_bytes=int(target_file_size_bytes),
        where=str(where) if where is not None else None,
    )
    return _row(io, procedure="rewrite_data_files", noop=bool(r.get("noop")))


def _proc_rewrite_deletes(io, ns, name):
    from denali_spark.sources.mor import rewrite_deletes

    r = rewrite_deletes(io, ns, name)
    return _row(io, procedure="rewrite_position_delete_files", noop=bool(r.get("noop")))


def _proc_rollback(io, ns, name, snapshot_id=None):
    if snapshot_id is None:
        raise ValueError("rollback_to_snapshot requires snapshot_id => N")
    io.rollback_to_snapshot(ns, name, int(snapshot_id))
    return _row(io, procedure="rollback_to_snapshot", snapshot_id=int(snapshot_id))


def _proc_cherrypick(io, ns, name, snapshot_id=None):
    if snapshot_id is None:
        raise ValueError("cherrypick_snapshot requires snapshot_id => N")
    io.cherry_pick_snapshot(ns, name, int(snapshot_id))
    md = io.client.load_table(ns, name)["metadata"]
    return _row(
        io, procedure="cherrypick_snapshot",
        current_snapshot_id=md["refs"][MAIN]["snapshot-id"],
    )


def _proc_ancestors(io, ns, name):
    md = io.client.load_table(ns, name)["metadata"]
    by_id = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
    out = []
    cur = md.get("refs", {}).get(MAIN, {}).get("snapshot-id")
    while cur is not None and cur in by_id:
        s = by_id[cur]
        out.append((s["snapshot-id"], s["timestamp-ms"]))
        cur = s.get("parent-snapshot-id")
    return io.spark.createDataFrame(out, "snapshot_id long, timestamp_ms long")


def _proc_analyze(io, ns, name, columns=None):
    from denali_spark.sources.maintenance import analyze_table_incremental

    r = analyze_table_incremental(io, ns, name)
    return _row(
        io, procedure="compute_table_stats",
        mode=str(r.get("mode", "noop")), row_count=int(r.get("row-count", -1)),
    )


def _proc_verify_mview(io, ns, name):
    from denali_spark.sources import ivm as _ivm

    return _row(io, **_ivm.verify_materialized_view(io, ns, name))


# Iceberg Spark's stored procedures (CALL catalog.system.<proc>(...)) mapped
# onto the engine's maintenance/branch functions: (function taking
# (io, ns, name, **kwargs), allowed kwargs).
_PROCEDURES = {
    "expire_snapshots": (_proc_expire, ("retain_last", "older_than")),
    "remove_orphan_files": (_proc_orphans, ("older_than", "dry_run")),
    "rewrite_data_files": (_proc_compact, ("target_file_size_bytes", "where")),
    "rewrite_position_delete_files": (_proc_rewrite_deletes, ()),
    "rollback_to_snapshot": (_proc_rollback, ("snapshot_id",)),
    "cherrypick_snapshot": (_proc_cherrypick, ("snapshot_id",)),
    "ancestors_of": (_proc_ancestors, ()),
    "compute_table_stats": (_proc_analyze, ("columns",)),
    # the CALL spelling of REFRESH MATERIALIZED VIEW, so maintenance
    # runbooks that already chain system procedures can fold MVs too
    "refresh_materialized_view": (
        lambda io, ns, name: _refresh_mview(io, [*ns, name]), ()
    ),
    "verify_materialized_view": (_proc_verify_mview, ()),
}


# --- SHOW and DESCRIBE ----------------------------------------------------------


def _list(io, what: str, scope: list[str] | None) -> DataFrame:
    """SHOW NAMESPACES [IN parent] / SHOW TABLES|VIEWS|MATERIALIZED VIEWS
    [IN ns] — the catalog-inspection surface over the REST listings. An
    unscoped TABLES/VIEWS walks every namespace, nested ones included."""
    if what == "NAMESPACES":
        rows = [(".".join(ns),) for ns in io.client.list_namespaces(scope)]
        return io.spark.createDataFrame(rows, "namespace string")
    lister = io.client.list_views if what == "VIEWS" else io.client.list_tables
    if scope is not None:
        idents = lister(scope)
    else:
        idents, stack = [], [None]
        while stack:
            for ns in io.client.list_namespaces(stack.pop()):
                stack.append(ns)
                idents.extend(lister(ns))
        idents.sort(key=lambda i: ".".join([*i["namespace"], i["name"]]))
    if what == "MATERIALIZED VIEWS":
        # the tables whose `ivm.spec` property marks them as MVs, with
        # per-view freshness (watermark == source current snapshot) so
        # operators can see what needs a REFRESH
        from denali_spark.sources.ivm import (
            list_materialized_views,
            mv_watermark_state,
            sources_label,
        )

        rows = [
            (".".join(mv_ns), mv_name, sources_label(spec),
             mv_watermark_state(io, spec, mv_md) == "fresh")
            for mv_ns, mv_name, spec, mv_md in list_materialized_views(io, idents)
        ]
        return io.spark.createDataFrame(
            sorted(rows),
            "namespace string, mviewName string, sources string, fresh boolean",
        )
    col = "tableName" if what == "TABLES" else "viewName"
    return io.spark.createDataFrame(
        [(".".join(i["namespace"]), i["name"]) for i in idents],
        f"namespace string, {col} string",
    )


def _show_columns(io, parts: list[str]) -> DataFrame:
    from denali_spark.sources.schema_evolution import current_schema

    _ns, _name_, md = _table(io, parts)
    return io.spark.createDataFrame(
        [(f["name"],) for f in current_schema(md)["fields"]], "col_name string"
    )


def _show_properties(io, parts: list[str]) -> DataFrame:
    _ns, _name_, md = _table(io, parts)
    return io.spark.createDataFrame(
        sorted(md.get("properties", {}).items()), "key string, value string"
    )


def _show_partitions(io, parts: list[str]) -> DataFrame:
    from denali_spark.sources.metadata_tables import metadata_table

    ns, name, _md = _table(io, parts)
    return metadata_table(io, ns, name, "partitions")


def _render_properties(props: dict) -> str:
    # '' -escape keys and values like column comments — a value
    # containing a quote must re-parse as DDL
    return "\nTBLPROPERTIES (" + ", ".join(
        "'{}' = '{}'".format(k.replace("'", "''"), v.replace("'", "''"))
        for k, v in sorted(props.items())
    ) + ")"


def _current_version(vmd: dict) -> dict:
    return next(v for v in vmd["versions"] if v["version-id"] == vmd["current-version-id"])


def _show_create(io, parts: list[str]) -> DataFrame:
    """SHOW CREATE TABLE ns.t: DDL that re-executes to an equal table —
    CREATE VIEW for a view and CREATE MATERIALIZED VIEW for an MV, all
    rendered from stored metadata (no execution)."""
    found = _view(io, parts)
    if found is not None:
        ns, name, vmd = found
        reps = _current_version(vmd).get("representations", [])
        spark_reps = [r for r in reps if r.get("dialect") == "spark"] or reps
        qualified = ".".join([*ns, name])
        if not spark_reps:
            raise ValueError(f"view {qualified} has no SQL representation")
        stmt = f"CREATE VIEW {qualified} AS\n{spark_reps[0]['sql']}"
        if vmd.get("properties"):
            stmt += _render_properties(vmd["properties"])
        return io.spark.createDataFrame([(stmt,)], "createtab_stmt string")
    ns, name, md = _table(io, parts)
    qualified = ".".join([*ns, name])
    mv_raw = md.get("properties", {}).get("ivm.spec")
    if mv_raw is not None:
        # a maintained MV renders as its OWN DDL (which re-parses to an
        # equal spec), not as the rollup table it happens to live in
        from denali_spark.sources import ivm as _ivm

        body = _ivm.render_materialized_view_sql(_ivm.spec_from_json(mv_raw))
        return io.spark.createDataFrame(
            [(f"CREATE MATERIALIZED VIEW {qualified} AS\n{body}",)],
            "createtab_stmt string",
        )
    from denali_spark.sources.partitioning import spec_to_partition_by
    from denali_spark.sources.schema_convert import iceberg_type_to_ddl
    from denali_spark.sources.schema_evolution import current_schema

    cols = []
    for f in current_schema(md)["fields"]:
        line = f"  {f['name']} {iceberg_type_to_ddl(f['type'])}"
        if f.get("required"):
            line += " NOT NULL"
        if f.get("write-default") is not None:
            d = f["write-default"]
            if isinstance(d, bool):
                line += " DEFAULT " + ("TRUE" if d else "FALSE")
            elif isinstance(d, str):
                line += " DEFAULT '" + d.replace("'", "''") + "'"
            else:
                line += f" DEFAULT {d}"
        if f.get("doc"):
            line += " COMMENT '" + f["doc"].replace("'", "''") + "'"
        cols.append(line)
    stmt = f"CREATE TABLE {qualified} (\n" + ",\n".join(cols) + "\n) USING iceberg"
    spec = spec_to_partition_by(md) or []
    if spec:
        stmt += "\nPARTITIONED BY (" + ", ".join(
            _render_transform(c, t) for c, t in spec
        ) + ")"
    if md.get("properties"):
        stmt += _render_properties(md["properties"])
    return io.spark.createDataFrame([(stmt,)], "createtab_stmt string")


def _describe(io, parts: list[str], extended: bool) -> DataFrame:
    """DESCRIBE [EXTENDED] ns.t — column names/types/comments from the
    CURRENT schema (docs travel with the field, so evolution shows
    through), a partition section for partitioned tables, an MV section
    for maintained views, and — extended — the table-metadata block real
    Spark prints. A view answers from the schema stored at CREATE VIEW."""
    from denali_spark.sources.partitioning import spec_to_partition_by
    from denali_spark.sources.schema_convert import iceberg_type_to_ddl
    from denali_spark.sources.schema_evolution import current_schema

    schema = "col_name string, data_type string, comment string"
    found = _view(io, parts)
    if found is not None:
        ns, name, vmd = found
        version = _current_version(vmd)
        stored = next(
            (s for s in vmd.get("schemas", [])
             if s.get("schema-id") == version.get("schema-id")),
            None,
        )
        if stored and stored.get("fields"):
            # zero manifest loads, even for views over views
            rows = [(f["name"], iceberg_type_to_ddl(f["type"]), f.get("doc"))
                    for f in stored["fields"]]
        else:
            # views created without a stored schema: analyze the view SQL
            df = io.sql(f"SELECT * FROM {'.'.join([*ns, name])} WHERE 1 = 0")
            rows = [(c, t, None) for c, t in df.dtypes]
        return io.spark.createDataFrame(rows, schema)

    ns, name, md = _table(io, parts)
    rows = [(f["name"], iceberg_type_to_ddl(f["type"]), f.get("doc"))
            for f in current_schema(md)["fields"]]
    spec = spec_to_partition_by(md) or []
    if spec:
        rows.append(("# Partition Information", "", None))
        rows.extend(
            (f"Part {i}", _render_transform(c, t), None) for i, (c, t) in enumerate(spec)
        )
    mv_raw = md.get("properties", {}).get("ivm.spec")
    if mv_raw:
        # sources, stored watermark(s), and whether a REFRESH is due — the
        # DESCRIBE half of the SHOW MATERIALIZED VIEWS surface
        from denali_spark.sources.ivm import (
            LEFT_WATERMARK_KEY,
            RIGHT_WATERMARK_KEY,
            WATERMARK_KEY,
            mv_watermark_state,
            sources_label,
            spec_from_json,
        )

        mv_spec = spec_from_json(mv_raw)
        rows.append(("# Materialized View", "", None))
        rows.append(("Sources", sources_label(mv_spec), None))
        ref = md.get("refs", {}).get(MAIN)
        if ref is not None:
            snap = next(
                (s for s in md.get("snapshots", [])
                 if s["snapshot-id"] == ref["snapshot-id"]), {},
            )
            summary = snap.get("summary", {})
            for wk in (WATERMARK_KEY, LEFT_WATERMARK_KEY, RIGHT_WATERMARK_KEY):
                if wk in summary:
                    rows.append((wk, summary[wk], None))
        fresh = mv_watermark_state(io, mv_spec, md) == "fresh"
        rows.append(("Fresh", str(fresh).lower(), None))
    if extended:
        rows.append(("# Detailed Table Information", "", None))
        rows.extend([
            ("Name", ".".join([*ns, name]), None),
            ("Location", md.get("location", ""), None),
            ("Provider", "iceberg", None),
            ("Format-version", str(md.get("format-version", "")), None),
            ("Table-uuid", md.get("table-uuid", ""), None),
            ("Current-snapshot-id", str(md.get("current-snapshot-id")), None),
        ])
    return io.spark.createDataFrame(rows, schema)


# --- the dispatch table -----------------------------------------------------------

_HANDLERS = {
    "InsertIntoStatement": _insert,
    "CreateTableAsSelect": _ctas,
    "ReplaceTableAsSelect": _ctas,
    "CreateTable": lambda io, text, p: _create_table(
        io, _name(p.name()), p.ignoreIfExists(), text[_span(p.name())[1]:]
    ),
    "CreateNamespace": _create_namespace,
    "CreateView": _create_view_stmt,
    "CreateMaterializedViewAsSelect": lambda io, text, p: _create_mview(
        io, _name(p.name()), p.originalText()
    ),
    "DropTable": lambda io, text, p: _drop_table(
        io, _name(p.child()), p.ifExists(), p.purge()
    ),
    "DropView": lambda io, text, p: _drop_view(io, _name(p.child()), p.ifExists()),
    "DropNamespace": lambda io, text, p: _drop_namespace(
        io, _name(p.namespace()), p.ifExists()
    ),
    "TruncateTable": lambda io, text, p: _truncate(io, _name(p.table())),
    "DeleteFromTable": _delete,
    "UpdateTable": _update,
    "MergeIntoTable": _merge,
    "Call": _call,
    "AddColumns": _add_columns,
    "DropColumns": _drop_columns,
    "RenameColumn": _rename_column,
    "AlterColumns": _alter_columns,
    "RenameTable": _rename_table,
    "SetTableProperties": lambda io, text, p: _table_properties(
        io, _name(p.table()), props=_map(p.properties())
    ),
    "UnsetTableProperties": lambda io, text, p: _table_properties(
        io, _name(p.table()), keys=_seq(p.propertyKeys())
    ),
    "AlterViewAs": _alter_view_as,
    "SetViewProperties": lambda io, text, p: _view_properties(
        io, _name(p.child()), props=_map(p.properties())
    ),
    "UnsetViewProperties": lambda io, text, p: _view_properties(
        io, _name(p.child()), keys=_seq(p.propertyKeys())
    ),
    "SetCommand": _set,
    "ExplainCommand": _explain,
    "ShowNamespacesCommand": lambda io, text, p: _list(io, "NAMESPACES", _scope(p.child())),
    "ShowTables": lambda io, text, p: _list(io, "TABLES", _scope(p.namespace())),
    "ShowViews": lambda io, text, p: _list(io, "VIEWS", _scope(p.namespace())),
    "ShowTableProperties": lambda io, text, p: _show_properties(io, _name(p.table())),
    "ShowPartitions": lambda io, text, p: _show_partitions(io, _name(p.table())),
    "ShowColumns": lambda io, text, p: _show_columns(io, _name(p.child())),
    "ShowCreateTable": lambda io, text, p: _show_create(io, _name(p.child())),
    "DescribeRelation": lambda io, text, p: _describe(
        io, _name(p.relation()), p.isExtended()
    ),
}


# --- statements Spark's parser refuses ------------------------------------------

# one multi-part name, backticked parts allowed; Spark splits it
_IDENT = r"((?:`(?:[^`]|``)*`|[^\s`;(])+)"


def _first_line(exc) -> str:
    return next((ln for ln in str(exc).splitlines() if ln.strip()), "")


def _refused_merge(io, text, m, exc):
    mode = None
    if m.group(1):
        mode = io.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            (m.group(2) or "simple").lower()
        )
    return _merge_into(io, _parts(io, m.group(3)), m.group(4), text, m.start(5),
                       explain=mode)


def _refused_create(io, text, m, exc):
    if exc.getCondition() != "UNSUPPORTED_FEATURE.SET_TABLE_PROPERTY":
        return None
    parts = _parts(io, m.group(3))
    if text[m.end(3):].lstrip().startswith("("):
        return _create_table(io, parts, bool(m.group(2)), text[m.end(3):])
    as_at = _find_top_level(text, "AS", m.end(3))
    return _write(
        io, parts, "overwrite" if m.group(1) else "create",
        lambda: _select(io, text[as_at + 2:]), clause_sql=text[m.end(3):as_at],
    )


def _refused_dml(io, text, m, exc):
    # report what is wrong with the WHERE clause, when that is the fault
    w = _find_top_level(text, "WHERE")
    if w >= 0:
        _parse_dml_where(io, _strip_stmt(text[w + len("WHERE"):]))
    return None


_REFUSED = [
    (rf"\s*REFRESH\s+MATERIALIZED\s+VIEW\s+{_IDENT}\s*;?\s*$",
     lambda io, text, m, exc: _refresh_mview(io, _parts(io, m.group(1)))),
    (rf"\s*DROP\s+MATERIALIZED\s+VIEW\s+(IF\s+EXISTS\s+)?{_IDENT}(\s+PURGE)?\s*;?\s*$",
     lambda io, text, m, exc: _drop_table(
         io, _parts(io, m.group(2)), bool(m.group(1)), bool(m.group(3)))),
    (rf"\s*SHOW\s+MATERIALIZED\s+VIEWS(?:\s+(?:IN|FROM)\s+{_IDENT})?\s*;?\s*$",
     lambda io, text, m, exc: _list(
         io, "MATERIALIZED VIEWS", _parts(io, m.group(1)) if m.group(1) else None)),
    (rf"\s*ALTER\s+TABLE\s+{_IDENT}\s+(.+?)\s*;?\s*$",
     lambda io, text, m, exc: _alter_extension(
         io, _parts(io, m.group(1)), m.group(2), exc)),
    (rf"\s*(EXPLAIN(?:\s+(EXTENDED|FORMATTED))?\s+)?MERGE\s+INTO\s+{_IDENT}"
     r"(?:\s+(?:AS\s+)?(\w+))?\s+(USING)\b", _refused_merge),
    (rf"\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?{_IDENT}",
     _refused_create),
    (rf"\s*(?:DELETE\s+FROM|UPDATE)\s+{_IDENT}\s", _refused_dml),
]
_REFUSED = [(re.compile(p, re.I | re.S), h) for p, h in _REFUSED]


def _refused(io, text: str, exc) -> DataFrame:
    for pattern, handler in _REFUSED:
        m = pattern.match(text)
        if m:
            out = handler(io, text, m, exc)
            if out is not None:
                return out
            break
    raise exc
