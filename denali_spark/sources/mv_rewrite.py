"""Materialized-view query rewrite: answer a matching GROUP BY query from
a maintained rollup instead of scanning the base table(s).

The reference catalog stores table metadata and leaves query planning to
client engines (SURVEY §3.3); this module is the engine-side payoff of the
IVM plane (sources/ivm.py): once a rollup is maintained, every query it
subsumes should cost a summary-table scan — at 100 TB the difference
between re-aggregating a fact table and reading a few thousand
pre-aggregated groups is the whole point of keeping the view.

Rewrite rule (classic rollup reduction): a query
``SELECT keys', aggs' FROM src [JOIN dim ON ...] [WHERE p] GROUP BY keys'``
is answered from MV ``keys, aggs`` over the same source(s) when

- keys' ⊆ keys (re-aggregating the summary coarsens groups exactly:
  COUNT(*) = SUM(n_rows), SUM = SUM of partial sums, COUNT(e) = SUM of
  the maintained indicator sums, MIN/MAX = MIN/MAX of partial extrema;
  keys' = [] is the grand-total reduction, keys-only selects are
  DISTINCT over the summary);
- every query aggregate maps to a maintained column with the SAME
  normalized per-row expression and family (the registry's
  CAST(AGG(...) AS type) exactness idiom is unwrapped per item);
- the WHERE clause either equals the MV's own predicate, or its
  top-level AND conjuncts are the MV's conjuncts plus extras that
  reference ONLY grouping keys the MV carries — per-group filters
  commute with the rollup reduction and are applied to the summary
  scan, where they additionally enable file pruning on the key-sorted
  MV files (predicates with top-level OR must match exactly: AND/OR
  precedence makes flat conjunct treatment unsafe — EXCEPT against an
  unfiltered MV, where a key-only predicate needs no conjunct-subset
  proof and applies wholesale, OR/BETWEEN shapes included);
- a trailing ORDER BY over output columns and/or LIMIT n commute with
  answering from the summary and are reapplied to the rewritten plan;
- a HAVING clause commutes the same way: the post-aggregate filter is
  applied to the re-aggregated summary before ORDER BY/LIMIT, exactly
  where SQL evaluates it. Raw aggregate spellings inside HAVING
  (``HAVING SUM(expr) > 1 AND COUNT(*) < k`` — the portable form, since
  classic SQL does not allow select aliases there) are mapped through
  the SAME maintained-column lookup as select-list aggregates and
  computed as hidden columns of the summary re-aggregation (dropped by
  the final cast-to-base-schema projection) — even when the aggregate
  is NOT in the select list; every remaining identifier must be an
  output column (select alias / grouping key) or the rewrite falls
  back, conservative like the ORDER-BY-non-output rule;
- when SEVERAL maintained MVs subsume the query, the one with the
  fewest current summary rows serves it (the snapshot's total-records
  property — no data read): a GROUP BY k answerable from both a (k, j)
  and a (k) rollup reads the |k|-row summary, not the |k x j| one;
  freshness misses and failed refreshes fall through to the
  next-cheapest subsumer;
- freshness policy allows it (SparkCatalogIO.mv_rewrite):
  'fresh-only' (default) — only when the stored watermark(s) equal the
  sources' current snapshots, so the rewrite is provably the live answer;
  'refresh' — fold the delta first, then rewrite (read-your-writes at
  delta cost); 'stale-ok' — serve the watermark state; with
  io.mv_rewrite_max_staleness_ms set, only when the watermark lags the
  source's current snapshot by at most that many milliseconds (an
  uncomputable lag — watermark snapshot expired from the source
  history — is too-stale by definition, never served under a bound);
  'topup' — serve FRESH from a stale view WITHOUT a refresh commit by
  folding the changelog between the stored watermark(s) and the sources'
  current snapshots into the read-time re-aggregation (the lambda-serving
  shape; join views expand the bilinear rule at delta cost; sum-family
  aggregates always fold, MIN/MAX fold too when the delta window is
  insert-only — a delete could have retired a stored extremum, so
  deleting windows send extrema queries back to the base path);
  'off' — never rewrite.

AVG(expr) IS rewritten when the MV maintains both an exact sum and a
non-null count of the same normalized expression — either a maintained
AVG column (whose hidden `_<c>_sum` / `_<c>_cnt` pair is exactly that)
or an explicit SUM + COUNT pair. The division replicates Spark's own
Average evaluation: the re-aggregated sum is cast back to the partial
sums' storage type (decimal(p+10, s) for a decimal(p, s) expression —
the exact accumulator type the base plan's Average carries, so the
divide rounds at the same scale) and divided by the re-aggregated
non-null count; the final cast-to-base-schema step applies Spark's
result type (decimal(p+4, s+4) / double). Float-typed expressions are
deliberately NOT rewritten — they cannot be maintained at all (the IVM
create path rejects inexact sums, ivm._require_exact_sum_types), and a
recompute's association order could differ, so the lookup miss is the
correct conservative outcome. APPROX_COUNT_DISTINCT stays unrewritten:
HyperLogLog++ is not bit-identical to the maintained datasketches-HLL
estimate, and a transparent rewrite must never change a query's answer.

The emitted plan is cast column-for-column to the BASE plan's analyzed
schema (the base DataFrame is built lazily — analysis only, no jobs), so
a rewritten query is type-identical to the un-rewritten one.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from denali_spark.catalog.client import CatalogHTTPError
from denali_spark.sources.ivm import (
    COUNT_COL,
    JoinRollupSpec,
    _parse_agg_item,
    _sources,
    dependent_materialized_views,
    mv_staleness_lag_ms,
    join_topup_delta,
    rollup_topup_delta,
    mv_watermark_state,
    parse_materialized_view_sql,
    refresh_materialized_view,
    sources_label,
)

MODES = ("off", "fresh-only", "refresh", "stale-ok", "topup")

# identifier-ish tokens allowed in a key-only WHERE besides the keys
# themselves: SQL connectives/predicates that cannot smuggle a non-key
# column reference past the check
_WHERE_KEYWORDS = {
    "and", "or", "not", "in", "between", "like", "is", "null",
    "true", "false", "case", "when", "then", "else", "end",
}


def _norm(sql: str | None) -> str | None:
    """Whitespace-collapsed, keyword-case-insensitive canonical form —
    but string LITERALS keep their case ('Food' != 'food'; lowercasing
    through quotes would match predicates that filter different rows)."""
    if sql is None:
        return None
    s = re.sub(r"\s+", " ", sql.strip())
    parts = re.split(r"('(?:[^']|'')*')", s)
    return "".join(p if i % 2 else p.lower() for i, p in enumerate(parts))


def _conjuncts(where: str) -> list[str] | None:
    """Top-level AND conjuncts of a predicate, or None when flat conjunct
    treatment is unsafe: a top-level OR (AND binds tighter, so splitting
    `A OR B AND C` on AND would misparse) or a top-level BETWEEN (whose
    own AND is part of the predicate — splitting `k BETWEEN 1 AND 5`
    would yield invalid fragments)."""
    from denali_spark.sources.sql_frontend import _find_top_level

    if (_find_top_level(where, "OR") >= 0
            or _find_top_level(where, "BETWEEN") >= 0):
        return None
    out, rest = [], where
    while True:
        i = _find_top_level(rest, "AND")
        if i < 0:
            out.append(rest.strip())
            return out
        out.append(rest[:i].strip())
        rest = rest[i + 3:]


def _match_where(q_where: str | None, m_where: str | None,
                 keys: list[str]) -> tuple[bool, str | None]:
    """Decide whether the query's predicate is answerable from the MV:
    (match, extra_filter). Exact textual match (modulo whitespace/case)
    needs no filter; otherwise the MV's conjuncts must be a subset of the
    query's (AND is commutative) and every extra conjunct must reference
    only grouping keys — those commute with the rollup reduction and are
    applied to the summary scan."""
    if _norm(q_where) == _norm(m_where):
        return True, None
    if q_where is None:
        return False, None  # the MV filters rows the query wants
    if m_where is None and _where_is_key_only(q_where, keys):
        # unfiltered MV + a key-only query predicate: no conjunct subset
        # to prove, so the WHOLE predicate — OR and BETWEEN shapes the
        # conjunct splitter refuses included — applies to the summary
        # (per-group filters commute with the rollup reduction)
        return True, q_where
    q_c = _conjuncts(q_where)
    m_c = _conjuncts(m_where) if m_where is not None else []
    if q_c is None or m_c is None:
        return False, None
    m_set = {_norm(c) for c in m_c}
    if not m_set <= {_norm(c) for c in q_c}:
        return False, None
    extra = [c for c in q_c if _norm(c) not in m_set]
    if not extra:
        return True, None
    if all(_where_is_key_only(c, keys) for c in extra):
        return True, " AND ".join(f"({c})" for c in extra)
    return False, None


def _where_is_key_only(where: str, keys: list[str]) -> bool:
    """Conservative: every identifier token (outside string literals) must
    be a grouping key or a whitelisted SQL keyword — anything else
    (function names, non-key columns) disqualifies the rewrite."""
    masked = re.sub(r"'(?:[^']|'')*'", "''", where)
    keyset = {k.lower() for k in keys}
    for tok in re.findall(r"[A-Za-z_]\w*", masked):
        if tok.lower() not in keyset and tok.lower() not in _WHERE_KEYWORDS:
            return False
    return True


_AGG_CALL = re.compile(r"\b(sum|min|max|count|avg)\s*\(", re.IGNORECASE)


def _extract_agg_calls(text: str) -> list[tuple[int, int, str, str]] | None:
    """Spans of aggregate calls in a post-aggregate predicate as
    (start, end, FN, inner-expr), scanning OUTSIDE string literals with
    balanced-paren matching (the inner expr may nest parens:
    SUM(CAST(x AS DECIMAL(18,2)))). Returns None on unbalanced parens —
    the caller must fall back rather than guess. Aggregates cannot nest
    in a valid HAVING, so spans never overlap."""
    spans: list[tuple[int, int, str, str]] = []
    i, n = 0, len(text)
    while i < n:
        if text[i] == "'":
            j = i + 1
            while j < n:
                if text[j] == "'":
                    if j + 1 < n and text[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            i = j + 1
            continue
        m = _AGG_CALL.match(text, i)
        if m is None:
            i += 1
            continue
        depth, j = 1, m.end()
        while j < n and depth:
            c = text[j]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == "'":
                j += 1
                while j < n and text[j] != "'":
                    j += 1
            j += 1
        if depth:
            return None
        spans.append((m.start(), j, m.group(1).upper(),
                      text[m.end():j - 1].strip()))
        i = j
    return spans


_OUTER_CAST = re.compile(
    r"\s*CAST\s*\((.+)\s+AS\s+(\w+(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)"
    r"\s*\)\s+AS\s+(\w+)\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _parse_query(select_sql: str):
    """Parse a candidate SELECT into (spec, ordered outputs) where outputs
    is [(family, alias, normalized_expr)] in select-list order — family in
    {'key', 'count_star', 'sum', 'count', 'min', 'max'}. Returns None for
    anything outside the rollup-shaped subset (the caller falls back to
    the normal path; this parser REJECTS rather than guesses).

    Two per-item relaxations of the MV parser's rules, both normalized
    away before the strict parse: COUNT(*) may alias freely, and an
    aggregate may wear an outer CAST (the registry's exactness idiom
    `CAST(SUM(DECIMAL) AS DOUBLE)`) — the final cast-to-base-schema step
    reapplies the exact same conversion to the rewritten plan."""
    from denali_spark.sources.sql_frontend import (
        _find_top_level,
        _split_top_level_commas,
    )

    s = select_sql.strip().rstrip(";").strip()
    if not re.match(r"SELECT\s", s, re.IGNORECASE):
        return None
    fpos = _find_top_level(s, "FROM")
    if fpos < 0:
        return None

    # ORDER BY / LIMIT tails: strip before the strict parse, reapply to
    # the rewritten plan (both commute with answering from the summary)
    limit_n = None
    lpos = _find_top_level(s, "LIMIT")
    if lpos >= 0:
        lm = re.fullmatch(r"LIMIT\s+(\d+)\s*", s[lpos:], re.IGNORECASE)
        if not lm:
            return None
        limit_n = int(lm.group(1))
        s = s[:lpos].rstrip()
    order_items = None
    opos = _find_top_level(s, "ORDER")
    if opos >= 0:
        if not re.match(r"ORDER\s+BY\s", s[opos:], re.IGNORECASE):
            return None
        order_items = []
        tail = re.sub(r"^ORDER\s+BY\s+", "", s[opos:], flags=re.IGNORECASE)
        for it in tail.split(","):
            om = re.fullmatch(r"\s*(\w+)(?:\s+(ASC|DESC))?\s*", it,
                              re.IGNORECASE)
            if not om:
                return None
            order_items.append((om.group(1), (om.group(2) or "ASC").upper()))
        s = s[:opos].rstrip()
    # HAVING sits between GROUP BY and the (already stripped) ORDER BY,
    # so it is now the tail; validated against the output names by the
    # caller and reapplied to the re-aggregated summary
    having = None
    hpos = _find_top_level(s, "HAVING")
    if hpos >= 0:
        having = s[hpos + len("HAVING"):].strip()
        if not having:
            return None
        s = s[:hpos].rstrip()

    norm_items: list[str] = []
    outputs: list[tuple[str, str, str | None]] = []
    saw_count_star = False
    for item in _split_top_level_commas(s[len("SELECT"):fpos]):
        cm = _OUTER_CAST.fullmatch(item)
        if cm and _parse_agg_item(f"{cm.group(1)} AS {cm.group(3)}"):
            item = f"{cm.group(1)} AS {cm.group(3)}"
        agg = _parse_agg_item(item)
        if agg is None:
            norm_items.append(item.strip())
            outputs.append(("key", item.strip().split(".")[-1], None))
            continue
        fn, expr, alias = agg
        if fn == "COUNT" and expr == "*":
            if saw_count_star:
                return None
            saw_count_star = True
            norm_items.append(f"COUNT(*) AS {COUNT_COL}")
            outputs.append(("count_star", alias, None))
        else:
            norm_items.append(f"{fn}({expr}) AS {alias}")
            outputs.append((fn.lower(), alias, _norm(expr)))

    normalized_sql = "SELECT " + ", ".join(norm_items) + " " + s[fpos:]
    try:
        spec = parse_materialized_view_sql(
            normalized_sql, ["__q__"], "__q__", allow_global=True
        )
    except (ValueError, KeyError):
        return None
    if spec.ndvs:
        return None  # engine-semantics mismatch — module docstring
    return spec, outputs, having, order_items, limit_n


def _sources_match(q, m) -> bool:
    # the MV's stored ON pairs are schema-resolved; the query's bare pairs
    # may be positionally swapped — match orientation-insensitive
    def on(spec):
        return {frozenset(p) for p in getattr(spec, "on", ())}

    return sources_label(q) == sources_label(m) and on(q) == on(m)


def _agg_lookup(m) -> dict[tuple[str, str], str]:
    """(family, normalized expr) -> maintained MV column. A maintained
    AVG's hidden `_<c>_sum` / `_<c>_cnt` pair registers under the sum /
    count families (setdefault — an explicit SUM/COUNT of the same
    expression wins), so an AVG-only MV can serve SUM, COUNT, and AVG
    queries over the averaged expression."""
    out: dict[tuple[str, str], str] = {}
    for fam, d in (("sum", m.sums), ("count", m.counts),
                   ("min", m.mins), ("max", m.maxs)):
        for col, e in d.items():
            out[(fam, _norm(e))] = col
    for col, e in m.avgs.items():
        out.setdefault(("sum", _norm(e)), f"_{col}_sum")
        out.setdefault(("count", _norm(e)), f"_{col}_cnt")
    return out


def _avg_builder(scol: str, ccol: str):
    """Deferred AVG(expr) re-aggregation over the summary: needs the MV
    scan's schema (the partial-sum storage type) so it binds at serve
    time. Replicates Spark's Average: for decimal partial sums the
    re-aggregated total is cast back to the accumulator type
    (decimal(p+10, s) — F.sum over the summary would widen it, moving
    the divide's rounding scale), then divided by the non-null count;
    integral sums divide as longs (Spark promotes both sides to double,
    exactly the base plan's sum.cast(double)/count.cast(double))."""
    from pyspark.sql.types import DecimalType

    def build(mv_df: DataFrame):
        total = F.sum(F.col(scol))
        dt = mv_df.schema[scol].dataType
        q = total / F.sum(F.col(ccol))
        if isinstance(dt, DecimalType):
            # Spark's Average rounds the quotient to scale s+4 (its
            # decimal result type) BEFORE any outer cast the query may
            # wear (CAST(AVG(..) AS DOUBLE) — the registry idiom); round
            # here at the same scale or that idiom diverges in the last
            # ulps. Precision 38 is only a magnitude cap — the rounding
            # scale is what must match.
            q = (total.cast(dt) / F.sum(F.col(ccol))).cast(
                DecimalType(38, min(dt.scale + 4, 37))
            )
        return q

    return build


def _candidate_mvs(io, q, tables: dict):
    """The MVs that the query's source lists, as (ns, name, spec, metadata)
    (dependent_materialized_views): one load of the source plus one per
    listed MV, whatever the catalog's size, and another client's CREATE or
    DROP shows at once. The source's metadata goes into `tables`, so the
    base path reads it without loading it again. A join query loads only
    its left source, since a matching join MV lists itself on both. A
    source that is not a catalog table (a view, a metadata table, an
    unknown name) has none."""
    ns, name = _sources(q)[0]
    if not ns:
        return []
    try:
        md = io.client.load_table(ns, name)["metadata"]
    except CatalogHTTPError as exc:
        if exc.status != 404:
            raise
        return []
    tables[(*ns, name)] = md
    return dependent_materialized_views(io, ns, name, md=md)


def _mv_row_estimate(mv_md: dict) -> int:
    """Current summary-row count of an MV from its snapshot's standard
    total-records summary property — the cost key for choosing among
    multiple subsuming MVs. Missing evidence sorts LAST (never blocks a
    rewrite, just deprioritizes the unknown-size candidate)."""
    ref = mv_md.get("refs", {}).get("main")
    snap = next(
        (s for s in mv_md.get("snapshots", [])
         if ref and s["snapshot-id"] == ref["snapshot-id"]),
        None,
    )
    try:
        return int((snap or {}).get("summary", {}).get("total-records"))
    except (TypeError, ValueError):
        return 1 << 62


def try_rewrite(io, query: str, base, tables: dict) -> DataFrame | None:
    """Attempt to answer `query` from a maintained MV. Returns the
    rewritten DataFrame (cast to the base plan's schema) or None to fall
    back; sets io.last_mv_rewrite either way so callers and tests can see
    what happened. `base()` is the un-rewritten query, built from the
    statement's parsed plan; `tables` collects the table metadata loaded
    here, for `base` to reuse."""
    io.last_mv_rewrite = None
    mode = getattr(io, "mv_rewrite", "fresh-only")
    if mode not in MODES:
        raise ValueError(f"mv_rewrite must be one of {MODES}, got {mode!r}")
    if mode == "off" or not re.match(r"\s*SELECT\s", query, re.IGNORECASE):
        return None
    parsed = _parse_query(query)
    if parsed is None:
        return None
    q, outputs, having, order_items, limit_n = parsed
    out_names = {alias for _fam, alias, _e in outputs}
    if len(out_names) != len(outputs):
        # duplicate output names are legal Spark SQL but unaddressable by
        # name in the rewritten plan's cast step — base path handles them
        return None
    if order_items is not None and any(
        name not in out_names for name, _dir in order_items
    ):
        return None  # ordering by a non-output expression — fall back
    having_spans = None
    if having is not None:
        having_spans = _extract_agg_calls(having)
        if having_spans is None:
            return None  # unbalanced parens — never guess

    # Phase 1 — MATCH (pure, no side effects): collect every MV that
    # provably subsumes the query. Phase 2 serves from the match with the
    # FEWEST summary rows (the snapshot's total-records): when both a
    # (k, j) and a coarser (k) rollup subsume a GROUP BY k, re-aggregating
    # the coarser one reads |k| rows instead of |k x j| — at 100 TB the
    # summaries differ by orders of magnitude while answering identically.
    # Freshness/refresh checks stay in phase 2 so a fresh-only miss (or a
    # failed refresh) on the cheapest falls through to the next-cheapest.
    matches = []
    for mv_ns, mv_name, m, mv_md in _candidate_mvs(io, q, tables):
        if not _sources_match(q, m):
            continue
        if set(q.group_by) - set(m.group_by):
            continue
        matched, extra_filter = _match_where(q.where, m.where, m.group_by)
        if not matched:
            continue
        lookup = _agg_lookup(m)
        plan = []  # (alias, aggregate column builder over the MV scan)
        # maintained MV column -> its re-aggregation fold (sum|min|max):
        # the topup path re-folds exactly these columns over summary+delta
        used: dict[str, str] = {}
        fams: set[str] = set()  # aggregate families the query asks for
        ok = True
        for fam, alias, nexpr in outputs:
            if fam == "key":
                continue
            if fam == "count_star":
                plan.append((alias, F.sum(COUNT_COL)))
                used[COUNT_COL] = "sum"
            elif fam == "avg":
                scol = lookup.get(("sum", nexpr))
                ccol = lookup.get(("count", nexpr))
                if scol is None or ccol is None:
                    ok = False
                    break
                plan.append((alias, _avg_builder(scol, ccol)))
                used[scol] = used[ccol] = "sum"
            else:
                col = lookup.get((fam, nexpr))
                if col is None:
                    ok = False
                    break
                agg = {"sum": F.sum, "count": F.sum,
                       "min": F.min, "max": F.max}[fam]
                plan.append((alias, agg(F.col(col))))
                used[col] = fam if fam in ("min", "max") else "sum"
            fams.add(fam)
        if not ok:
            continue

        # HAVING: map raw aggregate spellings through the SAME maintained-
        # column lookup (computed as hidden summary aggregates, dropped by
        # the final base-schema projection); whatever identifiers remain
        # must be output columns. Per-MV, because a different candidate
        # may maintain the aggregate this one lacks.
        having_expr = having
        hidden: list[tuple[str, "F.Column", str]] = []
        if having is not None:
            if out_names & {f"__h{i}" for i in range(len(having_spans))}:
                continue  # pathological alias collision — base path
            pieces, last = [], 0
            for idx, (a, b, fn, inner) in enumerate(having_spans):
                if fn == "COUNT" and inner == "*":
                    hcol, hfam = F.sum(COUNT_COL), "count_star"
                    used[COUNT_COL] = "sum"
                elif fn == "AVG":
                    scol = lookup.get(("sum", _norm(inner)))
                    ccol = lookup.get(("count", _norm(inner)))
                    if scol is None or ccol is None:
                        ok = False
                        break
                    hfam = "avg"
                    hcol = _avg_builder(scol, ccol)
                    used[scol] = used[ccol] = "sum"
                else:
                    col = lookup.get((fn.lower(), _norm(inner)))
                    if col is None:
                        ok = False
                        break
                    hfam = fn.lower()
                    hcol = {"sum": F.sum, "count": F.sum,
                            "min": F.min, "max": F.max}[hfam](F.col(col))
                    used[col] = hfam if hfam in ("min", "max") else "sum"
                fams.add(hfam)
                alias = f"__h{idx}"
                hidden.append((alias, hcol, hfam))
                pieces.append(having[last:a])
                pieces.append(alias)
                last = b
            if not ok:
                continue
            pieces.append(having[last:])
            having_expr = "".join(pieces)
            if not _where_is_key_only(
                having_expr, [*out_names, *[h[0] for h in hidden]]
            ):
                continue
        matches.append((_mv_row_estimate(mv_md), len(matches), mv_ns,
                        mv_name, m, mv_md, extra_filter, plan,
                        having_expr, hidden, used, fams))

    # Phase 2 — SERVE, cheapest summary first (listing order breaks ties)
    for (_est, _ord, mv_ns, mv_name, m, mv_md, extra_filter, plan,
         having_expr, hidden, used, fams) in sorted(matches,
                                                    key=lambda t: t[:2]):
        state = mv_watermark_state(io, m, mv_md)
        if state == "invalid":
            # foreign-written / re-pointed: the contents are not the view
            # at ANY snapshot — no mode may serve them (stale-ok promises
            # bounded staleness, not arbitrary data)
            continue
        fresh = state == "fresh"
        if mode == "fresh-only" and not fresh:
            continue
        if mode == "stale-ok" and not fresh:
            # bounded staleness: io.mv_rewrite_max_staleness_ms caps how
            # far behind the live table a served summary may be (the lag
            # between the watermark snapshot and the source's current
            # snapshot, max over join sources). Unset = any watermark
            # state serves (the legacy contract); an UNCOMPUTABLE lag
            # (watermark snapshot expired from the source history) is
            # too-stale by definition, never served under a bound.
            bound = getattr(io, "mv_rewrite_max_staleness_ms", None)
            if bound is not None:
                lag = mv_staleness_lag_ms(io, m, mv_md)
                if lag is None or lag > bound:
                    continue
        # Pin the serve read to the SNAPSHOT the checks above evaluated:
        # freshness / staleness / the topup delta are all judged against
        # mv_md, and a concurrent refresh landing between that load and
        # the read would otherwise serve a NEWER state — benign for a
        # plain summary read, but a topup would DOUBLE-APPLY its delta
        # (watermark->current folded onto an already-refreshed summary).
        # A refresh-mode fold below re-points the pin to its own commit.
        pin = (mv_md.get("refs", {}).get("main") or {}).get("snapshot-id")
        if mode == "refresh" and not fresh:
            try:
                res = refresh_materialized_view(io, mv_ns, mv_name)
                fresh = True
                new_md = (res or {}).get("metadata") or {}
                pin = (new_md.get("refs", {}).get("main") or {}).get(
                    "snapshot-id", None
                )
            except Exception:  # noqa: BLE001 — expired watermark, CAS
                # conflict, foreign write racing us: the refresh failing
                # must degrade a plain SELECT to the base path, never
                # fail it (run_maintenance owns loud refresh errors)
                continue
        topup, topup_rows = None, None
        if mode == "topup" and not fresh:
            # Delta top-up: answer FRESH from the stale summary WITHOUT a
            # refresh commit — fold the changelog between the stored
            # watermark(s) and the sources' current snapshots into the
            # re-aggregation at read time (the lambda-serving shape: the
            # refresh delta math, minus the write; join views expand the
            # bilinear rule ΔR⋈S_new ∪ R_old⋈ΔS the same way). Sum-family
            # aggregates always fold; MIN/MAX fold too when the delta
            # window is INSERT-ONLY (no deletion can have retired a
            # stored extremum — the append-only hot path), and fall
            # through to the next candidate / base path otherwise.
            foldable = {"count_star", "sum", "count", "avg"}
            if fams - (foldable | {"min", "max"}):
                continue
            need_extrema = bool(fams - foldable)
            # Session-level delta cache: a dashboard firing many queries
            # at the same stale view must pay the changelog read ONCE.
            # The key is exact state identity — the view's current
            # snapshot (= its watermark state), every source's current
            # snapshot, and the extrema flag (it changes the delta's
            # columns) — so any commit anywhere mints a new key; the
            # checkpointed blocks of evicted entries are GC-reclaimed.
            if isinstance(m, JoinRollupSpec):
                srcs = [(m.left_namespace, m.left_name),
                        (m.right_namespace, m.right_name)]
            else:
                srcs = [(m.source_namespace, m.source_name)]
            ref = (mv_md.get("refs", {}).get("main") or {})
            key = (
                ".".join([*mv_ns, mv_name]), ref.get("snapshot-id"),
                tuple(
                    io.client.load_table(ns, n)["metadata"]
                    .get("current-snapshot-id") for ns, n in srcs
                ),
                need_extrema,
            )
            cache: dict = getattr(io, "_topup_delta_cache", {})
            hit = cache.get(key)
            if hit is not None:
                topup, topup_rows = hit
            else:
                if isinstance(m, JoinRollupSpec):
                    topup = join_topup_delta(io, m, mv_md,
                                             extrema=need_extrema)
                else:
                    topup = rollup_topup_delta(io, m, mv_md,
                                               extrema=need_extrema)
                if topup is None:  # expired watermark / foreign write
                    continue
                topup = topup.localCheckpoint(eager=False)
                # the count both reports the delta size and materializes
                # the checkpoint the union below (and every later query
                # against this same state) reuses
                topup_rows = topup.count()
                cache[key] = (topup, topup_rows)
                io._topup_delta_cache = dict(list(cache.items())[-8:])
            fresh = True  # watermark state + delta = the live answer

        mv_df = io.read_table(mv_ns, mv_name, snapshot_id=pin)
        if topup is not None:
            # Union the signed delta onto the stored summary and re-fold
            # at the MV grain: groups whose row count folds to zero are
            # dropped (a recompute would never produce them), surviving
            # state is cast back to the MV's committed column types so
            # downstream math (the AVG divide's rounding scale) is
            # byte-identical to serving a freshly-refreshed view.
            schema = {f.name: f.dataType for f in mv_df.schema.fields}
            folds = {COUNT_COL: "sum", **used}
            state_cols = [COUNT_COL,
                          *sorted(c for c in folds if c != COUNT_COL)]
            live = mv_df.select(*m.group_by, *state_cols).unionByName(
                topup.select(*m.group_by, *state_cols)
            )
            fold_fn = {"sum": F.sum, "min": F.min, "max": F.max}
            folded = live.groupBy(*m.group_by).agg(
                *[fold_fn[folds[c]](F.col(c)).alias(c) for c in state_cols]
            ).filter(F.col(COUNT_COL) > 0)
            mv_df = folded.select(
                *m.group_by,
                *[F.col(c).cast(schema[c]).alias(c) for c in state_cols],
            )
        if extra_filter is not None:
            mv_df = mv_df.filter(F.expr(extra_filter))
        if plan or hidden:
            # empty group_by = the grand-total reduction (groupBy() with
            # no columns is Spark's global aggregate). In that one case
            # COUNT-family outputs must coalesce to 0: a global COUNT
            # over zero base rows is 0, but SUM over the (empty) summary
            # is NULL — with grouping keys, empty groups simply do not
            # exist in either plan, so no coalesce applies. Hidden HAVING
            # aggregates ride the same .agg() (HAVING evaluates in the
            # grouping scope) and are dropped by the base-schema
            # projection below; a keys-only select with an aggregate
            # HAVING lands here too — groupBy over the summary keys is
            # exactly its DISTINCT.
            aggs = []
            for (fam, _alias, _e), (name, a) in zip(
                [o for o in outputs if o[0] != "key"], plan
            ):
                if callable(a):  # AVG: binds the MV scan's schema
                    a = a(mv_df)
                if not q.group_by and fam in ("count_star", "count"):
                    a = F.coalesce(a, F.lit(0))
                aggs.append(a.alias(name))
            for name, a, fam in hidden:
                if callable(a):
                    a = a(mv_df)
                if not q.group_by and fam in ("count_star", "count"):
                    a = F.coalesce(a, F.lit(0))
                aggs.append(a.alias(name))
            out = mv_df.groupBy(*q.group_by).agg(*aggs)
        elif q.group_by:
            # pure SELECT DISTINCT keys — the MV's key set IS the answer
            out = mv_df.select(*q.group_by).distinct()
        else:
            continue
        if having_expr is not None:
            # post-aggregate filter over output columns + hidden mapped
            # aggregates: SQL evaluates HAVING after grouping and before
            # ORDER BY/LIMIT — same spot
            out = out.filter(F.expr(having_expr))
            if hidden:
                out = out.drop(*[h[0] for h in hidden])
        # analyze (never execute) the base plan to pin the rewritten
        # result to the exact types the un-rewritten query would carry
        base_df = base()
        if set(base_df.columns) != set(out.columns):
            continue
        out = out.select(
            *[F.col(f.name).cast(f.dataType) for f in base_df.schema.fields]
        )
        if order_items is not None:
            out = out.orderBy(*[
                F.col(name).asc() if d == "ASC" else F.col(name).desc()
                for name, d in order_items
            ])
        if limit_n is not None:
            out = out.limit(limit_n)
        io.last_mv_rewrite = {
            "view": ".".join([*mv_ns, mv_name]),
            "mode": mode,
            "fresh": fresh,
            "reduced": set(m.group_by) != set(q.group_by),
            "filtered": extra_filter is not None,
            "having": having is not None,
            "having_mapped_aggs": len(hidden),
            "candidates": len(matches),
            "topup_delta_rows": topup_rows,
            "summary_rows": None if _est >= (1 << 62) else _est,
        }
        return out
    return None
