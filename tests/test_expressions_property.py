"""Property-based tests (hypothesis) for the scan-expression pruner.

The safety property everything rests on: if `file_might_match(expr, stats)`
returns False, then NO row in a file with those stats can satisfy the
expression. A pruner that drops a matching file silently corrupts reads,
DELETEs, and MERGEs — so it is tested against randomized expressions and
data, with stats derived exactly the way the writer derives them
(min/max/null-count per column). Pure Python, no Spark session needed.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from denali_spark.sources import expressions as E
from tests.fuzz_budget import examples

COLS = ["a", "b"]


def _values():
    return st.one_of(
        st.integers(min_value=-50, max_value=50),
        st.sampled_from(["x", "y", "zz", "q"]),
    )


@st.composite
def exprs(draw, depth=0):
    if depth < 2 and draw(st.booleans()):
        kind = draw(st.sampled_from(["and", "or", "not"]))
        if kind == "not":
            return E.not_(draw(exprs(depth=depth + 1)))
        left, right = draw(exprs(depth=depth + 1)), draw(exprs(depth=depth + 1))
        return E.and_(left, right) if kind == "and" else E.or_(left, right)
    col = draw(st.sampled_from(COLS))
    kind = draw(
        st.sampled_from(
            ["lt", "lt-eq", "gt", "gt-eq", "eq", "not-eq", "in", "not-in",
             "is-null", "not-null"]
        )
    )
    if kind in ("is-null", "not-null"):
        return {"type": kind, "term": col}
    if kind in ("in", "not-in"):
        vals = draw(st.lists(_values(), min_size=1, max_size=4))
        return {"type": kind, "term": col, "values": vals}
    return {"type": kind, "term": col, "value": draw(_values())}


@st.composite
def rows(draw):
    """A small 'file' of rows over columns a (int) and b (str)."""
    n = draw(st.integers(min_value=1, max_value=8))
    out = []
    for _ in range(n):
        out.append(
            {
                "a": draw(st.one_of(st.none(), st.integers(-50, 50))),
                "b": draw(st.one_of(st.none(), st.sampled_from(["x", "y", "zz", "q"]))),
            }
        )
    return out


def _stats(file_rows: list[dict]) -> dict:
    """Derive stats the way _parquet_stats does: min/max over non-null
    values, null-count; column omitted when all-null (no min/max)."""
    stats = {}
    for col in COLS:
        vals = [r[col] for r in file_rows if r[col] is not None]
        nulls = sum(1 for r in file_rows if r[col] is None)
        if vals:
            stats[col] = {"min": min(vals), "max": max(vals), "null-count": nulls}
    return stats


def _eval_leaf(expr: dict, row: dict):
    """SQL three-valued truth of a leaf on one row (None = unknown)."""
    t = expr["type"]
    if t == "true":
        return True
    if t == "false":
        return False
    v = row[expr["term"]]
    if t == "is-null":
        return v is None
    if t == "not-null":
        return v is not None
    if v is None:
        return None
    if t in ("in", "not-in"):
        # SQL: v IN (x, y) ≡ (v = x) OR (v = y); a mixed-type comparison is
        # UNKNOWN, so membership is True on a same-type hit, UNKNOWN if any
        # mixed-type literal is present, else False. NOT IN is its negation.
        same = [x for x in expr["values"] if type(x) is type(v)]
        if v in same:
            member = True
        elif len(same) != len(expr["values"]):
            member = None
        else:
            member = False
        if t == "in":
            return member
        return None if member is None else (not member)
    w = expr["value"]
    if type(v) is not type(w):
        return None  # mixed-type comparison: treat as unknown (never matches)
    return {
        "lt": v < w, "lt-eq": v <= w, "gt": v > w, "gt-eq": v >= w,
        "eq": v == w, "not-eq": v != w,
    }[t]


def _eval(expr: dict, row: dict):
    t = expr["type"]
    if t == "and":
        l, r = _eval(expr["left"], row), _eval(expr["right"], row)
        if l is False or r is False:
            return False
        if l is None or r is None:
            return None
        return True
    if t == "or":
        l, r = _eval(expr["left"], row), _eval(expr["right"], row)
        if l is True or r is True:
            return True
        if l is None or r is None:
            return None
        return False
    if t == "not":
        v = _eval(expr["child"], row)
        return None if v is None else (not v)
    return _eval_leaf(expr, row)


@settings(max_examples=examples(400), deadline=None)
@given(expr=exprs(), file_rows=rows())
def test_pruner_never_drops_a_matching_file(expr, file_rows):
    """THE safety property: pruned file ⇒ no row matches (SQL TRUE)."""
    stats = _stats(file_rows)
    if not E.file_might_match(expr, stats):
        for row in file_rows:
            assert _eval(expr, row) is not True, (
                f"pruned file contains matching row {row}: expr={expr} stats={stats}"
            )


@settings(max_examples=examples(200), deadline=None)
@given(expr=exprs())
def test_normalize_preserves_semantics(expr):
    """normalize() (De Morgan push-down) must not change row-level truth."""
    norm = E.normalize(expr)
    probe_rows = [
        {"a": -50, "b": "x"}, {"a": 0, "b": "q"}, {"a": 50, "b": "zz"},
        {"a": None, "b": "y"}, {"a": 7, "b": None}, {"a": None, "b": None},
    ]
    for row in probe_rows:
        assert _eval(expr, row) == _eval(norm, row)


@settings(max_examples=examples(200), deadline=None)
@given(expr=exprs())
def test_to_spark_sql_total(expr):
    """Lowering to SQL never crashes and always yields a non-empty string."""
    sql = E.to_spark_sql(expr)
    assert isinstance(sql, str) and sql
