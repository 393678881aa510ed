"""Incremental view maintenance (IVM): keep a materialized GROUP BY rollup
of a catalog table current by folding row-level changelog deltas, never
re-aggregating the base table.

The reference catalog stores the snapshot history this derives from
(SURVEY §1.2/§3.2) and leaves incremental consumption to client engines;
`read_changes` (sources/changelog.py) is the derivation and this module is
the canonical consumer: the "maintain the hourly rollup without recomputing
the world" pattern every 100 TB warehouse runs. COUNT(*) and SUM(expr) form
an abelian group under row insert/delete (+x / −x), so the maintained state
is exact under appends, copy-on-write rewrites, merge-on-read deletes, and
compactions alike — AVG is SUM/COUNT at query time (and VAR/STDDEV ride a
second `sums` entry over expr*expr).

Maintained NDV (COUNT DISTINCT) rides the same machinery as a binary
HLL-sketch column per group: the sketch's register state is a pure,
order-insensitive function of the value SET, so on the fold path
new_sketch = hll_union(old_sketch, sketch(net-positive values)) is exact
for the same reason the MIN fold below is (a net-positive tuple's value
certainly exists post-refresh; net-zero tuples leave the value set
unchanged) — verified estimate-identical across one-pass,
union-of-parts, and iterative-fold merge shapes. Deletes route through
the shared targeted rescan. Read estimates with
``F.hll_sketch_estimate(col)``.

MIN/MAX are NOT an abelian group — a deleted minimum needs a group rescan —
so they are maintained by the classic fold + targeted-rescan hybrid, made
exact by multiset cancellation: per (group, tracked-value-tuple) the signed
changelog multiplicity decides the path. A group folds whenever no tuple
has NET-NEGATIVE multiplicity, and the fold takes new_min = MIN(old_min,
MIN over tuples with NET-POSITIVE multiplicity) — provably exact, because
net > 0 means the post-change multiset holds the value at multiplicity
≥ net (it certainly exists after the refresh), net-zero tuples leave the
tracked multiset unchanged and contribute nothing, and the stored extremum
row itself survives (its tuple is net-nonnegative). Folding raw INSERT
rows instead — the pre-round-14 rule — admitted phantom values: a row
inserted and deleted within the same refresh window nets to zero yet its
insert side would have folded a value the post state never contains.
Only groups with a genuine net
removal at some value rescan, reading the SOURCE pinned at the refresh
watermark with manifest min/max pruning on the group keys plus a null-safe
semi-join — bounded by touched-by-delete groups, never a base-table scan.
The payoff of cancellation: pure compactions and the carried (unchanged)
rows of copy-on-write rewrites — which the changelog reports as delete +
identical insert — cancel to net zero, stay on the fold path, and are
then dropped entirely by the zero-delta filter (count AND every sum
delta zero ⇒ the tracked multiset is unchanged), so routine table
maintenance is a watermark-only carry commit, never a rescan stampede
or a rollup rewrite.

Correctness/atomicity contract:
- The refresh watermark (the source snapshot-id the rollup reflects) rides
  the TARGET snapshot's summary — the same `add-snapshot` update that
  commits the data, so a crash anywhere leaves either the old rollup with
  the old watermark or the new rollup with the new one; re-running refresh
  is a no-op or the correct next delta, never a double-apply.
- Refreshes are single-maintainer: the commit CAS-asserts the target's
  parent snapshot and FAILS on a concurrent commit instead of retrying
  (a blind retry would re-apply a delta some other maintainer already
  folded). A foreign write to the target (current snapshot without a
  watermark) invalidates the rollup loudly — rebuild with create_rollup.

Scale shape (100 TB design point):
- Reading the delta costs the CHANGED files only — the changelog diff is
  manifest-driven, so an append-only day costs that day's files, never a
  base-table scan.
- The delta aggregation is partially aggregable (map-side combine) and its
  output is bounded by touched groups, not changed rows.
- The write rewrites only target files whose key ranges can hold a touched
  group (the merge_into manifest min/max prune); an hourly refresh of a
  million-group rollup touching one day rewrites a handful of files and
  carries the rest by reference.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import functions as F

from denali_spark.catalog.client import CatalogHTTPError
from denali_spark.sources import manifests
from denali_spark.sources.catalog_io import MAIN, SparkCatalogIO, split_entries
from denali_spark.sources.changelog import read_changes
from denali_spark.sources.expressions import and_, file_might_match, gt_eq, lt_eq
from denali_spark.sources.row_ops import _commit_cow, _read_candidates, _retrying

WATERMARK_KEY = "ivm.source-snapshot-id"
SOURCE_KEY = "ivm.source-table"
COUNT_COL = "n_rows"
# Rescan key sets at or under this many groups broadcast into the source
# semi-join (the keys are bounded by touched-by-delete groups; the lazy
# localCheckpoint that pins them strips size statistics, so AQE cannot make
# this call itself — the r10 CC lesson).
RESCAN_BROADCAST_GROUPS = 100_000


@dataclass
class RollupSpec:
    """A maintained GROUP BY rollup.

    `sums` maps output columns to per-row SQL expressions over the source
    schema. Expressions must be exact-typed (integer or DECIMAL — the
    registry's float-determinism policy): incremental folding re-orders
    additions, and only exact types make the maintained state bit-equal to
    a from-scratch recompute. `n_rows` (COUNT(*)) is always maintained and
    doubles as the group-liveness counter — a group whose count folds to
    zero is dropped, exactly as a recompute would never produce it.

    `mins`/`maxs` map output columns to per-row expressions maintained as
    MIN/MAX via the fold + targeted-rescan hybrid (module docstring): any
    orderable type works — extrema selection never re-orders arithmetic —
    and NULLs are ignored exactly as a recompute's MIN/MAX would.

    `ndvs` maps output columns to expressions whose per-group DISTINCT
    count is maintained as a binary HLL sketch (integral/string/binary
    expressions — the sketch hash's input domain); read the estimate with
    ``F.hll_sketch_estimate(col)``. Same fold/rescan split as MIN/MAX.
    """

    source_namespace: list[str]
    source_name: str
    target_namespace: list[str]
    target_name: str
    group_by: list[str]
    sums: dict[str, str] = field(default_factory=dict)
    mins: dict[str, str] = field(default_factory=dict)
    maxs: dict[str, str] = field(default_factory=dict)
    ndvs: dict[str, str] = field(default_factory=dict)
    # COUNT(expr) columns: SUM of the expression's IS-NOT-NULL indicator —
    # an integer-typed sum, so it rides the exact abelian fold unchanged
    # (insert adds the indicator, delete subtracts it).
    counts: dict[str, str] = field(default_factory=dict)
    # AVG(expr) columns: maintained as a HIDDEN exact sum (`_<col>_sum`,
    # folded like any other sum) plus a stored derived average recomputed
    # from maintained state at every refresh in the defining query's OWN
    # result type (decimal(p+4, s+4) for decimal expressions, double for
    # integral — _apply_avgs replicates Spark's Average), so a direct
    # SELECT against the summary is type- and value-identical to the
    # recompute. The expression follows the exact-type policy.
    avgs: dict[str, str] = field(default_factory=dict)
    # Optional static row predicate (SQL over source columns). A
    # deterministic per-row filter commutes with every piece of the delta
    # algebra, so it is applied identically to the full aggregate, the
    # changelog delta, and the rescan — the view simply maintains the
    # filtered relation.
    where: str | None = None

    def __post_init__(self) -> None:
        out_cols = [*self.group_by, COUNT_COL, *self.sums, *self.mins,
                    *self.maxs, *self.ndvs, *self.counts, *self.avgs,
                    *_hidden_sums(self), *_hidden_counts(self)]
        dupes = {c for c in out_cols if out_cols.count(c) > 1}
        if dupes:
            raise ValueError(
                f"duplicate rollup output columns (grouping keys count — an "
                f"aggregate alias must not shadow one): {sorted(dupes)}"
            )

    def _qualified_source(self) -> str:
        return ".".join([*self.source_namespace, self.source_name])

    def _tracked_exprs(self) -> list[str]:
        """Expressions whose deletions decide fold vs rescan (dedup'd,
        order-stable: one struct groupBy tracks them all at once)."""
        seen: dict[str, None] = {}
        for e in {**self.mins, **self.maxs, **self.ndvs}.values():
            seen.setdefault(e)
        return list(seen)


def _hidden_sums(spec) -> dict[str, str]:
    return {f"_{c}_sum": e for c, e in spec.avgs.items()}


def _hidden_counts(spec) -> dict[str, str]:
    """AVG's divisor: the NON-NULL count of the averaged expression,
    maintained as an indicator sum exactly like COUNT(expr). SQL AVG
    ignores NULLs — dividing the hidden sum by n_rows (COUNT(*)) would
    dilute the average of any group holding a NULL, so the divisor is
    its own maintained column. Doubles as the MV-rewrite plane's exact
    AVG denominator (mv_rewrite.py)."""
    return {
        f"_{c}_cnt": f"(CASE WHEN ({e}) IS NOT NULL THEN 1 ELSE 0 END)"
        for c, e in spec.avgs.items()
    }


def _count_sums(spec) -> dict[str, str]:
    """COUNT(expr) as a per-row integer indicator sum (exact fold)."""
    return {
        c: f"(CASE WHEN ({e}) IS NOT NULL THEN 1 ELSE 0 END)"
        for c, e in getattr(spec, "counts", {}).items()
    }


def _all_sums(spec) -> dict[str, str]:
    return {**spec.sums, **_count_sums(spec), **_hidden_sums(spec),
            **_hidden_counts(spec)}


def _require_exact_sum_types(empty_df, spec) -> None:
    """Reject float/double SUM/AVG expressions at create time: incremental
    folding re-orders additions, and only exact types (integer/DECIMAL)
    keep the maintained state bit-equal to a from-scratch recompute —
    a float sum would drift and trip verify_materialized_view with false
    alarms. Analysis-only (no job): resolves each expression's type
    against the source schema. COUNT(expr) indicators are integer by
    construction and MIN/MAX/NDV never re-order arithmetic, so only the
    user-supplied sums/avgs are checked."""
    from pyspark.sql.types import DoubleType, FloatType

    bad = []
    for c, e in {**spec.sums, **spec.avgs}.items():
        dt = empty_df.select(F.expr(e).alias("_t")).schema[0].dataType
        if isinstance(dt, (DoubleType, FloatType)):
            bad.append(f"{c}: SUM/AVG({e}) resolves to {dt.simpleString()}")
    if bad:
        raise ValueError(
            "inexact SUM/AVG type(s) in rollup spec — wrap the expression "
            "in CAST(... AS DECIMAL(p,s)) so refolding stays order-"
            "insensitive and rebuild-safe: " + "; ".join(sorted(bad))
        )


def _apply_avgs(df, avgs: dict[str, str]):
    # Divide by the NON-NULL count (_<c>_cnt), not n_rows: SQL AVG ignores
    # NULLs, and a group with cnt=0 has a NULL hidden sum so the stored
    # average is NULL — exactly AVG over an all-NULL group.
    #
    # The division replicates Spark's own Average evaluation so the STORED
    # column carries the type AND value the defining query's AVG analyzes
    # to: for a decimal(p, s) expression the hidden sum's stored type IS
    # the accumulator decimal(p+10, s), the divisor is cast to
    # decimal(20, 0) (Average's count cast), and the quotient is cast to
    # the result type decimal(p+4, s+4) — the same rounding scale
    # mv_rewrite._avg_builder uses on the serve path. Integral averages
    # divide as doubles (sum.cast(double)/count — Average's non-decimal
    # branch). A saturated accumulator (precision 38, expression p > 28)
    # cannot recover p, so the result keeps precision 38 — value-identical
    # at the same scale, precision differs only for 28 < p < 34.
    from pyspark.sql.types import DecimalType

    for c in avgs:
        s, n = F.col(f"_{c}_sum"), F.col(f"_{c}_cnt")
        dt = df.schema[f"_{c}_sum"].dataType
        if isinstance(dt, DecimalType):
            prec = (38 if dt.precision >= 38
                    else min(dt.precision - 10 + 4, 38))
            res = DecimalType(prec, min(dt.scale + 4, 38))
            df = df.withColumn(
                c, (s / n.cast(DecimalType(20, 0))).cast(res))
        else:
            df = df.withColumn(c, s.cast("double") / n)
    return df


def _extrema_aggs(spec: RollupSpec, value_of=None) -> list:
    value_of = value_of or (lambda e: F.expr(e))
    return [
        *[F.min(value_of(e)).alias(c) for c, e in spec.mins.items()],
        *[F.max(value_of(e)).alias(c) for c, e in spec.maxs.items()],
        *[F.hll_sketch_agg(value_of(e)).alias(c) for c, e in spec.ndvs.items()],
    ]


def _aggregate_full(io: SparkCatalogIO, spec: RollupSpec,
                    snapshot_id: int | None = None):
    src = io.read_table(spec.source_namespace, spec.source_name,
                        snapshot_id=snapshot_id)
    if spec.where:
        src = src.filter(F.expr(spec.where))
    agg = src.groupBy(*spec.group_by).agg(
        F.count(F.lit(1)).cast("long").alias(COUNT_COL),
        *[F.sum(F.expr(e)).alias(c) for c, e in _all_sums(spec).items()],
        *_extrema_aggs(spec),
    )
    return _apply_avgs(agg, spec.avgs)


def _key_cond(left: str, right: str, keys: list[str]):
    """Null-safe multi-key equality (NULL group keys are real groups —
    plain `=` would silently leak them past the anti/semi joins)."""
    cond = None
    for k in keys:
        c = F.col(f"{left}.{k}").eqNullSafe(F.col(f"{right}.{k}"))
        cond = c if cond is None else cond & c
    return cond


def _net_tracked_filter(spec) -> "F.Column":
    """Rescan trigger: net-negative AND at least one tracked value
    non-NULL — NULL values can never move MIN/MAX/NDV (a recompute
    ignores them), so a delete of an all-NULL-tracked row must not force
    a pinned source rescan (mostly-NULL tracked columns would otherwise
    rescan on every delete; the fold is provably exact for them)."""
    any_value = None
    for i in range(len(spec._tracked_exprs())):
        c = F.col(f"_vals._v{i}").isNotNull()
        any_value = c if any_value is None else (any_value | c)
    return (F.col("_net") < 0) & any_value


def _extrema_delta_from_net(net, rescan_keys, keys: list[str], spec):
    """Per-group extrema/NDV contributions from the NET tuple relation:
    only tracked tuples with STRICTLY POSITIVE net multiplicity fold —
    net > 0 means the post-state multiset holds the value at multiplicity
    ≥ net, so it provably exists after the refresh. Folding raw insert
    rows (the pre-round-14 rule) admitted PHANTOM values: a row inserted
    and deleted within the same refresh window (or a +/- pair the join
    delta's bilinear terms generate when a dim insert and a fact delete
    land together) nets to zero — its value never exists in the post
    state, yet its insert side passed the old filter. Net-zero tuples
    contribute nothing by definition (the tracked multiset is unchanged)
    and net-negative ones were routed to the rescan."""
    pos = net.filter(F.col("_net") > 0)
    if rescan_keys is not None:
        pos = pos.alias("p").join(
            rescan_keys.alias("rk"), _key_cond("p", "rk", keys), "left_anti"
        )
    idx = {e: i for i, e in enumerate(spec._tracked_exprs())}
    return pos.groupBy(*keys).agg(
        *_extrema_aggs(spec, lambda e: F.col(f"_vals._v{idx[e]}"))
    )


def _attach_extrema(delta, extrema_delta, keys: list[str]):
    """Left-join the net-derived extrema columns onto the count/sum delta
    (null-safe keys; a group with sum-only churn has no positive-net
    tuples and keeps NULL extrema, which MIN/MAX/union ignore exactly as
    a recompute would)."""
    if extrema_delta is None:
        return delta
    joined = delta.alias("d").join(
        extrema_delta.alias("x"), _key_cond("d", "x", keys), "left"
    )
    return joined.select(
        *[F.col(f"d.{c}") for c in delta.columns],
        *[F.col(f"x.{c}") for c in extrema_delta.columns if c not in keys],
    )


def create_rollup(io: SparkCatalogIO, spec: RollupSpec) -> dict:
    """Build the rollup from scratch at the source's CURRENT snapshot and
    commit it (creating the target on demand, sorted by the group keys so
    file min/max stats stay tight for the refresh prune)."""
    src_md = io.client.load_table(spec.source_namespace, spec.source_name)["metadata"]
    src_snap = src_md.get("current-snapshot-id")
    if src_snap is None:
        raise ValueError("source table has no snapshots — nothing to roll up")
    _require_exact_sum_types(io._empty_df(src_md), spec)
    # Pin the build at the watermark snapshot: a source commit racing the
    # initial aggregation must not leak rows the stored watermark does not
    # claim (the same pinning create_join_rollup and verify already do).
    full = _aggregate_full(io, spec, snapshot_id=src_snap)
    res = io.write_table(
        full,
        spec.target_namespace,
        spec.target_name,
        mode="overwrite",
        sort_by=list(spec.group_by),
        summary_extra={
            WATERMARK_KEY: str(src_snap),
            SOURCE_KEY: spec._qualified_source(),
            "ivm.refresh-kind": "full",
        },
    )
    _stamp_spec(io, spec, res["metadata"])
    return {"noop": False, "kind": "full", "source_snapshot_id": src_snap,
            "metadata": res["metadata"]}


def _current_watermark(md: dict, spec: RollupSpec) -> int:
    ref = md.get("refs", {}).get(MAIN)
    if ref is None:
        raise ValueError("rollup table has no snapshots — run create_rollup first")
    snap = next(
        s for s in md.get("snapshots", []) if s["snapshot-id"] == ref["snapshot-id"]
    )
    summary = snap.get("summary", {})
    wm = summary.get(WATERMARK_KEY)
    if wm is None:
        raise ValueError(
            "rollup's current snapshot carries no IVM watermark — a foreign "
            "write invalidated the maintained state; rebuild with create_rollup"
        )
    src = summary.get(SOURCE_KEY)
    if src is not None and src != spec._qualified_source():
        raise ValueError(
            f"rollup is maintained from {src!r}, not {spec._qualified_source()!r}"
        )
    return int(wm)


def refresh_rollup(io: SparkCatalogIO, spec: RollupSpec) -> dict:
    """Fold the source changes committed since the last refresh into the
    rollup: one changelog read over the changed files, one bounded delta
    aggregation, and a copy-on-write commit that rewrites only the target
    files a touched group can live in."""
    tgt_md = io.client.load_table(spec.target_namespace, spec.target_name)["metadata"]
    watermark = _current_watermark(tgt_md, spec)
    src_md = io.client.load_table(spec.source_namespace, spec.source_name)["metadata"]
    src_snap = src_md.get("current-snapshot-id")
    if src_snap == watermark:
        return {"noop": True, "source_snapshot_id": watermark}
    if _replaced_since(src_md, watermark):
        return create_rollup(io, spec)
    _require_live_watermark(src_md, watermark, spec._qualified_source())

    changes = read_changes(
        io, spec.source_namespace, spec.source_name,
        from_snapshot_id=watermark, to_snapshot_id=src_snap,
    )
    if spec.where:
        # rows outside the predicate never existed in the view — their
        # inserts AND deletes are both invisible (the filter is per-row
        # deterministic, so it classifies both sides of a pair identically)
        changes = changes.filter(F.expr(spec.where))
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(F.lit(-1))
    keys = list(spec.group_by)

    # MIN/MAX fold-vs-rescan split (module docstring): a group rescans only
    # if some tracked value-tuple has net-negative changelog multiplicity —
    # compaction / CoW-carry delete+insert pairs cancel to net zero and
    # stay on the (exact) fold path.
    rescan_keys = None
    n_rescan = 0
    extrema_delta = None
    if spec.mins or spec.maxs or spec.ndvs:
        tracked = F.struct(
            *[F.expr(e).alias(f"_v{i}") for i, e in enumerate(spec._tracked_exprs())]
        )
        # lazy checkpoints: plans truncate now, blocks materialize inside
        # the count job below and every later join reuses them (the r10
        # CC idiom); net is reused by BOTH the rescan split and the
        # positive-net extrema fold
        net = changes.groupBy(*keys, tracked.alias("_vals")).agg(
            F.sum(sign).alias("_net")
        ).localCheckpoint(eager=False)
        rescan_keys = (
            net.filter(_net_tracked_filter(spec))
            .select(*keys)
            .distinct()
            .localCheckpoint(eager=False)
        )
        n_rescan = rescan_keys.count()
        if n_rescan == 0:
            rescan_keys = None
        extrema_delta = _extrema_delta_from_net(net, rescan_keys, keys, spec)

    fold_changes = changes
    if rescan_keys is not None:
        fold_changes = changes.alias("ch").join(
            rescan_keys.alias("rk"), _key_cond("ch", "rk", keys), "left_anti"
        )
    delta = fold_changes.groupBy(*keys).agg(
        F.sum(sign).cast("long").alias(COUNT_COL),
        *[F.sum(F.expr(e) * sign).alias(c) for c, e in _all_sums(spec).items()],
    )
    # extrema/NDV fold rides the NET tuple relation (only net>0 values
    # provably exist post-refresh — _extrema_delta_from_net)
    delta = _attach_extrema(delta, extrema_delta, keys)
    rescanned = None
    if rescan_keys is not None:
        # Targeted rescan: re-aggregate ONLY the net-removal groups from the
        # source PINNED at the refresh watermark (a concurrent source commit
        # must not leak future rows into this generation). Manifest min/max
        # pruning on the rescan keys' bounds cuts the file set; the
        # null-safe semi-join is the exact filter.
        rb = rescan_keys.agg(
            *[F.min(k).alias(f"lo_{k}") for k in keys],
            *[F.max(k).alias(f"hi_{k}") for k in keys],
            *[F.count(k).alias(f"nn_{k}") for k in keys],
        ).collect()[0]
        src_where = None
        if all(rb[f"nn_{k}"] == n_rescan for k in keys):
            src_where = and_(
                *[gt_eq(k, rb[f"lo_{k}"]) for k in keys],
                *[lt_eq(k, rb[f"hi_{k}"]) for k in keys],
            )
        src = io.read_table(
            spec.source_namespace, spec.source_name,
            snapshot_id=src_snap, where=src_where,
        )
        if spec.where:
            src = src.filter(F.expr(spec.where))
        probe = (
            F.broadcast(rescan_keys)
            if n_rescan <= RESCAN_BROADCAST_GROUPS
            else rescan_keys
        )
        # a fully-deleted group yields no source rows → no row here → it is
        # dropped, exactly as a recompute would never produce it
        rescanned = (
            src.alias("s")
            .join(probe.alias("rk"), _key_cond("s", "rk", keys), "left_semi")
            .groupBy(*keys)
            .agg(
                F.count(F.lit(1)).cast("long").alias(COUNT_COL),
                *[F.sum(F.expr(e)).alias(c) for c, e in _all_sums(spec).items()],
                *_extrema_aggs(spec),
            )
        )

    res = _fold_delta_commit(
        io, spec.target_namespace, spec.target_name, tgt_md,
        keys=keys, delta=delta, sum_cols=list(_all_sums(spec)),
        avgs=spec.avgs,
        extrema_cols=[*spec.mins, *spec.maxs, *spec.ndvs],
        summary_base={WATERMARK_KEY: str(src_snap),
                      SOURCE_KEY: spec._qualified_source()},
        fold_extra_aggs=[
            *[F.min(F.col(c)).alias(c) for c in spec.mins],
            *[F.max(F.col(c)).alias(c) for c in spec.maxs],
            # binary sketch union: old-state sketches and the delta's
            # insert-side sketches merge register-wise (NULLs ignored)
            *[F.hll_union_agg(F.col(c)).alias(c) for c in spec.ndvs],
        ],
        rescan_keys=rescan_keys, n_rescan=n_rescan, rescanned=rescanned,
    )
    res["source_snapshot_id"] = src_snap
    return res


def _replaced_since(src_md: dict, watermark: int) -> bool:
    """Whether a REPLACE TABLE commit (summary replace=true) lies between
    `watermark` and the source's current snapshot. A replace gives every
    field a new id, so no changelog spans it: the view is rebuilt."""
    by_id = {s["snapshot-id"]: s for s in src_md.get("snapshots", [])}
    cur = src_md.get("current-snapshot-id")
    while cur is not None and cur != watermark and cur in by_id:
        if by_id[cur].get("summary", {}).get("replace") == "true":
            return True
        cur = by_id[cur].get("parent-snapshot-id")
    return False


def _require_live_watermark(src_md: dict, watermark: int, qualified: str) -> None:
    """Incremental refresh derives the changelog from the watermark
    snapshot forward; if snapshot expiry trimmed the source's history past
    it, the delta is underivable — fail with the remedy rather than a
    confusing chain-walk error. (run_maintenance refreshes dependent MVs
    BEFORE expiring, so routine maintenance never lands here.)"""
    if not any(
        s.get("snapshot-id") == watermark for s in src_md.get("snapshots", [])
    ):
        raise ValueError(
            f"{qualified!r} history was expired past the rollup watermark "
            f"({watermark}) — the incremental delta is underivable; rebuild "
            "with create_rollup/create_join_rollup (and refresh before "
            "expiring source snapshots, as run_maintenance does)"
        )
    if _replaced_since(src_md, watermark):
        raise ValueError(
            f"{qualified!r} was replaced after the rollup watermark "
            f"({watermark}) — no changelog spans a REPLACE TABLE; REFRESH "
            "rebuilds the view"
        )


def _fold_delta_commit(
    io: SparkCatalogIO,
    namespace: list[str],
    name: str,
    tgt_md: dict,
    *,
    keys: list[str],
    delta,
    sum_cols: list[str],
    summary_base: dict[str, str],
    fold_extra_aggs: list = (),
    avgs: dict[str, str] | None = None,
    extrema_cols: list[str] = (),
    rescan_keys=None,
    n_rescan: int = 0,
    rescanned=None,
) -> dict:
    """The shared fold-and-commit tail of every IVM refresh: bound the
    touched groups, prune the target's data files to the candidates that
    might hold one, re-aggregate candidates ∪ delta (optionally excluding
    and replacing rescanned groups), and commit one copy-on-write snapshot
    carrying the untouched files by reference with the watermark(s) riding
    its summary. A zero-group delta becomes a watermark-only carry commit."""
    # Pure-churn groups (compaction / CoW carry rows whose delete+insert
    # pairs cancelled): a fold-path group whose count AND every sum delta
    # are zero carries no maintained-state change — with extrema/NDV
    # tracking the rescan split already proved net-NONNEGATIVE tuple
    # multiplicities, and a zero row-count delta then forces ins(v) ==
    # del(v) per tracked tuple (the tracked multiset is unchanged), so
    # dropping the row is exact. A pure source compaction thus becomes a
    # watermark-only carry commit instead of a full-candidate rewrite
    # (the join path gets the same effect from _precancelled_changes).
    # The multiset-unchanged argument has one exception: a net-negative
    # all-NULL-tracked tuple is exempt from rescan (_net_tracked_filter —
    # NULLs can't move extrema), so a NULL-tracked delete CAN cancel the
    # row count of an insert carrying a new extremum; the attached
    # extrema/NDV columns therefore also gate the drop — only a row whose
    # tracked deltas are all NULL is provably pure churn.
    zero = F.col(COUNT_COL) == 0
    for c in sum_cols:
        zero = zero & (F.coalesce(F.col(c), F.lit(0)) == 0)
    for c in extrema_cols:
        zero = zero & F.col(c).isNull()
    # lazy checkpoint: the touched-group bounds aggregate below AND the
    # final fold union both consume the delta — without the truncation
    # each would re-run the changelog scan + delta aggregation
    delta = delta.filter(~zero).localCheckpoint(eager=False)

    # One bounded agg over the touched groups (fold delta ∪ rescan keys)
    # drives the target file prune — the merge_into idiom. NULL group keys
    # fall outside min/max stats, so any NULL-keyed touched group disables
    # pruning (conservative: every data file becomes a rewrite candidate).
    touched = delta.select(*keys)
    if rescan_keys is not None:
        touched = touched.unionByName(rescan_keys)  # disjoint by anti-join
    bounds = touched.agg(
        F.count(F.lit(1)).alias("groups"),
        *[F.min(k).alias(f"lo_{k}") for k in keys],
        *[F.max(k).alias(f"hi_{k}") for k in keys],
        *[F.count(k).alias(f"nn_{k}") for k in keys],
    ).collect()[0]

    ref = tgt_md["refs"][MAIN]
    parent_id = ref["snapshot-id"]
    snap = next(s for s in tgt_md["snapshots"] if s["snapshot-id"] == parent_id)
    data, deletes = split_entries(manifests.read_manifest_list(snap["manifest-list"]))

    if bounds["groups"] == 0:
        # Net-zero change set (e.g. the range held only compactions whose
        # delete+insert pairs cancel before grouping — or no row changes at
        # all): advance the watermark in a carry-everything commit so the
        # next refresh never re-walks this history.
        res = _commit_cow(
            io, namespace, name, tgt_md, parent_id, data + deletes, "replace",
            {**summary_base, "ivm.refresh-kind": "watermark-only"},
        )
        return {"noop": False, "kind": "watermark-only", "delta_groups": 0,
                "rewritten_files": 0, "carried_files": len(data),
                "rescanned_groups": 0, "metadata": res["metadata"]}

    prunable = all(bounds[f"nn_{k}"] == bounds["groups"] for k in keys)
    if prunable:
        prune = and_(
            *[gt_eq(k, bounds[f"lo_{k}"]) for k in keys],
            *[lt_eq(k, bounds[f"hi_{k}"]) for k in keys],
        )
        candidates = [e for e in data if file_might_match(prune, e.get("stats"))]
    else:
        candidates = list(data)
    cand_paths = {e["path"] for e in candidates}
    untouched = [e for e in data if e["path"] not in cand_paths] + deletes

    pieces = [delta]
    if candidates:
        # A rollup holds exactly one row per group, so the candidate set —
        # every file whose stats admit a touched key — contains ALL state
        # for every touched group; re-aggregating candidates ∪ delta and
        # carrying the rest by reference is exact.
        old_state = _read_candidates(io, tgt_md, parent_id, candidates)
        if avgs:
            # stored derived averages are not foldable — drop and
            # recompute from the folded hidden sums below
            old_state = old_state.drop(*avgs)
        if rescan_keys is not None:
            # rescanned groups are recomputed wholesale from the source —
            # their stale stored rows must not feed the fold
            old_state = old_state.alias("os").join(
                rescan_keys.alias("rk"), _key_cond("os", "rk", keys), "left_anti"
            )
        pieces.append(old_state)
    combined = pieces[0]
    for p in pieces[1:]:
        combined = combined.unionByName(p)
    folded = combined.groupBy(*keys).agg(
        F.sum(COUNT_COL).cast("long").alias(COUNT_COL),
        *[F.sum(F.col(c)).alias(c) for c in sum_cols],
        *fold_extra_aggs,
    ).filter(F.col(COUNT_COL) > 0)
    if rescanned is not None:
        folded = folded.unionByName(rescanned)
    target_fields = io._empty_df(tgt_md).schema
    if avgs:
        # The fold's F.sum widened the hidden sums past their committed
        # accumulator type; cast back BEFORE the derived-average divide so
        # the quotient rounds at the same scale as the build path (and the
        # defining query's own Average).
        committed = {f.name: f.dataType for f in target_fields.fields}
        for c in avgs:
            sc = f"_{c}_sum"
            if sc in committed:
                folded = folded.withColumn(sc, F.col(sc).cast(committed[sc]))
        folded = _apply_avgs(folded, avgs)
    # Pin the refresh output to the target's committed schema: repeated
    # folding must not creep decimal precision between generations.
    folded = folded.select(
        *[F.col(f.name).cast(f.dataType) for f in target_fields]
    ).sortWithinPartitions(*keys)

    from denali_spark.sources.row_ops import _write_rewritten

    new_files = _write_rewritten(io, folded, tgt_md)
    try:
        res = _commit_cow(
            io, namespace, name, tgt_md, parent_id,
            untouched + new_files, "overwrite",
            {**summary_base, "ivm.refresh-kind": "incremental",
             "ivm.rewritten-data-files": str(len(candidates)),
             "ivm.rescanned-groups": str(n_rescan)},
        )
    except CatalogHTTPError as exc:
        if exc.status == 409:
            raise RuntimeError(
                "concurrent commit on the rollup during refresh — IVM "
                "refreshes are single-maintainer; re-run the refresh "
                "against the new state"
            ) from exc
        raise
    return {"noop": False, "kind": "incremental",
            "delta_groups": int(bounds["groups"]), "rescanned_groups": n_rescan,
            "rewritten_files": len(candidates), "carried_files": len(untouched),
            "metadata": res["metadata"]}


# ---------------------------------------------------------------------------
# Join-view IVM: a maintained GROUP BY over fact ⋈ dim
# ---------------------------------------------------------------------------

LEFT_WATERMARK_KEY = "ivm.left-snapshot-id"
RIGHT_WATERMARK_KEY = "ivm.right-snapshot-id"
LEFT_SOURCE_KEY = "ivm.left-table"
RIGHT_SOURCE_KEY = "ivm.right-table"
WEIGHT_COL = "_ivm_w"


@dataclass
class JoinRollupSpec:
    """A maintained GROUP BY rollup over ``left INNER JOIN right`` on
    equi-keys — the star-schema "sales by region" view every warehouse
    keeps hot.

    The maintenance rule is the bilinear delta expansion over signed
    multisets:

        Δ(R ⋈ S) = ΔR ⋈ S_new  ∪  R_old ⋈ ΔS

    (expand (R_old+ΔR)⋈(S_old+ΔS) and cancel — the cross term ΔR⋈ΔS is
    absorbed by joining ΔR against the NEW right snapshot). Both deltas
    are PRE-CANCELLED per full row tuple before joining, so a compaction
    or CoW rewrite of either source — whose changelog is delete +
    identical insert — nets to an empty delta BEFORE it can fan out
    through the join, and the refresh degrades to a watermark-only carry.

    The expensive direction, a dim-side change, never re-scans the fact:
    R_old (time-travel-pinned at the left watermark) is manifest-pruned to
    the files whose join-key ranges can meet ΔS's keys, and the join
    itself is the exact filter — cost bounded by fact rows referencing
    CHANGED dim keys, not the fact table.

    `group_by` and `sums` expressions are evaluated over the joined
    relation (left columns + right columns minus the right join keys);
    non-key column names must be disjoint across the two sources. Sums
    follow the exact-type (integer/DECIMAL) policy of `RollupSpec`.

    MIN/MAX/NDV (round 14) ride the same fold + targeted-rescan hybrid as
    the single-table spec, threaded through the join delta: the bilinear
    expansion yields the joined relation's EXACT signed multiset, so the
    per-(group, tracked-tuple) net-multiplicity test transfers verbatim —
    net-nonnegative groups fold extrema over positive-weight delta rows
    (each such row exists in the post-state joined relation), and only
    net-removal groups re-join the two sources PINNED at the new
    watermarks, key-pruned on the fact side and filtered by an exact
    semi-join on the touched groups.
    """

    left_namespace: list[str]
    left_name: str
    right_namespace: list[str]
    right_name: str
    on: list[tuple[str, str]]
    target_namespace: list[str]
    target_name: str
    group_by: list[str]
    sums: dict[str, str] = field(default_factory=dict)
    mins: dict[str, str] = field(default_factory=dict)
    maxs: dict[str, str] = field(default_factory=dict)
    ndvs: dict[str, str] = field(default_factory=dict)
    counts: dict[str, str] = field(default_factory=dict)
    # AVG over joined columns — the same hidden-sum + derived-average
    # mechanism as RollupSpec.avgs.
    avgs: dict[str, str] = field(default_factory=dict)
    # Optional static row predicate over the JOINED columns — applied
    # post-join to the full aggregate and to both delta terms (per-row
    # determinism makes it commute with the bilinear expansion).
    where: str | None = None

    def __post_init__(self) -> None:
        out_cols = [*self.group_by, COUNT_COL, *self.sums, *self.mins,
                    *self.maxs, *self.ndvs, *self.counts, *self.avgs,
                    *_hidden_sums(self), *_hidden_counts(self)]
        dupes = {c for c in out_cols if out_cols.count(c) > 1}
        if dupes:
            raise ValueError(
                f"duplicate rollup output columns (grouping keys count — an "
                f"aggregate alias must not shadow one): {sorted(dupes)}"
            )
        if not self.on:
            raise ValueError("join rollup needs at least one equi-join key pair")
        if self.left_name == self.right_name:
            raise ValueError(
                f"join sources share the table name {self.left_name!r} — ON "
                "qualifiers resolve to both sides; register one side under a "
                "distinct name before maintaining a join rollup"
            )

    _tracked_exprs = RollupSpec._tracked_exprs

    def _qualified_left(self) -> str:
        return ".".join([*self.left_namespace, self.left_name])

    def _qualified_right(self) -> str:
        return ".".join([*self.right_namespace, self.right_name])


def _joined(left, right, spec: JoinRollupSpec):
    """INNER equi-join projecting left columns + right non-key columns.
    Plain `=` on the keys — NULL join keys never match, exactly the view's
    semantics — and a loud error on ambiguous non-key column names."""
    right_keys = {rk for _, rk in spec.on}
    left_cols = [c for c in left.columns if c != WEIGHT_COL]
    right_cols = [c for c in right.columns if c not in right_keys and c != WEIGHT_COL]
    clash = sorted(set(left_cols) & set(right_cols))
    if clash:
        raise ValueError(
            f"ambiguous column names across join sides: {clash} — rename "
            "before maintaining a join rollup"
        )
    cond = None
    for lk, rk in spec.on:
        c = left[lk] == right[rk]
        cond = c if cond is None else cond & c
    keep = [left[c] for c in left.columns] + [
        right[c] for c in right.columns if c not in right_keys
    ]
    return left.join(right, cond, "inner").select(*keep)


def _aggregate_join_full(io: SparkCatalogIO, spec: JoinRollupSpec,
                         left_snapshot_id: int | None = None,
                         right_snapshot_id: int | None = None):
    left = io.read_table(spec.left_namespace, spec.left_name,
                         snapshot_id=left_snapshot_id)
    right = io.read_table(spec.right_namespace, spec.right_name,
                          snapshot_id=right_snapshot_id)
    joined = _joined(left, right, spec)
    if spec.where:
        joined = joined.filter(F.expr(spec.where))
    agg = joined.groupBy(*spec.group_by).agg(
        F.count(F.lit(1)).cast("long").alias(COUNT_COL),
        *[F.sum(F.expr(e)).alias(c) for c, e in _all_sums(spec).items()],
        *_extrema_aggs(spec),
    )
    return _apply_avgs(agg, spec.avgs)


def _resolve_join_on(spec: JoinRollupSpec, left_cols: list[str],
                     right_cols: list[str]) -> None:
    """Validate every ON pair against the actual schemas (the SQL parser
    assumes bare `ON a = b` operands are positional — a swapped pair that
    happens to name real columns on the wrong sides would silently misjoin).
    A pair that only resolves swapped is corrected in place; a pair that
    resolves neither way is rejected with both column lists."""
    ls, rs = set(left_cols), set(right_cols)
    fixed = []
    for lk, rk in spec.on:
        if lk in ls and rk in rs:
            fixed.append((lk, rk))
        elif rk in ls and lk in rs:
            fixed.append((rk, lk))
        else:
            raise ValueError(
                f"join condition {lk} = {rk} does not resolve: left "
                f"{spec._qualified_left()} has {sorted(ls)}, right "
                f"{spec._qualified_right()} has {sorted(rs)}"
            )
    spec.on = fixed


def create_join_rollup(io: SparkCatalogIO, spec: JoinRollupSpec) -> dict:
    """Build the join rollup from scratch at both sources' CURRENT
    snapshots and commit it with both watermarks riding the summary."""
    l_md = io.client.load_table(spec.left_namespace, spec.left_name)["metadata"]
    r_md = io.client.load_table(spec.right_namespace, spec.right_name)["metadata"]
    l_snap, r_snap = l_md.get("current-snapshot-id"), r_md.get("current-snapshot-id")
    if l_snap is None or r_snap is None:
        raise ValueError("both join sources need at least one snapshot")
    l_empty, r_empty = io._empty_df(l_md), io._empty_df(r_md)
    _resolve_join_on(spec, l_empty.columns, r_empty.columns)
    _require_exact_sum_types(_joined(l_empty, r_empty, spec), spec)
    full = _aggregate_join_full(io, spec, l_snap, r_snap)
    res = io.write_table(
        full, spec.target_namespace, spec.target_name, mode="overwrite",
        sort_by=list(spec.group_by),
        summary_extra={
            LEFT_WATERMARK_KEY: str(l_snap), RIGHT_WATERMARK_KEY: str(r_snap),
            LEFT_SOURCE_KEY: spec._qualified_left(),
            RIGHT_SOURCE_KEY: spec._qualified_right(),
            "ivm.refresh-kind": "full",
        },
    )
    _stamp_spec(io, spec, res["metadata"])
    return {"noop": False, "kind": "full", "left_snapshot_id": l_snap,
            "right_snapshot_id": r_snap, "metadata": res["metadata"]}


def _join_watermarks(md: dict, spec: JoinRollupSpec) -> tuple[int, int]:
    ref = md.get("refs", {}).get(MAIN)
    if ref is None:
        raise ValueError("rollup table has no snapshots — run create_join_rollup first")
    snap = next(
        s for s in md.get("snapshots", []) if s["snapshot-id"] == ref["snapshot-id"]
    )
    summary = snap.get("summary", {})
    lw, rw = summary.get(LEFT_WATERMARK_KEY), summary.get(RIGHT_WATERMARK_KEY)
    if lw is None or rw is None:
        raise ValueError(
            "rollup's current snapshot carries no IVM watermarks — a foreign "
            "write invalidated the maintained state; rebuild with "
            "create_join_rollup"
        )
    for key, want in ((LEFT_SOURCE_KEY, spec._qualified_left()),
                      (RIGHT_SOURCE_KEY, spec._qualified_right())):
        got = summary.get(key)
        if got is not None and got != want:
            raise ValueError(f"rollup is maintained from {got!r}, not {want!r}")
    return int(lw), int(rw)


def _precancelled_changes(io: SparkCatalogIO, namespace: list[str], name: str,
                          from_id: int, to_id: int):
    """Signed changelog rows collapsed per full row tuple into a net WEIGHT
    column (≠ 0 rows only): compaction / CoW-carry delete+insert pairs
    vanish HERE, before any join can fan them out. The weight multiplies
    through the bilinear delta exactly (multiset linearity)."""
    changes = read_changes(io, namespace, name, from_snapshot_id=from_id,
                           to_snapshot_id=to_id)
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(F.lit(-1))
    cols = [c for c in changes.columns
            if c not in ("_change_type", "_change_ordinal", "_commit_snapshot_id")]
    return (
        changes.groupBy(*cols)
        .agg(F.sum(sign).cast("long").alias(WEIGHT_COL))
        .filter(F.col(WEIGHT_COL) != 0)
    )


def _rescan_join_groups(io: SparkCatalogIO, spec: JoinRollupSpec, l_md: dict,
                        rescan_keys, n_rescan: int, l_cur: int, r_cur: int):
    """Recompute the net-removal groups wholesale from the two sources
    PINNED at the new watermarks: the fact read is manifest-pruned to the
    rescan keys' bounds on whichever group keys the fact side owns, the
    (small) dim side is read whole, and the exact filter is a broadcast
    semi-join on the touched groups AFTER the join — cost bounded by fact
    rows in touched-by-removal groups, never a fact-table re-aggregation."""
    keys = list(spec.group_by)
    left_cols = set(io._empty_df(l_md).columns)
    l_keys = [k for k in keys if k in left_cols]
    src_where = None
    if l_keys:
        rb = rescan_keys.agg(
            *[F.min(k).alias(f"lo_{k}") for k in l_keys],
            *[F.max(k).alias(f"hi_{k}") for k in l_keys],
            *[F.count(k).alias(f"nn_{k}") for k in l_keys],
        ).collect()[0]
        if all(rb[f"nn_{k}"] == n_rescan for k in l_keys):
            src_where = and_(
                *[gt_eq(k, rb[f"lo_{k}"]) for k in l_keys],
                *[lt_eq(k, rb[f"hi_{k}"]) for k in l_keys],
            )
    left = io.read_table(spec.left_namespace, spec.left_name,
                         snapshot_id=l_cur, where=src_where)
    right = io.read_table(spec.right_namespace, spec.right_name,
                          snapshot_id=r_cur)
    joined = _joined(left, right, spec)
    if spec.where:
        joined = joined.filter(F.expr(spec.where))
    probe = (
        F.broadcast(rescan_keys)
        if n_rescan <= RESCAN_BROADCAST_GROUPS
        else rescan_keys
    )
    return (
        joined.alias("s")
        .join(probe.alias("rk"), _key_cond("s", "rk", keys), "left_semi")
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).cast("long").alias(COUNT_COL),
            *[F.sum(F.expr(e)).alias(c) for c, e in _all_sums(spec).items()],
            *_extrema_aggs(spec),
        )
    )


def refresh_join_rollup(io: SparkCatalogIO, spec: JoinRollupSpec) -> dict:
    """Fold both sources' changes since the last refresh into the join
    rollup via Δ(R⋈S) = ΔR⋈S_new ∪ R_old⋈ΔS — changed files only on the
    delta sides, a key-pruned pinned-snapshot read on R_old, and the same
    candidate-pruned copy-on-write commit as the single-table refresh."""
    tgt_md = io.client.load_table(spec.target_namespace, spec.target_name)["metadata"]
    lw, rw = _join_watermarks(tgt_md, spec)
    l_md = io.client.load_table(spec.left_namespace, spec.left_name)["metadata"]
    r_md = io.client.load_table(spec.right_namespace, spec.right_name)["metadata"]
    l_cur, r_cur = l_md.get("current-snapshot-id"), r_md.get("current-snapshot-id")
    if l_cur == lw and r_cur == rw:
        return {"noop": True, "left_snapshot_id": lw, "right_snapshot_id": rw}

    if _replaced_since(l_md, lw) or _replaced_since(r_md, rw):
        return create_join_rollup(io, spec)
    keys = list(spec.group_by)
    w = F.col(WEIGHT_COL)
    terms = []
    if l_cur != lw:
        _require_live_watermark(l_md, lw, spec._qualified_left())
    if r_cur != rw:
        _require_live_watermark(r_md, rw, spec._qualified_right())
    if l_cur != lw:
        d_left = _precancelled_changes(io, spec.left_namespace, spec.left_name,
                                       lw, l_cur)
        s_new = io.read_table(spec.right_namespace, spec.right_name,
                              snapshot_id=r_cur)
        t1 = _joined(d_left, s_new, spec)
        if spec.where:
            t1 = t1.filter(F.expr(spec.where))
        terms.append(t1)
    if r_cur != rw:
        d_right = _precancelled_changes(io, spec.right_namespace,
                                        spec.right_name, rw, r_cur)
        # NULL right keys never join — drop them so the key bounds below
        # are always well-defined (and the fact read always prunable).
        # Lazy checkpoint: the bounds collect and the t2 join both read
        # this delta — truncate so the dim changelog scans once.
        for _, rk in spec.on:
            d_right = d_right.filter(F.col(rk).isNotNull())
        d_right = d_right.localCheckpoint(eager=False)
        rb = d_right.agg(
            F.count(F.lit(1)).alias("n"),
            *[F.min(rk).alias(f"lo_{rk}") for _, rk in spec.on],
            *[F.max(rk).alias(f"hi_{rk}") for _, rk in spec.on],
        ).collect()[0]
        if rb["n"] > 0:
            left_where = and_(
                *[gt_eq(lk, rb[f"lo_{rk}"]) for lk, rk in spec.on],
                *[lt_eq(lk, rb[f"hi_{rk}"]) for lk, rk in spec.on],
            )
            r_old = io.read_table(spec.left_namespace, spec.left_name,
                                  snapshot_id=lw, where=left_where)
            t2 = _joined(r_old, d_right, spec)
            if spec.where:
                t2 = t2.filter(F.expr(spec.where))
            terms.append(t2)

    rescan_keys, n_rescan, rescanned = None, 0, None
    if terms:
        delta_rows = terms[0]
        for t in terms[1:]:
            delta_rows = delta_rows.unionByName(t)
        extrema_delta = None
        if spec._tracked_exprs():
            # Extrema/NDV over a join (round 14): the bilinear expansion is
            # the joined relation's EXACT signed multiset, so the single-
            # table net-multiplicity test applies unchanged — per (group,
            # tracked tuple) the NET weight decides fold vs rescan, and
            # only net>0 tuples feed the extrema fold (a dim insert plus a
            # fact delete in one window generates +/- pairs across the two
            # bilinear terms whose values never exist in the post state —
            # _extrema_delta_from_net).
            tracked = F.struct(*[
                F.expr(e).alias(f"_v{i}")
                for i, e in enumerate(spec._tracked_exprs())
            ])
            net = delta_rows.groupBy(*keys, tracked.alias("_vals")).agg(
                F.sum(w).alias("_net")
            ).localCheckpoint(eager=False)
            rescan_keys = (
                net.filter(_net_tracked_filter(spec))
                .select(*keys)
                .distinct()
                .localCheckpoint(eager=False)
            )
            n_rescan = rescan_keys.count()
            if n_rescan == 0:
                rescan_keys = None
            extrema_delta = _extrema_delta_from_net(net, rescan_keys, keys, spec)
        fold_rows = delta_rows
        if rescan_keys is not None:
            fold_rows = delta_rows.alias("ch").join(
                rescan_keys.alias("rk"), _key_cond("ch", "rk", keys), "left_anti"
            )
        delta = fold_rows.groupBy(*keys).agg(
            F.sum(w).cast("long").alias(COUNT_COL),
            *[F.sum(F.expr(e) * w).alias(c)
              for c, e in _all_sums(spec).items()],
        )
        delta = _attach_extrema(delta, extrema_delta, keys)
        if rescan_keys is not None:
            rescanned = _rescan_join_groups(
                io, spec, l_md, rescan_keys, n_rescan, l_cur, r_cur
            )
    else:
        # both deltas pre-cancelled to nothing — synthesize an empty delta
        # so the shared tail takes the watermark-only path
        delta = _aggregate_join_full(io, spec, l_cur, r_cur).limit(0)

    res = _fold_delta_commit(
        io, spec.target_namespace, spec.target_name, tgt_md,
        keys=keys, delta=delta, sum_cols=list(_all_sums(spec)),
        avgs=spec.avgs,
        extrema_cols=[*spec.mins, *spec.maxs, *spec.ndvs],
        summary_base={
            LEFT_WATERMARK_KEY: str(l_cur), RIGHT_WATERMARK_KEY: str(r_cur),
            LEFT_SOURCE_KEY: spec._qualified_left(),
            RIGHT_SOURCE_KEY: spec._qualified_right(),
        },
        fold_extra_aggs=[
            *[F.min(F.col(c)).alias(c) for c in spec.mins],
            *[F.max(F.col(c)).alias(c) for c in spec.maxs],
            *[F.hll_union_agg(F.col(c)).alias(c) for c in spec.ndvs],
        ],
        rescan_keys=rescan_keys, n_rescan=n_rescan, rescanned=rescanned,
    )
    res["left_snapshot_id"] = l_cur
    res["right_snapshot_id"] = r_cur
    return res


# ---------------------------------------------------------------------------
# SQL surface: CREATE/REFRESH MATERIALIZED VIEW (io.sql routes here)
# ---------------------------------------------------------------------------

SPEC_PROPERTY = "ivm.spec"
# `ivm.dependent.<ns.mv>` on a source table lists one MV that reads it
DEPENDENT_PREFIX = "ivm.dependent."


def _parse_agg_item(item: str):
    import re

    m = re.match(
        r"\s*(COUNT|SUM|AVG|MIN|MAX|APPROX_COUNT_DISTINCT)"
        r"\s*\((.*)\)\s+AS\s+(\w+)\s*$",
        item, re.IGNORECASE | re.DOTALL,
    )
    if not m:
        return None
    expr = m.group(2).strip()
    # the greedy capture spans sibling aggregates in items like
    # "SUM(a) + SUM(b) AS total" — a well-formed single-aggregate
    # argument never closes more parens than it opened
    depth = 0
    for ch in expr:
        depth += ch == "("
        depth -= ch == ")"
        if depth < 0:
            return None
    if depth != 0:
        return None
    return m.group(1).upper(), expr, m.group(3)


def _strip_qualifier(col: str, tables: list[str]) -> str:
    """Strip a leading `<table>.` qualifier when it names one of the FROM
    tables (by last name component); anything else must be a bare column."""
    parts = col.split(".")
    if len(parts) == 2 and parts[0] in tables:
        return parts[1]
    if len(parts) == 1:
        return col
    raise ValueError(
        f"cannot resolve qualified column {col!r} — qualify with the table "
        f"name ({'/'.join(tables)}) or use bare column names"
    )


def parse_materialized_view_sql(
    select_sql: str, target_namespace: list[str], target_name: str,
    allow_global: bool = False,
) -> "RollupSpec | JoinRollupSpec":
    """Parse the maintainable-SQL subset into a rollup spec:

        SELECT <keys and aggregates> FROM ns.t
          [[INNER] JOIN ns.d ON t.k = d.k [AND ...]]
        GROUP BY <keys>

    Aggregates: COUNT(*) AS n_rows (optional — always maintained), SUM /
    AVG / MIN / MAX (expr) AS alias (AVG rides a hidden exact sum and a
    derived average), APPROX_COUNT_DISTINCT(expr) AS alias (the
    maintained-HLL NDV; single-table only). Join views take COUNT/SUM/AVG only
    (module docstring: extrema rescans over a join are a different cost
    class). A WHERE clause becomes the spec's static row predicate —
    deterministic per-row filters commute with the whole delta algebra.
    """
    import re

    from denali_spark.sources.sql_frontend import (
        _find_top_level,
        _split_top_level_commas,
    )

    s = select_sql.strip().rstrip(";").strip()
    if not re.match(r"SELECT\s", s, re.IGNORECASE):
        raise ValueError("materialized view body must be a SELECT")
    fpos = _find_top_level(s, "FROM")
    wpos = _find_top_level(s, "WHERE")
    gpos = _find_top_level(s, "GROUP")
    if gpos >= 0 and not re.match(r"GROUP\s+BY\s", s[gpos:], re.IGNORECASE):
        gpos = -1
    if fpos < 0 or (gpos < 0 and not allow_global):
        # allow_global (the query-rewrite parser): a grand-total aggregate
        # with no GROUP BY is the keys=[] rollup reduction — MV creation
        # itself always requires keys.
        raise ValueError(
            "maintained materialized views support exactly "
            "SELECT ... FROM t [JOIN d ON ...] [WHERE ...] GROUP BY ... "
        )
    select_list = s[len("SELECT"):fpos]
    where_sql = None
    tail_end = gpos if gpos >= 0 else len(s)
    from_end = tail_end
    if 0 <= wpos < tail_end:
        where_sql = s[wpos + 5:tail_end].strip()
        from_end = wpos
    from_clause = s[fpos + 4:from_end].strip()
    group_clause = (
        re.sub(r"^GROUP\s+BY\s+", "", s[gpos:], flags=re.IGNORECASE)
        if gpos >= 0 else ""
    )

    # the alias slot must not swallow a join-type keyword: LEFT/RIGHT/
    # FULL/CROSS/SEMI/ANTI joins are OUTSIDE the maintainable subset and
    # must be REJECTED, not silently parsed as an inner join with the
    # join type as the left table's alias
    jm = re.match(
        r"([\w.]+)(?:\s+(?:AS\s+)?"
        r"(?!INNER\b|JOIN\b|LEFT\b|RIGHT\b|FULL\b|CROSS\b|OUTER\b|SEMI\b|ANTI\b)"
        r"(\w+))?"
        r"\s+(?:INNER\s+)?JOIN\s+"
        r"([\w.]+)(?:\s+(?:AS\s+)?(?!ON\b)(\w+))?\s+ON\s+(.+)$",
        from_clause, re.IGNORECASE | re.DOTALL,
    )
    sm = re.fullmatch(r"([\w.]+)(?:\s+(?:AS\s+)?(\w+))?", from_clause)
    if not jm and not sm:
        raise ValueError(f"unsupported FROM clause {from_clause[:80]!r}")

    left_q = (jm.group(1) if jm else sm.group(1)).split(".")
    if len(left_q) < 2:
        raise ValueError("source tables must be namespace-qualified (ns.t)")
    # qualifier resolution goes by alias when one is given, else by the
    # table's last name component (aliases keep the SELECT runnable as
    # plain Spark SQL on the base path, where a replaced view name would
    # strand `table.col` references)
    tables = [(jm.group(2) if jm else sm.group(2)) or left_q[-1]]
    right_q, on = None, []
    if jm:
        right_q = jm.group(3).split(".")
        if len(right_q) < 2:
            raise ValueError("source tables must be namespace-qualified (ns.t)")
        tables.append(jm.group(4) or right_q[-1])
        for cond in re.split(r"\s+AND\s+", jm.group(5).strip(),
                             flags=re.IGNORECASE):
            cm = re.fullmatch(r"\s*([\w.]+)\s*=\s*([\w.]+)\s*", cond)
            if not cm:
                raise ValueError(f"unsupported join condition {cond!r} — "
                                 "equi-joins only")
            a, b = cm.group(1), cm.group(2)
            # resolve sides by qualifier; bare operands are positional
            a_right = a.split(".")[0] == tables[1] and "." in a
            b_left = b.split(".")[0] == tables[0] and "." in b
            if a_right or b_left:
                a, b = b, a
            on.append((_strip_qualifier(a, tables[:1]),
                       _strip_qualifier(b, tables[1:])))

    keys = []
    for item in _split_top_level_commas(group_clause) if group_clause.strip() else []:
        col = _strip_qualifier(item.strip(), tables)
        if not re.fullmatch(r"\w+", col):
            raise ValueError(f"GROUP BY supports plain columns only, got {item!r}")
        keys.append(col)

    sums: dict[str, str] = {}
    avgs: dict[str, str] = {}
    mins: dict[str, str] = {}
    maxs: dict[str, str] = {}
    ndvs: dict[str, str] = {}
    counts: dict[str, str] = {}
    bare: list[str] = []
    for item in _split_top_level_commas(select_list):
        agg = _parse_agg_item(item)
        if agg is None:
            bare.append(_strip_qualifier(item.strip(), tables))
            continue
        fn, expr, alias = agg
        if fn == "COUNT" and re.match(r"DISTINCT\s", expr, re.IGNORECASE):
            raise ValueError(
                "COUNT(DISTINCT ...) is not incrementally maintainable — "
                "use APPROX_COUNT_DISTINCT(expr) (maintained HLL sketch; "
                "read with hll_sketch_estimate) or rebuild with CREATE"
            )
        if fn == "COUNT" and expr == "*":
            if alias != COUNT_COL:
                raise ValueError(
                    f"COUNT(*) must alias to {COUNT_COL!r} — it doubles as "
                    "the maintained group-liveness counter"
                )
            continue  # always maintained
        target = {"COUNT": counts, "SUM": sums, "AVG": avgs, "MIN": mins,
                  "MAX": maxs, "APPROX_COUNT_DISTINCT": ndvs}[fn]
        target[alias] = expr
    if set(bare) != set(keys):
        raise ValueError(
            f"plain select items {bare} must equal the GROUP BY keys {keys}"
        )

    if right_q is not None:
        return JoinRollupSpec(
            left_namespace=left_q[:-1], left_name=left_q[-1],
            right_namespace=right_q[:-1], right_name=right_q[-1],
            on=on,
            target_namespace=list(target_namespace), target_name=target_name,
            group_by=keys, sums=sums, mins=mins, maxs=maxs, ndvs=ndvs,
            counts=counts, avgs=avgs, where=where_sql,
        )
    return RollupSpec(
        source_namespace=left_q[:-1], source_name=left_q[-1],
        target_namespace=list(target_namespace), target_name=target_name,
        group_by=keys, sums=sums, mins=mins, maxs=maxs, ndvs=ndvs,
        counts=counts, avgs=avgs, where=where_sql,
    )


def spec_to_json(spec: "RollupSpec | JoinRollupSpec") -> str:
    import json
    from dataclasses import asdict

    d = asdict(spec)
    d["kind"] = "join" if isinstance(spec, JoinRollupSpec) else "table"
    if isinstance(spec, JoinRollupSpec):
        d["on"] = [list(p) for p in spec.on]
    return json.dumps(d, sort_keys=True)


def _sources(spec: "RollupSpec | JoinRollupSpec") -> list[tuple[list[str], str]]:
    if isinstance(spec, JoinRollupSpec):
        return [(spec.left_namespace, spec.left_name),
                (spec.right_namespace, spec.right_name)]
    return [(spec.source_namespace, spec.source_name)]


def sources_label(spec: "RollupSpec | JoinRollupSpec") -> str:
    """`ns.src`, or `ns.left JOIN ns.right` for a join view."""
    return " JOIN ".join(".".join([*ns, n]) for ns, n in _sources(spec))


def _watermarks(md: dict, spec: "RollupSpec | JoinRollupSpec") -> list[int]:
    if isinstance(spec, JoinRollupSpec):
        return list(_join_watermarks(md, spec))
    return [_current_watermark(md, spec)]


def _entry(spec: "RollupSpec | JoinRollupSpec") -> str:
    return DEPENDENT_PREFIX + ".".join([*spec.target_namespace, spec.target_name])


def _stamp_spec(io: SparkCatalogIO, spec: "RollupSpec | JoinRollupSpec",
                md: dict) -> None:
    """Stamp the spec into the MV's ivm.spec property (`md`: the MV's
    metadata from its build) and list the MV on each source as
    `ivm.dependent.<ns.mv>`, in one /v1/transactions/commit. Both create
    paths (SQL and programmatic) call this, so the rewrite pass and
    run_maintenance find every MV through its sources. One key per MV:
    concurrent CREATEs on one source commute, and a 409 from a concurrent
    source commit is safe to retry as is."""
    def change(ns, name, requirements, props):
        return {"identifier": {"namespace": ns, "name": name},
                "requirements": requirements,
                "updates": [{"action": "set-properties", "updates": props}]}

    changes = [change(
        spec.target_namespace, spec.target_name,
        [{"type": "assert-table-uuid", "uuid": md["table-uuid"]}],
        {SPEC_PROPERTY: spec_to_json(spec)},
    )]
    changes += [change(ns, name, [], {_entry(spec): "true"})
                for ns, name in _sources(spec)]
    _retrying(lambda: io.client.commit_transaction(changes))


def unlist_materialized_view(io: SparkCatalogIO, md: dict) -> None:
    """After DROP of a table whose metadata was `md`: if it was an MV,
    remove its entry from each source that still lists it."""
    raw = md.get("properties", {}).get(SPEC_PROPERTY)
    if raw is None:
        return
    spec = spec_from_json(raw)
    for ns, name in _sources(spec):
        try:
            props = io.client.load_table(ns, name)["metadata"]["properties"]
            if _entry(spec) in props:
                io.client.commit_table(ns, name, requirements=[], updates=[
                    {"action": "remove-properties", "removals": [_entry(spec)]}
                ])
        except CatalogHTTPError as exc:
            if exc.status != 404:
                raise


def spec_from_json(raw: str) -> "RollupSpec | JoinRollupSpec":
    import json

    d = json.loads(raw)
    kind = d.pop("kind")
    if kind == "join":
        d["on"] = [tuple(p) for p in d["on"]]
        return JoinRollupSpec(**d)
    return RollupSpec(**d)


def create_materialized_view(io: SparkCatalogIO, namespace: list[str],
                             name: str, select_sql: str) -> dict:
    """CREATE MATERIALIZED VIEW: build the rollup, then stamp the parsed
    spec into the target's table properties so REFRESH needs only the
    name. The stamp is a second commit; a crash between the two leaves a
    plain table without the property — re-running CREATE overwrites it."""
    spec = parse_materialized_view_sql(select_sql, namespace, name)
    if isinstance(spec, JoinRollupSpec):
        return create_join_rollup(io, spec)  # stamps ivm.spec itself
    return create_rollup(io, spec)  # stamps ivm.spec itself


def refresh_materialized_view(io: SparkCatalogIO, namespace: list[str],
                              name: str) -> dict:
    md = io.client.load_table(namespace, name)["metadata"]
    raw = md.get("properties", {}).get(SPEC_PROPERTY)
    if raw is None:
        qualified = ".".join([*namespace, name])
        raise ValueError(
            f"{qualified!r} is not a maintained materialized view (no "
            f"{SPEC_PROPERTY} table property) — create one with "
            "CREATE MATERIALIZED VIEW"
        )
    spec = spec_from_json(raw)
    if isinstance(spec, JoinRollupSpec):
        return refresh_join_rollup(io, spec)
    return refresh_rollup(io, spec)


def list_materialized_views(
    io: SparkCatalogIO, tables: list[dict],
) -> list[tuple[list[str], str, "RollupSpec | JoinRollupSpec", dict]]:
    """The maintained MVs among `tables` (catalog table identifiers) as
    (namespace, name, spec, metadata). One load per table, so only SHOW
    MATERIALIZED VIEWS uses it: the rewrite pass and maintenance find MVs
    through their sources (dependent_materialized_views)."""
    out: list[tuple[list[str], str, RollupSpec | JoinRollupSpec, dict]] = []
    for ident in tables:
        ns, name = list(ident["namespace"]), ident["name"]
        md = io.client.load_table(ns, name)["metadata"]
        raw = md.get("properties", {}).get(SPEC_PROPERTY)
        if raw:
            out.append((ns, name, spec_from_json(raw), md))
    return out


def dependent_materialized_views(
    io: SparkCatalogIO, namespace: list[str], name: str, md: dict | None = None,
) -> list[tuple[list[str], str, "RollupSpec | JoinRollupSpec", dict]]:
    """The MVs that table ``namespace.name`` lists in `ivm.dependent.*`
    and whose own ivm.spec reads it, as (namespace, name, spec, metadata):
    one load of the table (none when its metadata `md` is given) and one
    per listed MV. An entry whose MV is gone (404) or does not read this
    table is skipped, so a stale entry is never served."""
    if md is None:
        md = io.client.load_table(namespace, name)["metadata"]
    qualified = ".".join([*namespace, name])
    out: list[tuple[list[str], str, RollupSpec | JoinRollupSpec, dict]] = []
    for key in sorted(md.get("properties", {})):
        if not key.startswith(DEPENDENT_PREFIX):
            continue
        *mv_ns, mv_name = key[len(DEPENDENT_PREFIX):].split(".")
        try:
            mv_md = io.client.load_table(mv_ns, mv_name)["metadata"]
        except CatalogHTTPError as exc:
            if exc.status != 404:
                raise
            continue
        raw = mv_md.get("properties", {}).get(SPEC_PROPERTY)
        if raw is None:
            continue
        spec = spec_from_json(raw)
        if qualified in {".".join([*ns, n]) for ns, n in _sources(spec)}:
            out.append((mv_ns, mv_name, spec, mv_md))
    return out


def refuse_rename(io: SparkCatalogIO, namespace: list[str], name: str,
                  md: dict) -> None:
    """Refuse ALTER TABLE ... RENAME TO on an MV or an MV's source: the
    MV's spec names both, so REFRESH would 404 and the entry would dangle."""
    deps = [".".join([*ns, n]) for ns, n, _s, _m
            in dependent_materialized_views(io, namespace, name, md)]
    if SPEC_PROPERTY in md.get("properties", {}) or deps:
        what = f"read by {', '.join(deps)}" if deps else "a materialized view"
        raise ValueError(
            f"cannot rename {'.'.join([*namespace, name])!r}: it is {what} — "
            "drop the materialized view, rename, then re-create it"
        )


def mv_watermark_state(io: SparkCatalogIO,
                       spec: "RollupSpec | JoinRollupSpec",
                       md: dict) -> str:
    """'fresh' (watermarks equal the sources' current snapshots — the
    maintained state IS the live answer), 'stale' (valid watermarks, but
    a source has moved on — the state is the view AS OF the watermark),
    or 'invalid' (no watermark: a foreign write or a re-pointed source
    invalidated the view — the contents are not the view at ANY
    snapshot, and nothing may be served from them)."""
    try:
        wms = _watermarks(md, spec)
    except ValueError:
        return "invalid"
    fresh = all(
        io.client.load_table(ns, n)["metadata"].get("current-snapshot-id") == wm
        for (ns, n), wm in zip(_sources(spec), wms)
    )
    return "fresh" if fresh else "stale"


def mv_staleness_lag_ms(io: SparkCatalogIO,
                        spec: "RollupSpec | JoinRollupSpec",
                        md: dict) -> int | None:
    """How far (milliseconds) the MV's watermark state lags the source's
    CURRENT snapshot — the bounded-staleness measure for stale-ok reads:
    current-snapshot timestamp minus watermark-snapshot timestamp, max
    over both sources for a join view; 0 when fresh. None when the lag is
    uncomputable (no watermark, or the watermark snapshot expired from
    the source history) — a caller enforcing a bound must treat None as
    too-stale, never as fresh."""
    def lag(ns, name, wm):
        smd = io.client.load_table(ns, name)["metadata"]
        cur = smd.get("current-snapshot-id")
        if cur == wm:
            return 0
        ts = {s["snapshot-id"]: s["timestamp-ms"]
              for s in smd.get("snapshots", [])}
        if wm not in ts or cur not in ts:
            return None
        # cur != wm here, so the view IS behind: floor the lag at 1ms.
        # Timestamp-ms deltas alone would report 0 for two commits landing
        # in the same millisecond, and bound=0 must strictly mean
        # fresh-only (snapshot identity, not clock, decides freshness).
        return max(1, ts[cur] - ts[wm])

    try:
        wms = _watermarks(md, spec)
    except ValueError:
        return None
    lags = [lag(ns, n, wm) for (ns, n), wm in zip(_sources(spec), wms)]
    return None if None in lags else max(lags)


def rollup_topup_delta(io: SparkCatalogIO, spec: RollupSpec, md: dict,
                       extrema: bool = False):
    """The read-time HALF of an incremental refresh — the lambda-serving
    shape: the changelog between the rollup's stored watermark and the
    source's CURRENT snapshot, folded to the summary grain (COUNT(*) and
    every maintained sum — real, COUNT-indicator, and AVG-hidden — signed
    by change type), WITHOUT the commit. Unioning this onto the stored
    summary and re-aggregating answers a sum-family query FRESH while the
    MV itself stays stale (mv_rewrite='topup', sources/mv_rewrite.py).
    With extrema=True the delta also carries the spec's MIN/MAX columns,
    valid ONLY when the window is INSERT-ONLY (a deletion can retire the
    stored extremum and only a rescan recovers it) — a window holding any
    delete returns None so the caller falls through. Returns None when
    the delta is uncomputable (no watermark, foreign write, or the
    watermark snapshot expired from the source history)."""
    try:
        watermark = _current_watermark(md, spec)
        src_md = io.client.load_table(
            spec.source_namespace, spec.source_name)["metadata"]
        _require_live_watermark(src_md, watermark, spec._qualified_source())
    except ValueError:
        return None
    src_snap = src_md.get("current-snapshot-id")
    if src_snap == watermark:
        return None  # fresh — nothing to top up (caller serves directly)
    changes = read_changes(
        io, spec.source_namespace, spec.source_name,
        from_snapshot_id=watermark, to_snapshot_id=src_snap,
    )
    extrema_aggs = []
    if extrema:
        # one bounded probe over the changed files: any non-insert row
        # disqualifies the extrema fold (limit(1) short-circuits)
        if changes.filter(
            F.col("_change_type") != "insert"
        ).limit(1).count():
            return None
        extrema_aggs = [
            *[F.min(F.expr(e)).alias(c) for c, e in spec.mins.items()],
            *[F.max(F.expr(e)).alias(c) for c, e in spec.maxs.items()],
        ]
    if spec.where:
        changes = changes.filter(F.expr(spec.where))
    sign = F.when(F.col("_change_type") == "insert",
                  F.lit(1)).otherwise(F.lit(-1))
    return changes.groupBy(*spec.group_by).agg(
        F.sum(sign).cast("long").alias(COUNT_COL),
        *[F.sum(F.expr(e) * sign).alias(c)
          for c, e in _all_sums(spec).items()],
        *extrema_aggs,
    )


def join_topup_delta(io: SparkCatalogIO, spec: "JoinRollupSpec", md: dict,
                     extrema: bool = False):
    """The join-view twin of rollup_topup_delta: both sources' changes
    since the stored watermarks, expanded through the bilinear rule
    Δ(R⋈S) = ΔR⋈S_new ∪ R_old⋈ΔS (exactly refresh_join_rollup's terms —
    pre-cancelled weights, NULL-key drops, dim-delta-bounded pruned read
    of R_old at the left watermark) and folded to the summary grain,
    WITHOUT the commit. Sum-family state always; extrema=True
    additionally folds MIN/MAX, valid only when BOTH changelogs are
    insert-only (otherwise None — fall through). Read-time cost is proportional to the
    DELTAS (the fact side is never re-aggregated), which is the whole
    lambda-serving point. Returns None when uncomputable."""
    try:
        lw, rw = _join_watermarks(md, spec)
        l_md = io.client.load_table(
            spec.left_namespace, spec.left_name)["metadata"]
        r_md = io.client.load_table(
            spec.right_namespace, spec.right_name)["metadata"]
        l_cur = l_md.get("current-snapshot-id")
        r_cur = r_md.get("current-snapshot-id")
        if l_cur == lw and r_cur == rw:
            return None  # fresh — nothing to top up
        if l_cur != lw:
            _require_live_watermark(l_md, lw, spec._qualified_left())
        if r_cur != rw:
            _require_live_watermark(r_md, rw, spec._qualified_right())
    except ValueError:
        return None
    keys = list(spec.group_by)
    if extrema:
        # insert-only probe on BOTH changelogs: a delete on either side
        # can retire a stored extremum through the join
        for ns_, name_, frm, to in (
            (spec.left_namespace, spec.left_name, lw, l_cur),
            (spec.right_namespace, spec.right_name, rw, r_cur),
        ):
            if frm == to:
                continue
            ch = read_changes(io, ns_, name_, from_snapshot_id=frm,
                              to_snapshot_id=to)
            if ch.filter(F.col("_change_type") != "insert").limit(1).count():
                return None
    w = F.col(WEIGHT_COL)
    terms = []
    if l_cur != lw:
        d_left = _precancelled_changes(io, spec.left_namespace,
                                       spec.left_name, lw, l_cur)
        s_new = io.read_table(spec.right_namespace, spec.right_name,
                              snapshot_id=r_cur)
        t1 = _joined(d_left, s_new, spec)
        if spec.where:
            t1 = t1.filter(F.expr(spec.where))
        terms.append(t1)
    if r_cur != rw:
        d_right = _precancelled_changes(io, spec.right_namespace,
                                        spec.right_name, rw, r_cur)
        for _, rk in spec.on:
            d_right = d_right.filter(F.col(rk).isNotNull())
        d_right = d_right.localCheckpoint(eager=False)
        rb = d_right.agg(
            F.count(F.lit(1)).alias("n"),
            *[F.min(rk).alias(f"lo_{rk}") for _, rk in spec.on],
            *[F.max(rk).alias(f"hi_{rk}") for _, rk in spec.on],
        ).collect()[0]
        if rb["n"] > 0:
            left_where = and_(
                *[gt_eq(lk, rb[f"lo_{rk}"]) for lk, rk in spec.on],
                *[lt_eq(lk, rb[f"hi_{rk}"]) for lk, rk in spec.on],
            )
            r_old = io.read_table(spec.left_namespace, spec.left_name,
                                  snapshot_id=lw, where=left_where)
            t2 = _joined(r_old, d_right, spec)
            if spec.where:
                t2 = t2.filter(F.expr(spec.where))
            terms.append(t2)
    if not terms:
        # both deltas pre-cancelled — the stored state IS the live answer
        return _aggregate_join_full(io, spec, l_cur, r_cur).limit(0)
    delta_rows = terms[0]
    for t in terms[1:]:
        delta_rows = delta_rows.unionByName(t)
    extrema_aggs = []
    if extrema:
        # weights are all >=1 under insert-only, so MIN/MAX over the
        # bilinear rows (weight-blind) is exactly the inserted extrema
        extrema_aggs = [
            *[F.min(F.expr(e)).alias(c) for c, e in spec.mins.items()],
            *[F.max(F.expr(e)).alias(c) for c, e in spec.maxs.items()],
        ]
    return delta_rows.groupBy(*keys).agg(
        F.sum(w).cast("long").alias(COUNT_COL),
        *[F.sum(F.expr(e) * w).alias(c)
          for c, e in _all_sums(spec).items()],
        *extrema_aggs,
    )


def render_materialized_view_sql(spec: "RollupSpec | JoinRollupSpec") -> str:
    """The inverse of parse_materialized_view_sql — SHOW CREATE TABLE on a
    maintained MV renders CREATE MATERIALIZED VIEW DDL that re-parses to
    an equal spec (round-trip property-tested)."""
    items = [*spec.group_by, f"COUNT(*) AS {COUNT_COL}"]
    items += [f"SUM({e}) AS {c}" for c, e in spec.sums.items()]
    items += [f"COUNT({e}) AS {c}" for c, e in spec.counts.items()]
    items += [f"AVG({e}) AS {c}" for c, e in spec.avgs.items()]
    items += [f"MIN({e}) AS {c}" for c, e in spec.mins.items()]
    items += [f"MAX({e}) AS {c}" for c, e in spec.maxs.items()]
    items += [
        f"APPROX_COUNT_DISTINCT({e}) AS {c}" for c, e in spec.ndvs.items()
    ]
    if isinstance(spec, JoinRollupSpec):
        lt, rt = spec.left_name, spec.right_name
        frm = (
            f"{spec._qualified_left()} JOIN {spec._qualified_right()} ON "
            + " AND ".join(f"{lt}.{lk} = {rt}.{rk}" for lk, rk in spec.on)
        )
    else:
        frm = spec._qualified_source()
    where = f"\nWHERE {spec.where}" if spec.where else ""
    return (
        "SELECT " + ", ".join(items) + f"\nFROM {frm}{where}\nGROUP BY "
        + ", ".join(spec.group_by)
    )


def verify_materialized_view(io: SparkCatalogIO, namespace: list[str],
                             name: str) -> dict:
    """Trust-but-verify: recompute the view from its sources PINNED at
    the stored watermark snapshot(s) — the state the maintained table is
    supposed to reflect, so a source that has moved on since the last
    refresh does NOT raise a false alarm — and compare row-for-row. HLL
    sketch columns compare by ESTIMATE (bytes may differ by
    representation mode); derived averages compare exactly (both paths
    run the identical scalar division at the same type). The operational drift alarm — any
    nonzero mismatch means a bug or a foreign write that slipped the
    invalidation guards."""
    md = io.client.load_table(namespace, name)["metadata"]
    raw = md.get("properties", {}).get(SPEC_PROPERTY)
    if raw is None:
        qualified = ".".join([*namespace, name])
        raise ValueError(
            f"{qualified!r} is not a maintained materialized view (no "
            f"{SPEC_PROPERTY} table property)"
        )
    spec = spec_from_json(raw)
    # Pin the recompute at the stored watermark(s) when they exist; a
    # FOREIGN-written MV has none — that is precisely a drift case, so
    # fall back to current sources and still report the diff.
    watermarked = True
    if isinstance(spec, JoinRollupSpec):
        try:
            lw, rw = _join_watermarks(md, spec)
        except ValueError:
            lw = rw = None
            watermarked = False
        want = _aggregate_join_full(io, spec, lw, rw)
    else:
        try:
            wm = _current_watermark(md, spec)
        except ValueError:
            wm = None
            watermarked = False
        want = _aggregate_full(io, spec, snapshot_id=wm)
    ndv_cols = list(spec.ndvs)
    got = io.read_table(namespace, name)
    # An MV created by an older build stores its derived averages as
    # DOUBLE; align the recompute to the committed type so the value
    # comparison (not the storage-type history) decides consistency.
    stored = {f.name: f.dataType for f in got.schema.fields}
    for c in spec.avgs:
        if c in stored and want.schema[c].dataType != stored[c]:
            want = want.withColumn(c, F.col(c).cast(stored[c]))

    def canon(df):
        cols = [c for c in df.columns if c not in ndv_cols]
        ests = [
            F.hll_sketch_estimate(c).alias(f"_{c}_est") for c in ndv_cols
        ]
        return df.select(*cols, *ests)

    got_c, want_c = canon(got), canon(want)
    extra = got_c.exceptAll(want_c).count()
    missing = want_c.exceptAll(got_c).count()
    return {
        "table": ".".join([*namespace, name]),
        "watermarked": watermarked,
        "maintained_rows": got.count(),
        "recomputed_rows": want.count(),
        "rows_only_in_maintained": extra,
        "rows_only_in_recompute": missing,
        "consistent": extra == 0 and missing == 0 and watermarked,
    }
