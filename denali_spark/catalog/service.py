"""The Iceberg REST Catalog HTTP service.

Route surface mirrors /root/reference/routes (registration main.go:39-44,
generic decode→handle→encode plumbing HandleAPI routes/router.go:92-120):

  GET    /v1/config                                   config.go:20-37
  GET    /status                                      config.go:39-41
  GET    /openapi-file.yaml, /docs                    config.go:44-75
  GET    /v1/namespaces[?parent=]                     ns.go:20-38
  POST   /v1/namespaces                               ns.go:47-61
  HEAD/GET/DELETE /v1/namespaces/{ns}                 ns.go:65-98
  POST   /v1/namespaces/{ns}/properties               ns.go:121-165
  GET/POST /v1/namespaces/{ns}/tables                 tables.go:41-132
  POST   /v1/namespaces/{ns}/register                 tables.go:141-188
  GET/POST/DELETE/HEAD /v1/namespaces/{ns}/tables/{t} tables.go:192-393
  POST   /v1/tables/rename                            tables.go:402-428
  POST   /v1/namespaces/{ns}/tables/{t}/metrics       tables.go:432-435
  POST   /v1/transactions/commit                      tables.go:454-456 (501)
  GET/POST /v1/namespaces/{ns}/views                  views.go:31-91
  GET/POST/DELETE/HEAD /v1/namespaces/{ns}/views/{v}  views.go:100-246
  POST   /v1/views/rename                             views.go:250-280

Unlike the reference, createView/replaceView are fully implemented (the
reference stubs createView at views.go:79-91 and comments out replaceView's
update application at :196-209), commit requirements are enforced, and the
identifier-match check is spec-correct (reference inverts it at
tables.go:241 / views.go:145).

Namespace levels travel in URLs separated by the unit separator %1F
(common/funcs.go:25) and are stored dot-joined (logic/ns.go:20,42).
"""

from __future__ import annotations

import contextlib
import json
import re
import socket
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from denali_spark.catalog import metadata as meta
from denali_spark.catalog.errors import (
    AlreadyExists,
    BadRequest,
    CatalogError,
    CommitConflict,
    NoSuchPlan,
    NoSuchTable,
    NoSuchView,
    NotImplementedInCatalog,
    UnprocessableEntity,
)
from denali_spark.catalog.requirements import (
    check_table_requirements,
    check_view_requirements,
)
from denali_spark.catalog.store import Store
from denali_spark.catalog.updates import apply_table_updates, apply_view_updates

UNIT_SEP = "\x1f"


TOKEN_TTL_SECONDS = 3600


class State:
    """Server state: metadata store + warehouse (logic/state.go:242-290).

    `credential` ("client_id:client_secret") turns on OAuth: clients
    exchange it at /v1/oauth/tokens (RFC 6749 client_credentials) for a
    bearer token, and every /v1 route except the token endpoint then
    requires `Authorization: Bearer <token>`. The reference declares the
    endpoint in its OpenAPI spec but does not implement it (SURVEY §2.A
    note) — implemented here beyond parity."""

    def __init__(self, store: Store, warehouse: str,
                 credential: str | None = None):
        self.store = store
        self.warehouse = warehouse
        self.credential = credential
        self.tokens: dict[str, float] = {}  # token -> expiry (epoch secs)
        # Cancelled plan-ids (async plan lifecycle). Plan-id handles are
        # stateless (they encode the plan request), so cancellation is the
        # only per-plan state a server holds; a fleet member that never saw
        # the cancel simply completes the plan — legal per spec, which
        # makes cancellation advisory.
        self.cancelled_plans: set[str] = set()
        # Serializes the read-modify-write commit path on top of CAS; the
        # CAS remains the cross-process source of truth.
        self.commit_lock = threading.Lock()


def make_state(
    warehouse: str, db_path: str = ":memory:", credential: str | None = None
) -> State:
    """db_path: SQLite file path / ':memory:', or a postgresql:// URI
    (selects the Postgres backend, reference logic/state.go:219-227)."""
    from denali_spark.catalog.store import make_store

    return State(make_store(db_path), warehouse, credential=credential)


def parse_ns(raw: str) -> list[str]:
    decoded = unquote(raw)
    if UNIT_SEP in decoded:
        return decoded.split(UNIT_SEP)
    return decoded.split(".")


def _ns_payload(levels: list[str], properties: dict) -> dict:
    return {"namespace": levels, "properties": properties}


# --- handlers -------------------------------------------------------------


def get_config(state: State, m, q, body):
    warehouse = (q.get("warehouse") or [None])[0]
    if warehouse and warehouse != state.warehouse:
        raise BadRequest(
            f"warehouse {warehouse!r} does not match server warehouse"
        )
    return 200, {"defaults": {"warehouse": state.warehouse}, "overrides": {}}


def get_status(state: State, m, q, body):
    return 204, None


def _paginate(names: list[str], q) -> tuple[list[str], str | None]:
    """Spec pagination (the reference declares PageParams but never reads
    them, routes/common.go:21-24 — implemented here): names are served in
    sorted order; `pageToken` is the last name of the previous page (opaque
    to clients), `pageSize` caps the page; a `next-page-token` is returned
    while more remain. Insert/delete between pages can't skew the cursor —
    the token is a value, not an offset."""
    names = sorted(names)
    token = (q.get("pageToken") or [None])[0]
    size = (q.get("pageSize") or [None])[0]
    if token:
        names = [n for n in names if n > token]
    next_token = None
    if size is not None:
        try:
            size = int(size)
        except ValueError:
            raise BadRequest(f"invalid pageSize {size!r}") from None
        if size <= 0:
            # 0 would force a next-page-token equal to the request's own
            # cursor — any client echoing it loops forever. Reject, per the
            # "positive page size" reading of the spec.
            raise BadRequest("pageSize must be positive")
        if len(names) > size:
            next_token = names[size - 1]
            names = names[:size]
    return names, next_token


def _paged(payload: dict, next_token: str | None) -> dict:
    if next_token is not None:
        payload["next-page-token"] = next_token
    return payload


def list_namespaces(state: State, m, q, body):
    parent = (q.get("parent") or [""])[0]
    levels = parse_ns(parent) if parent else []
    names, nxt = _paginate(state.store.child_namespace_names(levels), q)
    return 200, _paged({"namespaces": [levels + [n] for n in names]}, nxt)


def create_namespace(state: State, m, q, body):
    levels = body.get("namespace") or []
    if not levels:
        raise BadRequest("namespace is required")
    props = dict(body.get("properties") or {})
    # Auto-added creation stamp (logic/ns.go:133-135).
    props.setdefault("created_at", str(meta.now_ms()))
    state.store.create_namespace(levels, props)
    return 200, _ns_payload(levels, props)


def head_namespace(state: State, m, q, body):
    state.store.namespace_pk(parse_ns(m.group("ns")))
    return 204, None


def get_namespace(state: State, m, q, body):
    levels = parse_ns(m.group("ns"))
    pk = state.store.namespace_pk(levels)
    return 200, _ns_payload(levels, state.store.namespace_properties(pk))


def delete_namespace(state: State, m, q, body):
    state.store.drop_namespace(parse_ns(m.group("ns")))
    return 204, None


def update_namespace_properties(state: State, m, q, body):
    """Atomic removals+updates with updated/removed/missing report
    (routes/ns.go:121-165; 422 on overlap, :113-119)."""
    levels = parse_ns(m.group("ns"))
    pk = state.store.namespace_pk(levels)
    removals = body.get("removals") or []
    updates = body.get("updates") or {}
    overlap = set(removals) & set(updates)
    if overlap:
        raise UnprocessableEntity(
            f"keys present in both removals and updates: {sorted(overlap)}"
        )
    removed, missing = [], []
    for key in removals:
        (removed if state.store.delete_namespace_property(pk, key) else missing).append(key)
    for key, value in updates.items():
        state.store.upsert_namespace_property(pk, key, value)
    return 200, {"updated": list(updates), "removed": removed, "missing": missing}


# --- tables ---------------------------------------------------------------


def _table_info(state: State, levels: list[str], name: str):
    ns_pk = state.store.namespace_pk(levels)
    info = state.store.get_object(ns_pk, name, "TABLE")
    if info is None:
        raise NoSuchTable(f"table {'.'.join(levels)}.{name} not found")
    return ns_pk, info


def list_tables(state: State, m, q, body):
    levels = parse_ns(m.group("ns"))
    ns_pk = state.store.namespace_pk(levels)
    names, nxt = _paginate(state.store.list_objects(ns_pk, "TABLE"), q)
    return 200, _paged(
        {"identifiers": [{"namespace": levels, "name": n} for n in names]}, nxt
    )


def create_table(state: State, m, q, body):
    """createTable (routes/tables.go:83-132): rejects custom location and
    stage-create (:93-106), builds metadata, writes the metadata file, then
    registers the row. File-before-row ordering kept deliberately — orphan
    files are tolerated, the DB row is the source of truth (SURVEY §7.4)."""
    levels = parse_ns(m.group("ns"))
    ns_pk = state.store.namespace_pk(levels)
    name = body.get("name")
    if not name:
        raise BadRequest("table name is required")
    if body.get("location"):
        raise BadRequest("custom table location is not supported")
    if body.get("stage-create"):
        raise BadRequest("stage-create is not supported")
    if state.store.get_object(ns_pk, name, "TABLE") is not None:
        raise AlreadyExists(f"table {name} already exists")
    md = meta.new_table_metadata(
        state.warehouse,
        body.get("schema"),
        body.get("partition-spec"),
        body.get("write-order"),
        body.get("properties"),
    )
    loc = meta.write_table_metadata(md, 0)
    state.store.register_object(ns_pk, name, "TABLE", loc)
    return 200, {"metadata-location": loc, "metadata": md, "config": {}}


def register_table(state: State, m, q, body):
    """Adopt an existing metadata file (routes/tables.go:141-188): load and
    verify it parses, re-write a copy into the warehouse, register."""
    levels = parse_ns(m.group("ns"))
    ns_pk = state.store.namespace_pk(levels)
    name = body.get("name")
    src = body.get("metadata-location")
    if not name or not src:
        raise BadRequest("name and metadata-location are required")
    md = meta.read_table_metadata(src)
    if "table-uuid" not in md:
        raise BadRequest("invalid table metadata: missing table-uuid")
    md.setdefault("location", f"{state.warehouse.rstrip('/')}/{md['table-uuid']}")
    loc = meta.write_table_metadata(md, md.get("last-sequence-number", 0))
    state.store.register_object(ns_pk, name, "TABLE", loc)
    return 200, {"metadata-location": loc, "metadata": md, "config": {}}


def load_table(state: State, m, q, body):
    """Spec-correct `snapshots=` handling: `all` (default) returns the full
    snapshot list, `refs` only the snapshots reachable from a branch/tag
    head through parent-snapshot-id chains. The reference ignores the param
    entirely (routes/tables.go:194, SURVEY §7.5 bug-not-to-replicate).

    ETag / If-None-Match (the REST spec's loadTable caching shape, beyond
    reference parity): the metadata file is immutable once written, so
    the metadata-location is a perfect change token — the ETag hashes it
    (plus the `snapshots` mode, which changes the response body for the
    same location) and a matching If-None-Match short-circuits to 304
    with no metadata read or body. At scale this is what keeps thousands
    of engine drivers polling loadTable from re-shipping a multi-MB
    metadata document that hasn't changed."""
    import hashlib

    levels = parse_ns(m.group("ns"))
    _, info = _table_info(state, levels, m.group("t"))
    mode = (q.get("snapshots") or ["all"])[0].lower()
    if mode not in ("all", "refs"):
        raise BadRequest(f"invalid snapshots mode {mode!r}: expected all|refs")
    etag = '"' + hashlib.md5(
        f"{info.metadata_location}|{mode}".encode()
    ).hexdigest() + '"'
    if etag in [
        t.strip() for t in (q.get("__if-none-match") or [""])[0].split(",")
    ]:
        return 304, None, {"ETag": etag}
    md = meta.read_table_metadata(info.metadata_location)
    if mode == "refs":
        md = dict(md)
        by_id = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
        reachable: set[int] = set()
        stack = [r["snapshot-id"] for r in md.get("refs", {}).values()]
        while stack:
            sid = stack.pop()
            if sid in reachable or sid not in by_id:
                continue
            reachable.add(sid)
            parent = by_id[sid].get("parent-snapshot-id")
            if parent is not None:
                stack.append(parent)
        md["snapshots"] = [
            s for s in md.get("snapshots", []) if s["snapshot-id"] in reachable
        ]
    return 200, {
        "metadata-location": info.metadata_location,
        "metadata": md,
        "config": {},
    }, {"ETag": etag}


def update_table(state: State, m, q, body):
    """The commit protocol (routes/tables.go:230-333 / SURVEY §3.2):
    requirements → updates → seq+1 + last-updated-ms → new metadata file →
    CAS row update. Concurrent-commit loser gets 409."""
    levels = parse_ns(m.group("ns"))
    name = m.group("t")
    ident = body.get("identifier")
    if ident and (ident.get("name") != name or ident.get("namespace") != levels):
        # Spec-correct: error on MISmatch (reference inverts, tables.go:241).
        raise BadRequest("identifier does not match request path")
    with state.commit_lock:
        _, info = _table_info(state, levels, name)
        md = meta.read_table_metadata(info.metadata_location)
        check_table_requirements(md, body.get("requirements") or [])
        md = apply_table_updates(md, body.get("updates") or [])
        # new_seq is the store's CAS counter (one per commit, names the
        # metadata file); it is deliberately NOT written into the table's
        # last-sequence-number — the Iceberg DATA sequence number advances
        # only through add-snapshot (spec rule: metadata-only commits like
        # set-properties must not consume sequence numbers).
        new_seq = info.last_sequence_number + 1
        md["last-updated-ms"] = meta.now_ms()
        md["metadata-log"] = md.get("metadata-log", []) + [
            {"timestamp-ms": md["last-updated-ms"],
             "metadata-file": info.metadata_location}
        ]
        loc = meta.write_table_metadata(md, new_seq)
        if not state.store.cas_update_object(info.pk, loc, info.last_sequence_number):
            raise CommitConflict("concurrent table commit detected")
    return 200, {"metadata-location": loc, "metadata": md}


def delete_table(state: State, m, q, body):
    """DROP TABLE; `purgeRequested=true` additionally deletes the table's
    files — implemented BEYOND parity (the reference 501s purge,
    routes/tables.go:349-351). The purge is fenced: it only ever removes a
    directory strictly inside this server's warehouse root, and only after
    the metadata row is gone (so a concurrent reader can at worst see a
    torn table it can no longer load, never a live one losing files)."""
    purge = (q.get("purgeRequested") or ["false"])[0].lower() == "true"
    levels = parse_ns(m.group("ns"))
    _, info = _table_info(state, levels, m.group("t"))
    location = None
    if purge:
        import os

        from denali_spark.catalog.metadata import _fs_path, read_table_metadata

        try:
            md = read_table_metadata(info.metadata_location)
            location = _fs_path(md.get("location", ""))
        except (OSError, ValueError):
            location = None
        wh = os.path.realpath(state.warehouse)
        if location is not None:
            real = os.path.realpath(location)
            if not (real.startswith(wh + os.sep) and real != wh):
                raise BadRequest(
                    f"purge refused: table location {location!r} is outside "
                    "the warehouse root"
                )
            location = real
    state.store.drop_object(info.pk)
    if purge and location is not None:
        import shutil

        shutil.rmtree(location, ignore_errors=True)
    return 204, None


def head_table(state: State, m, q, body):
    _table_info(state, parse_ns(m.group("ns")), m.group("t"))
    return 204, None


def rename_table(state: State, m, q, body):
    src, dst = body.get("source") or {}, body.get("destination") or {}
    levels = src.get("namespace") or []
    _, info = _table_info(state, levels, src.get("name"))
    dst_levels = dst.get("namespace") or levels
    dst_ns_pk = state.store.namespace_pk(dst_levels)
    state.store.rename_object(info.pk, dst.get("name"), dst_ns_pk)
    return 204, None


def post_metrics(state: State, m, q, body):
    """Persist the report (beyond parity: the reference accepts and
    discards, routes/tables.go:432-435). Each ScanReport/CommitReport
    lands as one atomic JSON blob under the table's metadata/metrics/
    prefix — the `ns.t.metrics_reports` metadata relation surfaces them,
    closing the loop the server-side plan path opened (planned-vs-
    scanned files per query becomes queryable). One blob per report:
    concurrent reporters never contend, and a stray half-written file
    can't exist (tmp+rename)."""
    import uuid

    _, info = _table_info(state, parse_ns(m.group("ns")), m.group("t"))
    md = meta.read_table_metadata(info.metadata_location)
    ts = meta.now_ms()
    blob = json.dumps(
        {"received-at-ms": ts, "report": body or {}},
        separators=(",", ":"),
    ).encode()
    loc = meta.join_location(
        md["location"], "metadata", "metrics",
        f"report-{ts}-{uuid.uuid4().hex[:8]}.json",
    )
    meta.write_blob_atomic(loc, blob)
    return 204, None


# Data-file count above which a plan response returns opaque plan-task
# handles instead of inline file-scan-tasks (the spec's pagination shape
# for high-file-count tables); each handle fetches one shard via the
# /tasks endpoint. Stateless by construction: a handle encodes
# (snapshot, shard, nshards, filter), so N servers serve any handle.
PLAN_SHARD_SIZE = 512

# Data-file count above which POST /plan answers "submitted" with a
# plan-id instead of completing synchronously (the REST spec's async plan
# lifecycle: submit -> poll GET /plan/{id} -> fetch -> DELETE to cancel).
# Small plans stay synchronous — the common case pays zero extra round
# trips. Like plan-task handles, a plan-id encodes its request
# (snapshot, filter), so any server in a shared-store fleet serves the
# poll; only the cancelled set is per-server state.
PLAN_ASYNC_SIZE = 4096


def _resolve_plan_snapshot(md: dict, snap_id):
    snaps = md.get("snapshots", [])
    if snap_id is not None:
        snap = next((s for s in snaps if s["snapshot-id"] == snap_id), None)
        if snap is None:
            raise BadRequest(f"snapshot {snap_id} not found")
        return snap
    ref = md.get("refs", {}).get("main")
    if not ref:
        return None
    return next(
        (s for s in snaps if s["snapshot-id"] == ref["snapshot-id"]), None
    )


def _plan_entries(snap: dict) -> tuple[list[dict], list[dict]]:
    from denali_spark.sources import manifests

    entries = manifests.read_manifest_list(snap["manifest-list"])
    data = [e for e in entries if e.get("content", "data") == "data"]
    deletes = [e for e in entries if e.get("content", "data") != "data"]
    return data, deletes


def _spec_file(e: dict, content: str) -> dict:
    out = {
        "content": content,
        "file-path": e["path"],
        "file-format": e.get("file-format", "parquet").upper(),
        "file-size-in-bytes": e.get("file-size-bytes"),
        "record-count": e.get("record-count"),
        "x-denali-entry": e,
    }
    if e.get("partition") is not None:
        out["partition"] = e["partition"]
    if e.get("equality-field-ids") is not None:
        out["equality-ids"] = e["equality-field-ids"]
    if e.get("referenced-data-file") is not None:
        out["referenced-data-file"] = e["referenced-data-file"]
    # Remaining ContentFile/DataFile spec fields, so a consumer using ONLY
    # spec fields (no x-denali-entry) loses nothing: first-row-id (V3 row
    # lineage), the DV blob range (content-offset/content-size-in-bytes),
    # spec-id and sort-order-id.
    for ours, spec in (
        ("first-row-id", "first-row-id"),
        ("content-offset", "content-offset"),
        ("content-size-in-bytes", "content-size-in-bytes"),
        ("spec-id", "spec-id"),
        ("sort-order-id", "sort-order-id"),
    ):
        if e.get(ours) is not None:
            out[spec] = e[ours]
    return out


def _scan_tasks_payload(data: list[dict], deletes: list[dict], flt) -> dict:
    """file-scan-tasks + delete-files for a data-file subset. Delete files
    are matched per task by the spec's sequence-number rules: a
    DV/position delete carrying referenced-data-file binds to that file
    alone; otherwise position deletes apply to data files with sequence
    <= theirs, equality deletes to sequence strictly less."""
    delete_files = [
        _spec_file(d, d.get("content", "position-deletes")) for d in deletes
    ]
    tasks = []
    for e in data:
        refs_idx = []
        for i, d in enumerate(deletes):
            rdf = d.get("referenced-data-file")
            if rdf is not None:
                if rdf == e["path"]:
                    refs_idx.append(i)
                continue
            dseq = d.get("sequence-number", 0)
            eseq = e.get("sequence-number", 0)
            if d.get("content") == "equality-deletes":
                if eseq < dseq:
                    refs_idx.append(i)
            elif eseq <= dseq:
                refs_idx.append(i)
        task = {"data-file": _spec_file(e, "data")}
        if refs_idx:
            task["delete-file-references"] = refs_idx
        if flt is not None:
            task["residual-filter"] = flt
        tasks.append(task)
    return {"file-scan-tasks": tasks, "delete-files": delete_files}


def plan_table_scan(state: State, m, q, body):
    """POST .../tables/{t}/plan — server-side scan planning (the Iceberg
    REST spec's PlanTableScan family; absent from the reference's older
    spec revision — beyond parity like /v1/transactions/commit). Always
    answers SYNCHRONOUSLY with a completed PlanTableScanResult (the spec
    allows a server to skip the async plan-id round-trip), so the
    plan/{id} fetch/cancel endpoints are unnecessary here.

    Request: {snapshot-id?, filter?, select?, case-sensitive?}. The
    filter is the REST Expression grammar (the same grammar the engine's
    scan pruning speaks — sources/expressions.py); data files whose
    manifest stats prove no match are dropped server-side and the filter
    is echoed back as each task's residual-filter for exact evaluation.

    Plans bigger than PLAN_SHARD_SIZE data files return opaque
    `plan-tasks` handles instead of inline tasks; each handle fetches one
    shard through the /tasks endpoint (fetch_scan_tasks). Handles encode
    (snapshot, shard, nshards, filter) — stateless, so any server in a
    shared-store fleet serves any handle.

    Each data-file/delete-file carries the spec's core fields plus the
    engine's internal entry verbatim under `x-denali-entry` (same
    extension convention as the manifests' x_* fields) so an engine-side
    consumer reconstructs its scan losslessly.

    Plans bigger than PLAN_ASYNC_SIZE answer the spec's async shape —
    202 {status: submitted, plan-id} — and complete via
    GET .../plan/{plan-id} (fetch_planning_result); DELETE cancels."""
    import base64 as _b64
    import json as _json
    import uuid

    body = body or {}
    levels = parse_ns(m.group("ns"))
    _, info = _table_info(state, levels, m.group("t"))
    md = meta.read_table_metadata(info.metadata_location)
    snap = _resolve_plan_snapshot(md, body.get("snapshot-id"))
    if snap is None:  # empty table: a completed plan with no work
        return 200, {
            "status": "completed", "file-scan-tasks": [],
            "delete-files": [], "plan-tasks": [],
        }
    flt = body.get("filter")
    data, deletes = _pruned_plan_entries(md, snap, flt)
    if len(data) > PLAN_ASYNC_SIZE:
        # Async lifecycle: hand back a plan-id instead of blocking the
        # client on a large plan. The id encodes the request (plus a
        # uuid so cancellation names THIS submission), and the poll
        # endpoint completes it.
        plan_id = _b64.urlsafe_b64encode(
            _json.dumps({
                "snapshot-id": snap["snapshot-id"],
                "filter": flt,
                "id": uuid.uuid4().hex,
            }).encode()
        ).decode()
        return 202, {"status": "submitted", "plan-id": plan_id}
    return 200, _plan_result(md, snap, data, deletes, flt)


def _pruned_plan_entries(md: dict, snap: dict, flt):
    """Snapshot entries split (data, deletes) with stats + transform-aware
    partition pruning applied to the data side — shared by the sync plan,
    the async poll, and the shard fetch."""
    from denali_spark.sources.expressions import file_might_match

    data, deletes = _plan_entries(snap)
    if flt is not None:
        data = [e for e in data if file_might_match(flt, e.get("stats"))]
        # transform-aware partition pruning, sans Spark session: identity/
        # truncate/temporal literals encode in pure Python, and buckets
        # hash through the pure-Python Spark-compatible murmur3
        from denali_spark.sources.partitioning import partition_prune

        data = partition_prune(None, md, flt, data)
    return data, deletes


def _plan_result(md: dict, snap: dict, data, deletes, flt) -> dict:
    """Completed PlanTableScanResult: inline tasks, or plan-task handles
    past PLAN_SHARD_SIZE."""
    import base64 as _b64
    import json as _json

    if len(data) > PLAN_SHARD_SIZE:
        nshards = -(-len(data) // PLAN_SHARD_SIZE)
        handles = [
            _b64.urlsafe_b64encode(
                _json.dumps({
                    "snapshot-id": snap["snapshot-id"],
                    "shard": s, "nshards": nshards, "filter": flt,
                }).encode()
            ).decode()
            for s in range(nshards)
        ]
        return {
            "status": "completed", "file-scan-tasks": [],
            "delete-files": [], "plan-tasks": handles,
        }
    payload = _scan_tasks_payload(data, deletes, flt)
    return {"status": "completed", "plan-tasks": [], **payload}


def fetch_planning_result(state: State, m, q, body):
    """GET .../tables/{t}/plan/{plan_id} — FetchPlanningResult (the async
    lifecycle's poll). Cancelled ids answer status=cancelled; otherwise the
    stateless id decodes to its plan request and the result completes here
    (this deployment has no background planner to wait on — submitted ids
    complete on first poll, which the spec permits)."""
    import base64 as _b64
    import json as _json

    plan_id = unquote(m.group("plan_id"))
    if plan_id in state.cancelled_plans:
        return 200, {"status": "cancelled"}
    try:
        spec = _json.loads(_b64.urlsafe_b64decode(plan_id.encode()))
        snap_id = spec["snapshot-id"]
    except Exception:
        raise NoSuchPlan(f"plan {plan_id[:32]!r} not found") from None
    levels = parse_ns(m.group("ns"))
    _, info = _table_info(state, levels, m.group("t"))
    md = meta.read_table_metadata(info.metadata_location)
    snap = _resolve_plan_snapshot(md, snap_id)
    flt = spec.get("filter")
    data, deletes = _pruned_plan_entries(md, snap, flt)
    return 200, _plan_result(md, snap, data, deletes, flt)


def cancel_planning(state: State, m, q, body):
    """DELETE .../tables/{t}/plan/{plan_id} — CancelPlanning. Records the
    id so later polls answer status=cancelled. Idempotent; malformed ids
    404 like the poll would."""
    import base64 as _b64
    import json as _json

    plan_id = unquote(m.group("plan_id"))
    try:
        _json.loads(_b64.urlsafe_b64decode(plan_id.encode()))
    except Exception:
        raise NoSuchPlan(f"plan {plan_id[:32]!r} not found") from None
    state.cancelled_plans.add(plan_id)
    return 204, None


def fetch_scan_tasks(state: State, m, q, body):
    """POST .../tables/{t}/tasks — FetchScanTasks: redeem one plan-task
    handle for its shard of file-scan-tasks. Shard membership is a stable
    hash-free modulus over the path-sorted pruned data-file list, so the
    shards partition the plan exactly; delete-file-references index into
    THIS response's delete-files list."""
    import base64 as _b64
    import json as _json

    token = (body or {}).get("plan-task")
    if not token:
        raise BadRequest("plan-task is required")
    try:
        spec = _json.loads(_b64.urlsafe_b64decode(token.encode()))
        shard, nshards = spec["shard"], spec["nshards"]
        snap_id = spec["snapshot-id"]
    except Exception:
        raise BadRequest("malformed plan-task handle") from None
    levels = parse_ns(m.group("ns"))
    _, info = _table_info(state, levels, m.group("t"))
    md = meta.read_table_metadata(info.metadata_location)
    snap = _resolve_plan_snapshot(md, snap_id)
    flt = spec.get("filter")
    # Same pruning as the plan that issued the handle (stats AND
    # transform-aware partition pruning) — the handle's nshards was
    # computed over the fully-pruned list, so the fetch must re-derive
    # exactly that list or shard membership drifts and partition-prunable
    # files leak back into the shards.
    data, deletes = _pruned_plan_entries(md, snap, flt)
    data.sort(key=lambda e: e["path"])
    subset = [e for i, e in enumerate(data) if i % nshards == shard]
    return 200, _scan_tasks_payload(subset, deletes, flt)


def commit_transaction(state: State, m, q, body):
    """Multi-table transaction (the one endpoint the reference 501s,
    routes/tables.go:454-456 — implemented here beyond parity, like views).

    Protocol: every table-change's requirements are checked against its
    CURRENT metadata first; all new metadata files are written; then every
    table row is CAS-updated inside ONE store transaction — any stale row
    rolls back all of them and the whole commit 409s. Orphaned metadata
    files from a rolled-back attempt are tolerated exactly as in
    create_table (DB row is the source of truth). Listing the same table
    twice is a deliberate 409 (the spec expects clients to merge a table's
    updates into one change)."""
    changes = body.get("table-changes") or []
    if not changes:
        raise BadRequest("table-changes is required")
    with state.commit_lock:
        staged = []
        for ch in changes:
            ident = ch.get("identifier") or {}
            levels, name = ident.get("namespace"), ident.get("name")
            if not levels or not name:
                raise BadRequest("each table-change needs an identifier")
            _, info = _table_info(state, levels, name)
            md = meta.read_table_metadata(info.metadata_location)
            check_table_requirements(md, ch.get("requirements") or [])
            md = apply_table_updates(md, ch.get("updates") or [])
            new_seq = info.last_sequence_number + 1
            md["last-updated-ms"] = meta.now_ms()
            md["metadata-log"] = md.get("metadata-log", []) + [
                {"timestamp-ms": md["last-updated-ms"],
                 "metadata-file": info.metadata_location}
            ]
            staged.append((info, md, new_seq))
        cas = []
        for info, md, new_seq in staged:
            loc = meta.write_table_metadata(md, new_seq)
            cas.append((info.pk, loc, info.last_sequence_number))
        if not state.store.cas_update_objects(cas):
            raise CommitConflict(
                "concurrent commit detected during multi-table transaction"
            )
    return 204, None


# --- views ----------------------------------------------------------------


def _view_info(state: State, levels: list[str], name: str):
    ns_pk = state.store.namespace_pk(levels)
    info = state.store.get_object(ns_pk, name, "VIEW")
    if info is None:
        raise NoSuchView(f"view {'.'.join(levels)}.{name} not found")
    return ns_pk, info


def list_views(state: State, m, q, body):
    levels = parse_ns(m.group("ns"))
    ns_pk = state.store.namespace_pk(levels)
    names, nxt = _paginate(state.store.list_objects(ns_pk, "VIEW"), q)
    return 200, _paged(
        {"identifiers": [{"namespace": levels, "name": n} for n in names]}, nxt
    )


def create_view(state: State, m, q, body):
    """Fully implemented (reference returns 204 without creating anything,
    views.go:79-91 — README '❌ Not Implemented Yet')."""
    levels = parse_ns(m.group("ns"))
    ns_pk = state.store.namespace_pk(levels)
    name = body.get("name")
    if not name:
        raise BadRequest("view name is required")
    if state.store.get_object(ns_pk, name, "VIEW") is not None:
        raise AlreadyExists(f"view {name} already exists")
    version = body.get("view-version") or {}
    md = meta.new_view_metadata(
        state.warehouse,
        body.get("schema"),
        version.get("representations") or [],
        version.get("default-namespace") or levels,
        body.get("properties"),
    )
    loc = meta.write_view_metadata(md, 0)
    state.store.register_object(ns_pk, name, "VIEW", loc)
    return 200, {"metadata-location": loc, "metadata": md, "config": {}}


def load_view(state: State, m, q, body):
    levels = parse_ns(m.group("ns"))
    _, info = _view_info(state, levels, m.group("v"))
    md = meta.read_view_metadata(info.metadata_location)
    return 200, {
        "metadata-location": info.metadata_location,
        "metadata": md,
        "config": {},
    }


def replace_view(state: State, m, q, body):
    """Apply view updates under assert-view-uuid + CAS — the reference
    parses but never applies (views.go:196-209) and its UpdateView SQL has
    no CAS guard (views.sql:12-14); both fixed here."""
    levels = parse_ns(m.group("ns"))
    name = m.group("v")
    ident = body.get("identifier")
    if ident and (ident.get("name") != name or ident.get("namespace") != levels):
        raise BadRequest("identifier does not match request path")
    with state.commit_lock:
        _, info = _view_info(state, levels, name)
        md = meta.read_view_metadata(info.metadata_location)
        check_view_requirements(md, body.get("requirements") or [])
        md = apply_view_updates(md, body.get("updates") or [])
        new_seq = info.last_sequence_number + 1
        loc = meta.write_view_metadata(md, new_seq)
        if not state.store.cas_update_object(info.pk, loc, info.last_sequence_number):
            raise CommitConflict("concurrent view commit detected")
    return 200, {"metadata-location": loc, "metadata": md}


def delete_view(state: State, m, q, body):
    levels = parse_ns(m.group("ns"))
    _, info = _view_info(state, levels, m.group("v"))
    state.store.drop_object(info.pk)
    return 204, None


def head_view(state: State, m, q, body):
    _view_info(state, parse_ns(m.group("ns")), m.group("v"))
    return 204, None


def rename_view(state: State, m, q, body):
    src, dst = body.get("source") or {}, body.get("destination") or {}
    levels = src.get("namespace") or []
    _, info = _view_info(state, levels, src.get("name"))
    dst_levels = dst.get("namespace") or levels
    dst_ns_pk = state.store.namespace_pk(dst_levels)
    state.store.rename_object(info.pk, dst.get("name"), dst_ns_pk)
    return 204, None


def get_openapi(state: State, m, q, body):
    return 200, {
        "info": {
            "title": "denali_spark Iceberg REST Catalog",
            "description": "See denali_spark.catalog.service docstring for the route surface.",
        }
    }


def post_oauth_tokens(state: State, m, q, body):
    """POST /v1/oauth/tokens — RFC 6749 client_credentials exchange (the
    endpoint the Iceberg REST spec defines and the reference leaves
    unimplemented). Accepts form-encoded or JSON bodies. OAuth error
    responses use the RFC's {"error", "error_description"} shape, not the
    catalog error envelope."""
    import secrets
    import time

    if state.credential is None:
        return 400, {
            "error": "invalid_request",
            "error_description": "this catalog has no credential configured",
        }
    grant = body.get("grant_type")
    if grant != "client_credentials":
        return 400, {
            "error": "unsupported_grant_type",
            "error_description":
                f"grant_type must be client_credentials, got {grant!r}",
        }
    client_id = body.get("client_id")
    client_secret = body.get("client_secret")
    if not client_id or not client_secret:
        return 400, {
            "error": "invalid_request",
            "error_description": "client_id and client_secret are required",
        }
    # Split the configured credential once on the FIRST ':' (a colon inside
    # client_id must not let other id/secret splits of the same string
    # authenticate) and compare the parts constant-time.
    import hmac as _hmac

    conf_id, _, conf_secret = state.credential.partition(":")
    id_ok = _hmac.compare_digest(client_id.encode(), conf_id.encode())
    secret_ok = _hmac.compare_digest(client_secret.encode(), conf_secret.encode())
    if not (id_ok and secret_ok):
        return 401, {
            "error": "invalid_client",
            "error_description": "unknown client or bad secret",
        }
    now = time.time()
    token = secrets.token_urlsafe(32)
    with state.commit_lock:  # concurrent grants must not drop each other
        for t in [t for t, e in state.tokens.items() if e <= now]:
            del state.tokens[t]  # opportunistic purge keeps the map bounded
        state.tokens[token] = now + TOKEN_TTL_SECONDS
    return 200, {
        "access_token": token,
        "token_type": "bearer",
        "expires_in": TOKEN_TTL_SECONDS,
        "scope": body.get("scope") or "catalog",
    }


_NS = r"(?P<ns>[^/]+)"
ROUTES: list[tuple[str, re.Pattern, object]] = [
    ("POST", re.compile(r"^/v1/oauth/tokens$"), post_oauth_tokens),
    ("GET", re.compile(r"^/v1/config$"), get_config),
    ("GET", re.compile(r"^/status$"), get_status),
    ("GET", re.compile(r"^/(openapi-file\.yaml|docs)$"), get_openapi),
    ("GET", re.compile(r"^/v1/namespaces$"), list_namespaces),
    ("POST", re.compile(r"^/v1/namespaces$"), create_namespace),
    ("HEAD", re.compile(rf"^/v1/namespaces/{_NS}$"), head_namespace),
    ("GET", re.compile(rf"^/v1/namespaces/{_NS}$"), get_namespace),
    ("DELETE", re.compile(rf"^/v1/namespaces/{_NS}$"), delete_namespace),
    ("POST", re.compile(rf"^/v1/namespaces/{_NS}/properties$"), update_namespace_properties),
    ("GET", re.compile(rf"^/v1/namespaces/{_NS}/tables$"), list_tables),
    ("POST", re.compile(rf"^/v1/namespaces/{_NS}/tables$"), create_table),
    ("POST", re.compile(rf"^/v1/namespaces/{_NS}/register$"), register_table),
    ("GET", re.compile(rf"^/v1/namespaces/{_NS}/tables/(?P<t>[^/]+)$"), load_table),
    ("POST", re.compile(rf"^/v1/namespaces/{_NS}/tables/(?P<t>[^/]+)$"), update_table),
    ("DELETE", re.compile(rf"^/v1/namespaces/{_NS}/tables/(?P<t>[^/]+)$"), delete_table),
    ("HEAD", re.compile(rf"^/v1/namespaces/{_NS}/tables/(?P<t>[^/]+)$"), head_table),
    ("POST", re.compile(rf"^/v1/namespaces/{_NS}/tables/(?P<t>[^/]+)/metrics$"), post_metrics),
    ("POST", re.compile(rf"^/v1/namespaces/{_NS}/tables/(?P<t>[^/]+)/plan$"), plan_table_scan),
    ("GET", re.compile(rf"^/v1/namespaces/{_NS}/tables/(?P<t>[^/]+)/plan/(?P<plan_id>[^/]+)$"), fetch_planning_result),
    ("DELETE", re.compile(rf"^/v1/namespaces/{_NS}/tables/(?P<t>[^/]+)/plan/(?P<plan_id>[^/]+)$"), cancel_planning),
    ("POST", re.compile(rf"^/v1/namespaces/{_NS}/tables/(?P<t>[^/]+)/tasks$"), fetch_scan_tasks),
    ("POST", re.compile(r"^/v1/tables/rename$"), rename_table),
    ("POST", re.compile(r"^/v1/transactions/commit$"), commit_transaction),
    ("GET", re.compile(rf"^/v1/namespaces/{_NS}/views$"), list_views),
    ("POST", re.compile(rf"^/v1/namespaces/{_NS}/views$"), create_view),
    ("GET", re.compile(rf"^/v1/namespaces/{_NS}/views/(?P<v>[^/]+)$"), load_view),
    ("POST", re.compile(rf"^/v1/namespaces/{_NS}/views/(?P<v>[^/]+)$"), replace_view),
    ("DELETE", re.compile(rf"^/v1/namespaces/{_NS}/views/(?P<v>[^/]+)$"), delete_view),
    ("HEAD", re.compile(rf"^/v1/namespaces/{_NS}/views/(?P<v>[^/]+)$"), head_view),
    ("POST", re.compile(r"^/v1/views/rename$"), rename_view),
]

# Metrics route must match before the generic table POST route.
ROUTES.sort(key=lambda r: -len(r[1].pattern))


class _Handler(BaseHTTPRequestHandler):
    state: State  # injected by CatalogServer
    protocol_version = "HTTP/1.1"
    # TCP_NODELAY: headers and body go out in separate writes, and a
    # client reusing its keep-alive connection would otherwise wait out
    # its delayed ACK (~40 ms) on every response
    disable_nagle_algorithm = True

    def log_message(self, fmt, *args):  # quiet by default
        pass

    def _dispatch(self, method: str):
        parsed = urlparse(self.path)
        q = parse_qs(parsed.query)
        body = {}
        length = int(self.headers.get("Content-Length") or 0)
        if length:
            raw = self.rfile.read(length) or b""
            ctype = (self.headers.get("Content-Type") or "").split(";")[0].strip()
            if ctype == "application/x-www-form-urlencoded":
                # the OAuth token endpoint posts RFC 6749 form bodies
                body = {
                    k: v[0] for k, v in parse_qs(raw.decode("utf-8")).items()
                }
            else:
                try:
                    body = json.loads(raw or b"{}")
                except json.JSONDecodeError:
                    return self._send(400, {"error": {"message": "invalid JSON body",
                                                      "type": "BadRequestException",
                                                      "code": 400}})
        auth_err = self._check_auth(parsed.path)
        if auth_err is not None:
            return self._send(401, auth_err, head=method == "HEAD")
        # conditional-request header, surfaced to handlers through the
        # query dict under a reserved (non-URL-encodable-colliding) key
        inm = self.headers.get("If-None-Match")
        if inm:
            q["__if-none-match"] = [inm]
        for m_method, pattern, handler in ROUTES:
            if m_method != method:
                continue
            match = pattern.match(parsed.path)
            if match:
                try:
                    out = handler(self.state, match, q, body)
                    status, payload = out[0], out[1]
                    hdrs = out[2] if len(out) > 2 else None
                except CatalogError as exc:
                    return self._send(exc.http_code, exc.payload(), head=method == "HEAD")
                except Exception as exc:  # noqa: BLE001
                    return self._send(
                        500,
                        {"error": {"message": f"{type(exc).__name__}: {exc}",
                                   "type": "InternalServerError", "code": 500}},
                        head=method == "HEAD",
                    )
                return self._send(
                    status, payload, head=method == "HEAD", headers=hdrs
                )
        self._send(404, {"error": {"message": f"no route for {method} {parsed.path}",
                                   "type": "NotFoundException", "code": 404}},
                   head=method == "HEAD")

    def _check_auth(self, path: str) -> dict | None:
        """Bearer enforcement when the server carries a credential: every
        /v1 route except the token endpoint needs a live token. /status,
        docs, and the OpenAPI file stay open (health probes)."""
        import time

        state = self.state
        if state.credential is None or not path.startswith("/v1"):
            return None
        if path == "/v1/oauth/tokens":
            return None
        header = self.headers.get("Authorization") or ""
        token = header.removeprefix("Bearer ").strip() if header.startswith(
            "Bearer "
        ) else None
        if token and state.tokens.get(token, 0) > time.time():
            return None
        return {"error": {"message": "missing or expired bearer token "
                                     "(POST /v1/oauth/tokens)",
                          "type": "NotAuthorizedException", "code": 401}}

    def _send(self, status: int, payload, head: bool = False,
              headers: dict | None = None):
        data = b"" if payload is None else json.dumps(payload).encode()
        self.send_response(status)
        if data:
            self.send_header("Content-Type", "application/json")
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        if data and not head:
            self.wfile.write(data)

    def do_GET(self):
        self._dispatch("GET")

    def do_POST(self):
        self._dispatch("POST")

    def do_DELETE(self):
        self._dispatch("DELETE")

    def do_HEAD(self):
        self._dispatch("HEAD")


class _Server(ThreadingHTTPServer):
    """Thread-per-connection server that closes its open connections when
    it closes: a handler thread would otherwise go on answering a client's
    kept-alive connection after the server has stopped."""

    def __init__(self, *args):
        self._connections: set[socket.socket] = set()
        self._connections_lock = threading.Lock()
        super().__init__(*args)

    def process_request(self, request, client_address):
        with self._connections_lock:
            self._connections.add(request)
        super().process_request(request, client_address)

    def shutdown_request(self, request):
        with self._connections_lock:
            self._connections.discard(request)
        super().shutdown_request(request)

    def server_close(self):
        super().server_close()
        with self._connections_lock:
            open_connections = list(self._connections)
        for conn in open_connections:
            # wakes the handler blocked reading the next request with EOF
            with contextlib.suppress(OSError):
                conn.shutdown(socket.SHUT_RDWR)


class CatalogServer:
    """Threaded HTTP server wrapper (RunServer, main.go:34-58; port 0 =
    random free port, main.go:50-51)."""

    def __init__(self, state: State, port: int = 0, host: str = "127.0.0.1"):
        handler = type("BoundHandler", (_Handler,), {"state": state})
        self.httpd = _Server((host, port), handler)
        self.state = state
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self.httpd.server_address[1]

    @property
    def uri(self) -> str:
        return f"http://{self.httpd.server_address[0]}:{self.port}"

    def start(self) -> "CatalogServer":
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        # shutdown() returns once serve_forever sees its request, which it
        # checks only when its select wakes (every 0.5 s when idle); a
        # connection wakes the select at once
        stopper = threading.Thread(target=self.httpd.shutdown)
        stopper.start()
        while stopper.is_alive():
            with contextlib.suppress(OSError):  # already stopped
                socket.create_connection(self.httpd.server_address).close()
            stopper.join(0.01)
        self.httpd.server_close()
