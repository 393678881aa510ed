"""Catalog REST service tests.

Superset of the reference's integration suite
(/root/reference/tests/pyiceberg/test_ns.py, test_table.py — FIXTURES.md §A):
namespace round-trips, nested namespaces, property updates, table create/
load, plus the commit protocol (requirements, CAS conflicts) and the view
surface the reference left unimplemented.
"""

from __future__ import annotations

import sys
import threading

import pytest

from denali_spark.catalog import CatalogClient, CatalogServer, make_state
from denali_spark.catalog.client import CatalogHTTPError

SCHEMA_ID_NAME = {
    "type": "struct",
    "schema-id": 0,
    "fields": [
        {"id": 1, "name": "id", "required": False, "type": "int"},
        {"id": 2, "name": "name", "required": False, "type": "string"},
    ],
}


@pytest.fixture()
def catalog(tmp_path):
    server = CatalogServer(make_state(str(tmp_path / "warehouse"))).start()
    yield CatalogClient(server.uri)
    server.stop()


# --- config / status (reference routes/config.go) -------------------------


def test_config_and_status(catalog):
    cfg = catalog.config()
    assert "warehouse" in cfg["defaults"]
    assert cfg["overrides"] == {}
    assert catalog.status_ok()


def test_config_rejects_foreign_warehouse(catalog):
    with pytest.raises(CatalogHTTPError) as exc:
        catalog.config(warehouse="/some/other/warehouse")
    assert exc.value.status == 400


# --- namespaces (reference tests/pyiceberg/test_ns.py) --------------------


def test_default_namespace_listed(catalog):
    assert ["default"] in catalog.list_namespaces()


def test_namespace_create_drop_roundtrip(catalog):
    catalog.create_namespace(["test"])
    assert ["test"] in catalog.list_namespaces()
    catalog.drop_namespace(["test"])
    assert ["test"] not in catalog.list_namespaces()


def test_namespace_properties_roundtrip(catalog):
    catalog.create_namespace(["propsns"], {"creator": "denali"})
    loaded = catalog.load_namespace(["propsns"])
    assert loaded["properties"]["creator"] == "denali"
    # created_at auto-property (logic/ns.go:133-135)
    assert "created_at" in loaded["properties"]


def test_nested_namespaces(catalog):
    catalog.create_namespace(["default", "def_inner"], {"owner": "pyiceberg"})
    assert ["default", "def_inner"] in catalog.list_namespaces(parent=["default"])
    loaded = catalog.load_namespace(["default", "def_inner"])
    assert loaded["properties"]["owner"] == "pyiceberg"
    catalog.drop_namespace(["default", "def_inner"])


def test_namespace_exists_head(catalog):
    assert catalog.namespace_exists(["default"])
    assert not catalog.namespace_exists(["nope"])


def test_duplicate_namespace_409(catalog):
    catalog.create_namespace(["dup"])
    with pytest.raises(CatalogHTTPError) as exc:
        catalog.create_namespace(["dup"])
    assert exc.value.status == 409


def test_drop_nonempty_namespace_409(catalog):
    catalog.create_namespace(["busy"])
    catalog.create_table(["busy"], "t", SCHEMA_ID_NAME)
    with pytest.raises(CatalogHTTPError) as exc:
        catalog.drop_namespace(["busy"])
    assert exc.value.status == 409


def test_update_namespace_properties_report(catalog):
    catalog.create_namespace(["props2"], {"a": "1", "b": "2"})
    out = catalog.update_namespace_properties(
        ["props2"], removals=["a", "zz"], updates={"c": "3"}
    )
    assert out["updated"] == ["c"]
    assert out["removed"] == ["a"]
    assert out["missing"] == ["zz"]


def test_property_key_in_both_lists_422(catalog):
    catalog.create_namespace(["props3"])
    with pytest.raises(CatalogHTTPError) as exc:
        catalog.update_namespace_properties(["props3"], removals=["k"], updates={"k": "v"})
    assert exc.value.status == 422


# --- tables (reference tests/pyiceberg/test_table.py) ---------------------


def test_create_table_roundtrip(catalog):
    catalog.create_namespace(["t1ns"])
    out = catalog.create_table(["t1ns"], "test_create_table", SCHEMA_ID_NAME,
                               properties={"owner": "tests"})
    md = out["metadata"]
    assert md["format-version"] == 2
    assert md["schemas"][0]["fields"][0]["name"] == "id"
    assert md["properties"]["owner"] == "tests"
    assert md["snapshots"] == [] and md["refs"] == {}
    loaded = catalog.load_table(["t1ns"], "test_create_table")
    assert loaded["metadata"]["table-uuid"] == md["table-uuid"]
    assert ({"namespace": ["t1ns"], "name": "test_create_table"}
            in catalog.list_tables(["t1ns"]))


def test_create_table_rejects_location_and_stage(catalog):
    catalog.create_namespace(["t2ns"])
    with pytest.raises(CatalogHTTPError) as exc:
        catalog._request("POST", "/v1/namespaces/t2ns/tables",
                         {"name": "x", "schema": SCHEMA_ID_NAME, "location": "/custom"})
    assert exc.value.status == 400
    with pytest.raises(CatalogHTTPError) as exc:
        catalog._request("POST", "/v1/namespaces/t2ns/tables",
                         {"name": "x", "schema": SCHEMA_ID_NAME, "stage-create": True})
    assert exc.value.status == 400


def test_commit_appends_snapshot(catalog):
    catalog.create_namespace(["c1"])
    created = catalog.create_table(["c1"], "t", SCHEMA_ID_NAME)
    uuid = created["metadata"]["table-uuid"]
    snap = {
        "snapshot-id": 1001, "sequence-number": 1, "timestamp-ms": 1,
        "manifest-list": "x.json", "summary": {"operation": "append"},
        "schema-id": 0,
    }
    out = catalog.commit_table(
        ["c1"], "t",
        requirements=[{"type": "assert-table-uuid", "uuid": uuid}],
        updates=[
            {"action": "add-snapshot", "snapshot": snap},
            {"action": "set-snapshot-ref", "ref-name": "main",
             "snapshot-id": 1001, "type": "branch"},
        ],
    )
    md = out["metadata"]
    assert md["current-snapshot-id"] == 1001
    assert md["refs"]["main"]["snapshot-id"] == 1001
    assert len(md["snapshot-log"]) == 1
    assert md["last-sequence-number"] >= 1


def test_load_table_snapshots_refs_filter(catalog):
    """`snapshots=refs` must return only ref-reachable snapshots (head +
    parent chain); the reference ignores the param (routes/tables.go:194) —
    spec-correct behavior here, per SURVEY §7.5."""
    catalog.create_namespace(["c1b"])
    created = catalog.create_table(["c1b"], "t", SCHEMA_ID_NAME)
    uuid = created["metadata"]["table-uuid"]

    def snap(sid, parent=None):
        s = {"snapshot-id": sid, "sequence-number": 1, "timestamp-ms": sid,
             "manifest-list": "x.json", "summary": {"operation": "append"},
             "schema-id": 0}
        if parent is not None:
            s["parent-snapshot-id"] = parent
        return s

    catalog.commit_table(
        ["c1b"], "t",
        requirements=[{"type": "assert-table-uuid", "uuid": uuid}],
        updates=[
            {"action": "add-snapshot", "snapshot": snap(1001)},
            {"action": "add-snapshot", "snapshot": snap(1002, parent=1001)},
            {"action": "set-snapshot-ref", "ref-name": "main",
             "snapshot-id": 1002, "type": "branch"},
            {"action": "add-snapshot", "snapshot": snap(2001)},  # unreferenced
        ],
    )
    s, full = catalog._request("GET", "/v1/namespaces/c1b/tables/t")
    assert {x["snapshot-id"] for x in full["metadata"]["snapshots"]} == {
        1001, 1002, 2001,
    }
    s, refs = catalog._request(
        "GET", "/v1/namespaces/c1b/tables/t", query="snapshots=refs"
    )
    assert {x["snapshot-id"] for x in refs["metadata"]["snapshots"]} == {1001, 1002}
    assert refs["metadata"]["refs"]["main"]["snapshot-id"] == 1002
    with pytest.raises(CatalogHTTPError) as exc:
        catalog._request(
            "GET", "/v1/namespaces/c1b/tables/t", query="snapshots=bogus"
        )
    assert exc.value.status == 400


def test_commit_requirement_violation_409(catalog):
    catalog.create_namespace(["c2"])
    catalog.create_table(["c2"], "t", SCHEMA_ID_NAME)
    with pytest.raises(CatalogHTTPError) as exc:
        catalog.commit_table(
            ["c2"], "t",
            requirements=[{"type": "assert-table-uuid", "uuid": "wrong-uuid"}],
            updates=[{"action": "set-properties", "updates": {"k": "v"}}],
        )
    assert exc.value.status == 409
    # And the update must NOT have been applied.
    assert "k" not in catalog.load_table(["c2"], "t")["metadata"]["properties"]


def test_identifier_mismatch_400(catalog):
    catalog.create_namespace(["c3"])
    catalog.create_table(["c3"], "t", SCHEMA_ID_NAME)
    with pytest.raises(CatalogHTTPError) as exc:
        catalog._request(
            "POST", "/v1/namespaces/c3/tables/t",
            {"identifier": {"namespace": ["c3"], "name": "OTHER"},
             "requirements": [], "updates": []},
        )
    assert exc.value.status == 400


def test_unknown_update_action_400(catalog):
    catalog.create_namespace(["c4"])
    catalog.create_table(["c4"], "t", SCHEMA_ID_NAME)
    with pytest.raises(CatalogHTTPError) as exc:
        catalog.commit_table(["c4"], "t", [], [{"action": "no-such-action"}])
    assert exc.value.status == 400


def test_schema_evolution_commit(catalog):
    catalog.create_namespace(["c5"])
    catalog.create_table(["c5"], "t", SCHEMA_ID_NAME)
    new_schema = {
        "type": "struct", "schema-id": 1,
        "fields": SCHEMA_ID_NAME["fields"]
        + [{"id": 3, "name": "extra", "required": False, "type": "double"}],
    }
    out = catalog.commit_table(
        ["c5"], "t", [],
        [{"action": "add-schema", "schema": new_schema, "last-column-id": 3},
         {"action": "set-current-schema", "schema-id": 1}],
    )
    md = out["metadata"]
    assert md["current-schema-id"] == 1
    assert len(md["schemas"]) == 2
    assert md["last-column-id"] == 3


def test_set_default_spec_sets_default_spec_id(catalog):
    """Regression vs the reference bug (logic/updates.go:229-231 wrote
    LastPartitionID instead of default-spec-id)."""
    catalog.create_namespace(["c6"])
    catalog.create_table(["c6"], "t", SCHEMA_ID_NAME)
    spec = {"spec-id": 1, "fields": [
        {"source-id": 1, "field-id": 1000, "transform": "identity", "name": "id"}
    ]}
    out = catalog.commit_table(
        ["c6"], "t", [],
        [{"action": "add-spec", "spec": spec},
         {"action": "set-default-spec", "spec-id": 1}],
    )
    md = out["metadata"]
    assert md["default-spec-id"] == 1
    assert md["last-partition-id"] == 1000


def test_concurrent_commits_one_wins(catalog):
    catalog.create_namespace(["race"])
    catalog.create_table(["race"], "t", SCHEMA_ID_NAME)
    results = []

    def commit(i):
        try:
            catalog.commit_table(
                ["race"], "t", [],
                [{"action": "set-properties", "updates": {f"k{i}": "v"}}],
            )
            results.append(("ok", i))
        except CatalogHTTPError as exc:
            results.append(("err", exc.status))

    threads = [threading.Thread(target=commit, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # Server serializes commits internally, so all succeed sequentially;
    # the invariant is NO lost updates: every successful commit's property
    # is present in the final metadata.
    md = catalog.load_table(["race"], "t")["metadata"]
    ok = [i for s, i in results if s == "ok"]
    assert ok, results
    for i in ok:
        assert f"k{i}" in md["properties"]


def test_stale_cas_conflict_409(catalog, tmp_path):
    """A writer that read at seq N must fail its commit if another writer
    moved the table to N+1 — driven through the raw CAS layer."""
    from denali_spark.catalog.store import Store

    store = Store()
    ns = store.namespace_pk(["default"])
    pk = store.register_object(ns, "t", "TABLE", "loc0")
    assert store.cas_update_object(pk, "loc1", 0)
    assert not store.cas_update_object(pk, "loc2", 0)  # stale expected_seq
    assert store.cas_update_object(pk, "loc2", 1)


def test_drop_table_and_purge(catalog):
    """Plain drop leaves files; purge (beyond parity — the reference 501s,
    routes/tables.go:349-351) also removes the table directory, fenced to
    stay inside the warehouse root."""
    import os

    from denali_spark.catalog.metadata import _fs_path

    catalog.create_namespace(["d1"])
    # plain drop: metadata row gone, files untouched
    t1 = catalog.create_table(["d1"], "t", SCHEMA_ID_NAME)
    loc1 = _fs_path(t1["metadata"]["location"])
    os.makedirs(loc1, exist_ok=True)
    catalog.drop_table(["d1"], "t")
    assert not catalog.table_exists(["d1"], "t")
    assert os.path.isdir(loc1)
    # purge drop: directory reclaimed too
    t2 = catalog.create_table(["d1"], "t2", SCHEMA_ID_NAME)
    loc2 = _fs_path(t2["metadata"]["location"])
    os.makedirs(os.path.join(loc2, "data"), exist_ok=True)
    with open(os.path.join(loc2, "data", "f.parquet"), "wb") as f:
        f.write(b"x")
    catalog.drop_table(["d1"], "t2", purge=True)
    assert not catalog.table_exists(["d1"], "t2")
    assert not os.path.exists(loc2)


def test_rename_table_across_namespaces(catalog):
    catalog.create_namespace(["r1"])
    catalog.create_namespace(["r2"])
    catalog.create_table(["r1"], "t", SCHEMA_ID_NAME)
    catalog.rename_table((["r1"], "t"), (["r2"], "t2"))
    assert catalog.table_exists(["r2"], "t2")
    assert not catalog.table_exists(["r1"], "t")


def test_register_table(catalog):
    catalog.create_namespace(["reg1"])
    catalog.create_namespace(["reg2"])
    created = catalog.create_table(["reg1"], "orig", SCHEMA_ID_NAME)
    out = catalog.register_table(["reg2"], "adopted", created["metadata-location"])
    assert out["metadata"]["table-uuid"] == created["metadata"]["table-uuid"]
    assert catalog.table_exists(["reg2"], "adopted")


def test_metrics_accepted(catalog):
    catalog.create_namespace(["m1"])
    catalog.create_table(["m1"], "t", SCHEMA_ID_NAME)
    catalog.report_metrics(["m1"], "t", {"report-type": "scan-report"})


def test_transactions_commit_implemented(catalog):
    """Round 2 upgraded this endpoint from 501 parity to a real atomic
    multi-table commit (tests/test_transactions.py covers semantics); an
    empty transaction is a 400, not a 501."""
    with pytest.raises(CatalogHTTPError) as exc:
        catalog._request("POST", "/v1/transactions/commit", {"table-changes": []})
    assert exc.value.status == 400


def test_load_missing_table_404(catalog):
    with pytest.raises(CatalogHTTPError) as exc:
        catalog.load_table(["default"], "ghost")
    assert exc.value.status == 404


def test_keep_alive_connection_has_no_delayed_ack_stall(catalog):
    """A client that reuses one connection (pyiceberg's requests.Session,
    Iceberg's Java REST client) must not wait out a delayed ACK per
    response: a loadTable costs well under 1 ms on loopback, against
    ~40 ms when the server's split header/body writes sit behind Nagle."""
    import http.client
    import time
    from urllib.parse import urlparse

    catalog.create_namespace(["ka"])
    catalog.create_table(["ka"], "t", SCHEMA_ID_NAME)
    uri = urlparse(catalog.uri)
    conn = http.client.HTTPConnection(uri.hostname, uri.port, timeout=10)
    try:
        t0 = time.perf_counter()
        for _ in range(200):
            conn.request("GET", "/v1/namespaces/ka/tables/t")
            resp = conn.getresponse()
            resp.read()
            assert resp.status == 200
        elapsed = time.perf_counter() - t0
    finally:
        conn.close()
    assert elapsed < 2.0, f"200 keep-alive loadTable calls took {elapsed:.2f}s"


def test_stop_returns_without_waiting_out_the_poll(tmp_path):
    """stop() must not wait out serve_forever's 0.5-s idle poll: each test
    that uses a catalog fixture pays it once."""
    import time

    for i in range(3):
        server = CatalogServer(make_state(str(tmp_path / f"wh{i}"))).start()
        CatalogClient(server.uri).create_namespace(["s"])
        time.sleep(0.05)  # let the serve loop go idle in its select
        t0 = time.perf_counter()
        server.stop()
        elapsed = time.perf_counter() - t0
        assert elapsed < 0.1, f"stop() took {elapsed:.3f}s"


def test_stop_closes_kept_alive_connections(tmp_path):
    """A stopped server must not go on answering a client's kept-alive
    connection (pyiceberg's and Java's REST clients hold one)."""
    import http.client
    from urllib.parse import urlparse

    server = CatalogServer(make_state(str(tmp_path / "wh"))).start()
    uri = urlparse(server.uri)
    conn = http.client.HTTPConnection(uri.hostname, uri.port, timeout=10)
    try:
        conn.request("GET", "/v1/namespaces")
        resp = conn.getresponse()
        resp.read()
        assert resp.status == 200
        server.stop()
        with pytest.raises((OSError, http.client.HTTPException)):
            conn.request("GET", "/v1/namespaces")
            conn.getresponse().read()
    finally:
        conn.close()


# --- client transport: one persistent connection per thread ----------------


@pytest.fixture()
def client_ports(monkeypatch):
    """Client port of every request the server handles."""
    from denali_spark.catalog import service

    ports = []
    dispatch = service._Handler._dispatch

    def recording(self, method):
        ports.append(self.client_address[1])
        return dispatch(self, method)

    monkeypatch.setattr(service._Handler, "_dispatch", recording)
    return ports


def test_client_thread_reuses_one_connection(catalog, client_ports):
    catalog.create_namespace(["conn"])
    catalog.create_table(["conn"], "t", SCHEMA_ID_NAME)
    for _ in range(200):
        catalog.load_table(["conn"], "t")
    assert len(client_ports) == 202
    assert len(set(client_ports)) == 1


def test_client_threads_get_their_own_responses(catalog, client_ports):
    """Threads sharing one client each hold their own connection, so no
    thread ever reads a response meant for another."""
    catalog.create_namespace(["mt"])
    uuids = {
        i: catalog.create_table(["mt"], f"t{i}", SCHEMA_ID_NAME)["metadata"]["table-uuid"]
        for i in range(4)
    }
    client_ports.clear()
    got = {i: [] for i in uuids}

    def loads(i):
        for _ in range(200):
            payload = catalog._request("GET", f"/v1/namespaces/mt/tables/t{i}")[1]
            got[i].append(payload["metadata"]["table-uuid"])

    threads = [threading.Thread(target=loads, args=(i,)) for i in uuids]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads mid-request
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    for i, uuid in uuids.items():
        assert got[i] == [uuid] * 200
    assert len(set(client_ports)) == 4


def test_client_survives_server_restart(tmp_path):
    """A restart closes the client's idle connection; the next read and
    the next commit go out on a fresh one."""
    wh, db = str(tmp_path / "wh"), str(tmp_path / "catalog.db")
    server = CatalogServer(make_state(wh, db)).start()
    port = server.port
    client = CatalogClient(server.uri)
    client.create_namespace(["rs"])
    client.create_table(["rs"], "t", SCHEMA_ID_NAME)
    server.stop()
    server = CatalogServer(make_state(wh, db), port=port).start()
    try:
        assert client.load_table(["rs"], "t")["metadata"]["properties"] == {}
        out = client.commit_table(
            ["rs"], "t", [],
            [{"action": "set-properties", "updates": {"after": "restart"}}],
        )
        assert out["metadata"]["properties"] == {"after": "restart"}
    finally:
        server.stop()


def test_only_reads_are_replayed_after_a_lost_response(catalog, monkeypatch):
    """When the server drops a reused connection instead of answering, a
    GET is sent again, and a commit the server received in full is not:
    the error surfaces and the table advanced exactly once."""
    import socket

    from denali_spark.catalog import service

    catalog.create_namespace(["lost"])
    created = catalog.create_table(["lost"], "t", SCHEMA_ID_NAME)["metadata"]
    path = "/v1/namespaces/lost/tables/t"
    seen, drop = [], {"GET", "POST"}
    send = service._Handler._send

    def dropping(self, *args, **kwargs):
        if self.path == path:
            seen.append(self.command)
            if self.command in drop:
                drop.discard(self.command)
                self.close_connection = True
                self.connection.shutdown(socket.SHUT_RDWR)
                return None
        return send(self, *args, **kwargs)

    monkeypatch.setattr(service._Handler, "_send", dropping)
    loaded = catalog._request("GET", path)[1]["metadata"]
    assert loaded["table-uuid"] == created["table-uuid"]
    assert seen == ["GET", "GET"]
    snap = {
        "snapshot-id": 7, "sequence-number": created["last-sequence-number"] + 1,
        "timestamp-ms": 1, "manifest-list": "x.avro",
        "summary": {"operation": "append"}, "schema-id": 0,
    }
    with pytest.raises(ConnectionError):
        catalog.commit_table(
            ["lost"], "t", [], [{"action": "add-snapshot", "snapshot": snap}]
        )
    assert seen == ["GET", "GET", "POST"]
    md = catalog.load_table(["lost"], "t")["metadata"]
    assert md["last-sequence-number"] == created["last-sequence-number"] + 1
    assert [s["snapshot-id"] for s in md["snapshots"]] == [7]


# --- views (fully implemented; reference stubs these) ---------------------


def test_view_lifecycle(catalog):
    catalog.create_namespace(["v1"])
    out = catalog.create_view(
        ["v1"], "myview", "SELECT 1 AS one", dialect="spark",
        properties={"comment": "test view"},
    )
    md = out["metadata"]
    assert md["format-version"] == 1
    assert md["current-version-id"] == 1
    rep = md["versions"][0]["representations"][0]
    assert rep == {"type": "sql", "sql": "SELECT 1 AS one", "dialect": "spark"}
    assert out["metadata-location"].endswith(".gz.metadata.json")

    loaded = catalog.load_view(["v1"], "myview")
    assert loaded["metadata"]["view-uuid"] == md["view-uuid"]
    assert ({"namespace": ["v1"], "name": "myview"} in catalog.list_views(["v1"]))

    replaced = catalog.replace_view(
        ["v1"], "myview",
        requirements=[{"type": "assert-view-uuid", "uuid": md["view-uuid"]}],
        updates=[
            {"action": "add-view-version", "view-version": {
                "version-id": 2, "timestamp-ms": 2, "schema-id": 0,
                "summary": {"operation": "replace"},
                "representations": [{"type": "sql", "sql": "SELECT 2 AS two",
                                     "dialect": "spark"}],
                "default-namespace": ["v1"],
            }},
            {"action": "set-current-view-version", "view-version-id": 2},
        ],
    )
    md2 = replaced["metadata"]
    assert md2["current-version-id"] == 2
    assert len(md2["versions"]) == 2

    catalog.rename_view((["v1"], "myview"), (["v1"], "renamed"))
    assert catalog.view_exists(["v1"], "renamed")
    catalog.drop_view(["v1"], "renamed")
    assert not catalog.view_exists(["v1"], "renamed")


def test_view_uuid_requirement_409(catalog):
    catalog.create_namespace(["v2"])
    catalog.create_view(["v2"], "v", "SELECT 1")
    with pytest.raises(CatalogHTTPError) as exc:
        catalog.replace_view(
            ["v2"], "v",
            requirements=[{"type": "assert-view-uuid", "uuid": "wrong"}],
            updates=[],
        )
    assert exc.value.status == 409


def test_view_version_minus_one_means_latest(catalog):
    catalog.create_namespace(["v3"])
    created = catalog.create_view(["v3"], "v", "SELECT 1")
    catalog.replace_view(
        ["v3"], "v", [],
        [{"action": "add-view-version", "view-version": {
            "version-id": 7, "timestamp-ms": 2, "schema-id": 0,
            "summary": {}, "representations": [], "default-namespace": ["v3"]}},
         {"action": "set-current-view-version", "view-version-id": -1}],
    )
    assert catalog.load_view(["v3"], "v")["metadata"]["current-version-id"] == 7
    assert created["metadata"]["current-version-id"] == 1


# --- pagination (spec PageParams — reference declares, never implements,
# routes/common.go:21-24; implemented per the REST spec here) ---------------


def test_list_tables_pagination(catalog):
    catalog.create_namespace(["pg"])
    names = [f"t{i:02d}" for i in range(7)]
    for n in names:
        catalog.create_table(["pg"], n, SCHEMA_ID_NAME)
    # paged client walk returns everything, in sorted order
    got = [t["name"] for t in catalog.list_tables(["pg"], page_size=3)]
    assert got == names
    # raw page boundaries: 3 + 3 + 1, token only while more remain
    s, payload = catalog._request("GET", "/v1/namespaces/pg/tables", query="pageSize=3")
    assert [t["name"] for t in payload["identifiers"]] == names[:3]
    assert payload["next-page-token"] == "t02"
    s, payload = catalog._request(
        "GET", "/v1/namespaces/pg/tables", query="pageSize=3&pageToken=t05"
    )
    assert [t["name"] for t in payload["identifiers"]] == ["t06"]
    assert "next-page-token" not in payload
    # unpaged request: all rows, no token (back-compat)
    s, payload = catalog._request("GET", "/v1/namespaces/pg/tables")
    assert len(payload["identifiers"]) == 7
    assert "next-page-token" not in payload


def test_list_namespaces_pagination(catalog):
    for n in ("a", "b", "c"):
        catalog.create_namespace([f"pgn_{n}"])
    got = catalog.list_namespaces(page_size=2)
    assert [x for x in got if x[0].startswith("pgn_")] == [
        ["pgn_a"], ["pgn_b"], ["pgn_c"]
    ]


def test_pagination_bad_page_size_400(catalog):
    catalog.create_namespace(["pgbad"])
    with pytest.raises(CatalogHTTPError) as exc:
        catalog._request("GET", "/v1/namespaces/pgbad/tables", query="pageSize=nope")
    assert exc.value.status == 400


# --- statistics ops (reference rejects set/remove-statistics,
# logic/updates.go:399-415; partition variants absent from its map) ---------


def test_statistics_ops_roundtrip(catalog):
    catalog.create_namespace(["st"])
    catalog.create_table(["st"], "t", SCHEMA_ID_NAME)
    md = catalog.load_table(["st"], "t")["metadata"]
    snap = {
        "snapshot-id": 111, "parent-snapshot-id": None, "sequence-number": 1,
        "timestamp-ms": 1, "manifest-list": "x", "schema-id": 0,
        "summary": {"operation": "append"},
    }
    stats = {
        "snapshot-id": 111, "statistics-path": "s.puffin",
        "file-size-in-bytes": 10, "file-footer-size-in-bytes": 2,
        "blob-metadata": [],
    }
    pstats = {
        "snapshot-id": 111, "statistics-path": "p.stats", "file-size-in-bytes": 5,
    }
    out = catalog.commit_table(
        ["st"], "t",
        requirements=[{"type": "assert-table-uuid", "uuid": md["table-uuid"]}],
        updates=[
            {"action": "add-snapshot", "snapshot": snap},
            {"action": "set-statistics", "statistics": stats},
            {"action": "set-partition-statistics", "partition-statistics": pstats},
        ],
    )["metadata"]
    assert out["statistics"] == [stats]
    assert out["partition-statistics"] == [pstats]
    # upsert replaces same-snapshot stats; remove drops them
    stats2 = {**stats, "statistics-path": "s2.puffin"}
    out = catalog.commit_table(
        ["st"], "t", requirements=[],
        updates=[{"action": "set-statistics", "statistics": stats2}],
    )["metadata"]
    assert out["statistics"] == [stats2]
    out = catalog.commit_table(
        ["st"], "t", requirements=[],
        updates=[
            {"action": "remove-statistics", "snapshot-id": 111},
            {"action": "remove-partition-statistics", "snapshot-id": 111},
        ],
    )["metadata"]
    assert out["statistics"] == [] and out["partition-statistics"] == []


# --- blob-store scheme dispatch (round 5) ---------------------------------
#
# Analog of the reference's object-store IO (iceberg-overload/io/blob.go —
# dead code there because LoadFS ships with s3 commented out). Here the
# dispatch is live: local unchanged, cloud schemes import-gated, custom
# stores pluggable.


def test_blob_dispatch_cloud_scheme_is_capability_gated():
    import pytest as _pytest

    from denali_spark.catalog import metadata as meta

    with _pytest.raises(NotImplementedError, match="s3"):
        meta.read_blob("s3://bucket/table/metadata/v0.metadata.json")
    with _pytest.raises(NotImplementedError, match="gs"):
        meta.write_blob_atomic("gs://bucket/x", b"data")


def test_blob_dispatch_unknown_scheme_rejected():
    import pytest as _pytest

    from denali_spark.catalog.errors import BadRequest
    from denali_spark.catalog import metadata as meta

    with _pytest.raises(BadRequest):
        meta.read_blob("ftp://host/x")


def test_blob_dispatch_pluggable_store_roundtrip():
    """register_scheme lets a deployment plug in a real object store; table
    metadata write/read then flows through it end-to-end."""
    from denali_spark.catalog import metadata as meta

    class MemStore:
        def __init__(self):
            self.blobs = {}

        def read(self, path):
            return self.blobs[path]

        def write_atomic(self, path, data):
            self.blobs[path] = data

    store = MemStore()
    meta.register_scheme("mem", store)
    try:
        md = meta.new_table_metadata("mem://wh", {"fields": []})
        loc = meta.write_table_metadata(md, 0)
        assert loc.startswith("mem://wh/")
        assert meta.read_table_metadata(loc) == md
        assert len(store.blobs) == 1
    finally:
        del meta._SCHEMES["mem"]


def test_blob_dispatch_local_unchanged(tmp_path):
    from denali_spark.catalog import metadata as meta

    md = meta.new_table_metadata(f"file://{tmp_path}", {"fields": []})
    loc = meta.write_table_metadata(md, 0)
    assert loc.startswith("file://")
    assert meta.read_table_metadata(loc) == md
    # and the bytes really are on the local filesystem at the mapped path
    import os

    assert os.path.exists(meta._fs_path(loc))


# --- ETag / If-None-Match on loadTable (REST-spec caching, beyond parity) --


def test_load_table_etag_304_and_invalidation(catalog):
    catalog.create_namespace(["et"])
    catalog.create_table(["et"], "t", SCHEMA_ID_NAME)
    path = "/v1/namespaces/et/tables/t"

    status, payload, headers = catalog._request_h("GET", path)
    etag = headers.get("ETag")
    assert status == 200 and etag and etag.startswith('"')

    # matching If-None-Match: 304, no body shipped
    status2, payload2, headers2 = catalog._request_h(
        "GET", path, extra_headers={"If-None-Match": etag}
    )
    assert status2 == 304 and payload2 == {}
    assert headers2.get("ETag") == etag

    # a commit rotates the metadata location -> new etag, full 200 again
    catalog.commit_table(
        ["et"], "t", requirements=[],
        updates=[{"action": "set-properties", "updates": {"k": "v"}}],
    )
    status3, payload3, headers3 = catalog._request_h(
        "GET", path, extra_headers={"If-None-Match": etag}
    )
    assert status3 == 200
    assert headers3.get("ETag") != etag
    assert payload3["metadata"]["properties"]["k"] == "v"


def test_client_etag_cache_transparent(catalog):
    catalog.create_namespace(["et2"])
    catalog.create_table(["et2"], "t", SCHEMA_ID_NAME)

    first = catalog.load_table(["et2"], "t")
    again = catalog.load_table(["et2"], "t")  # served via 304 + cache
    assert again == first
    # cache hits must never share a mutable dict with the caller
    again["metadata"]["properties"]["mutated"] = "yes"
    assert "mutated" not in catalog.load_table(["et2"], "t")["metadata"].get(
        "properties", {}
    )

    # a commit invalidates: the next load sees the new metadata
    catalog.commit_table(
        ["et2"], "t", requirements=[],
        updates=[{"action": "set-properties", "updates": {"fresh": "1"}}],
    )
    latest = catalog.load_table(["et2"], "t")
    assert latest["metadata"]["properties"]["fresh"] == "1"
    assert latest["metadata-location"] != first["metadata-location"]
