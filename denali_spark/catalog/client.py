"""Minimal Iceberg REST catalog client (stdlib http.client).

Each calling thread keeps one persistent HTTP/1.1 connection per client,
so a request costs no TCP set-up once the thread has made its first; a
request whose connection broke is sent again only when that cannot apply
it twice (see CatalogClient._request_h).
Used by the test suite and by the Spark source/sink layer
(denali_spark.sources) — the same role pyiceberg's RestCatalog plays against
the reference in its tests (/root/reference/tests/pyiceberg/conftest.py).
"""

from __future__ import annotations

import http.client
import json
import select
import threading
from urllib.parse import quote, urlencode, urlsplit

UNIT_SEP = "\x1f"


class ClientProtocolError(Exception):
    """Client-detected protocol violation (e.g. a server paging loop) —
    distinct from CatalogHTTPError, which carries a server status code,
    and from the server-side errors.CatalogError hierarchy."""


class CatalogHTTPError(Exception):
    def __init__(self, status: int, payload: dict):
        self.status = status
        self.payload = payload
        msg = payload.get("error", {}).get("message", str(payload))
        super().__init__(f"HTTP {status}: {msg}")


def _dropped(sock) -> bool:
    """An idle keep-alive socket turns readable only when the server has
    closed it (EOF) or reset it, as urllib3's is_connection_dropped
    checks."""
    poller = select.poll()
    poller.register(sock, select.POLLIN)
    return bool(poller.poll(0))


class _Connection(http.client.HTTPConnection):
    """A thread's connection; its socket closes when the connection is
    dropped, with its thread or with its client."""

    def __del__(self):
        self.close()


class _TLSConnection(http.client.HTTPSConnection):
    __del__ = _Connection.__del__


class CatalogClient:
    def __init__(self, uri: str, token: str | None = None):
        self.uri = uri.rstrip("/")
        self.token = token  # bearer token for OAuth-enabled catalogs
        # loadTable conditional-request cache: path -> (etag, payload).
        # The server's ETag hashes the metadata-location, which changes on
        # every commit, so a 304 hit is guaranteed-fresh; at scale this
        # saves re-shipping a multi-MB metadata document per poll.
        self._etag_cache: dict[str, tuple[str, dict]] = {}
        parts = urlsplit(self.uri)
        self._conn_args = (
            _TLSConnection if parts.scheme == "https" else _Connection,
            parts.hostname, parts.port,
        )
        self._prefix = parts.path
        self._local = threading.local()  # .conn: this thread's connection

    # --- plumbing ---------------------------------------------------------

    def _request(self, method: str, path: str, body: dict | None = None,
                 query: str = "") -> tuple[int, dict]:
        return self._request_h(method, path, body, query)[:2]

    def _request_h(
        self, method: str, path: str, body: dict | bytes | None = None,
        query: str = "", extra_headers: dict | None = None,
    ) -> tuple[int, dict, dict]:
        """Send one request on the calling thread's persistent connection
        and return (status, payload, headers); 304 Not Modified is
        returned, any other status >= 400 raises CatalogHTTPError. A body
        is sent as JSON, or as it is when it is bytes (with the Content-Type
        given in extra_headers).

        An idle connection the server has closed is replaced before use.
        A request is replayed once on a fresh connection if its send
        failed, or, for GET and HEAD only, if a reused connection gave no
        status line: a POST or DELETE the server may have received in full
        is never sent twice."""
        target = f"{self._prefix}{path}" + (f"?{query}" if query else "")
        data = body if body is None or isinstance(body, bytes) else json.dumps(body).encode()
        headers = {"Content-Type": "application/json"} if data else {}
        if self.token:
            headers["Authorization"] = f"Bearer {self.token}"
        headers.update(extra_headers or {})
        conn = getattr(self._local, "conn", None)
        if conn is None:
            cls, host, port = self._conn_args
            conn = self._local.conn = cls(host, port)
        for attempt in (0, 1):
            if conn.sock is not None and _dropped(conn.sock):
                conn.close()
            reused = conn.sock is not None
            try:
                conn.request(method, target, data, headers)
            except OSError:
                conn.close()
                if attempt:
                    raise
                continue
            try:
                resp = conn.getresponse()
                raw = resp.read()
                break
            except ConnectionError:
                conn.close()
                # a replayed read answers the same; a replayed commit
                # could apply twice
                if attempt or not reused or method not in ("GET", "HEAD"):
                    raise
            except BaseException:
                conn.close()
                raise
        payload = json.loads(raw) if raw else {}
        if resp.status >= 400:
            raise CatalogHTTPError(resp.status, payload)
        return resp.status, payload, dict(resp.headers)

    def authenticate(self, client_id: str, client_secret: str,
                     scope: str = "catalog") -> str:
        """RFC 6749 client_credentials exchange at /v1/oauth/tokens; the
        returned bearer token is remembered for every later request."""
        data = urlencode({
            "grant_type": "client_credentials",
            "client_id": client_id,
            "client_secret": client_secret,
            "scope": scope,
        }).encode()
        payload = self._request_h(
            "POST", "/v1/oauth/tokens", data,
            extra_headers={"Content-Type": "application/x-www-form-urlencoded"},
        )[1]
        self.token = payload["access_token"]
        return self.token

    @staticmethod
    def _ns(levels: list[str]) -> str:
        return quote(UNIT_SEP.join(levels), safe="")

    # --- config / health --------------------------------------------------

    def config(self, warehouse: str | None = None) -> dict:
        return self._request(
            "GET", "/v1/config", query=f"warehouse={quote(warehouse)}" if warehouse else ""
        )[1]

    def status_ok(self) -> bool:
        return self._request("GET", "/status")[0] == 204

    # --- namespaces -------------------------------------------------------

    def _paged_get(self, path: str, key: str, query: str, page_size: int | None):
        """GET a list endpoint; with page_size, walk next-page-token until
        the server is drained (spec pagination — bounds response size when
        a namespace holds hundreds of thousands of tables)."""
        if page_size is None:
            return self._request("GET", path, query=query)[1][key]
        out, token, seen = [], None, set()
        while True:
            parts = [query] if query else []
            parts.append(f"pageSize={page_size}")
            if token:
                parts.append(f"pageToken={quote(token)}")
            payload = self._request("GET", path, query="&".join(parts))[1]
            out.extend(payload[key])
            token = payload.get("next-page-token")
            # The spec allows an EMPTY page carrying a valid token (e.g. a
            # server skipping a tombstoned range), so an empty page must NOT
            # end the walk. Terminate only on a missing/empty token. A
            # repeated token is a degenerate server that would loop forever:
            # raise rather than silently return a possibly-partial listing
            # as success (callers could not tell the difference, masking
            # server paging bugs).
            if not token:
                return out
            if token in seen:
                raise ClientProtocolError(
                    f"server repeated next-page-token {token!r} while paging "
                    f"{path}: listing may be incomplete (server paging bug)"
                )
            seen.add(token)

    def list_namespaces(
        self, parent: list[str] | None = None, page_size: int | None = None
    ) -> list[list[str]]:
        query = f"parent={self._ns(parent)}" if parent else ""
        return self._paged_get("/v1/namespaces", "namespaces", query, page_size)

    def create_namespace(self, levels: list[str], properties: dict | None = None) -> dict:
        return self._request(
            "POST", "/v1/namespaces",
            {"namespace": levels, "properties": properties or {}},
        )[1]

    def namespace_exists(self, levels: list[str]) -> bool:
        try:
            return self._request("HEAD", f"/v1/namespaces/{self._ns(levels)}")[0] == 204
        except CatalogHTTPError as exc:
            if exc.status == 404:
                return False
            raise

    def load_namespace(self, levels: list[str]) -> dict:
        return self._request("GET", f"/v1/namespaces/{self._ns(levels)}")[1]

    def drop_namespace(self, levels: list[str]) -> None:
        self._request("DELETE", f"/v1/namespaces/{self._ns(levels)}")

    def update_namespace_properties(
        self, levels: list[str], removals: list[str] | None = None,
        updates: dict | None = None,
    ) -> dict:
        return self._request(
            "POST", f"/v1/namespaces/{self._ns(levels)}/properties",
            {"removals": removals or [], "updates": updates or {}},
        )[1]

    # --- tables -----------------------------------------------------------

    def list_tables(
        self, levels: list[str], page_size: int | None = None
    ) -> list[dict]:
        return self._paged_get(
            f"/v1/namespaces/{self._ns(levels)}/tables", "identifiers", "", page_size
        )

    def create_table(self, levels: list[str], name: str, schema: dict,
                     partition_spec: dict | None = None,
                     write_order: dict | None = None,
                     properties: dict | None = None) -> dict:
        body = {"name": name, "schema": schema}
        if partition_spec is not None:
            body["partition-spec"] = partition_spec
        if write_order is not None:
            body["write-order"] = write_order
        if properties is not None:
            body["properties"] = properties
        return self._request(
            "POST", f"/v1/namespaces/{self._ns(levels)}/tables", body
        )[1]

    def register_table(self, levels: list[str], name: str, metadata_location: str) -> dict:
        return self._request(
            "POST", f"/v1/namespaces/{self._ns(levels)}/register",
            {"name": name, "metadata-location": metadata_location},
        )[1]

    def load_table(self, levels: list[str], name: str) -> dict:
        path = f"/v1/namespaces/{self._ns(levels)}/tables/{quote(name)}"
        cached = self._etag_cache.get(path)
        status, payload, headers = self._request_h(
            "GET", path,
            extra_headers={"If-None-Match": cached[0]} if cached else None,
        )
        if status == 304 and cached:
            # JSON round-trip: callers may mutate the returned metadata
            # in place, so the cached canonical copy must never be shared
            return json.loads(cached[1])
        etag = headers.get("ETag")
        if etag:
            self._etag_cache[path] = (etag, json.dumps(payload))
        return payload

    def table_exists(self, levels: list[str], name: str) -> bool:
        try:
            return self._request(
                "HEAD", f"/v1/namespaces/{self._ns(levels)}/tables/{quote(name)}"
            )[0] == 204
        except CatalogHTTPError as exc:
            if exc.status == 404:
                return False
            raise

    def commit_table(self, levels: list[str], name: str,
                     requirements: list[dict], updates: list[dict]) -> dict:
        return self._request(
            "POST", f"/v1/namespaces/{self._ns(levels)}/tables/{quote(name)}",
            {
                "identifier": {"namespace": levels, "name": name},
                "requirements": requirements,
                "updates": updates,
            },
        )[1]

    def plan_table_scan(
        self, levels: list[str], name: str,
        snapshot_id: int | None = None, filter: dict | None = None,
        select: list[str] | None = None, case_sensitive: bool = True,
    ) -> dict:
        """Server-side scan planning (REST spec PlanTableScan). Returns a
        completed PlanTableScanResult: {status, file-scan-tasks,
        delete-files, plan-tasks}. Transparently handles BOTH response
        shapes: small plans complete synchronously; large ones answer
        {status: submitted, plan-id} and are polled to completion here
        (fetch_planning_result), so callers always see a terminal
        result."""
        import time as _time

        body: dict = {"case-sensitive": case_sensitive}
        if snapshot_id is not None:
            body["snapshot-id"] = snapshot_id
        if filter is not None:
            body["filter"] = filter
        if select is not None:
            body["select"] = select
        result = self._request(
            "POST",
            f"/v1/namespaces/{self._ns(levels)}/tables/{quote(name)}/plan",
            body,
        )[1]
        delay = 0.05
        while result.get("status") == "submitted":
            result = self.fetch_planning_result(
                levels, name, result["plan-id"]
            )
            if result.get("status") == "submitted":
                _time.sleep(delay)
                delay = min(delay * 2, 2.0)  # capped backoff
        if result.get("status") in ("cancelled", "failed"):
            raise RuntimeError(f"plan ended {result['status']}")
        return result

    def fetch_planning_result(
        self, levels: list[str], name: str, plan_id: str
    ) -> dict:
        """Poll an async plan-id (REST spec FetchPlanningResult)."""
        return self._request(
            "GET",
            f"/v1/namespaces/{self._ns(levels)}/tables/{quote(name)}"
            f"/plan/{quote(plan_id, safe='')}",
        )[1]

    def cancel_planning(self, levels: list[str], name: str, plan_id: str) -> None:
        """Cancel an async plan-id (REST spec CancelPlanning): later polls
        answer status=cancelled."""
        self._request(
            "DELETE",
            f"/v1/namespaces/{self._ns(levels)}/tables/{quote(name)}"
            f"/plan/{quote(plan_id, safe='')}",
        )

    def fetch_scan_tasks(self, levels: list[str], name: str, plan_task: str) -> dict:
        """Redeem one plan-task handle from plan_table_scan for its shard
        of file-scan-tasks (REST spec FetchScanTasks)."""
        return self._request(
            "POST",
            f"/v1/namespaces/{self._ns(levels)}/tables/{quote(name)}/tasks",
            {"plan-task": plan_task},
        )[1]

    def commit_transaction(self, table_changes: list[dict]) -> None:
        """Atomic multi-table commit: each change is
        {'identifier': {'namespace': [...], 'name': ...},
         'requirements': [...], 'updates': [...]}. All tables commit or
        none do (409 on any conflict)."""
        self._request(
            "POST", "/v1/transactions/commit", {"table-changes": table_changes}
        )

    def drop_table(self, levels: list[str], name: str, purge: bool = False) -> None:
        self._request(
            "DELETE", f"/v1/namespaces/{self._ns(levels)}/tables/{quote(name)}",
            query="purgeRequested=true" if purge else "",
        )

    def rename_table(self, src: tuple[list[str], str], dst: tuple[list[str], str]) -> None:
        self._request(
            "POST", "/v1/tables/rename",
            {
                "source": {"namespace": src[0], "name": src[1]},
                "destination": {"namespace": dst[0], "name": dst[1]},
            },
        )

    def report_metrics(self, levels: list[str], name: str, report: dict) -> None:
        self._request(
            "POST",
            f"/v1/namespaces/{self._ns(levels)}/tables/{quote(name)}/metrics",
            report,
        )

    # --- views ------------------------------------------------------------

    def list_views(
        self, levels: list[str], page_size: int | None = None
    ) -> list[dict]:
        return self._paged_get(
            f"/v1/namespaces/{self._ns(levels)}/views", "identifiers", "", page_size
        )

    def create_view(self, levels: list[str], name: str, sql: str,
                    dialect: str = "spark", schema: dict | None = None,
                    properties: dict | None = None) -> dict:
        return self._request(
            "POST", f"/v1/namespaces/{self._ns(levels)}/views",
            {
                "name": name,
                "schema": schema or {"type": "struct", "schema-id": 0, "fields": []},
                "view-version": {
                    "representations": [
                        {"type": "sql", "sql": sql, "dialect": dialect}
                    ],
                    "default-namespace": levels,
                },
                "properties": properties or {},
            },
        )[1]

    def load_view(self, levels: list[str], name: str) -> dict:
        return self._request(
            "GET", f"/v1/namespaces/{self._ns(levels)}/views/{quote(name)}"
        )[1]

    def view_exists(self, levels: list[str], name: str) -> bool:
        try:
            return self._request(
                "HEAD", f"/v1/namespaces/{self._ns(levels)}/views/{quote(name)}"
            )[0] == 204
        except CatalogHTTPError as exc:
            if exc.status == 404:
                return False
            raise

    def replace_view(self, levels: list[str], name: str,
                     requirements: list[dict], updates: list[dict]) -> dict:
        return self._request(
            "POST", f"/v1/namespaces/{self._ns(levels)}/views/{quote(name)}",
            {
                "identifier": {"namespace": levels, "name": name},
                "requirements": requirements,
                "updates": updates,
            },
        )[1]

    def drop_view(self, levels: list[str], name: str) -> None:
        self._request("DELETE", f"/v1/namespaces/{self._ns(levels)}/views/{quote(name)}")

    def rename_view(self, src: tuple[list[str], str], dst: tuple[list[str], str]) -> None:
        self._request(
            "POST", "/v1/views/rename",
            {
                "source": {"namespace": src[0], "name": src[1]},
                "destination": {"namespace": dst[0], "name": dst[1]},
            },
        )
