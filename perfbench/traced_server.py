"""Catalog server launcher for traced runs.

Starts the same ``CatalogServer`` as ``python -m denali_spark.catalog start
--port 0 --db :memory:``, after wrapping the service's route handlers,
``catalog.metadata.read/write_table_metadata`` and the SQLite ``Store``
methods in spans. A request is traced when it carries the benchmark's
``X-Perfbench-Op`` header; its spans take that operation id, so client and
server spans of one operation join up. Spans stay in memory and are written
to ``--spans-out`` when the server receives SIGTERM.

    python perfbench/traced_server.py --warehouse DIR --spans-out FILE
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import Tracer, TracingClient  # noqa: E402

from denali_spark.catalog import metadata, service  # noqa: E402
from denali_spark.catalog.store import Store  # noqa: E402

STORE_METHODS = (
    "get_object", "cas_update_object", "list_objects", "namespace_pk",
    "namespace_exists", "child_namespace_names", "register_object",
)


def install(tracer: Tracer, counters: dict) -> None:
    lock = threading.Lock()

    def count(key: str, n: int = 1) -> None:
        with lock:
            counters[key] = counters.get(key, 0) + n

    def route_after(name):
        def after(extra, args, kwargs, result):
            status = result[0]
            extra["status"] = status
            count(f"{name}.{status}")
        return after

    service.ROUTES[:] = [
        (method, pattern, tracer.wrap(
            handler, f"catalog.service.{handler.__name__}",
            route_after(handler.__name__),
        ))
        for method, pattern, handler in service.ROUTES
    ]

    def write_after(extra, args, kwargs, result):
        extra["bytes"] = os.path.getsize(metadata._fs_path(result))

    tracer.patch(metadata, "read_table_metadata", "catalog.metadata.read")
    tracer.patch(metadata, "write_table_metadata", "catalog.metadata.write", write_after)
    for attr in STORE_METHODS:
        tracer.patch(Store, attr, f"catalog.store.{attr}")

    # The handler learns the operation id from the request header; a
    # request without it runs untraced.
    dispatch = service._Handler._dispatch

    def traced_dispatch(self, method):
        raw = self.headers.get(TracingClient.OP_HEADER)
        if raw is None:
            return dispatch(self, method)
        with tracer.op(f"catalog.service.request.{method}", op_id=int(raw)):
            return dispatch(self, method)

    service._Handler._dispatch = traced_dispatch


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--warehouse", required=True)
    parser.add_argument("--spans-out", required=True)
    args = parser.parse_args()

    tracer, counters = Tracer(), {}
    install(tracer, counters)
    server = service.CatalogServer(
        service.make_state(args.warehouse, ":memory:"), port=0
    ).start()
    done = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: done.set())
    print(f"catalog listening on {server.uri} (warehouse={args.warehouse})", flush=True)
    while not done.wait(0.5):
        pass
    server.stop()
    with open(args.spans_out, "w") as f:
        json.dump({"spans": tracer.spans, "counters": counters}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
