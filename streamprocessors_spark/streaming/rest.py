"""S7: the HTTP/REST control-and-query surface, Spark-native.

The reference embeds an HTTP server whose request handler routes GET/PUT/
POST/DELETE over ``/procs``, ``/stream_procs/<id>`` and the
``*_stats.json`` endpoints, wraps every payload in the envelope
``{"code":..,"status":..,"message":..,"data":..}`` and translates outcome
codes through a fixed method-aware status table
(main/stream_procs_api_http.c:52,86-302; stats routing :304-330).

This module is the same surface over Spark state: a threaded stdlib HTTP
server whose data suppliers are plain callables returning the JSON
``data`` payload — in practice the collected output of the registered
envelope queries (``ts_programs_summary_json``, ``stats_endpoint_json``)
or a ConfigStore read. Stats suppliers touch no Spark object: they run on
the request thread against whatever snapshot the engine last
materialized, like the reference's handler reading the PSI registers
built by the processing threads. The config routes do run Spark: they
read and rewrite the ConfigStore under its lock, so a GET that meets a
PUT's or DELETE's directory swap waits for it and then reads the new
table, as the reference's API readers take the mutex its register swap
holds (psi_proc.c:371-390).

Status translation (stream_procs_api_http.c:236-274):

    GET    -> 200 OK, 404 Not Found, 304 Not Modified
    POST   -> 201 Created, 404 Not Found, 409 Conflict
    PUT    -> 200 OK, 204 No Content, 404 Not Found
    DELETE -> 200 OK, 404 Not Found
"""

from __future__ import annotations

import json
import threading
from collections.abc import Callable
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import urlparse

# Outcome codes a supplier/mutator can signal (the reference's STAT_*).
OK = "ok"
NOT_FOUND = "not_found"
NOT_MODIFIED = "not_modified"
# STAT_ERROR: deliberately absent from the table -> default 404 for EVERY
# method (stream_procs_api_http.c:270-273) — unlike NOT_FOUND, which PUT
# maps to 204.
ERROR = "error"

_STATUS_TABLE: dict[tuple[str, str], tuple[int, str]] = {
    ("GET", OK): (200, "OK"),
    ("GET", NOT_FOUND): (404, "Not Found"),
    ("GET", NOT_MODIFIED): (304, "Not Modified"),
    ("POST", OK): (201, "Created"),
    ("POST", NOT_FOUND): (404, "Not Found"),
    ("POST", NOT_MODIFIED): (409, "Conflict"),
    ("PUT", OK): (200, "OK"),
    # STAT_ENOTFOUND on PUT is 204 in the reference (stream_procs_api_http
    # .c:252-256) — 404 on PUT only arises from STAT_ERROR/default.
    ("PUT", NOT_FOUND): (204, "No Content"),
    ("PUT", NOT_MODIFIED): (204, "No Content"),
    ("DELETE", OK): (200, "OK"),
    ("DELETE", NOT_FOUND): (404, "Not Found"),
}


def envelope(code: int, status: str, message: str | None, data: str | None) -> str:
    """The reference's RESPONSE_FMT (stream_procs_api_http.c:52): ``data``
    is raw pre-serialized JSON (or None -> null), everything else is
    JSON-encoded here."""
    return (
        '{"code":%d,"status":%s,"message":%s,"data":%s}'
        % (
            code,
            json.dumps(status),
            json.dumps(message) if message is not None else "null",
            data if data is not None else "null",
        )
    )


# A handler takes (id_or_None, query_string, body) and returns
# (outcome, data_json_or_None). Mutating handlers receive the body/query
# exactly as sent — settings parsing is the engine's job (P9), not HTTP's.
RouteHandler = Callable[[str | None, str, str], tuple[str, str | None]]


class StateRestServer:
    """Threaded HTTP server exposing engine state via route handlers.

    Routes are registered per (method, collection): a request for
    ``/procs/17`` dispatches to ``routes[("GET", "procs")]`` with id "17";
    ``/procs`` dispatches with id None. Substring stats routes mirror the
    reference's URL_HAS matching: any GET whose path contains a registered
    ``*_stats.json`` needle is served by that supplier.
    """

    def __init__(self) -> None:
        self.routes: dict[tuple[str, str], RouteHandler] = {}
        self.stats: dict[str, Callable[[], str | None]] = {}
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    def route(self, method: str, collection: str, fn: RouteHandler) -> None:
        self.routes[(method.upper(), collection)] = fn

    def stats_route(self, needle: str, supplier: Callable[[], str | None]) -> None:
        self.stats[needle] = supplier

    # -- dispatch (pure; unit-testable without sockets) ------------------

    def dispatch(self, method: str, url: str, body: str = "") -> tuple[int, str]:
        parsed = urlparse(url)
        path, query = parsed.path, parsed.query
        method = method.upper()

        if method == "GET":
            for needle, supplier in self.stats.items():
                if needle in path:
                    # same rule as route handlers: a raising supplier is
                    # 404, never a dropped connection
                    try:
                        data = supplier()
                    except Exception:  # noqa: BLE001
                        data = None
                    outcome = OK if data is not None else NOT_FOUND
                    return self._respond(method, outcome, data)

        parts = [p for p in path.split("/") if p]
        if parts:
            collection = parts[0]
            obj_id = parts[1] if len(parts) > 1 else None
            fn = self.routes.get((method, collection))
            if fn is not None:
                try:
                    outcome, data = fn(obj_id, query, body)
                except Exception:  # noqa: BLE001 — bad id, malformed doc...
                    # the reference's rule: a handler error is STAT_ERROR
                    # -> default 404 for any method
                    # (stream_procs_api_http.c:270-273), never a dropped
                    # connection
                    outcome, data = ERROR, None
                return self._respond(method, outcome, data)
        return self._respond(method, NOT_FOUND, None)

    def _respond(self, method: str, outcome: str, data: str | None) -> tuple[int, str]:
        code, status = _STATUS_TABLE.get((method, outcome), (404, "Not Found"))
        return code, envelope(code, status, None, data)

    # -- socket server ---------------------------------------------------

    def start(self, host: str = "127.0.0.1", port: int = 0) -> int:
        """Start serving on a daemon thread; returns the bound port."""
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a: object) -> None:  # quiet
                pass

            def _serve(self) -> None:
                length = int(self.headers.get("Content-Length") or 0)
                body = self.rfile.read(length).decode() if length else ""
                code, payload = outer.dispatch(self.command, self.path, body)
                raw = payload.encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(raw)))
                self.end_headers()
                self.wfile.write(raw)

            do_GET = do_PUT = do_POST = do_DELETE = _serve

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self._httpd.server_address[1]

    def close(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None


def config_store_routes(server: StateRestServer, store) -> None:
    """Wire the reference's /procs surface onto a ConfigStore: GET lists
    or fetches settings docs by sys_id, PUT upserts a settings doc (the
    body or query string, dual-format per P9), DELETE removes. Mirrors
    the proc-by-id routing of stream_procs_api_http.c:134-231. Every
    handler goes through the store's locked methods."""

    def get(obj_id: str | None, query: str, body: str) -> tuple[str, str | None]:
        rows = store.rows()
        if obj_id is None:
            data = json.dumps(
                [
                    {"sys_id": k, "seq": rows[k][0], "doc": rows[k][1]}
                    for k in sorted(rows)
                ]
            )
            return OK, data
        k = int(obj_id)
        if k not in rows:
            return NOT_FOUND, None
        seq, doc = rows[k]
        return OK, json.dumps({"sys_id": k, "seq": seq, "doc": doc})

    def put(obj_id: str | None, query: str, body: str) -> tuple[str, str | None]:
        if obj_id is None:
            return NOT_FOUND, None
        k = int(obj_id)
        # ThreadingHTTPServer serves concurrently: holding the store lock
        # across the seq read and the upsert keeps two concurrent PUTs
        # from minting the same seq.
        with store.lock:
            seq = store.rows().get(k, (0, ""))[0] + 1
            batch = store.spark.createDataFrame(
                [(k, seq, body or query)],
                "sys_id BIGINT, seq BIGINT, doc STRING",
            )
            store.upsert(batch)
        return OK, json.dumps({"sys_id": k, "seq": seq})

    def delete(obj_id: str | None, query: str, body: str) -> tuple[str, str | None]:
        if obj_id is None:
            return NOT_FOUND, None
        k = int(obj_id)
        if not store.delete(k):
            return NOT_FOUND, None
        return OK, json.dumps({"deleted": k})

    server.route("GET", "procs", get)
    server.route("PUT", "procs", put)
    server.route("DELETE", "procs", delete)
    # the reference exposes the same handler tree under /stream_procs
    server.route("GET", "stream_procs", get)
    server.route("PUT", "stream_procs", put)
    server.route("DELETE", "stream_procs", delete)


class MonitorStats:
    """The monitor→REST loop (VERDICT r11 #5): holds the latest
    MATERIALIZED snapshot of each maintenance monitor's worklist
    (drift_remediation_plan, ivf_retrain_plan, ...) and serves it
    through the ``*_stats.json`` supplier pattern — the reference's
    dashboard surface (assets/html/js/system.js polls the stats
    endpoints; routing main/stream_procs_api_http.c:304-330).

    The engine calls ``refresh`` at reconciliation time (end of a
    recrawl round / a monitor trigger); request threads serve the held
    JSON without touching Spark — the same no-blocking contract as every
    other supplier. Worklists are bounded (per-source / per-cell rows),
    so the held snapshot is small by construction."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._data: dict[str, str] = {}

    def refresh(self, name: str, df) -> int:
        """Materialize ``df`` (a bounded monitor worklist) as the
        snapshot served under ``<name>_stats.json``; returns the row
        count."""
        # bounded collect: monitor worklists are per-source/per-cell
        rows = [r.asDict(recursive=True) for r in df.collect()]
        payload = json.dumps({"name": name, "n_rows": len(rows), "rows": rows})
        with self._lock:
            self._data[name] = payload
        return len(rows)

    def supplier(self, name: str) -> Callable[[], str | None]:
        def get() -> str | None:
            with self._lock:
                return self._data.get(name)

        return get

    def routes(self, server: StateRestServer, *names: str) -> None:
        """Register ``<name>_stats.json`` substring routes; an endpoint
        whose monitor has never materialized serves 404 (NOT_FOUND), the
        same outcome as any absent stats supplier."""
        for name in names:
            server.stats_route(f"{name}_stats.json", self.supplier(name))
