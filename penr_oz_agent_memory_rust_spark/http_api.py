"""Thin HTTP shim over MemoryEngine — the reference's serving surface
(reference src/main.rs:99-109, nine Axum routes) re-expressed as a stdlib
`http.server` dispatcher so the demo/agent lifecycle runs against this
engine with zero extra dependencies.

This is deliberately NOT the scale path (BASELINE.json re-scopes serving
out of the north star): request/response serving belongs in front of the
engine, while Spark's job is the batch/stream pipelines behind it. The
shim exists so a user of the reference can point the same client at this
engine and run the same lifecycle (examples/agent_client.rs:2-9), and so
the route/auth/error contract has an executable spec:

    GET    /health              -> engine.health
    POST   /api/embed           -> engine.api_embed
    POST   /api/memory          -> engine.api_store
    POST   /api/search          -> engine.api_search
    POST   /memory              -> engine.store_memory        (201)
    GET    /memory/search       -> engine.search_memory
    DELETE /memory/{id}         -> engine.delete_memory       (204/404)
    GET    /api/sessions        -> engine.list_sessions
    POST   /api/sessions        -> engine.create_session      (201)
    GET    /api/sessions/{id}   -> engine.get_session

Auth (P10): the `x-api-key` header is forwarded to the engine, which does
the constant-time compare (reference src/routes.rs:479-502). Errors map to
the reference's status contract through each error's `status`
(errors.py): ValidationError 400, AuthenticationError 401, NotFoundError
404, UpstreamError 502, NotConfiguredError 503. A non-integer `limit` or
`offset` is a 400; any other exception is a 500 with a JSON `error`, so
every request gets a status.
"""

from __future__ import annotations

import datetime as dt
import json
import logging
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlsplit

from penr_oz_agent_memory_rust_spark.engine import MemoryEngine
from penr_oz_agent_memory_rust_spark.errors import EngineError, NotFoundError, ValidationError

_log = logging.getLogger(__name__)


def _jsonable(v):
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    return v


def _rows(df) -> list[dict]:
    return [_jsonable(r.asDict(recursive=True)) for r in df.collect()]


def _int(params: dict, key: str, default: int) -> int:
    try:
        return int(params.get(key, default))
    except (TypeError, ValueError) as e:
        raise ValidationError(f"{key} must be an integer") from e


class _Handler(BaseHTTPRequestHandler):
    engine: MemoryEngine  # set by make_server

    # silence per-request stderr logging
    def log_message(self, fmt, *args):  # noqa: D102
        pass

    # ----------------------------------------------------------- plumbing
    def _body(self) -> dict:
        length = int(self.headers.get("content-length") or 0)
        if not length:
            return {}
        try:
            return json.loads(self.rfile.read(length) or b"{}")
        except json.JSONDecodeError as e:
            raise ValidationError(f"invalid JSON body: {e}") from e

    def _send(self, status: int, payload=None) -> None:
        body = b"" if payload is None else json.dumps(_jsonable(payload)).encode()
        self.send_response(status)
        if body:
            self.send_header("content-type", "application/json")
        self.send_header("content-length", str(len(body)))
        self.end_headers()
        if body:
            self.wfile.write(body)

    def _dispatch(self, method: str) -> None:
        url = urlsplit(self.path)
        parts = [p for p in url.path.split("/") if p]
        q = {k: v[0] for k, v in parse_qs(url.query).items()}
        api_key = self.headers.get("x-api-key")
        eng = self.engine
        try:
            route = (method, *parts[:2])
            if route == ("GET", "health"):
                return self._send(200, eng.health())
            if route == ("POST", "api", "embed"):
                b = self._body()
                return self._send(200, eng.api_embed(b.get("text"), b.get("provider")))
            if route == ("POST", "api", "memory"):
                b = self._body()
                return self._send(
                    200,
                    eng.api_store(
                        b.get("text"),
                        id=b.get("id"),
                        session_id=b.get("session_id"),
                        metadata=b.get("metadata"),
                        provider=b.get("provider"),
                        api_key=api_key,
                    ),
                )
            if route == ("POST", "api", "search"):
                b = self._body()
                hits = eng.api_search(
                    b.get("text"),
                    limit=_int(b, "limit", 5),
                    score_threshold=b.get("score_threshold"),
                    provider=b.get("provider"),
                )
                return self._send(200, {"results": _rows(hits)})
            if route == ("POST", "memory"):
                b = self._body()
                mem_id = eng.store_memory(
                    b.get("text"),
                    metadata=b.get("metadata"),
                    session=b.get("session"),
                    id=b.get("id"),
                    provider=b.get("provider"),
                )
                return self._send(201, {"id": mem_id})
            if method == "GET" and parts[:2] == ["memory", "search"]:
                hits = eng.search_memory(
                    q.get("q"),
                    limit=_int(q, "limit", 10),
                    session=q.get("session"),
                )
                return self._send(200, {"results": _rows(hits)})
            if method == "DELETE" and len(parts) == 2 and parts[0] == "memory":
                existed = eng.delete_memory(parts[1])
                if not existed:
                    raise NotFoundError(f"memory {parts[1]!r} not found")
                return self._send(204)
            if route == ("GET", "api", "sessions"):
                if len(parts) == 3:
                    return self._send(200, eng.get_session(parts[2], api_key=api_key))
                sessions = eng.list_sessions(
                    limit=_int(q, "limit", 50),
                    offset=_int(q, "offset", 0),
                    api_key=api_key,
                )
                return self._send(200, {"sessions": _rows(sessions)})
            if route == ("POST", "api", "sessions"):
                b = self._body()
                return self._send(201, eng.create_session(b.get("tags"), api_key=api_key))
            return self._send(404, {"error": f"no route {method} {url.path}"})
        except EngineError as e:
            return self._send(e.status, {"error": str(e)})
        except Exception as e:  # noqa: BLE001 — answer, never drop the socket
            _log.exception("%s %s failed", method, url.path)
            return self._send(500, {"error": f"{type(e).__name__}: {e}"})

    def do_GET(self):  # noqa: N802
        self._dispatch("GET")

    def do_POST(self):  # noqa: N802
        self._dispatch("POST")

    def do_DELETE(self):  # noqa: N802
        self._dispatch("DELETE")


class MemoryHttpServer:
    """Serve a MemoryEngine on a background thread (port 0 = ephemeral)."""

    def __init__(self, engine: MemoryEngine, host: str = "127.0.0.1", port: int = 0):
        handler = type("BoundHandler", (_Handler,), {"engine": engine})
        self._httpd = ThreadingHTTPServer((host, port), handler)
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)

    @property
    def url(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> "MemoryHttpServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=5)
