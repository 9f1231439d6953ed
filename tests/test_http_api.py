"""HTTP shim e2e: the reference demo client's lifecycle (reference
examples/agent_client.rs:2-9 — health -> session -> store x5 -> search ->
context recall -> delete) executed over real HTTP against the stdlib shim,
plus the route-level error contract (400/401/404/500/503)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from penr_oz_agent_memory_rust_spark.http_api import MemoryHttpServer
from tests.test_engine import DEMO_TEXTS, make_engine


def _req(url, method="GET", body=None, headers=None):
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(url, data=data, method=method, headers=headers or {})
    if data:
        req.add_header("content-type", "application/json")
    with urllib.request.urlopen(req) as resp:
        raw = resp.read()
        return resp.status, json.loads(raw) if raw else None


def _status_of(err_call):
    with pytest.raises(urllib.error.HTTPError) as exc:
        err_call()
    return exc.value.code, json.loads(exc.value.read() or b"{}")


@pytest.fixture()
def server(spark, tmp_path):
    srv = MemoryHttpServer(make_engine(spark, tmp_path)).start()
    yield srv
    srv.stop()


def test_agent_client_lifecycle_over_http(server):
    base = server.url

    # step 0: health
    st, h = _req(f"{base}/health")
    assert st == 200 and h["status"] == "ok" and h["default_provider"] == "hash"

    # session for the agent run
    st, sess = _req(f"{base}/api/sessions", "POST", {"tags": ["demo", "agent"]})
    assert st == 201 and len(sess["id"]) == 36

    # step 1: store memories (reference StoreMemoryRequest shape)
    ids = []
    for i, text in enumerate(DEMO_TEXTS):
        st, resp = _req(
            f"{base}/memory",
            "POST",
            {"text": text, "metadata": {"tag": f"t{i}"}, "session": sess["id"]},
        )
        assert st == 201
        ids.append(resp["id"])

    # step 2: semantic recall (reference SearchMemoryResponse shape)
    st, found = _req(f"{base}/memory/search?q=programming+language&limit=3")
    assert st == 200 and 1 <= len(found["results"]) <= 3
    top = found["results"][0]
    assert {"id", "text", "score"} <= set(top)
    assert top["id"] in ids

    # step 3: context window for a new question, session-filtered
    st, ctx = _req(
        f"{base}/memory/search?q=distributed+systems&limit=2&session={sess['id']}"
    )
    assert st == 200 and len(ctx["results"]) >= 1

    # step 4: store the agent's own response as a new memory
    st, new_mem = _req(f"{base}/memory", "POST", {"text": "agent reply about joins"})
    assert st == 201 and new_mem["id"] not in ids

    # step 5: delete one memory; second delete of the same id is a 404
    st, _ = _req(f"{base}/memory/{ids[0]}", "DELETE")
    assert st == 204
    code, body = _status_of(lambda: _req(f"{base}/memory/{ids[0]}", "DELETE"))
    assert code == 404 and "error" in body

    # the deleted memory no longer surfaces
    st, after = _req(f"{base}/memory/search?q={DEMO_TEXTS[0].replace(' ', '+')}&limit=10")
    assert ids[0] not in [r["id"] for r in after["results"]]

    # session listing reflects the run
    st, listed = _req(f"{base}/api/sessions")
    assert st == 200 and sess["id"] in [s["id"] for s in listed["sessions"]]
    st, got = _req(f"{base}/api/sessions/{sess['id']}")
    assert st == 200 and got["tags"] == ["demo", "agent"]


def test_api_routes_embed_store_search(server):
    base = server.url
    st, emb = _req(f"{base}/api/embed", "POST", {"text": "hello world"})
    assert st == 200 and emb["dimensions"] == 32 and len(emb["embedding"]) == 32

    st, stored = _req(f"{base}/api/memory", "POST", {"text": "vector point one"})
    assert st == 200 and stored["dimensions"] == 32

    st, hits = _req(
        f"{base}/api/search", "POST", {"text": "vector point one", "limit": 3}
    )
    assert st == 200 and hits["results"]
    assert hits["results"][0]["score"] >= 0.99


def test_error_contract(spark, tmp_path):
    srv = MemoryHttpServer(make_engine(spark, tmp_path, with_api_key="sk-secret")).start()
    base = srv.url
    try:
        # 400: empty text
        code, _ = _status_of(lambda: _req(f"{base}/memory", "POST", {"text": "  "}))
        assert code == 400
        # 401: wrong key on an authed route
        code, _ = _status_of(
            lambda: _req(
                f"{base}/api/sessions", "POST", {"tags": []}, {"x-api-key": "wrong"}
            )
        )
        assert code == 401
        # with the right key it works (constant-time compare passes)
        st, sess = _req(
            f"{base}/api/sessions", "POST", {"tags": []}, {"x-api-key": "sk-secret"}
        )
        assert st == 201
        # 404: unknown session id
        code, _ = _status_of(
            lambda: _req(f"{base}/api/sessions/nope", headers={"x-api-key": "sk-secret"})
        )
        assert code == 404
        # 404: unknown route
        code, _ = _status_of(lambda: _req(f"{base}/definitely/not/a/route"))
        assert code == 404
    finally:
        srv.stop()


def test_non_integer_limit_is_400(server):
    code, body = _status_of(lambda: _req(f"{server.url}/memory/search?q=hello&limit=abc"))
    assert code == 400 and "limit" in body["error"]
    code, body = _status_of(lambda: _req(f"{server.url}/api/sessions?offset=x"))
    assert code == 400 and "offset" in body["error"]


def test_unexpected_exception_is_500(spark, tmp_path):
    eng = make_engine(spark, tmp_path)

    def broken_health():
        raise RuntimeError("health probe failed")

    eng.health = broken_health
    srv = MemoryHttpServer(eng).start()
    try:
        code, body = _status_of(lambda: _req(f"{srv.url}/health"))
        assert code == 500 and "health probe failed" in body["error"]
    finally:
        srv.stop()


def test_not_configured_maps_to_503(spark, tmp_path):
    from penr_oz_agent_memory_rust_spark.config import EngineConfig, ProviderConfig
    from penr_oz_agent_memory_rust_spark.engine import MemoryEngine

    cfg = EngineConfig(
        default_provider="hash",
        providers={"hash": ProviderConfig(name="hash", kind="hash", dimensions=16)},
        vector_store=None,
        sessions_path=None,
    )
    eng = MemoryEngine(spark, cfg, memories_path=str(tmp_path / "m"))
    srv = MemoryHttpServer(eng).start()
    try:
        code, _ = _status_of(
            lambda: _req(f"{srv.url}/api/search", "POST", {"text": "x"})
        )
        assert code == 503
    finally:
        srv.stop()
