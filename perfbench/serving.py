"""memory_serving workload: one closed-loop HTTP client against
http_api.MemoryHttpServer on a MemoryEngine with the parquet backend."""

from __future__ import annotations

import glob
import http.client
import json
import os
import time
from urllib.parse import urlencode, urlsplit

import numpy as np
import pyarrow.parquet as pq

import checks
import synth
from common import Result, median, percentile, rounds

N_POINTS = 5_000
N_MEMORIES = 5_000
N_SESSIONS = 50
DIM = 64
LIMIT = 5
# One round of the closed loop. Every run makes whole rounds, so the
# share of each route, and of the failing bad-limit request, is fixed.
ROUND = (
    "search", "memory_search", "search", "upsert", "memory_search", "search",
    "sessions", "memory_search", "search", "bad_limit", "memory_search",
)
WARM_ROUNDS = 1
# Rounds the metrics come from; later rounds, run while --seconds lasts,
# are checked but not measured.
TIMED_ROUNDS = 3


class Client:
    """Closed loop: each request waits for its reply (one connection at a
    time, HTTP/1.0 as the server speaks it)."""

    def __init__(self, host: str, port: int) -> None:
        self.host, self.port = host, port
        self.last_s = 0.0  # latency of the last request that got a reply

    def call(self, method: str, path: str, body: dict | None = None) -> tuple[int, dict]:
        data = json.dumps(body).encode() if body is not None else None
        headers = {"content-type": "application/json"} if data else {}
        conn = http.client.HTTPConnection(self.host, self.port, timeout=120)
        try:
            t = time.perf_counter()
            conn.request(method, path, body=data, headers=headers)
            resp = conn.getresponse()
            raw = resp.read()
            self.last_s = time.perf_counter() - t
        finally:
            conn.close()
        return resp.status, (json.loads(raw) if raw else {})


class Loop:
    """The request mix, with the benchmark's own copy of what the tables
    hold so every reply can be checked."""

    def __init__(self, ctx, tables: synth.MemoryTables, client: Client) -> None:
        self.t = tables
        self.client = client
        self.rng = np.random.Generator(np.random.PCG64(ctx.seed))
        self.cache: dict = {}
        self.point_vecs = tables.point_vecs.copy()
        self.last_text: dict[str, str] = {}
        self.by_session: dict[str, list[int]] = {}
        for i, s in enumerate(tables.memory_sessions):
            self.by_session.setdefault(s, []).append(i)
        self.problems: list[str] = []
        self.accepted: list[bool] = []  # one per checked search reply

    def _query(self) -> str:
        return " ".join(self.rng.choice(self.t.words, int(self.rng.integers(2, 5))))

    def request(self, kind: str) -> bool:
        """Send one request of `kind`; True when it got its expected reply."""
        try:
            return getattr(self, kind)()
        except (ConnectionError, http.client.HTTPException):
            return False

    def search(self) -> bool:
        q = self._query()
        status, body = self.client.call("POST", "/api/search", {"text": q, "limit": LIMIT})
        if status != 200:
            self.problems.append(f"POST /api/search -> {status}")
            return False
        hits = [(h["id"], h["score"]) for h in body["results"]]
        self._check(self.point_vecs, self.t.point_ids, q, hits, "POST /api/search")
        return True

    def memory_search(self) -> bool:
        q = self._query()
        session = self.t.session_ids[int(self.rng.integers(0, len(self.t.session_ids)))]
        path = "/memory/search?" + urlencode({"q": q, "session": session, "limit": LIMIT})
        status, body = self.client.call("GET", path)
        if status != 200:
            self.problems.append(f"GET /memory/search -> {status}")
            return False
        rows = self.by_session.get(session, [])
        hits = [(h["id"], h["score"]) for h in body["results"]]
        ids = [self.t.memory_ids[i] for i in rows]
        self._check(self.t.memory_vecs[rows], ids, q, hits, "GET /memory/search")
        return True

    def upsert(self) -> bool:
        i = int(self.rng.integers(0, len(self.t.point_ids)))
        pid, text = self.t.point_ids[i], self._query() + f" rev{len(self.last_text)}"
        status, body = self.client.call("POST", "/api/memory", {"text": text, "id": pid})
        if status != 200 or body.get("id") != pid:
            self.problems.append(f"POST /api/memory -> {status} {body}")
            return False
        self.last_text[pid] = text
        self.point_vecs[i] = synth.embed(text, DIM, self.cache)
        return True

    def sessions(self) -> bool:
        status, body = self.client.call("GET", "/api/sessions?limit=10")
        if status != 200 or len(body.get("sessions", [])) != 10:
            self.problems.append(f"GET /api/sessions -> {status}")
            return False
        return True

    def bad_limit(self) -> bool:
        # a non-integer limit is a client error: the route must answer 400
        status, _ = self.client.call("GET", "/memory/search?q=hello&limit=abc")
        return status == 400

    def _check(self, vecs, ids, q, hits, route) -> None:
        qv = synth.embed(q, DIM, self.cache)
        problems = checks.check_search_hits(vecs, ids, qv, hits, LIMIT)
        self.problems += [f"{route} q={q!r}: {p}" for p in problems]
        self.accepted.append(not problems)


def run(ctx) -> Result:
    from penr_oz_agent_memory_rust_spark import engine as engine_mod, http_api
    from penr_oz_agent_memory_rust_spark.config import (
        EngineConfig,
        ProviderConfig,
        VectorStoreConfig,
    )
    from penr_oz_agent_memory_rust_spark.sources import embedding_providers, tables

    res, tracer = Result(), ctx.tracer
    data = synth.memory_tables(ctx.seed, N_POINTS, N_MEMORIES, N_SESSIONS, DIM)
    points, memories, sessions = ctx.path("points"), ctx.path("memories"), ctx.path("sessions")
    synth.write_memory_tables(data, points, memories, sessions)

    cfg = EngineConfig(
        default_provider="hash",
        providers={"hash": ProviderConfig(name="hash", kind="hash", dimensions=DIM)},
        vector_store=VectorStoreConfig(table_path=points, dimensions=DIM),
        sessions_path=sessions,
    )
    eng = engine_mod.MemoryEngine(ctx.spark, cfg, memories)
    server = http_api.MemoryHttpServer(eng).start()
    try:
        url = urlsplit(server.url)
        loop = Loop(ctx, data, Client(url.hostname, url.port))
        for _ in range(WARM_ROUNDS):
            for kind in ROUND:
                loop.request(kind)
        res.setup_s = ctx.setup_seconds()
        if tracer is not None:
            for owner, attr, name in (
                (engine_mod.MemoryEngine, "api_search", "engine.api_search"),
                (engine_mod.MemoryEngine, "api_store", "engine.api_store"),
                (engine_mod.MemoryEngine, "search_memory", "engine.search_memory"),
                (engine_mod.MemoryEngine, "list_sessions", "engine.list_sessions"),
                (tables.ParquetTable, "read", "tables.read"),
                (tables.ParquetTable, "merge_upsert", "tables.merge_upsert"),
                (embedding_providers, "hash_embed", "embed"),
                (http_api, "_rows", "http.collect"),
            ):
                tracer.wrap(owner, attr, name)

        latency: dict[str, list[float]] = {k: [] for k in ROUND}
        request_ms: dict[int, float] = {}
        ok_count = 0
        loop_s = 0.0
        for measured in rounds(ctx.seconds, TIMED_ROUNDS):
            t_round = time.perf_counter()
            for kind in ROUND:
                req = res.attempted
                idx = tracer.begin_request(f"http.{kind}", req) if tracer is not None else None
                # the timed span includes checking the reply; the latency
                # is the client's, from sending to the last byte received
                ok, _ = ctx.timed(loop.request, kind)
                if idx is not None:
                    tracer.end_request(idx)
                res.attempted += 1
                if not ok:
                    res.failed += 1
                elif measured:
                    ok_count += 1
                    latency[kind].append(loop.client.last_s)
                    request_ms[req] = 1000.0 * loop.client.last_s
            if measured:
                loop_s += time.perf_counter() - t_round
    finally:
        server.stop()

    final = pq.read_table(points, columns=["id", "text"])
    res.problems += loop.problems
    res.problems += checks.check_points_table(
        list(zip(final.column("id").to_pylist(), final.column("text").to_pylist())),
        N_POINTS,
        loop.last_text,
    )
    res.e2e = {
        "items_per_s": ok_count / loop_s,
        "op_p50_ms": 1000.0 * median(latency["search"]),
        # every checked reply must be the exact top-5 or the run fails, so
        # on a correct run this reads 1.0
        "recall": float(np.mean(loop.accepted)),
    }
    res.info = {
        "requests_per_s": (ok_count / loop_s, "1/s"),
        "search_p50_ms": (1000.0 * median(latency["search"]), "ms"),
        "upsert_p50_ms": (1000.0 * median(latency["upsert"]), "ms"),
        "memory_search_p50_ms": (1000.0 * median(latency["memory_search"]), "ms"),
        "rounds": (float(res.attempted // len(ROUND)), "count"),
    }
    if tracer is not None:
        res.layers = _layers(tracer, latency, request_ms, points)
    return res


def _layers(tracer, latency, request_ms, points) -> dict:
    self_s = tracer.self_times()
    dur, calls = tracer.totals()

    def per_call(name: str, table: dict) -> float:
        return table.get(name, 0.0) / calls[name] if calls.get(name) else 0.0

    engine_ms: dict[int, float] = {}
    for name in ("engine.api_search", "engine.api_store", "engine.search_memory", "engine.list_sessions"):
        for req, d in tracer.by_request(name).items():
            engine_ms[req] = engine_ms.get(req, 0.0) + 1000.0 * d
    overhead = [ms - engine_ms[r] for r, ms in request_ms.items() if r in engine_ms]
    ms = {k: [1000.0 * x for x in v] for k, v in latency.items()}
    return {
        "tables.read_s": per_call("tables.read", dur),
        "tables.merge_upsert_s": per_call("tables.merge_upsert", dur),
        "tables.merge_upsert_calls": float(calls.get("tables.merge_upsert", 0)),
        "tables.points_files": float(len(glob.glob(os.path.join(points, "*.parquet")))),
        "embed.calls": float(calls.get("embed", 0)),
        "embed.self_s": per_call("embed", self_s),
        "engine.api_search_self_s": per_call("engine.api_search", self_s),
        "engine.api_store_self_s": per_call("engine.api_store", self_s),
        "engine.search_memory_self_s": per_call("engine.search_memory", self_s),
        "http.collect_s": per_call("http.collect", dur),
        "http.overhead_ms": median(overhead),
        "http.memory_search_p50_ms": median(ms["memory_search"]),
        "http.memory_search_n": float(len(ms["memory_search"])),
        "http.search_p95_ms": percentile(ms["search"], 95),
        "http.search_n": float(len(ms["search"])),
        "http.upsert_p95_ms": percentile(ms["upsert"], 95),
        "http.upsert_n": float(len(ms["upsert"])),
    }
