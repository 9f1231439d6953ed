"""End-to-end engine lifecycle — ports the reference's demo client flow
(reference examples/agent_client.rs:2-9: health -> create session -> store×5
-> search×3 -> recall -> delete) plus the API-error contract (400/401/404/503
as typed exceptions)."""

from __future__ import annotations

import datetime as dt

import pytest

from penr_oz_agent_memory_rust_spark.config import EngineConfig, ProviderConfig, VectorStoreConfig
from penr_oz_agent_memory_rust_spark.engine import MemoryEngine
from penr_oz_agent_memory_rust_spark.errors import (
    AuthenticationError,
    NotConfiguredError,
    NotFoundError,
    ValidationError,
)

DEMO_TEXTS = [
    "the user prefers dark mode in all applications",
    "the user's favorite programming language is rust",
    "the user works on distributed systems",
    "the user dislikes verbose logging output",
    "meeting notes: discussed query optimizers and join strategies",
]


def make_engine(spark, tmp_path, with_api_key=None, backend="parquet"):
    cfg = EngineConfig(
        default_provider="hash",
        providers={"hash": ProviderConfig(name="hash", kind="hash", dimensions=32)},
        vector_store=VectorStoreConfig(table_path=str(tmp_path / "points"), dimensions=32),
        sessions_path=str(tmp_path / "sessions"),
        api_key=with_api_key,
        table_backend=backend,
    )
    tick = {"n": 0}

    def clock():
        tick["n"] += 1
        return dt.datetime(2026, 1, 1) + dt.timedelta(seconds=tick["n"])

    return MemoryEngine(spark, cfg, memories_path=str(tmp_path / "memories"), clock=clock)


def test_agent_client_lifecycle(spark, tmp_path):
    eng = make_engine(spark, tmp_path)

    # health
    h = eng.health()
    assert h["status"] == "ok" and h["providers"] == ["hash"]
    assert h["vector_store_configured"] and h["session_store_configured"]

    # create session
    sess = eng.create_session(tags=["demo", "agent"])
    assert len(sess["id"]) == 36 and sess["tags"] == ["demo", "agent"]

    # store 5 memories (in-memory-store path)
    ids = [eng.store_memory(t, session=sess["id"]) for t in DEMO_TEXTS]
    assert len(set(ids)) == 5

    # semantic search: the rust memory should rank the rust text first
    hits = eng.search_memory("rust programming language", limit=3).collect()
    assert len(hits) == 3
    assert hits[0]["text"] == DEMO_TEXTS[1]
    assert hits[0]["score"] >= hits[1]["score"] >= hits[2]["score"]

    # session filter excludes unlinked rows
    eng.store_memory("unlinked memory about rust")
    in_session = eng.search_memory("rust", limit=10, session=sess["id"]).collect()
    assert all(r["session"] == sess["id"] for r in in_session) and len(in_session) == 5

    # delete: True then False (204 then 404 in the reference)
    assert eng.delete_memory(ids[0]) is True
    assert eng.delete_memory(ids[0]) is False
    assert eng.search_memory("anything", limit=100).count() == 5


def test_api_store_search_lifecycle(spark, tmp_path):
    eng = make_engine(spark, tmp_path)
    sess = eng.create_session(tags=["qdrant"])

    out = eng.api_store("vector stores index embeddings", session_id=sess["id"], metadata={"k": "v"})
    assert out["dimensions"] == 32 and out["provider"] == "hash"
    eng.api_store("unrelated cooking recipe text")

    hits = eng.api_search("index embeddings in a vector store", limit=2).collect()
    assert hits[0]["text"] == "vector stores index embeddings"
    # session_id enriched into payload then stripped from search metadata (P7/P8)
    assert hits[0]["metadata"] == {"k": "v"}

    # upsert by id replaces
    eng.api_store("replacement text", id=out["id"])
    texts = {r["text"] for r in eng.api_search("anything", limit=10).collect()}
    assert "replacement text" in texts and "vector stores index embeddings" not in texts

    # touch: storing with a session advanced its updated_at
    got = eng.get_session(sess["id"])
    assert got["updated_at"] > got["created_at"]


def test_api_error_contract(spark, tmp_path):
    eng = make_engine(spark, tmp_path)
    with pytest.raises(ValidationError):
        eng.store_memory("   ")
    with pytest.raises(ValidationError):
        eng.search_memory("")
    with pytest.raises(ValidationError):
        eng.api_store("ok text", metadata={"text": "reserved"})
    with pytest.raises(ValidationError):
        eng.api_store("ok text", session_id="no-such-session")
    with pytest.raises(NotFoundError):
        eng.get_session("missing-id")

    # unknown provider override (mod.rs:73-79)
    with pytest.raises(NotConfiguredError):
        eng.api_embed("text", provider="nope")

    # embed endpoint shape (routes.rs:136-161)
    out = eng.api_embed("some text")
    assert out["dimensions"] == 32 and len(out["embedding"]) == 32


def test_api_key_gate(spark, tmp_path):
    eng = make_engine(spark, tmp_path, with_api_key="secret-key")
    with pytest.raises(AuthenticationError):
        eng.create_session(tags=["x"])
    sess = eng.create_session(tags=["x"], api_key="secret-key")
    # linking a memory to a session requires the key too (routes.rs:245-248)
    with pytest.raises(AuthenticationError):
        eng.api_store("text", session_id=sess["id"], api_key="wrong")
    eng.api_store("text", session_id=sess["id"], api_key="secret-key")


def test_not_configured_paths(spark, tmp_path):
    cfg = EngineConfig(
        default_provider="hash",
        providers={"hash": ProviderConfig(name="hash", kind="hash", dimensions=8)},
    )
    eng = MemoryEngine(spark, cfg, memories_path=str(tmp_path / "m"))
    with pytest.raises(NotConfiguredError):
        eng.api_search("q")
    with pytest.raises(NotConfiguredError):
        eng.list_sessions()
    assert eng.health()["vector_store_configured"] is False


def test_api_search_batch(spark, tmp_path):
    eng = make_engine(spark, tmp_path)
    eng.api_store("rust systems programming", id="p-rust")
    eng.api_store("gardening with flowers", id="p-garden")
    eng.api_store("distributed query engines", id="p-query")
    queries = spark.createDataFrame(
        [(1, "rust systems programming"), (2, "gardening with flowers")],
        "query_id bigint, text string",
    )
    hits = eng.api_search_batch(queries, k=1).collect()
    top = {r["query_id"]: r["id"] for r in hits}
    assert top == {"1": "p-rust", "2": "p-garden"}


def test_batch_store_path(spark, tmp_path):
    eng = make_engine(spark, tmp_path)
    rows = spark.createDataFrame(
        [("one text", None), ("", "s"), ("two text", None)],
        "text string, session string",
    )
    rejects = eng.store_memories_batch(rows)
    assert rejects.count() == 1
    stored = eng.memories.read().collect()
    assert {r["text"] for r in stored} == {"one text", "two text"}
    assert all(len(r["embedding"]) == 32 and len(r["id"]) == 36 for r in stored)


def test_lifecycle_on_versioned_backend_with_time_travel(spark, tmp_path):
    """The full agent lifecycle on the manifest-versioned backend — the
    'one constructor change' claim exercised end-to-end — plus what the
    swap buys: the memories table can be read AS OF the version before a
    delete."""
    eng = make_engine(spark, tmp_path, backend="versioned")
    sess = eng.create_session(tags=["demo"])
    ids = [eng.store_memory(t, session=sess["id"]) for t in DEMO_TEXTS]
    hits = eng.search_memory("rust programming language", limit=3).collect()
    assert hits[0]["text"] == DEMO_TEXTS[1]
    v_before = eng.memories.current_version()
    assert eng.delete_memory(ids[0]) is True
    assert eng.search_memory("anything", limit=100).count() == 4
    # time travel: the pre-delete snapshot is still queryable
    assert eng.memories.read(version=v_before).count() == 5
    assert eng.memories.history()[-1]["op"] in (
        "delete",
        "overwrite",
        "delete_keys_pruned",
    )
    # the vector-store upsert path (S4 merge + C3 touch) also commits
    # through the versioned seam
    from pyspark.sql import functions as F

    res = eng.api_store("point text", session_id=sess["id"])
    assert eng.points.read().filter(F.col("id") == res["id"]).count() == 1
    assert eng.sessions.history()[-1]["op"] == "update"
    assert eng.points.history()[-1]["op"] in ("merge_upsert", "merge_upsert_pruned")


def test_config_storage_backend_overlay(tmp_path):
    import os

    cfg = EngineConfig.load(env={"STORAGE_BACKEND": "versioned"})
    assert cfg.table_backend == "versioned"
    toml = tmp_path / "cfg.toml"
    toml.write_text('[storage]\nbackend = "parquet"\n')
    assert EngineConfig.load(str(toml), env={}).table_backend == "parquet"
    assert EngineConfig.load(str(toml), env={"STORAGE_BACKEND": "versioned"}).table_backend == "versioned"
    for backend in ("bogus", "delta"):
        try:
            EngineConfig.load(env={"STORAGE_BACKEND": backend})
            raise AssertionError("expected ValueError")
        except ValueError:
            pass
