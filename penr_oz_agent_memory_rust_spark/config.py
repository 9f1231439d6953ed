"""Engine configuration: TOML file + environment overlay (S12).

Mirrors reference src/config.rs:92-139 semantics exactly:
  - QDRANT_URL alone can *enable* the vector-store section;
  - QDRANT_COLLECTION / QDRANT_API_KEY only override an existing section;
  - DATABASE_URL enables/overrides the session store;
  - default embedding dimension 768 (src/config.rs:72-74), distance "Cosine"
    (src/config.rs:66-69).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

try:  # py>=3.11
    import tomllib
except ImportError:  # pragma: no cover
    tomllib = None


@dataclass
class ProviderConfig:
    name: str
    kind: str  # "hash" (deterministic offline) | "ollama" | "openai" | "claude"
    url: str = ""
    model: str = ""
    api_key: str = ""
    auth_scheme: str = "bearer"  # "bearer" | "api-key" (src/embedding/openai.rs:33-56)
    path: str = "/v1/embeddings"
    dimensions: int = 768


@dataclass
class VectorStoreConfig:
    table_path: str  # replaces Qdrant URL: the parquet table location; an
    # http(s) URL here addresses an EXTERNAL store for the push path
    collection: str = "memory"
    dimensions: int = 768  # src/config.rs:61-64
    distance: str = "cosine"  # Cosine | Euclid | Dot (src/config.rs:66-69)
    api_key: str | None = None  # src/config.rs:58-60; QDRANT_API_KEY overlay


@dataclass
class EngineConfig:
    default_provider: str = "hash"
    providers: dict[str, ProviderConfig] = field(default_factory=dict)
    vector_store: VectorStoreConfig | None = None
    sessions_path: str | None = None  # replaces DATABASE_URL
    api_key: str | None = None  # SESSION_API_KEY (src/main.rs:82-89)
    # mutation-seam backend for every engine table: "parquet" (plain
    # overwrite) or "versioned", the transactional backend (manifest
    # commits: snapshot isolation, time travel, rollback —
    # sources/versioned_tables.py). A Delta backend waits until delta-spark
    # and its jars are in the repository. [storage] backend=... /
    # STORAGE_BACKEND.
    table_backend: str = "parquet"

    @classmethod
    def load(cls, path: str | None = None, env: dict[str, str] | None = None) -> "EngineConfig":
        env = os.environ if env is None else env
        cfg = cls()
        data: dict = {}
        if path and os.path.exists(path) and tomllib is not None:
            with open(path, "rb") as f:
                data = tomllib.load(f)
        emb = data.get("embedding", {})
        cfg.default_provider = emb.get("default_provider", "hash")
        for name, p in emb.get("providers", {}).items():
            cfg.providers[name] = ProviderConfig(name=name, **p)
        if not cfg.providers:
            cfg.providers["hash"] = ProviderConfig(name="hash", kind="hash", dimensions=64)
            cfg.default_provider = "hash"
        if cfg.default_provider not in cfg.providers:
            # src/embedding/mod.rs:38-44 — default must exist
            raise ValueError(f"default provider {cfg.default_provider!r} not configured")

        vs = data.get("qdrant") or data.get("vector_store")
        if vs:
            cfg.vector_store = VectorStoreConfig(
                table_path=vs.get("table_path", vs.get("url", "")),
                collection=vs.get("collection", "memory"),
                dimensions=int(vs.get("dimensions", 768)),
                distance=str(vs.get("distance", "cosine")).lower(),
                api_key=vs.get("api_key"),
            )
        # Env overlay, mirroring src/config.rs:110-139: URL alone enables,
        # the other two only override an existing config.
        if env.get("QDRANT_URL"):
            if cfg.vector_store is None:
                cfg.vector_store = VectorStoreConfig(table_path=env["QDRANT_URL"])
            else:
                cfg.vector_store.table_path = env["QDRANT_URL"]
        if cfg.vector_store is not None:
            if env.get("QDRANT_COLLECTION"):
                cfg.vector_store.collection = env["QDRANT_COLLECTION"]
            if env.get("QDRANT_API_KEY"):  # src/config.rs:129-133
                cfg.vector_store.api_key = env["QDRANT_API_KEY"]

        sess = data.get("sessions", {})
        cfg.sessions_path = sess.get("path") or cfg.sessions_path
        if env.get("DATABASE_URL"):
            cfg.sessions_path = env["DATABASE_URL"]
        cfg.api_key = env.get("SESSION_API_KEY") or cfg.api_key
        storage = data.get("storage", {})
        cfg.table_backend = (
            env.get("STORAGE_BACKEND") or storage.get("backend") or cfg.table_backend
        ).lower()
        if cfg.table_backend not in ("parquet", "versioned"):
            raise ValueError(f"unknown storage backend {cfg.table_backend!r}")
        return cfg
