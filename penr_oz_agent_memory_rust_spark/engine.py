"""MemoryEngine — the user-facing facade tying config, providers, tables and
operators into the reference's public API surface (SURVEY §3; reference
src/routes.rs). A user of the reference maps each HTTP route onto one method:

  POST /memory            -> store_memory            (routes.rs:377-401)
  GET  /memory/search     -> search_memory           (routes.rs:429-453)
  DELETE /memory/{id}     -> delete_memory           (routes.rs:460-471)
  POST /api/memory        -> api_store               (routes.rs:224-294)
  POST /api/search        -> api_search              (routes.rs:323-345)
  POST /api/embed         -> api_embed               (routes.rs:136-161)
  POST /api/sessions      -> create_session          (routes.rs:516-534)
  GET  /api/sessions      -> list_sessions           (routes.rs:538-565)
  GET  /api/sessions/{id} -> get_session             (routes.rs:568-585)
  GET  /health            -> health                  (routes.rs:69-100)

Single-request methods exist for parity; the Spark-shaped path is the batch
variants (store_memories_batch / api_store_batch) which run the same
validation/embed/upsert pipeline over whole DataFrames — that is what scales
to 100 TB, and what streaming/ingest.py drives per micro-batch.
"""

from __future__ import annotations

import datetime as dt
import hmac
import uuid as uuid_mod

from pyspark.sql import DataFrame, SparkSession, functions as F

from penr_oz_agent_memory_rust_spark.config import EngineConfig
from penr_oz_agent_memory_rust_spark.errors import (
    AuthenticationError,
    NotConfiguredError,
    NotFoundError,
    ValidationError,
)
from penr_oz_agent_memory_rust_spark.operators import memory_store, session_store, vector_store
from penr_oz_agent_memory_rust_spark.schemas import (
    MEMORIES_SCHEMA,
    MEMORY_POINTS_SCHEMA,
    SESSIONS_SCHEMA,
)
from penr_oz_agent_memory_rust_spark.sources.embedding_providers import ProviderRegistry
from penr_oz_agent_memory_rust_spark.sources.tables import ParquetTable
from penr_oz_agent_memory_rust_spark.localdata import local_df


class MemoryEngine:
    def __init__(
        self,
        spark: SparkSession,
        config: EngineConfig,
        memories_path: str,
        clock=None,
    ):
        self.spark = spark
        self.config = config
        self.registry = ProviderRegistry(config)
        self._clock = clock or (lambda: dt.datetime.now(dt.timezone.utc).replace(tzinfo=None))
        # the ONE constructor the backend choice flows through — the whole
        # engine mutates tables only via the seam interface, so swapping to
        # the manifest-versioned backend changes nothing else
        table_cls = self._table_cls(config.table_backend)
        # uuid ids make min/max skipping useless (every file spans the
        # keyspace); the versioned backend's per-file blooms restore
        # O(matching files) point deletes/upserts on the serving path
        id_bloom = (
            {"bloom_cols": ["id"]} if config.table_backend == "versioned" else {}
        )
        self.memories = table_cls(spark, memories_path, MEMORIES_SCHEMA, **id_bloom)
        self.points = (
            table_cls(
                spark, config.vector_store.table_path, MEMORY_POINTS_SCHEMA, **id_bloom
            )
            if config.vector_store
            else None
        )
        self.sessions = (
            table_cls(spark, config.sessions_path, SESSIONS_SCHEMA)
            if config.sessions_path
            else None
        )

    @staticmethod
    def _table_cls(backend: str):
        if backend == "versioned":
            from penr_oz_agent_memory_rust_spark.sources.versioned_tables import (
                VersionedParquetTable,
            )

            return VersionedParquetTable
        return ParquetTable

    # ------------------------------------------------------- helpers

    def _embed(self, text: str, provider: str | None = None) -> list[float]:
        return self.registry.get(provider)(text)

    def _require_text(self, text: str) -> None:
        """P4 (reference src/routes.rs:175-183): empty text is a 400."""
        if text is None or not text.strip():
            raise ValidationError("text must not be empty")

    def _check_auth(self, api_key: str | None) -> None:
        """P10 (reference src/routes.rs:479-502): constant-time compare;
        open access when no key is configured."""
        if self.config.api_key is None:
            return
        if api_key is None or not hmac.compare_digest(api_key, self.config.api_key):
            raise AuthenticationError("invalid or missing API key")

    # ------------------------------------------- in-memory-store parity

    def store_memory(
        self,
        text: str,
        metadata: dict[str, str] | None = None,
        session: str | None = None,
        id: str | None = None,
        provider: str | None = None,
    ) -> str:
        """POST /memory (reference src/routes.rs:377-401): validate -> embed
        -> insert; returns the new id (201 semantics)."""
        self._require_text(text)
        emb = self._embed(text, provider)
        mem_id = id or str(uuid_mod.uuid4())
        row = local_df(
            self.spark,
            [(mem_id, text, metadata, session, [float(x) for x in emb], self._clock())],
            MEMORIES_SCHEMA,
        )
        self.memories.append(row)
        return mem_id

    def store_memories_batch(self, rows: DataFrame, provider: str | None = None) -> DataFrame:
        """Batch write path: validate -> embed (pandas UDF) -> id/timestamps
        -> append. Returns the reject rows (empty-text)."""
        ok, rejects = memory_store.validate_nonempty_text(rows)
        embedded = ok.withColumn("embedding", self.registry.embed_column(provider)(F.col("text")))
        self.memories.append(memory_store.store_memories(embedded))
        return rejects

    def search_memory(
        self,
        q: str,
        limit: int = 10,
        session: str | None = None,
        provider: str | None = None,
    ) -> DataFrame:
        """GET /memory/search (reference src/routes.rs:429-453): §3.1 plan."""
        self._require_text(q)
        return memory_store.search(
            self.memories.read(), self._embed(q, provider), limit=limit, session=session
        )

    def delete_memory(self, memory_id: str) -> bool:
        """DELETE /memory/{id} (reference src/routes.rs:460-471): True iff it
        existed (204 vs 404)."""
        # the existence probe reads only the files whose stats/bloom can
        # hold the id (point-lookup path); plain backends scan everything
        current = (
            self.memories.read_pruned_keys("id", [memory_id])
            if hasattr(self.memories, "read_pruned_keys")
            else self.memories.read()
        )
        existed = current.filter(F.col("id") == memory_id).limit(1).count() > 0
        if existed:
            # seam mutation: plain parquet rewrites the table; the
            # versioned backend prunes to the files whose key stats can
            # contain the id
            self.memories.delete_keys([memory_id], "id")
        return existed

    # ------------------------------------------------ Qdrant-path parity

    def _require_points(self) -> ParquetTable:
        if self.points is None:
            raise NotConfiguredError("vector store not configured")  # routes.rs:41-52
        return self.points

    def api_store(
        self,
        text: str,
        id: str | None = None,
        session_id: str | None = None,
        metadata: dict[str, str] | None = None,
        provider: str | None = None,
        api_key: str | None = None,
    ) -> dict:
        """POST /api/memory (reference src/routes.rs:224-294): validate ->
        auth (when linking) -> FK check -> embed -> enrich -> upsert -> touch."""
        points = self._require_points()
        self._require_text(text)
        for key in vector_store.RESERVED_KEYS:  # P5, routes.rs:231-240
            if metadata and key in metadata:
                raise ValidationError(f"metadata key {key!r} is reserved")
        if session_id is not None:
            self._check_auth(api_key)  # routes.rs:245-248
            if self.sessions is None:
                raise ValidationError("session store not configured")
            if self.sessions.read().filter(F.col("id") == session_id).limit(1).count() == 0:
                raise ValidationError(f"session {session_id!r} does not exist")  # P9
        emb = self._embed(text, provider)
        point_id = id or str(uuid_mod.uuid4())
        new = local_df(
            self.spark,
            [(point_id, [float(x) for x in emb], text, session_id, metadata, self._clock())],
            MEMORY_POINTS_SCHEMA,
        )
        new = vector_store.enrich_session_id(new)  # P8
        # S4 via the seam: id is always set here, so key-replace == the
        # last-writer-wins reduction
        points.merge_upsert(new, ["id"])
        if session_id is not None:
            # best-effort touch (routes.rs:281-283)
            self.sessions.update_where(
                F.col("id").isin([session_id]),
                {"updated_at": F.lit(self._clock()).cast("timestamp")},
            )
        return {
            "id": point_id,
            "dimensions": len(emb),
            "provider": provider or self.registry.default_name,
            "session_id": session_id,
        }

    def api_search(
        self,
        text: str,
        limit: int = 5,
        score_threshold: float | None = None,
        provider: str | None = None,
    ) -> DataFrame:
        """POST /api/search (reference src/routes.rs:323-345)."""
        points = self._require_points()
        self._require_text(text)
        return vector_store.search(
            points.read(),
            self._embed(text, provider),
            limit=limit,
            score_threshold=score_threshold,
            metric=self.config.vector_store.distance,
        )

    def api_search_batch(
        self,
        queries: DataFrame,
        k: int = 5,
        provider: str | None = None,
        query_id_col: str = "query_id",
        text_col: str = "text",
    ) -> DataFrame:
        """Batch semantic search: many query TEXTS at once — embed with the
        provider pandas UDF, then one BLAS-blocked KNN join against the
        points table. This is the Spark-shaped form of looping /api/search:
        one job, one corpus scan, all queries. Output: (query_id, id, score).
        """
        from penr_oz_agent_memory_rust_spark.operators.knn import blocked_knn_join

        points = self._require_points()
        embedded = queries.select(
            F.col(query_id_col).cast("string").alias("query_id"),
            self.registry.embed_column(provider)(F.col(text_col)).alias("qvec"),
        )
        corpus = points.read().select(F.col("id"), F.col("vector").alias("vec"))
        return blocked_knn_join(
            embedded, corpus, k=k, query_id="query_id", corpus_id="id",
            query_vec="qvec", corpus_vec="vec", id_type="string",
        )

    def api_embed(self, text: str, provider: str | None = None) -> dict:
        """POST /api/embed (reference src/routes.rs:136-161)."""
        self._require_text(text)
        emb = self._embed(text, provider)
        return {
            "provider": provider or self.registry.default_name,
            "dimensions": len(emb),
            "embedding": emb,
        }

    # ------------------------------------------------------- sessions

    def _require_sessions(self) -> ParquetTable:
        if self.sessions is None:
            raise NotConfiguredError("session store not configured")
        return self.sessions

    def create_session(self, tags: list[str] | None = None, api_key: str | None = None) -> dict:
        """POST /api/sessions (reference src/routes.rs:516-534)."""
        self._check_auth(api_key)
        table = self._require_sessions()
        new = local_df(self.spark, [(tags,)], "tags array<string>")
        row = session_store.create_sessions(new, now=self._clock()).first()
        table.append(
            local_df(
                self.spark,
                [(row["id"], row["created_at"], row["updated_at"], row["tags"])],
                SESSIONS_SCHEMA,
            )
        )
        return row.asDict()

    def get_session(self, session_id: str, api_key: str | None = None) -> dict:
        """GET /api/sessions/{id} (reference src/routes.rs:568-585)."""
        self._check_auth(api_key)
        row = session_store.get_session(self._require_sessions().read(), session_id).first()
        if row is None:
            raise NotFoundError(f"session {session_id!r} not found")
        return row.asDict()

    def list_sessions(self, limit: int = 50, offset: int = 0, api_key: str | None = None) -> DataFrame:
        """GET /api/sessions (reference src/routes.rs:538-565)."""
        self._check_auth(api_key)
        return session_store.list_sessions(self._require_sessions().read(), limit, offset)

    # --------------------------------------------------------- health

    def health(self) -> dict:
        """GET /health (reference src/routes.rs:69-100)."""
        return session_store.health(
            self.registry, self.points is not None, self.sessions is not None
        )
