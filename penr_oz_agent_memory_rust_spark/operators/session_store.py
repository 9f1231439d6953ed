"""Session store parity (SURVEY §2.5 C1-C4, §2.4 T4-T5).

Reference: SQLite-backed sessions {id, created_at, updated_at, tags}
(reference src/session_store.rs:24-34), newest-first pagination ordered
(created_at DESC, id DESC) with LIMIT/OFFSET (src/session_store.rs:142-154),
touch updates updated_at (src/session_store.rs:111-120), tags round-trip
through JSON (src/session_store.rs:85-86,174-175).

Spark-first: a `sessions` Parquet table; pagination is
TakeOrderedAndProject when offset=0, one window otherwise (topk.paginate);
touch is the table seam's `update_where` (sources/tables.py). The FK
existence check the write path performs (P9, src/routes.rs:252-263) is the
semi/anti-join pair below.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, functions as F

from penr_oz_agent_memory_rust_spark.operators.topk import paginate


def create_sessions(new_rows: DataFrame, now: dt.datetime | None = None) -> DataFrame:
    """C1: UUID id + both timestamps = now (reference src/session_store.rs:82-104).
    Injectable `now`/ids keep tests deterministic (FIXTURES.md §4)."""
    ts = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    df = new_rows
    if "id" not in df.columns:
        df = df.withColumn("id", F.expr("uuid()"))
    else:
        df = df.withColumn("id", F.coalesce(F.col("id"), F.expr("uuid()")))
    if "tags" not in df.columns:
        df = df.withColumn("tags", F.lit(None).cast("array<string>"))
    return df.withColumn("created_at", ts).withColumn("updated_at", ts)


def get_session(sessions: DataFrame, session_id: str) -> DataFrame:
    """C2: point lookup (reference src/session_store.rs:127-136); empty
    result = the route's 404 (src/routes.rs:568-585)."""
    return sessions.filter(F.col("id") == session_id)


def list_sessions(sessions: DataFrame, limit: int = 50, offset: int = 0) -> DataFrame:
    """T4/T5: newest-first page — ORDER BY created_at DESC, id DESC
    LIMIT ? OFFSET ?, limit clamped to [1,100] default 50
    (reference src/session_store.rs:142-154, src/routes.rs:538-541,557)."""
    return paginate(
        sessions,
        [F.col("created_at").desc(), F.col("id").desc()],
        limit=limit,
        offset=offset,
        clamp=(1, 100),
    )


def fk_check(rows: DataFrame, sessions: DataFrame, fk_col: str = "session_id") -> tuple[DataFrame, DataFrame]:
    """P9: split rows into (valid, rejects) on session existence
    (reference src/routes.rs:252-263). Rows with a NULL fk are valid (no link
    requested). The sessions side is broadcast — it is the small dimension.
    """
    sess_ids = F.broadcast(sessions.select(F.col("id").alias(fk_col)).distinct())
    linked = rows.filter(F.col(fk_col).isNotNull())
    valid = rows.filter(F.col(fk_col).isNull()).unionByName(
        linked.join(sess_ids, fk_col, "left_semi")
    )
    rejects = linked.join(sess_ids, fk_col, "left_anti")
    return valid, rejects


def health(registry, vector_store_configured: bool, sessions_configured: bool) -> dict:
    """C4: introspection — provider names sorted ascending
    (reference src/routes.rs:69-100)."""
    return {
        "status": "ok",
        "providers": registry.provider_names(),
        "default_provider": registry.default_name,
        "vector_store_configured": vector_store_configured,
        "session_store_configured": sessions_configured,
    }
