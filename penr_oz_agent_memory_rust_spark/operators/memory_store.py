"""In-memory MemoryStore parity as DataFrame plans (SURVEY §2.1-2.4:
S1 scan, S2 insert, S3 delete; P1 session filter, P2 comparability, P4
non-empty text, P6 projection; K1 cosine; T1-T3 top-k).

Reference behavior being reproduced (reference src/memory.rs:60-161):
  search = read-lock scan -> session filter -> cosine score (None on dim
  mismatch / zero norm, silently excluded) -> bounded min-heap top-k ->
  descending drain -> {id, text, metadata, session, score}.

Spark-first plan (SURVEY §3.1): the session equality filter sits *below* the
score expression (Catalyst orders the cheap predicate first and prunes the
embedding column read for non-matching rows via parquet pushdown); top-k is
TakeOrderedAndProject (per-partition heaps, driver merge — the reference's
algorithm, distributed, zero shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from penr_oz_agent_memory_rust_spark.errors import ValidationError
from penr_oz_agent_memory_rust_spark.functions import similarity
from penr_oz_agent_memory_rust_spark.operators.topk import top_k

RESULT_COLS = ["id", "text", "metadata", "session", "score"]


def store_memories(new_rows: DataFrame) -> DataFrame:
    """S2: assign UUID v4 ids (reference src/memory.rs:72-89) and stamp
    created_at. Caller-supplied ids win (src/routes.rs:193-195 models this).
    Empty text is the caller's 400 (P4, src/routes.rs:175-183) — enforced
    here as a plan-level constraint check column the caller can act on.
    """
    cols = new_rows.columns
    df = new_rows
    if "id" not in cols:
        df = df.withColumn("id", F.expr("uuid()"))
    else:
        df = df.withColumn("id", F.coalesce(F.col("id"), F.expr("uuid()")))
    if "created_at" not in df.columns:
        df = df.withColumn("created_at", F.current_timestamp())
    if "session" not in df.columns:
        df = df.withColumn("session", F.lit(None).cast("string"))
    if "metadata" not in df.columns:
        df = df.withColumn("metadata", F.lit(None).cast("map<string,string>"))
    return df


def validate_nonempty_text(df: DataFrame, text_col: str = "text") -> tuple[DataFrame, DataFrame]:
    """P4: split (valid, rejects) on empty text — batch analog of the 400
    (reference src/routes.rs:175-183)."""
    ok = df.filter(F.length(F.trim(F.col(text_col))) > 0)
    bad = df.filter((F.length(F.trim(F.col(text_col))) <= 0) | F.col(text_col).isNull())
    return ok, bad


def search(
    memories: DataFrame,
    query_vec: list[float],
    limit: int = 10,
    session: str | None = None,
    metric: str = "cosine",
    precision: str = "f32",
) -> DataFrame:
    """§3.1 core query: filter -> score -> drop-null -> top-k -> project.

    `limit` default 10 (T3, reference src/routes.rs:447). NULL-session rows
    are excluded when a session filter is given (P1, src/memory.rs:112-116 —
    Spark's `col == lit` null semantics match exactly). Dim-mismatched and
    zero-norm embeddings score NULL and are dropped (P2, src/memory.rs:150-161).

    Scores with the native column kernel inside the scan stage.
    """
    if not query_vec:
        raise ValidationError("query embedding must be non-empty")
    df = memories
    if session is not None:
        df = df.filter(F.col("session") == session)
    q = similarity.query_vec_lit(query_vec, precision)
    scored = df.withColumn("score", similarity.score_expr(metric, F.col("embedding"), q, precision))
    scored = scored.filter(F.col("score").isNotNull())
    return top_k(scored, "score", limit, tiebreak="id").select(*RESULT_COLS)


def delete(memories: DataFrame, ids: DataFrame | list[str]) -> DataFrame:
    """S3: anti-join delete rewrite (reference src/memory.rs:139-141).

    `ids` may be a one-column DataFrame or a literal list. Returns the
    surviving rows; existence ("true iff it existed") is observable as a
    count diff at the table seam. The id side is broadcast — a delete set is
    always small relative to the table, so no shuffle of the big side.
    """
    if isinstance(ids, list):
        from penr_oz_agent_memory_rust_spark.localdata import local_df

        ids_df = local_df(memories.sparkSession, [(i,) for i in ids], "id string")
    else:
        ids_df = ids.toDF("id")
    return memories.join(F.broadcast(ids_df), "id", "left_anti")
