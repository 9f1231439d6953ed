"""Structured Streaming ingestion (SURVEY §7 ★ — optional extension).

The reference's write path (§3.2: validate -> FK check -> embed -> upsert ->
touch) is request/response; the Spark-native recast is a micro-batch stream:
readStream over an inbox directory -> the SAME validation/embedding pipeline
(reused batch operators) applied per micro-batch via foreachBatch -> upsert
into the memories table and touch sessions. foreachBatch gives exactly-once
per-epoch semantics against the ParquetTable seam.

Also provides the standard streaming-analytics shape the reference lacks:
watermarked tumbling-window aggregation over the events table.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from penr_oz_agent_memory_rust_spark.operators import memory_store, session_store, vector_store
from penr_oz_agent_memory_rust_spark.sources.tables import ParquetTable

INBOX_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("session", T.StringType(), True),
    ]
)


def ingest_stream(
    spark: SparkSession,
    inbox_dir: str,
    memories_table: ParquetTable,
    sessions_table: ParquetTable | None,
    embed_udf,
    checkpoint_dir: str,
):
    """Start the micro-batch ingest pipeline; returns the StreamingQuery.

    Per micro-batch (reference §3.2 write path, batched):
      P4 non-empty text -> P9 FK check vs sessions -> S8 embed (pandas UDF)
      -> S2 id/timestamp assignment -> append -> C3 touch.
    """
    stream = spark.readStream.schema(INBOX_SCHEMA).parquet(inbox_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        ok, _rejects = memory_store.validate_nonempty_text(batch_df)
        if sessions_table is not None:
            sessions_df = sessions_table.read()
            with_fk = ok.withColumnRenamed("session", "session_id")
            valid, _fk_rejects = session_store.fk_check(with_fk, sessions_df)
            ok = valid.withColumnRenamed("session_id", "session")
        embedded = ok.withColumn("embedding", embed_udf(F.col("text")))
        prepared = memory_store.store_memories(embedded)
        memories_table.append(prepared)
        if sessions_table is not None:
            touched_ids = [
                r[0]
                for r in prepared.select("session").filter(F.col("session").isNotNull()).distinct().collect()
            ]
            if touched_ids:
                sessions_table.update_where(
                    F.col("id").isin(touched_ids), {"updated_at": F.current_timestamp()}
                )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregation over events
    (ts, event_type, value) — late rows beyond the watermark are dropped."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(win, "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


POINTS_INBOX_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("session_id", T.StringType(), True),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def ingest_points_stream(
    spark: SparkSession,
    inbox_dir: str,
    points_table: ParquetTable,
    sessions_table: ParquetTable | None,
    embed_udf,
    checkpoint_dir: str,
):
    """The reference's §3.2 Qdrant write path as a micro-batch stream
    (reference src/routes.rs:224-294): P4 non-empty text -> P5 reserved-key
    rejection -> P9 FK check -> embed -> P8 session_id enrichment -> S4
    upsert-by-id -> C3 touch. foreachBatch applies the whole pipeline with
    per-epoch batch semantics against the table seam."""
    stream = spark.readStream.schema(POINTS_INBOX_SCHEMA).parquet(inbox_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        ok, _ = memory_store.validate_nonempty_text(batch_df)
        ok, _rejected_keys = vector_store.validate_reserved_keys(ok)
        if sessions_table is not None:
            ok, _fk_rejects = session_store.fk_check(ok, sessions_table.read())
        prepared = (
            ok.withColumn("vector", embed_udf(F.col("text")))
            .withColumn("updated_at", F.current_timestamp())
        )
        prepared = vector_store.enrich_session_id(prepared)
        points_table.overwrite(vector_store.upsert(points_table.read(), prepared))
        if sessions_table is not None:
            touched = [
                r[0]
                for r in prepared.select("session_id").filter(F.col("session_id").isNotNull()).distinct().collect()
            ]
            if touched:
                sessions_table.update_where(
                    F.col("id").isin(touched), {"updated_at": F.current_timestamp()}
                )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def session_window_counts(events_stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """Native session windows (gap-based) per user — the streaming form of
    the lag+cumsum batch sessionization in __spark_entry__.q_events_sessionize.
    The state store merges windows as events arrive; the watermark bounds
    state and emits closed sessions in append mode."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("total_value"))
        .select(
            F.col("session_window.start").alias("sess_start"),
            F.col("session_window.end").alias("sess_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def dedup_stream(
    events_stream: DataFrame, key_cols: list[str], watermark_col: str = "ts", delay: str = "10 minutes"
) -> DataFrame:
    """Streaming exactly-once-per-key dedup: dropDuplicatesWithinWatermark
    keeps the first arrival of each key and bounds state by the watermark —
    the streaming form of the batch upsert/last-writer-wins reduction (S4).
    Use for at-least-once sources (replayed ingest, retried producers)."""
    return events_stream.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(
        key_cols
    )


def running_user_totals(events_stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: a
    per-user running (count, value-sum) maintained across micro-batches.

    This is the arbitrary-state shape the built-in windowed aggs can't
    express (state survives indefinitely, update-mode emission per batch).
    State is two scalars per user — bounded; at scale the group key
    partitions the state store across executors.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, total_events bigint, total_value double"
    state_schema = "n bigint, v double"

    def fn(key, pdfs, state: GroupState):
        n, v = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            v += float(pdf["value"].sum())
        state.update((n, v))
        yield pd.DataFrame(
            {"user_id": [key[0]], "total_events": [n], "total_value": [round(v, 6)]}
        )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


@contextlib.contextmanager
def _nanos_as_long(spark: SparkSession):
    """Temporarily read TIMESTAMP(NANOS) parquet as int64; the previous
    value is restored on exit so the shared session's batch reads are not
    silently switched to legacy semantics."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@contextlib.contextmanager
def _stream_shuffle_partitions(spark: SparkSession, n: int | None):
    """Temporarily set spark.sql.shuffle.partitions for a stream start.

    A stateful stream instantiates (and commits) one state store per
    shuffle partition per micro-batch, a FIXED overhead independent of
    data volume — so the partition count is a per-stream throughput
    parameter, not a session constant: size it to the stream's key
    cardinality and rate. Measured on the bounded sf0.1 interval join
    (100k events, warm session, interleaved A/B): 32 partitions 7.7-11.2 s
    vs 8 partitions 2.9-3.2 s — identical 342-row result. At real scale
    the right value grows with the cluster; None leaves the session conf
    untouched. The previous value is restored on exit (batch queries are
    unaffected: the stream pins its partitioning at start)."""
    key = "spark.sql.shuffle.partitions"
    if n is None:
        yield
        return
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _stage_single_file(events_path: str) -> str:
    """FileStreamSource only monitors directories; stage a single parquet
    file behind a symlink in a per-path temp dir (no data copy). Keyed on a
    stable md5 digest of the path — NOT builtin hash(), which varies per
    process under PYTHONHASHSEED and would accumulate one stage dir per
    process."""
    digest = hashlib.md5(events_path.encode("utf-8")).hexdigest()[:16]
    stage = os.path.join(tempfile.gettempdir(), f"__stream_stage_{digest}")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, os.path.basename(events_path))
    if not os.path.exists(link):
        os.symlink(events_path, link)
    return stage


def run_windowed_events_once(
    spark: SparkSession,
    events_path: str,
    minutes: int = 5,
    name: str = "__stream_win_agg",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Execute `windowed_event_counts` as a REAL Structured Streaming job —
    readStream over the events parquet, availableNow trigger, complete-mode
    memory sink — and return the final result as a batch DataFrame.

    availableNow processes everything currently in the directory in bounded
    micro-batches then stops, so the call is synchronous and deterministic:
    on bounded input the final complete-mode state equals the batch
    aggregation (the oracle for the correctness gate). The same code path
    scales to continuous ingestion by swapping the trigger and sink.
    """
    with _nanos_as_long(spark), _stream_shuffle_partitions(spark, shuffle_partitions):
        schema = spark.read.parquet(events_path).schema
        if os.path.isfile(events_path):
            events_path = _stage_single_file(events_path)
        raw = spark.readStream.schema(schema).parquet(events_path)
        if dict(raw.dtypes).get("ts") == "bigint":
            raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        # watermarks demand TIMESTAMP (with tz); the parquet may scan as NTZ.
        # Session tz is pinned UTC, so the cast is a type change, not a shift.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
        agg = windowed_event_counts(raw, window=f"{minutes} minutes")
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        return spark.table(name)


def batch_user_totals(events: DataFrame) -> DataFrame:
    """Batch plan equal to the FINAL state of `running_user_totals`."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("total_events"), F.round(F.sum("value"), 6).alias("total_value")
    )


def batch_windowed_event_counts(events: DataFrame, minutes: int = 5) -> DataFrame:
    """The batch-equivalent plan of `windowed_event_counts` (same results on
    bounded input; used for the oracle comparison)."""
    win = F.window("ts", f"{minutes} minutes")
    return (
        events.groupBy(win, "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def run_dedup_keys_once(
    spark: SparkSession,
    events_path: str,
    keys: list[str],
    name: str = "__stream_dedup",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Execute dropDuplicatesWithinWatermark as a real streaming job over
    the events parquet (availableNow, append-mode memory sink) and return
    the surviving key set as a batch DataFrame. Only the key columns are
    kept, so the result is deterministic (the distinct keys) regardless of
    which physical row won the first-arrival race."""
    with _nanos_as_long(spark), _stream_shuffle_partitions(spark, shuffle_partitions):
        schema = spark.read.parquet(events_path).schema
        if os.path.isfile(events_path):
            events_path = _stage_single_file(events_path)
        raw = spark.readStream.schema(schema).parquet(events_path)
        if dict(raw.dtypes).get("ts") == "bigint":
            raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
        deduped = dedup_stream(raw, keys, watermark_col="ts", delay="10 minutes").select(*keys)
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        return spark.table(name)


def enrich_stream_with_dim(
    events_stream: DataFrame,
    dim: DataFrame,
    on: str,
    dim_cols: list[str],
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch hash-joins against
    the (batch) dimension frame without any state store. The canonical
    shape for decorating an event stream with slowly-changing reference
    data.

    ``broadcast_dim=True`` (default) pins a broadcast-hash join — correct
    for a dimension that fits in executor memory and avoids a
    per-micro-batch shuffle. For a huge dimension pass ``False`` so
    Spark's per-batch planning picks a shuffle join instead of
    broadcasting (and OOMing on) the big side."""
    d = dim.select(on, *dim_cols)
    return events_stream.join(F.broadcast(d) if broadcast_dim else d, on, "left")


def _events_readstream(spark: SparkSession, events_path: str) -> DataFrame:
    """readStream over the events parquet with the shared ts normalization
    (TIMESTAMP(NANOS) scanned as bigint → micros → timestamp). Caller must
    hold _nanos_as_long."""
    schema = spark.read.parquet(events_path).schema
    if os.path.isfile(events_path):
        events_path = _stage_single_file(events_path)
    raw = spark.readStream.schema(schema).parquet(events_path)
    if dict(raw.dtypes).get("ts") == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def run_session_windows_once(
    spark: SparkSession,
    events_path: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    name: str = "__stream_sess_win",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Gap-based sessionization as a REAL streaming job: watermarked
    `session_window` aggregation (the native stateful session operator —
    state-store window MERGES as events arrive, unlike tumbling windows),
    availableNow trigger, complete-mode memory sink. On bounded input the
    final state equals the batch session_window aggregation — the same
    islands oracle as the batch gate. Timestamps truncate to whole seconds
    first so streaming and batch bucket sub-second gaps identically.
    Output: (user_id, sess_start epoch-seconds, n_events)."""
    with _nanos_as_long(spark), _stream_shuffle_partitions(spark, shuffle_partitions):
        raw = _events_readstream(spark, events_path)
        sec = F.timestamp_seconds(F.unix_timestamp("ts"))
        agg = (
            raw.withWatermark("ts", watermark)
            .groupBy(F.session_window(sec, gap).alias("sw"), "user_id")
            .agg(F.count("*").alias("n_events"))
            .select(
                "user_id",
                F.unix_timestamp(F.col("sw.start")).alias("sess_start"),
                "n_events",
            )
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        return spark.table(name)


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    on: str,
    lookback: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with an event-time range condition: right rows
    within [left_ts - lookback, left_ts] of a matching key. Both sides
    carry watermarks (callers set them), so the state store evicts rows
    once they can no longer match — state is bounded by watermark +
    lookback, the canonical attribution-join shape. how="leftOuter"
    additionally emits a null-padded row for an unmatched left row once
    the global watermark passes it (no future right row could match)."""
    return left.join(
        right,
        (F.col(on) == F.col(f"__r_{on}"))
        & (F.col(right_ts) >= F.col(left_ts) - F.expr(f"interval {lookback}"))
        & (F.col(right_ts) <= F.col(left_ts)),
        how,
    )


def run_interval_join_once(
    spark: SparkSession,
    events_path: str,
    left_type: str = "purchase",
    right_type: str = "view",
    lookback: str = "1 hour",
    left_watermark: str = "1 hour",
    right_watermark: str = "2 hours",
    name: str = "__stream_ssj",
    shuffle_partitions: int | None = None,
    how: str = "inner",
) -> DataFrame:
    """Attribution as a REAL stream-stream join: purchases joined to the
    views that preceded them within `lookback` for the same user, both
    sides watermarked (right watermark >= left + lookback so no in-range
    view is evicted early), availableNow, append-mode memory sink. Inner
    stream-stream joins emit a pair as soon as both rows have arrived, so
    the bounded run produces exactly the batch interval join — the SQL
    oracle. Output: (p_id, v_id). shuffle_partitions sizes the TWO state
    stores' partitioning for this stream (see
    _stream_shuffle_partitions).

    how="leftOuter": unmatched purchases additionally emit (p_id, NULL),
    but ONLY once the global watermark — min over both sides of
    (max event time seen − that side's delay), advanced by the trailing
    no-data micro-batch — has passed the purchase; the tail of unmatched
    purchases younger than the final watermark is withheld by design
    (they could still match in a live stream). The batch oracle
    reproduces exactly that cutoff."""
    with _nanos_as_long(spark), _stream_shuffle_partitions(spark, shuffle_partitions):

        def side(alias: str, et: str, wm: str, key_alias: str) -> DataFrame:
            return (
                _events_readstream(spark, events_path)
                .filter(F.col("event_type") == et)
                .select(
                    F.col("event_id").alias(f"{alias}_id"),
                    F.col("user_id").alias(key_alias),
                    F.col("ts").alias(f"{alias}_ts"),
                )
                .withWatermark(f"{alias}_ts", wm)
            )

        p = side("p", left_type, left_watermark, "user_id")
        v = side("v", right_type, right_watermark, "__r_user_id")
        joined = interval_join_streams(
            p, v, left_ts="p_ts", right_ts="v_ts", on="user_id", lookback=lookback,
            how=how,
        )
        out = joined.select("p_id", "v_id")
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        return spark.table(name)


def run_enriched_counts_once(
    spark: SparkSession,
    events_path: str,
    dim: DataFrame,
    on: str = "user_id",
    dim_col: str = "segment",
    name: str = "__stream_enrich",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Execute the stream-static join as a REAL streaming job (availableNow,
    complete-mode memory sink): per-(dim_col, event_type) event counts of
    the enriched stream. On bounded input this equals the batch join+agg —
    the correctness oracle."""
    with _nanos_as_long(spark), _stream_shuffle_partitions(spark, shuffle_partitions):
        schema = spark.read.parquet(events_path).schema
        if os.path.isfile(events_path):
            events_path = _stage_single_file(events_path)
        raw = spark.readStream.schema(schema).parquet(events_path)
        if dict(raw.dtypes).get("ts") == "bigint":
            raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        enriched = enrich_stream_with_dim(raw, dim, on, [dim_col])
        agg = enriched.groupBy(dim_col, "event_type").agg(F.count("*").alias("n"))
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        return spark.table(name)


def run_ivf_append_once(
    spark: SparkSession,
    incoming_dir: str,
    index_path: str,
    vec_col: str = "embedding",
) -> int:
    """Incremental ANN-index maintenance as a REAL streaming job: new
    embedding batches arriving in `incoming_dir` are assigned to the
    EXISTING centroids and appended into the persisted IVF index's cell
    partitions (operators/ivf_index.append_to_ivf_index) via foreachBatch,
    availableNow-triggered so the call drains what is currently there and
    returns.

    The checkpoint lives beside the index, so a re-run never reprocesses
    files already appended (exactly-once per file across restarts — the
    property that makes continuous index maintenance safe). Scale: the
    per-batch work is a pure-expression cell assignment + partitioned
    append; no state store, no driver materialization. Returns the number
    of micro-batches executed."""
    from penr_oz_agent_memory_rust_spark.operators import ivf_index

    schema = spark.read.parquet(incoming_dir).schema
    stream = spark.readStream.schema(schema).parquet(incoming_dir)
    n_batches = {"n": 0}

    def _append(bdf: DataFrame, _bid: int) -> None:
        ivf_index.append_to_ivf_index(bdf, index_path, vec_col=vec_col)
        n_batches["n"] += 1

    q = (
        stream.writeStream.foreachBatch(_append)
        .option("checkpointLocation", os.path.join(index_path, "_append_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches["n"]


def windowed_embedding_dim_stats(
    stream: DataFrame,
    window: str = "5 minutes",
    ts_col: str = "ts",
    vec_col: str = "embedding",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-(tumbling window, dimension) count + sum of an embedding stream:
    the streaming state behind the drift monitor. posexplode is a stateless
    ×d projection; the single windowed agg then keeps windows×d rows of
    state with map-side partial combine — the one-aggregation limit of
    Structured Streaming is respected by deferring the drift *reduction*
    (a d-row fold per window) to a batch pass over the final state (or a
    foreachBatch hook on a live stream)."""
    dims = stream.select(
        ts_col, F.posexplode(vec_col).alias("dim", "__x")
    ).select(ts_col, "dim", F.col("__x").cast("double").alias("__x"))
    return (
        dims.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), "dim")
        .agg(F.count("*").alias("n"), F.sum("__x").alias("sx"))
        .select(
            F.col("window.start").alias("window_start"),
            "dim",
            "n",
            "sx",
        )
    )


def drift_scores(
    dim_stats: DataFrame,
    baseline: DataFrame,
    round_to: int = 6,
) -> DataFrame:
    """Reduce per-(window, dim) stats against a broadcast baseline of
    per-dim means: drift = Σ_i (round(window_mean_i, 6) - μ_i)² — the
    squared L2 shift of the window's embedding centroid. Window means are
    rounded BEFORE the fold so an external oracle agrees bit-for-bit.

    baseline: (dim, mu) — d rows, broadcast. Output: (ws, n_rows, drift)
    per window, ws = epoch seconds of the window start."""
    j = dim_stats.join(F.broadcast(baseline), "dim")
    dev = F.round(F.col("sx") / F.col("n"), round_to) - F.col("mu")
    return (
        j.groupBy(F.unix_timestamp("window_start").alias("ws"))
        .agg(
            F.max("n").alias("n_rows"),
            F.round(F.sum(dev * dev), round_to).alias("drift"),
        )
    )


def run_embedding_drift_once(
    spark: SparkSession,
    emb_path: str,
    baseline: DataFrame,
    window_secs: int = 300,
    name: str = "__stream_emb_drift",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """★ streaming embedding-drift monitor end-to-end: readStream over a
    (ts, embedding) parquet directory, per-(window, dim) stats maintained
    as REAL streaming state (availableNow / complete-mode memory sink),
    then the batch drift reduction against the broadcast baseline. On
    bounded input the final state equals the batch aggregation, which is
    what the oracle asserts. Production shape: swap the trigger for a
    processing-time one and read `drift` per micro-batch via foreachBatch;
    the stream side never sees the baseline (no rebroadcast per batch)."""
    with _stream_shuffle_partitions(spark, shuffle_partitions):
        schema = spark.read.parquet(emb_path).schema
        if os.path.isfile(emb_path):
            emb_path = _stage_single_file(emb_path)
        raw = spark.readStream.schema(schema).parquet(emb_path)
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
        stats = windowed_embedding_dim_stats(raw, window=f"{window_secs} seconds")
        q = (
            stats.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        return drift_scores(spark.table(name), baseline)


CORPUS_INBOX_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)


def continuous_corpus_ingest(
    spark: SparkSession,
    inbox_dir: str,
    corpus_table: ParquetTable,
    fps_table: ParquetTable,
    checkpoint_dir: str,
    index_path: str | None = None,
    embed_udf=None,
):
    """★ continuous training-corpus ingestion: one micro-batch stream that
    chains the pipeline's maintenance operators —

        validate non-empty text
        -> cross-snapshot exact dedup against the seen-fingerprint table
           (operators/dedup.incremental_exact_dedup: first arrival wins
           across batches, min-id wins within a batch)
        -> append survivors to the corpus table + their fps to the
           fingerprint table
        -> optionally embed survivors and append into the persisted IVF
           index (ivf_index.append_to_ivf_index)

    Returns the StreamingQuery (availableNow: drains the inbox and stops).
    Scale shape per batch: the fingerprint anti-join keys are 16-byte
    hashes (bloom-prunable on a real cluster); corpus/fps writes are
    appends; the index append is a pure-expression cell assignment. No
    state store — the fps table IS the state, shared with batch jobs.
    """
    from penr_oz_agent_memory_rust_spark.operators import dedup as dedup_ops
    from penr_oz_agent_memory_rust_spark.operators import ivf_index

    if index_path is not None and embed_udf is None:
        raise ValueError("index_path requires an embed_udf")
    stream = spark.readStream.schema(CORPUS_INBOX_SCHEMA).parquet(inbox_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        ok, _rejects = memory_store.validate_nonempty_text(batch_df)
        fresh = dedup_ops.incremental_exact_dedup(ok, fps_table.read())
        survivors = ok.join(fresh.select("doc_id", "fp"), "doc_id")
        corpus_table.append(survivors.select("doc_id", "text", "fp"))
        fps_table.append(survivors.select("fp"))
        if index_path is not None:
            vecs = survivors.select(
                F.col("doc_id").alias("vec_id"),
                embed_udf(F.col("text")).alias("embedding"),
            )
            ivf_index.append_to_ivf_index(vecs, index_path)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_cdc_chunk_dedup_once(
    spark: SparkSession,
    incoming_dir: str,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram: int = 8,
    modulus: int = 64,
) -> int:
    """Incremental chunk-level dedup as a REAL streaming job — the
    end-to-end use of content-defined chunking: each micro-batch of
    documents arriving in `incoming_dir` is CDC-chunked
    (operators/text_ops.cdc_chunk_documents), chunks whose fingerprint
    already exists in the persisted chunk store are dropped (left-anti
    join), and only the NOVEL chunks append. Because CDC boundaries
    re-synchronize after edits (90% of fingerprints survive a prefix
    insertion — PLANS.md CDC probe), a re-crawled document with one
    edited paragraph stores ~one chunk, not the whole document.

    availableNow + checkpoint beside the store = exactly-once per file
    across restarts. Duplicates WITHIN one micro-batch are both kept
    (the store constraint is first-write-wins per fingerprint across
    batches — same contract as dedup.incremental_dedup). Returns the
    number of micro-batches executed.
    """
    from penr_oz_agent_memory_rust_spark.operators import text_ops

    schema = spark.read.parquet(incoming_dir).schema
    stream = spark.readStream.schema(schema).parquet(incoming_dir)
    data = os.path.join(store_path, "chunks")
    n_batches = {"n": 0}

    def _dedup_append(bdf: DataFrame, _bid: int) -> None:
        chunks = text_ops.cdc_chunk_documents(
            bdf, id_col=id_col, text_col=text_col, gram=gram, modulus=modulus
        )
        if os.path.exists(data):
            existing = bdf.sparkSession.read.parquet(data).select("chunk_fp")
            chunks = chunks.join(existing, "chunk_fp", "left_anti")
        chunks.write.mode("append").parquet(data)
        n_batches["n"] += 1

    q = (
        stream.writeStream.foreachBatch(_dedup_append)
        .option("checkpointLocation", os.path.join(store_path, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches["n"]


def run_cms_ingest_once(
    spark: SparkSession,
    incoming_dir: str,
    sketch_path: str,
    item_col: str,
    width: int = 64,
    depth: int = 4,
    prepare=None,
) -> int:
    """Streaming count-min-sketch maintenance: each arriving micro-batch is
    reduced to its own depth×width partial counter table and APPENDED under
    `sketch_path/partials`. CMS is linear (counter-wise sum), so the live
    sketch is just the groupBy-sum of all partials (`read_cms_sketch`) —
    append-only makes the job exactly-once with nothing but the checkpoint
    (no read-modify-write window, no swap), and a crash between batches
    loses at most the uncommitted batch, never corrupts the sketch.

    Scale: a micro-batch of any size leaves as ≤ depth×width rows, so the
    sketch store grows by O(batches), not O(rows); run `read_cms_sketch`'s
    plan as a compaction whenever the partial count gets long. Returns the
    number of micro-batches executed. `prepare` (optional) maps each raw
    micro-batch DataFrame to the item rows to sketch (e.g. tokenize) —
    the same pluggable seam as the embedding providers."""
    from penr_oz_agent_memory_rust_spark.operators import sketches

    schema = spark.read.parquet(incoming_dir).schema
    stream = spark.readStream.schema(schema).parquet(incoming_dir)
    n_batches = {"n": 0}
    partials = os.path.join(sketch_path, "partials")

    def _fold(bdf: DataFrame, _bid: int) -> None:
        items = prepare(bdf) if prepare is not None else bdf
        part = sketches.cms_counter_table(items, item_col, width=width, depth=depth)
        part.write.mode("append").parquet(partials)
        n_batches["n"] += 1

    q = (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", os.path.join(sketch_path, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches["n"]


def read_cms_sketch(spark: SparkSession, sketch_path: str) -> DataFrame:
    """The live counter table: sum the appended partials (bounded —
    depth×width distinct (d, bucket) keys regardless of partial count)."""
    return (
        spark.read.parquet(os.path.join(sketch_path, "partials"))
        .groupBy("d", "bucket")
        .agg(F.sum("c").alias("c"))
    )


def run_versioned_table_ingest_once(
    spark: SparkSession,
    incoming_dir: str,
    table,
    app_id: str = "versioned-ingest",
) -> int:
    """Streaming ingest INTO the manifest-versioned table — the lakehouse
    loop without a table format: each micro-batch appends as ONE atomic
    zero-copy commit carrying (app_id, batch_id) as its transaction id, so
    a replayed batch (foreachBatch is at-least-once on recovery) is a
    recorded no-op rather than duplicate rows — the same idempotent-writer
    device Delta's txnAppId/txnVersion provides. Readers keep snapshot
    isolation mid-stream, and every committed batch is immediately
    time-travelable. availableNow-triggered; returns micro-batches run."""
    schema = spark.read.parquet(incoming_dir).schema
    stream = spark.readStream.schema(schema).parquet(incoming_dir)
    n_batches = {"n": 0}

    def _commit(bdf: DataFrame, batch_id: int) -> None:
        table.append(bdf, txn_app=app_id, txn_id=batch_id)
        n_batches["n"] += 1

    q = (
        stream.writeStream.foreachBatch(_commit)
        .option(
            "checkpointLocation", os.path.join(table.path, "_ingest_checkpoint")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches["n"]


def run_versioned_cdc_merge_once(
    spark: SparkSession,
    incoming_dir: str,
    table,
    key_cols: list[str],
    seq_col: str | None = None,
    app_id: str = "versioned-cdc-merge",
) -> int:
    """Streaming MERGE (CDC apply) into the manifest-versioned table: each
    micro-batch last-writer-wins-upserts by key as ONE atomic commit
    carrying (app_id, batch_id), so a replayed batch (foreachBatch is
    at-least-once on checkpoint recovery) is a recorded no-op — the
    exactly-once `foreachBatch + MERGE` pattern Delta documents, on plain
    files. With `seq_col` set, the batch is first reduced to its latest
    row per key (max seq, remaining columns as deterministic tie-break) —
    a CDC feed can carry several updates for one key inside one batch,
    and applying them all would make the surviving row racey.
    availableNow-triggered; returns micro-batches run."""
    from pyspark.sql import Window

    schema = spark.read.parquet(incoming_dir).schema
    stream = spark.readStream.schema(schema).parquet(incoming_dir)
    n_batches = {"n": 0}

    def _apply(bdf: DataFrame, batch_id: int) -> None:
        b = bdf
        if seq_col is not None:
            others = [c for c in b.columns if c not in (*key_cols, seq_col)]
            w = Window.partitionBy(*key_cols).orderBy(
                F.col(seq_col).desc(), *[F.col(c).desc_nulls_last() for c in others]
            )
            b = (
                b.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        table.merge_upsert(b, list(key_cols), txn_app=app_id, txn_id=batch_id)
        n_batches["n"] += 1

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option(
            "checkpointLocation", os.path.join(table.path, "_cdc_merge_checkpoint")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches["n"]


class ChangeFeedGapError(RuntimeError):
    """A CDF consumer's watermark predates retained history (vacuum
    dropped the manifests it needs): the changes in (watermark, oldest]
    are unrecoverable, so an incremental catch-up would silently lose
    them. Mirrors Delta CDF, which errors when the requested range is
    beyond retention. Recover with on_gap="resync"."""


def follow_versioned_changes(
    table,
    consumer_id: str,
    apply_fn,
    on_gap: str = "error",
) -> int:
    """Incremental CDF follower — the generalized consumer of
    VersionedParquetTable.changes(): reads the feed from the last version
    this consumer PROCESSED (a tiny progress file under the table path),
    hands the change DataFrame to `apply_fn(changes_df, from_v, to_v)`,
    and advances the watermark only after apply_fn returns — so a crash
    between apply and advance replays the same span (at-least-once for
    arbitrary side effects; consumers writing into another versioned
    table get exactly-once by passing the span as a txn id). Returns the
    number of versions advanced; 0 when already caught up.

    A FRESH consumer bootstraps from the oldest retained snapshot: it
    receives snapshot(oldest)-as-inserts unioned with changes(oldest,
    cur), so a consumer created after a vacuum still sees every live row
    (on a never-vacuumed table the oldest snapshot is the empty genesis
    and this degrades to the plain change feed).

    A LAGGING consumer whose watermark predates retained history hit a
    real gap — the changes between its watermark and the oldest kept
    manifest are gone, and clamping forward would silently drop them
    (Delta CDF raises here too). `on_gap` picks the recovery:
      "error"  (default) raise ChangeFeedGapError — the caller decides.
      "resync" discard-and-rebuild protocol: apply_fn is called with
               (full current snapshot as inserts, None, cur); from_v is
               None to signal "drop derived state, this is the whole
               table", then the watermark jumps to cur.

    CONSUMER CONTRACT for resync: from_v=None means the frame is NOT a
    delta — apply it as truncate-and-load (or idempotent upsert keyed on
    the table's key), never additively, or rows deleted inside the
    vacuumed gap survive in the derived state forever. The cost is a
    full-table replay into apply_fn (probed at 8M rows: 54× the rows of
    the equivalent incremental catch-up — PLANS.md "CDF resync probe"),
    which is why lagging past retention ERRORS by default instead of
    resyncing silently.

    This is the derived-index refresh loop the agent demo runs by hand:
    each derived table/index keeps its own consumer_id and never rescans
    the base table."""
    import json as _json

    if on_gap not in ("error", "resync"):
        raise ValueError(f"on_gap must be 'error' or 'resync', got {on_gap!r}")
    state_dir = os.path.join(table.path, "_consumers")
    os.makedirs(state_dir, exist_ok=True)
    state_path = os.path.join(state_dir, f"{consumer_id}.json")
    table.ensure()
    fresh = False
    try:
        with open(state_path) as f:
            last = int(_json.load(f)["processed_version"])
    except (OSError, ValueError, KeyError):
        fresh = True
        last = table._versions()[0]  # start of retained history
    oldest = table._versions()[0]
    cur = table.current_version()

    def _advance() -> None:
        tmp = state_path + ".tmp"
        with open(tmp, "w") as f:
            _json.dump({"processed_version": cur}, f)
        os.replace(tmp, state_path)

    def _snapshot_as_inserts(version: int):
        snap = table.read(version)
        sch = table._schema_at(cur)
        missing = [f for f in sch.fields if f.name not in set(snap.columns)]
        for fld in missing:
            snap = snap.withColumn(fld.name, F.lit(None).cast(fld.dataType))
        return snap.select(*[f.name for f in sch.fields]).withColumn(
            "_change_type", F.lit("insert")
        )

    if not fresh and last < oldest:
        if on_gap == "error":
            raise ChangeFeedGapError(
                f"consumer {consumer_id!r} watermark v{last} predates retained "
                f"history (oldest manifest v{oldest}): changes in "
                f"(v{last}, v{oldest}] were vacuumed and cannot be replayed. "
                'Pass on_gap="resync" to rebuild from the current snapshot.'
            )
        apply_fn(_snapshot_as_inserts(cur), None, cur)
        _advance()
        return cur - last
    if fresh and table._load_manifest(oldest).get("files"):
        # bootstrap: the oldest retained snapshot's rows (non-empty only
        # after a vacuum dropped the genesis) never appear in
        # changes(oldest, ...) — deliver them as inserts alongside the feed
        boot = _snapshot_as_inserts(oldest)
        feed = boot if cur == last else boot.unionByName(table.changes(last, cur))
        apply_fn(feed, last, cur)
        _advance()
        return max(cur - last, 1)
    if cur <= last:
        return 0
    apply_fn(table.changes(last, cur), last, cur)
    _advance()
    return cur - last
