"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is one operator from SURVEY.md §2 (or a north-star
pipeline operator per §2.7 ★) expressed as a Spark DataFrame plan over the
driver's testdata tables; ``oracle_sql()`` holds the equivalent DuckDB SQL.
Column names and types are aligned on both sides (the driver hashes values
after sorting columns by name); float scores are computed with double
accumulation over the same element order on both engines and rounded to 6dp.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO_ROOT)

from penr_oz_agent_memory_rust_spark.functions import hashing, similarity
from penr_oz_agent_memory_rust_spark.operators import corpus, dedup, importance, knn, memory_store, session_store, text_ops, topk, vector_store
from penr_oz_agent_memory_rust_spark.operators.multimodal import extract_features, synthesize_media_from_documents
from penr_oz_agent_memory_rust_spark.sources.tables import load_table
from penr_oz_agent_memory_rust_spark.streaming.ingest import batch_windowed_event_counts

SF0001 = "/root/testdata/sf0.001"


def _ship_package(spark: SparkSession) -> None:
    """Make the engine package importable on Spark Python workers regardless
    of the driver process's cwd: zip it once and addPyFile it. Without this,
    mapInPandas/pandas-UDF closures that reference package modules fail to
    unpickle on workers when the harness launches from outside the repo."""
    try:
        sc = spark.sparkContext
    except Exception:
        # Spark Connect session: no sparkContext; ship via addArtifacts
        if not getattr(spark, "_poz_pkg_shipped", False):
            zip_path = _build_pkg_zip()
            try:
                spark.addArtifacts(zip_path, pyfile=True)
            except Exception:
                pass
            spark._poz_pkg_shipped = True
        return
    if getattr(sc, "_poz_pkg_shipped", False):
        return
    # harness sessions may come up with stock configs; these are
    # runtime-settable and matter for plan quality on local[N]
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", str(max(sc.defaultParallelism, 4)))
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # read-only conf in some deployments; queries stay correct
    sc.addPyFile(_build_pkg_zip())
    sc._poz_pkg_shipped = True


def _build_pkg_zip() -> str:
    import tempfile
    import zipfile

    zip_path = os.path.join(tempfile.gettempdir(), "penr_oz_agent_memory_rust_spark_pkg.zip")
    pkg_dir = os.path.join(_REPO_ROOT, "penr_oz_agent_memory_rust_spark")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fname in files:
                if fname.endswith(".py"):
                    full = os.path.join(root, fname)
                    zf.write(full, os.path.relpath(full, _REPO_ROOT))
    return zip_path


def _wrap(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ship_package(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = fn.__name__
    wrapped.__doc__ = fn.__doc__
    return wrapped


# ---------------------------------------------------------------- helpers

def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _query_side(spark: SparkSession, sf_dir: str, max_id: int = 8) -> DataFrame:
    return (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") < max_id)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    )


def _scored_vs_q0(spark: SparkSession, sf_dir: str, src: DataFrame | None = None) -> DataFrame:
    """embeddings scored against the vec_id=0 vector (f64, rounded 6dp);
    the §3.1 search plan: broadcast 1-row query side, cosine, drop NULLs.
    Norms are projected per side before the score expression (see
    similarity.cosine_f64_prenormed) — identical f64 values, ~2x less
    interpreted higher-order-function work per row. `src` substitutes a
    different corpus frame (e.g. a persisted index's data files); the
    query vector always comes from the embeddings table."""
    emb = src if src is not None else _emb(spark, sf_dir)
    if src is not None:
        qv0 = _emb(spark, sf_dir).filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qv"),
            similarity.norm_f64(F.col("embedding")).alias("__qn"),
        )
        return (
            emb.withColumn("__en", similarity.norm_f64(F.col("embedding")))
            .crossJoin(F.broadcast(qv0))
            .withColumn(
                "score",
                F.round(
                    similarity.cosine_f64_prenormed(
                        similarity.dot_f64(F.col("embedding"), F.col("qv")),
                        F.col("__en"),
                        F.col("__qn"),
                        F.size("embedding") == F.size("qv"),
                    ),
                    6,
                ),
            )
            .filter(F.col("score").isNotNull())
            .drop("__en", "__qn")
        )
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"),
        similarity.norm_f64(F.col("embedding")).alias("__qn"),
    )
    return (
        emb.withColumn("__en", similarity.norm_f64(F.col("embedding")))
        .crossJoin(F.broadcast(qv))
        .withColumn(
            "score",
            F.round(
                similarity.cosine_f64_prenormed(
                    similarity.dot_f64(F.col("embedding"), F.col("qv")),
                    F.col("__en"),
                    F.col("__qn"),
                    F.size("embedding") == F.size("qv"),
                ),
                6,
            ),
        )
        .filter(F.col("score").isNotNull())
        .drop("__en", "__qn")
    )


# DuckDB-side cosine between two DOUBLE[] columns (same double accumulation).
def _dk_cos(a: str, b: str) -> str:
    return (
        f"round(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
        f"(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
        f"sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))), 6)"
    )


def _dk_norm_pos(a: str) -> str:
    return f"list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]) > 0"


def _mmr_sql(k: int = 10, lam: float = 0.7, n_cand: int = 50) -> str:
    """Greedy MMR unrolled as k MATERIALIZED CTE steps (playbook rule:
    DuckDB inlines CTEs without MATERIALIZED and re-expands the
    exponential dependency chain). Step 1 is the pure-relevance argmax;
    step j takes the argmax of lam*rel − (1−lam)·max(0, sim to the j−1
    already-selected) over the remainder, ties by id — exactly
    operators/mmr.mmr_select's loop. Scores are compared UNROUNDED (as
    the operator does) and rounded 6dp only at output; numpy's BLAS dot
    and the SQL fold differ in last ulps, so a decision flip would need
    two candidates within ~1e-15 — deterministic for fixed testdata."""
    mu = 1.0 - lam

    def dot(a, b):
        return f"list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"

    head = f"""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        cand AS MATERIALIZED (
          SELECT e.vec_id, e.embedding,
                 {dot('e.embedding', 'q.qv')} /
                 (sqrt({dot('e.embedding', 'e.embedding')}) * sqrt({dot('q.qv', 'q.qv')})) AS rel
          FROM embeddings e, q
          WHERE {dot('e.embedding', 'e.embedding')} > 0 AND {dot('q.qv', 'q.qv')} > 0
          QUALIFY row_number() OVER (ORDER BY rel DESC, e.vec_id) <= {n_cand}
        ),
        sims AS MATERIALIZED (
          SELECT a.vec_id AS ia, b.vec_id AS ib,
                 {dot('a.embedding', 'b.embedding')} /
                 (sqrt({dot('a.embedding', 'a.embedding')}) * sqrt({dot('b.embedding', 'b.embedding')})) AS sim
          FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
        ),
        sel1 AS MATERIALIZED (
          SELECT 1 AS rank, vec_id, round({lam} * rel, 6) AS mmr_score
          FROM cand QUALIFY row_number() OVER (ORDER BY {lam} * rel DESC, vec_id) = 1
        ),
        all1 AS MATERIALIZED (SELECT * FROM sel1)"""
    steps = []
    for j in range(2, k + 1):
        steps.append(f""",
        sel{j} AS MATERIALIZED (
          SELECT {j} AS rank, c.vec_id,
                 round({lam} * c.rel - {mu} * greatest(0, max(s.sim)), 6) AS mmr_score
          FROM cand c JOIN sims s ON s.ia = c.vec_id
          WHERE s.ib IN (SELECT vec_id FROM all{j - 1})
            AND c.vec_id NOT IN (SELECT vec_id FROM all{j - 1})
          GROUP BY c.vec_id, c.rel
          QUALIFY row_number() OVER (
            ORDER BY {lam} * c.rel - {mu} * greatest(0, max(s.sim)) DESC, c.vec_id) = 1
        ),
        all{j} AS MATERIALIZED (SELECT * FROM all{j - 1} UNION ALL SELECT * FROM sel{j})""")
    return head + "".join(steps) + f"\n        SELECT rank, vec_id, mmr_score FROM all{k} ORDER BY rank"


def _jl_matrix_sql(in_dim: int = 64, out_dim: int = 16, seed: int = 42) -> str:
    """The seeded JL projection matrix as a DuckDB DOUBLE[][] literal —
    regenerated from the same PCG64 stream the Spark expression path uses
    (projection._proj_matrix), f32 values widened to double exactly as
    F.lit(float(x)) does. repr() round-trips doubles, so the parsed
    literal is bit-identical on the oracle side."""
    from penr_oz_agent_memory_rust_spark.operators.projection import _proj_matrix

    P = _proj_matrix(in_dim, out_dim, seed)
    rows = ",".join(
        "[" + ",".join(repr(float(P[i, j])) for j in range(out_dim)) + "]"
        for i in range(in_dim)
    )
    return f"[{rows}]::DOUBLE[][]"


# ---------------------------------------------------------------- queries

def q_mem_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S5+K1+T1+T2: semantic top-k (reference src/memory.rs:99-136)."""
    return (
        topk.top_k(_scored_vs_q0(spark, sf_dir), "score", 10, tiebreak="vec_id")
        .select("vec_id", "score")
    )


def q_mem_search_label_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: equality filter below the score expr (src/memory.rs:112-116);
    label plays the session tag."""
    scored = _scored_vs_q0(spark, sf_dir).filter(F.col("label") == 1)
    return topk.top_k(scored, "score", 10, tiebreak="vec_id").select("vec_id", "label", "score")


def q_mem_search_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: score >= t pushed below the sort (src/vector_store.rs:283-285)."""
    scored = _scored_vs_q0(spark, sf_dir).filter(F.col("score") >= 0.15)
    return topk.top_k(scored, "score", 100, tiebreak="vec_id").select("vec_id", "score")


def q_mem_delete_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: delete as broadcast anti-join (src/memory.rs:139-141)."""
    emb = _emb(spark, sf_dir)
    doomed = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id")
    survivors = emb.join(F.broadcast(doomed), "vec_id", "left_anti")
    return survivors.select("vec_id", "label")


def q_upsert_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: last-writer-wins MERGE emulation (src/vector_store.rs:215-255) —
    latest event per user is the same window reduction."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "event_id", "event_type", F.round("value", 6).alias("value"))
    )


def q_session_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4+T5: (created_at DESC, id DESC) LIMIT 50 OFFSET 10
    (src/session_store.rs:142-154); orders plays sessions."""
    orders = load_table(spark, sf_dir, "orders")
    page = topk.paginate(
        orders,
        [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
        limit=50,
        offset=10,
    )
    return page.select("o_orderkey", "o_orderdate")


def q_session_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: conditional updated_at rewrite (src/session_store.rs:111-120)."""
    orders = load_table(spark, sf_dir, "orders")
    touched = orders.withColumn(
        "updated_at",
        F.when(
            F.col("o_orderkey") % 100 == 0, F.to_timestamp(F.lit("2026-08-13 00:00:00"))
        ).otherwise(F.col("o_orderdate")),
    )
    return touched.select("o_orderkey", "updated_at")


def q_fk_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 (valid side): FK existence as broadcast left-semi (src/routes.rs:252-263)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return orders.join(
        F.broadcast(cust.select(F.col("c_custkey").alias("o_custkey"))), "o_custkey", "left_semi"
    ).select("o_orderkey", "o_custkey")


def q_fk_anti_rejects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 (rejects side): rows whose FK target is missing -> left-anti."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") >= 0)
    return orders.join(
        F.broadcast(cust.select(F.col("c_custkey").alias("o_custkey"))), "o_custkey", "left_anti"
    ).select("o_orderkey", "o_custkey")


def q_json_metadata_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/P8-analog: dynamic JSON metadata handling — parse the props map,
    key-membership check + typed extraction (src/vector_store.rs:347-377)."""
    ev = load_table(spark, sf_dir, "events")
    meta = F.from_json(F.col("props"), "map<string,string>")
    return (
        ev.withColumn("m", meta)
        .filter(F.map_contains_key(F.col("m"), "k"))
        .withColumn("k_val", F.col("m")["k"].cast("bigint"))
        .filter(F.col("k_val") > 50)
        .select("event_id", "k_val")
    )


def q_projection_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4+P6: non-empty-text gate + result projection (src/routes.rs:175-183,
    src/memory.rs:118-124)."""
    docs, _rejects = memory_store.validate_nonempty_text(_docs(spark, sf_dir))
    return docs.select("doc_id", "lang", "n_chars")


def q_distance_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1+K2: cosine / dot / euclidean over consecutive-id vector pairs
    (src/memory.rs:150-161; src/config.rs:66-69)."""
    e1 = _emb(spark, sf_dir).select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    e2 = _emb(spark, sf_dir).select(
        (F.col("vec_id") - 1).alias("a"), F.col("embedding").alias("vb"), F.col("vec_id").alias("b")
    )
    return (
        e1.join(e2, "a")
        .select(
            "a",
            "b",
            F.round(similarity.cosine_f64(F.col("va"), F.col("vb")), 6).alias("cosine"),
            F.round(similarity.dot_f64(F.col("va"), F.col("vb")), 6).alias("dot"),
            F.round(similarity.euclidean_f64(F.col("va"), F.col("vb")), 6).alias("euclid"),
        )
    )


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ batch KNN join: 8 queries × corpus, top-5 each (expr strategy)."""
    out = knn.expr_knn_join(
        _query_side(spark, sf_dir),
        _emb(spark, sf_dir).select(F.col("vec_id"), F.col("embedding").alias("vec")),
        k=5,
        precision="f64",
        query_id="qid",
        query_vec="qv",
        corpus_id="vec_id",
        corpus_vec="vec",
        round_to=6,
    )
    return out.select("qid", "vec_id", "score")


def q_knn_join_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ batch KNN join, BLAS-blocked mapInPandas strategy (the 100 TB path).
    No oracle: float32 BLAS scores; ranked ids validated against the expr
    strategy in tests/test_knn.py."""
    out = knn.blocked_knn_join(
        _query_side(spark, sf_dir),
        _emb(spark, sf_dir).select(F.col("vec_id"), F.col("embedding").alias("vec")),
        k=5,
        query_id="qid",
        corpus_id="vec_id",
        query_vec="qv",
        corpus_vec="vec",
    )
    return out.select("qid", "vec_id", F.round("score", 4).alias("score4"))


def q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ LSH-bucketed approximate NN (no oracle: approximate by design;
    recall vs brute force pinned in tests/test_knn.py)."""
    out = knn.lsh_knn_join(
        _query_side(spark, sf_dir),
        _emb(spark, sf_dir).select(F.col("vec_id"), F.col("embedding").alias("vec")),
        k=5,
        n_planes=6,
        query_id="qid",
        query_vec="qv",
        corpus_id="vec_id",
        corpus_vec="vec",
    )
    return out.select("qid", "vec_id")


def q_lsh_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ OR-amplified LSH ANN: 4-plane buckets × 8 independent tables —
    recall driven toward 1-(1-p^4)^8 without coarsening the buckets. One
    Arrow signature pass per side, equi-join on (table, bucket), distinct,
    exact re-score. No oracle: approximate by design; recall-monotonicity
    vs the single table and n_tables=1 equivalence pinned in
    tests/test_knn.py."""
    out = knn.lsh_knn_join_multiprobe(
        _query_side(spark, sf_dir),
        _emb(spark, sf_dir).select(F.col("vec_id"), F.col("embedding").alias("vec")),
        k=5,
        n_planes=4,
        n_tables=8,
        query_id="qid",
        query_vec="qv",
        corpus_id="vec_id",
        corpus_vec="vec",
    )
    return out.select("qid", "vec_id")


def q_knn_self_all_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ all-pairs similarity join: every vector queries the whole corpus
    (the embedding-dedup / nearest-neighbor-graph workload). 2-D block
    nested loop (cogroup + per-cell BLAS): NO driver collect, no corpus
    broadcast — per-task memory is one (N/B × N/B) cell, so the same plan
    survives a 100× corpus. No oracle (f32 BLAS); the expr strategy pins
    exactness in tests/test_knn.py."""
    emb = _emb(spark, sf_dir)
    out = knn.blocked_knn_self_join(
        emb.select(F.col("vec_id"), F.col("embedding").alias("vec")),
        k=3,
        id_col="vec_id",
        vec_col="vec",
    )
    return out.select(F.col("vec_id_q").alias("qid"), "vec_id")


def q_embed_documents_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ S8-S11 end-to-end: embed the documents table with the deterministic
    hash-projection pandas UDF, then run the §3.1 search plan over the fresh
    embeddings. No oracle (the embedder is not SQL-expressible); rows-only —
    determinism is pinned by unit tests."""
    from penr_oz_agent_memory_rust_spark.sources.embedding_providers import (
        hash_embed,
        hash_embed_udf,
    )

    docs = _docs(spark, sf_dir)
    embedded = docs.select(
        "doc_id", hash_embed_udf(64)(F.col("text")).alias("embedding")
    )
    qv = similarity.query_vec_lit(hash_embed("spark query join table scan", 64), "f64")
    scored = embedded.withColumn(
        "score", F.round(similarity.cosine_f64(F.col("embedding"), qv), 6)
    ).filter(F.col("score").isNotNull())
    return topk.top_k(scored, "score", 10, tiebreak="doc_id").select("doc_id", "score")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ exact dedup by normalized-text fingerprint."""
    return dedup.exact_dedup(_docs(spark, sf_dir))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ MinHash+LSH candidate pairs (12 hashes, 4 bands, 3-word shingles)."""
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), n_hashes=12, bands=4, shingle_words=3)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ exact n-gram Jaccard pairs over an inverted shingle index."""
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.2)


def q_minhash_est_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ LSH candidates with the signature-agreement Jaccard estimate
    (Broder 1997) — the cheap middle tier between banding and the exact
    ngram verify; candidate set identical to dedup_minhash_lsh's."""
    return dedup.minhash_est_pairs(_docs(spark, sf_dir), n_hashes=12, bands=4)


def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ est-vs-exact Jaccard calibration per estimate value over the
    full candidate set — the threshold-tuning table (tiny: at 12 hashes
    the estimate takes 13 possible values)."""
    return dedup.minhash_calibration(_docs(spark, sf_dir), n_hashes=12, bands=4)


def q_funnel_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ the funnel PLANNER end-to-end (r8 verdict ask #3's oracle gate):
    measured calibration table + measured bucket-size distribution →
    plan_dedup_funnel's one-row decision table (bands, r, est_threshold,
    max_bucket + the S-curve/binomial-tail recall arithmetic and what the
    chosen threshold measurably keeps on THIS corpus). The oracle replays
    the closed-form arithmetic — divisor S-curves, exact binomial tails
    via the same factorial/pow double expressions, interpolated bucket
    quantile — over the same SQL calibration and band CTEs
    (operators/dedup.py:plan_dedup_funnel)."""
    docs = _docs(spark, sf_dir)
    # ONE signature build feeds both the calibration and the bucket-size
    # distribution (identical values; they were two independent
    # shingle+minhash pipelines before r10 — see OPTIMIZATION_r10.md)
    sigs = dedup.minhash_signatures(docs, n_hashes=12).localCheckpoint(eager=True)
    cal = dedup.minhash_calibration(docs, n_hashes=12, bands=4, sigs=sigs)
    counts = dedup.lsh_bucket_counts(
        dedup.lsh_band_rows(docs, n_hashes=12, bands=4, sigs=sigs)
    )
    return dedup.plan_dedup_funnel(
        cal, counts, 12, target_jaccard=0.8, recall_floor=0.9
    )


def q_source_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ per-SOURCE (domain-level) quality profile — the RefinedWeb/CCNet
    curation unit: per source, doc count, mean/stddev heuristic quality,
    mean length, and the Gopher pass-rate (relaxed word/stop-hit floors
    for the synthetic corpus). One map-only projection + one aggregation
    whose exchange carries a row per source."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    return text_ops.source_quality_profile(
        docs, gopher_kwargs=dict(min_words=10, min_stopword_hits=1)
    )


def q_source_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ domain-level curation end-to-end: profile the sources, then drop
    every document of a source whose Gopher pass-rate < 0.75 or mean
    quality < 0.72 — the wholesale-domain drop that complements per-doc
    filtering (broadcast anti-join of the failing-source list; the corpus
    side is one scan, zero shuffles)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    prof = text_ops.source_quality_profile(
        docs, gopher_kwargs=dict(min_words=10, min_stopword_hits=1)
    )
    kept = text_ops.filter_low_quality_sources(
        docs, prof, min_gopher_pass_rate=0.75, min_mean_quality=0.72
    )
    return kept.select("doc_id", "source")


def q_dedup_funnel_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ the funnel's est→exact handoff end-to-end: LSH candidates with
    est_jaccard >= 0.5 (the sketch tier) handed to ngram_jaccard_verify,
    which recomputes EXACT word-3-shingle Jaccard for only those pairs
    (semi-join shingle pass + array_intersect — never a corpus-wide
    posting index). The oracle replays both tiers in SQL: the est CTE's
    surviving pairs joined against exact shingle-set intersection."""
    docs = _docs(spark, sf_dir)
    est = dedup.minhash_est_pairs(docs, n_hashes=12, bands=4, threshold=0.5)
    return dedup.ngram_jaccard_verify(
        docs, est.select("a", "b"), threshold=0.3
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ SimHash duplicate groups (16-bit signatures, hamming-0)."""
    return dedup.simhash_dup_groups(_docs(spark, sf_dir), bits=16)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ embedding-cosine near-duplicate pairs (exact, f64, 6dp)."""
    return dedup.embedding_neardup_pairs(_emb(spark, sf_dir), threshold=0.4)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ SemDeDup (arXiv:2303.09540): drop docs whose embedding is
    cosine-≥-0.4 near a lower-id doc in the same hyperplane cell (4 fixed
    planes → 16 cells). Hyperplane cells make the whole pipeline — cell
    assignment, in-cell pair expansion, exact f64 re-score, min-rep
    argmin — reproducible in the DuckDB oracle; the k-means-cell variant
    (the published shape) is recall-pinned in tests/test_dedup.py."""
    return dedup.semantic_dedup(
        _emb(spark, sf_dir), threshold=0.4, cells="hyperplane", n_planes=4, seed=11
    )


def q_semantic_dedup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ SemDeDup over k-means cells (trained centroids → data-dependent,
    so no SQL oracle; within-cell drop semantics pinned against the
    hyperplane gate's exact re-score in tests)."""
    return dedup.semantic_dedup(
        _emb(spark, sf_dir), threshold=0.4, cells="ivf", n_centroids=8, seed=11
    )


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ DSIR data selection (arXiv:2302.03169): hashed-n-gram bucket
    models (1024 buckets, add-one smoothing) for target = English docs vs
    raw = everything else; per-doc log importance ratio; deterministic
    Gumbel top-100 resample (seeded md5 uniform). End-to-end pipeline —
    models broadcast, raw corpus aggregates once, selection is a bounded
    heap."""
    docs = _docs(spark, sf_dir)
    return importance.dsir_select(
        docs.filter(F.col("lang") == "en"),
        docs.filter(F.col("lang") != "en"),
        k=100,
        n_buckets=1024,
        seed=97,
    )


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ DSIR importance weights for every raw doc (the stage-3 output
    before resampling): (doc_id, logratio rounded 6dp)."""
    docs = _docs(spark, sf_dir)
    tgt = docs.filter(F.col("lang") == "en")
    raw = docs.filter(F.col("lang") != "en")
    tm = importance.train_bucket_model(tgt, n_buckets=1024)
    rm = importance.train_bucket_model(raw, n_buckets=1024)
    w = importance.importance_weights(raw, tm, rm, n_buckets=1024)
    return w.select("doc_id", F.round(F.col("logratio"), 6).alias("logratio"))


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ language-ID heuristic (marker-word argmax)."""
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", text_ops.lang_id_expr(F.col("text")).alias("pred_lang"))


def q_text_quality_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ quality scoring + whitespace/BPE-ish token counts."""
    docs = _docs(spark, sf_dir)
    t = F.col("text")
    return docs.select(
        "doc_id",
        text_ops.token_count_ws(t).cast("bigint").alias("n_tokens_ws"),
        text_ops.token_count_bpe_ish(t).cast("bigint").alias("n_tokens_bpe"),
        text_ops.quality_score_expr(t).alias("quality"),
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ document fingerprinting (md5 over normalized text)."""
    return _docs(spark, sf_dir).select("doc_id", hashing.fingerprint(F.col("text")).alias("fp"))


def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ train/test decontamination: exact 3-gram overlap counts against a
    held-out 'test set' (doc_id % 17 == 0), test shingle dict broadcast."""
    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % 17 != 0)
    test = docs.filter(F.col("doc_id") % 17 == 0)
    return corpus.decontaminate(train, test, n=3)


def q_word_freq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ corpus vocabulary: token frequency top-100 (explode → agg → heap)."""
    return corpus.word_freq_topk(_docs(spark, sf_dir), k=100)


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ PII scan + redaction (email/phone regex, single codegen pass)."""
    return corpus.pii_scan(_docs(spark, sf_dir))


def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Gopher-style repetition signal: 1 - distinct/total tokens."""
    return corpus.repetition_score(_docs(spark, sf_dir))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ deterministic stratified sample: 20 docs per lang in md5(id) order."""
    return corpus.stratified_sample(
        _docs(spark, sf_dir).select("doc_id", "lang"), n_per_group=20
    )


def q_quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ quantile-based quality filter: keep docs >= corpus p25 quality."""
    scored = _docs(spark, sf_dir).select(
        "doc_id", text_ops.quality_score_expr(F.col("text")).alias("quality")
    )
    return corpus.quality_quantile_filter(scored, q=0.25)


def q_quality_quantile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ per-language quality gate: keep docs >= their OWN language's p25
    quality — grouped exact-percentile thresholds broadcast back, corpus
    scan never shuffles (operators/corpus.grouped_quantile_filter)."""
    scored = _docs(spark, sf_dir).select(
        "doc_id", "lang", text_ops.quality_score_expr(F.col("text")).alias("quality")
    )
    return corpus.grouped_quantile_filter(scored, "lang", q=0.25)


def q_quality_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ per-source winsorize + z-normalize of the quality signal: clamp
    to the source's exact [p05, p95], standardize against the winsorized
    mean/stddev_pop — two broadcast-back aggs, the corpus never shuffles
    (operators/corpus.winsorize_by_group)."""
    scored = _docs(spark, sf_dir).select(
        "doc_id", "source", text_ops.quality_score_expr(F.col("text")).alias("quality")
    )
    return corpus.winsorize_by_group(scored, "source").select(
        "doc_id", "source", "quality", "quality_wins", "quality_z"
    )


def q_events_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ tumbling-window aggregation (batch plan of the streaming query)."""
    ev = load_table(spark, sf_dir, "events")
    out = batch_windowed_event_counts(ev, minutes=5)
    return out.select(
        F.unix_timestamp("window_start").alias("ws"),
        "event_type",
        "n",
        "total_value",
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ gap-based sessionization (30 min) via lag + cumulative sum."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = ev.withColumn(
        "new_sess",
        F.when(
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > 1800, 1
        ).otherwise(F.lit(0)),
    ).withColumn("sess_idx", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        gapped.groupBy("user_id", "sess_idx")
        .agg(
            F.min(F.unix_timestamp("ts")).alias("sess_start"),
            F.count("*").alias("n_events"),
        )
        .select("user_id", "sess_start", "n_events")
    )


def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ IVF-bucketed approximate NN against the PERSISTED index: built
    once per corpus (sampled k-means training, partitioned-by-cell
    parquet), then every search is probe-limited partition pruning — the
    build-once/search-many shape; no per-query retraining. (no oracle:
    approximate by design; recall pinned in tests)."""
    import hashlib as _hl
    import tempfile as _tf

    from penr_oz_agent_memory_rust_spark.operators import ivf_index

    src = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(src)
        ident = f"{sf_dir}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        ident = sf_dir
    # cache key includes the source file identity: regenerated testdata
    # invalidates the cached index instead of serving stale cells
    path = os.path.join(
        _tf.gettempdir(),
        f"__ivf_index_{_hl.md5(ident.encode()).hexdigest()[:12]}",
    )
    if not os.path.exists(os.path.join(path, "centroids.json")):
        ivf_index.build_ivf_index(
            _emb(spark, sf_dir),
            path,
            id_col="vec_id",
            vec_col="embedding",
            n_centroids=8,
            n_iters=3,
        )
    out = ivf_index.search_ivf_index_batch(
        spark,
        path,
        _query_side(spark, sf_dir),
        k=5,
        n_probes=2,
        query_id="qid",
        query_vec="qv",
        id_col="vec_id",
        vec_col="embedding",
    )
    return out.select("qid", "vec_id")


def q_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ product-quantization ANN (Jégou et al. 2011): vectors become
    m=8 uint8-range codes (32× smaller than 64×f32), search is an ADC
    lookup-table scan over the code table with exact cosine re-rank of
    the k' candidates — the billion-vector memory lever. Codebooks +
    codes are built once per corpus and cached (the ivf_ann recipe); no
    per-query retraining. No oracle: approximate by design; recall,
    determinism, and the compression claim pinned in tests/test_pq.py."""
    import hashlib as _hl
    import tempfile as _tf

    from penr_oz_agent_memory_rust_spark.operators import pq as _pq

    src = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(src)
        ident = f"{sf_dir}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        ident = sf_dir
    path = os.path.join(
        _tf.gettempdir(), f"__pq_index_{_hl.md5(ident.encode()).hexdigest()[:12]}"
    )
    books_path = os.path.join(path, "codebooks.npy")
    codes_path = os.path.join(path, "codes.parquet")
    if not os.path.exists(books_path):
        import numpy as _np

        os.makedirs(path, exist_ok=True)
        books = _pq.train_pq_codebooks(_emb(spark, sf_dir), m=8, ksub=256, n_iters=5)
        _pq.encode_pq(_emb(spark, sf_dir), books).write.mode("overwrite").parquet(codes_path)
        with open(books_path, "wb") as f:
            _np.save(f, books)
    import numpy as _np

    books = _np.load(books_path)
    qv = [float(x) for x in _emb(spark, sf_dir).filter(F.col("vec_id") == 0).first()["embedding"]]
    out = _pq.pq_search_rerank(
        spark.read.parquet(codes_path), _emb(spark, sf_dir), books, qv, k=5, kprime=50
    )
    return out.select("vec_id", F.round("score", 4).alias("score4"))


def q_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ IVF-PQ (FAISS IVFADC): coarse cells as parquet partitions + PQ
    residual codes inside them — search prunes to n_probes partition
    directories at the scan AND scans 32×-smaller code rows, then
    exact-cosine re-ranks the k' candidates. The composition of the two
    billion-vector levers (ivf_ann's pruning, pq_ann's compression).
    Built once per corpus, cached. No oracle: approximate by design;
    recall/pruning/residual-advantage pinned in tests/test_ivfpq.py."""
    import hashlib as _hl
    import tempfile as _tf

    from penr_oz_agent_memory_rust_spark.operators import ivfpq as _ivfpq

    src = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(src)
        ident = f"{sf_dir}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        ident = sf_dir
    path = os.path.join(
        _tf.gettempdir(), f"__ivfpq_index_{_hl.md5(ident.encode()).hexdigest()[:12]}"
    )
    if not os.path.exists(os.path.join(path, "model.json")):
        _ivfpq.build_ivfpq_index(
            _emb(spark, sf_dir), path, n_cells=8, m=8, ksub=256, n_iters=5
        )
    qv = [float(x) for x in _emb(spark, sf_dir).filter(F.col("vec_id") == 0).first()["embedding"]]
    out = _ivfpq.search_ivfpq_index(
        spark, path, qv, k=5, n_probes=3, kprime=50, rerank=_emb(spark, sf_dir)
    )
    return out.select("vec_id", F.round("score", 4).alias("score4"))


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ k-means assignment step as a pure native expression: seeds are
    the first 8 vectors (data-defined, so the oracle can mirror them),
    every row gets its nearest seed by float64 l2 with index tie-break —
    zero shuffle, zero Python, the assignment half of
    operators/kmeans.kmeans_fit. The only collect is the 8 seed rows."""
    import numpy as _np

    from penr_oz_agent_memory_rust_spark.operators import kmeans as _km

    emb = _emb(spark, sf_dir)
    seeds = _np.asarray(
        [r["embedding"] for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()],
        dtype=_np.float32,
    )
    return _km.assign_clusters(emb, seeds, round_dp=6).select("vec_id", "cell")


def q_kmeans_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ distributed Lloyd's end-to-end: map-side partial aggregation
    (≤ k rows per Arrow batch cross the wire, corpus never shuffles),
    then the per-cluster curation profile. No oracle: iterative training
    is not SQL-expressible; determinism, inertia monotonicity, and the
    no-shuffle assignment plan are pinned in tests/test_kmeans.py."""
    from penr_oz_agent_memory_rust_spark.operators import kmeans as _km

    emb = _emb(spark, sf_dir)
    C, _hist = _km.kmeans_fit(emb, k=5, n_iters=4)
    return _km.cluster_profile(emb, C)


def q_centroid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ closed-form quality probe: per-dimension class-centroid
    difference weights (one distributed posexplode aggregation — d rows
    to the driver, bounded by the dimension), then sigmoid scoring as a
    pure native expression over the whole corpus. Weights and the dot
    product are 6dp-rounded on both engines so parity never rides on
    aggregation-order or exp ulps."""
    from penr_oz_agent_memory_rust_spark.operators import classifier as _clf

    emb = _emb(spark, sf_dir)
    w = _clf.class_centroid_weights(emb)
    return emb.select(
        "vec_id",
        _clf.score_expr(F.col("embedding"), w, round_dot_dp=6).alias("score"),
    )


def q_quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ distributed logistic regression end-to-end (the fastText-style
    classifier-filter trainer): full-batch GD where each iteration is one
    Arrow pass emitting a single (d+2)-float partial row per batch — no
    shuffle, gradient traffic bounded by partition count — then a
    map-only scored filter of the corpus. No oracle: iterative training
    is not SQL-expressible; loss-descent, accuracy, determinism, and the
    pure-expression scoring plan are pinned in tests/test_classifier.py."""
    from penr_oz_agent_memory_rust_spark.operators import classifier as _clf

    emb = _emb(spark, sf_dir)
    # label is multiclass 0-9: binarize to "is class 1" — logistic loss
    # needs y in {0,1} (same one-vs-rest framing a quality probe uses)
    bin_df = emb.withColumn(
        "y", F.when(F.col("label") == 1, F.lit(1)).otherwise(F.lit(0))
    )
    w, b, _hist = _clf.logreg_fit(bin_df, label_col="y", n_iters=15, lr=0.5)
    scored = emb.withColumn("clf_score", _clf.score_expr(F.col("embedding"), w, b))
    # keep the top decile by score — the realistic classifier-filter cut
    # (a fixed probability threshold is brittle when the positive rate
    # shifts); approxQuantile is one bounded-sketch pass
    q90 = scored.approxQuantile("clf_score", [0.9], 1e-3)[0]
    return scored.filter(F.col("clf_score") >= q90).select("vec_id", "clf_score")


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ two-stage diverse retrieval: distributed top-50 cosine retrieval
    narrows the corpus, then MMR (lam=0.7) greedily diversifies the
    bounded candidate set driver-side. Oracle-checked since r5: the
    greedy loop unrolls to 10 MATERIALIZED CTE argmax steps (_mmr_sql);
    ordering/diversity/guard semantics also pinned in tests/test_mmr.py."""
    from penr_oz_agent_memory_rust_spark.operators import mmr as _mmr
    from penr_oz_agent_memory_rust_spark.operators.topk import top_k

    emb = _emb(spark, sf_dir)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    scored = emb.withColumn(
        "score", similarity.cosine_f64(F.col("embedding"), similarity.query_vec_lit(qv, "f64"))
    ).filter(F.col("score").isNotNull())
    cands = top_k(scored, "score", 50, tiebreak="vec_id").select("vec_id", "embedding")
    return _mmr.mmr_select(cands, qv, k=10, lam=0.7)


def q_jl_projected_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ JL-projected candidate generation: one Arrow pass projects the
    corpus 64→16 dims (matrix regenerated executor-side from the seed —
    nothing broadcast), LSH buckets + scores in the 4×-smaller space to
    produce candidates, then the final k re-ranks by exact f64 cosine on
    the ORIGINAL vectors — the dimensionality lever for ANN over
    high-dim columns at 100 TB. No oracle: approximate by design;
    projection determinism + distance preservation pinned in
    tests/test_projection.py."""
    from penr_oz_agent_memory_rust_spark.operators import projection as _proj
    from penr_oz_agent_memory_rust_spark.operators.topk import top_k_per_group

    emb = _emb(spark, sf_dir)
    proj = _proj.project_embeddings(emb.select("vec_id", "embedding"), 16)
    corpus = proj.select(F.col("vec_id"), F.col("proj").alias("vec"))
    queries = proj.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("proj").alias("qv")
    )
    cand = knn.lsh_knn_join(
        queries, corpus, k=20, n_planes=4, dim=16,
        query_id="qid", query_vec="qv", corpus_id="vec_id", corpus_vec="vec",
    ).select("qid", "vec_id")
    qorig = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    )
    rerank = (
        cand.join(emb.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(qorig), "qid")
        .withColumn("score", knn.cosine_pairs_udf()(F.col("embedding"), F.col("q_emb")))
        .filter(F.col("score").isNotNull())
        .select("qid", "vec_id", "score")
    )
    return top_k_per_group(rerank, ["qid"], "score", 5, tiebreak="vec_id").select(
        "qid", "vec_id"
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k (the KNN reduction shape on relational data): top-3
    lineitems by revenue within each supplier."""
    li = load_table(spark, sf_dir, "lineitem")
    revenue = li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
    )
    out = topk.top_k_per_group(
        revenue, ["l_suppkey"], "revenue", 3, tiebreak=["l_orderkey", "l_linenumber"]
    )
    return out.select("l_suppkey", "l_orderkey", "l_linenumber", "revenue")


def q_pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ composed training-data pipeline: validate -> quality gate ->
    exact-dedup (keep lowest doc_id) -> language ID + token counts. The
    flagship composition a 100 TB corpus-cleaning job runs."""
    docs, _ = memory_store.validate_nonempty_text(_docs(spark, sf_dir))
    t = F.col("text")
    scored = docs.select(
        "doc_id",
        "text",
        text_ops.quality_score_expr(t).alias("quality"),
        hashing.fingerprint(t).alias("fp"),
    ).filter(F.col("quality") >= 0.5)
    from pyspark.sql import Window

    w = Window.partitionBy("fp").orderBy("doc_id")
    survivors = scored.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    return survivors.select(
        "doc_id",
        text_ops.lang_id_expr(F.col("text")).alias("pred_lang"),
        text_ops.token_count_ws(F.col("text")).cast("bigint").alias("n_tokens"),
        "quality",
    )


def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ token-window chunking (64-token windows, stride 48) — the
    training-data prep step before embedding."""
    out = text_ops.chunk_documents(_docs(spark, sf_dir), chunk_tokens=64, stride=48)
    return out.select(
        "doc_id", F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.md5("chunk_text").alias("chunk_md5"), "n_chunk_tokens",
    )


def q_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ content-defined chunking (LBFS/rsync-style): boundaries where the
    rolling 8-gram md5 ≡ 0 mod 64, expected ~64-char chunks. Boundaries
    anchor to CONTENT, so edits re-synchronize and unchanged chunks keep
    their fingerprints across snapshots — the property incremental chunk
    dedup needs (operators/text_ops.cdc_chunk_documents)."""
    return text_ops.cdc_chunk_documents(
        _docs(spark, sf_dir), gram=8, modulus=64
    )


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ reproducible Bernoulli-by-hash sampling (30%) — same survivors on
    every engine and run, unlike rand()-based sampling."""
    return text_ops.deterministic_sample(_docs(spark, sf_dir), "doc_id", 30).select(
        "doc_id", "lang", "source"
    )


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation surface: per-label vector count and mean L2 norm."""
    emb = _emb(spark, sf_dir)
    return (
        emb.select("label", similarity.norm_f64(F.col("embedding")).alias("nrm"))
        .groupBy("label")
        .agg(F.count("*").alias("n_vectors"), F.round(F.avg("nrm"), 6).alias("avg_norm"))
    )


def q_docs_with_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension join: documents enriched with their embedding row's label
    (doc_id = vec_id in the synthetic corpus); broadcast the smaller side."""
    docs = _docs(spark, sf_dir)
    emb = _emb(spark, sf_dir).select(F.col("vec_id").alias("doc_id"), "label")
    return docs.join(F.broadcast(emb), "doc_id").select("doc_id", "lang", "label", "n_chars")


def q_tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General agg surface (bench headliner on the largest table)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def q_tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join+agg+top-k surface: revenue per order for BUILDING segment."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
    )
    return (
        joined.orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select("l_orderkey", "revenue")
    )


def q_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by revenue lost to returned items in a
    quarter — 4-way star join (nation broadcast), agg, bounded top-k."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )
    return (
        joined.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


def q_tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (adapted: this synthetic schema has no l_commitdate/
    l_receiptdate, so "late" = a lineitem shipped > 60 days after the
    order date): EXISTS correlated subquery -> left-semi join; order
    counts per priority over one quarter."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = (
        o.join(li, o.o_orderkey == li.l_orderkey, "inner")
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("o_orderkey")
        .distinct()
    )
    return (
        o.join(late, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral shipping volume between two nations by year —
    lineitem ⋈ supplier ⋈ orders ⋈ customer with both nation dims
    broadcast and the symmetric nation-pair predicate."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of orders per customer including the
    zero-order bucket — left outer join (the one TPC-H query that needs
    one) + double aggregation."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q_tpch_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume customers — IN-subquery on a grouped HAVING
    (orders whose lineitems sum past 300 units) -> semi join, then the
    top-100 heap over the rejoined star."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 300)
        .select("l_orderkey")
    )
    o = load_table(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
    )
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 4).alias("total_qty"))
        .orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderdate").asc(), "o_orderkey"
        )
        .limit(100)
    )


def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: national market share — the widest star in the suite
    (lineitem ⋈ part ⋈ orders ⋈ customer ⋈ supplier ⋈ nation×2 ⋈ region)
    with every dimension broadcast and a conditional-sum share per year."""
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    vol = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    return (
        vol.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_2", F.col("volume")).otherwise(
                        F.lit(0.0)
                    )
                )
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def q_tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (adapted: no partsupp table in this synthetic schema, so
    supply cost is proxied as 0.5 × p_retailprice per unit): profit by
    supplier nation and year over PROMO-type parts."""
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey", "p_retailprice")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("s_nk"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "nation",
            F.year("o_orderdate").alias("o_year"),
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
                - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
            ).alias("amount"),
        )
    )
    return (
        profit.groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 4).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


def q_tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (adapted: value = lineitem revenue instead of partsupp
    stock value): parts whose revenue from NATION_1 suppliers exceeds
    0.1% of that nation's total — grouped HAVING against a broadcast
    scalar aggregate (one extra reduce, no second scan shuffle)."""
    li = load_table(spark, sf_dir, "lineitem")
    nat_sup = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_1"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    vals = (
        li.join(F.broadcast(nat_sup), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("val")
        )
    )
    total = vals.agg(F.sum("val").alias("tot"))
    return (
        vals.crossJoin(F.broadcast(total))
        .filter(F.round(F.col("val"), 4) > F.round(F.col("tot") * 0.001, 4))
        .select("l_partkey", F.round("val", 4).alias("value"))
        .orderBy(F.col("value").desc(), "l_partkey")
    )


def q_tpch_q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (adapted: l_linestatus stands in for the missing
    l_shipmode): urgent-vs-other order counts per line status over one
    shipping year — the conditional-count shape."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue — the
    revenue view + scalar-max equality join, made float-safe by rounding
    the view to 4dp before the max/equality (both engines compare the
    same rounded values)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def q_tpch_q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (adapted: supplier participation comes from lineitem
    instead of partsupp; the NOT-IN exclusion set is suppliers with
    negative balance): distinct-supplier counts per (brand, type, size)
    — anti join + count-distinct."""
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


def q_tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue impact of small-quantity orders — correlated
    per-part average (l_quantity < 0.2 × avg over the part) as a
    broadcast-back aggregate join, 6dp-rounded threshold on both engines."""
    part1 = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    li1 = li.join(F.broadcast(part1), li.l_partkey == part1.p_partkey)
    qlim = li1.groupBy(F.col("l_partkey").alias("qp")).agg(
        F.round(F.avg("l_quantity") * 0.2, 6).alias("qlim")
    )
    return (
        li1.join(F.broadcast(qlim), F.col("l_partkey") == F.col("qp"))
        .filter(F.col("l_quantity") < F.col("qlim"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


def q_tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (adapted to this schema's columns): revenue under three
    OR'd brand/size/quantity conjunctions — the disjunctive-pushdown
    shape (Catalyst pushes the whole OR-of-ANDs below the join build)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(5, 20)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(15, 40)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


def q_tpch_q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (adapted: 'has excess stock' becomes 'shipped > 50 units
    of some PROMO part in 1996'): nested grouped-HAVING inside a semi
    join, nation filter broadcast."""
    promo = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    big = (
        li.join(F.broadcast(promo), li.l_partkey == promo.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 50)
        .select("l_suppkey")
        .distinct()
    )
    nat = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    s = load_table(spark, sf_dir, "supplier")
    return (
        s.join(big, s.s_suppkey == big.l_suppkey, "left_semi")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    )


def q_tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (adapted: 'late' = shipped > 60 days after the order
    date, since l_commitdate/l_receiptdate don't exist here): suppliers
    who were the SOLE late supplier on a multi-supplier finished order.
    The EXISTS/NOT-EXISTS pair collapses to per-order distinct-supplier
    stats (ns > 1, late-supplier count == 1) — two aggregates instead of
    two correlated self-joins, same semantics, one shuffle each."""
    o_f = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lj = li.join(o_f, li.l_orderkey == o_f.o_orderkey).withColumn(
        "late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
    )
    per_order = lj.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("ns"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("nl"),
    )
    sole_late_orders = per_order.filter(
        (F.col("ns") > 1) & (F.col("nl") == 1)
    ).select("l_orderkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        lj.filter(F.col("late"))
        .join(sole_late_orders, "l_orderkey")
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


def q_tpch_q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (adapted: country code = c_nationkey % 10, no phone
    column): customers with above-average positive balance and no recent
    orders — scalar-avg broadcast + anti join."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter((F.col("c_nationkey") % 10).isin(1, 2, 3, 4, 5))
        .withColumn("cntrycode", F.col("c_nationkey") % 10)
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.round(F.avg("c_acctbal"), 6).alias("ab")
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz"))
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


def q_tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (adapted: the part-supplier relation is derived from
    lineitem and 'min supply cost' becomes min s_acctbal): for each
    size-15 STANDARD part, its cheapest European supplier — the
    correlated-min shape as a per-part min aggregate joined back on
    equality (stored values, so float equality is exact)."""
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .distinct()
    )
    eu = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "region").filter(
                    F.col("r_name") == "EUROPE"
                )
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    target = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_size") == 15) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey", "p_name")
    )
    cand = target.join(ps, F.col("p_partkey") == F.col("ps_partkey")).join(
        F.broadcast(eu), F.col("ps_suppkey") == F.col("s_suppkey")
    )
    mn = cand.groupBy(F.col("p_partkey").alias("mp")).agg(
        F.min("s_acctbal").alias("mn")
    )
    return (
        cand.join(
            F.broadcast(mn),
            (F.col("p_partkey") == F.col("mp")) & (F.col("s_acctbal") == F.col("mn")),
        )
        .select("p_partkey", "p_name", "s_name", "s_acctbal", "n_name")
        .orderBy("s_acctbal", "p_partkey", "s_name")
    )


def q_analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ ANALYZE-style per-column statistics (operators/stats.py): exact
    row/null/NDV counts + typed min/max for five lineitem columns in ONE
    scan (multi-distinct plans as a single Expand+agg pass)."""
    from penr_oz_agent_memory_rust_spark.operators.stats import analyze_columns

    li = load_table(spark, sf_dir, "lineitem")
    return analyze_columns(
        li,
        numeric_cols=["l_quantity", "l_discount", "l_partkey"],
        string_cols=["l_returnflag", "l_linestatus"],
    ).orderBy("column")


def q_incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Incremental aggregate maintenance (materialized-view refresh):
    the pre-1999 base state merges with the 1999+ delta state via
    union + re-agg over group-cardinality rows — the base table is never
    rescanned on refresh (operators/incremental_agg.py; single-shuffle
    merge and state algebra pinned in tests/test_incremental_agg.py).
    The oracle recomputes the same aggregates directly over the union —
    equality IS the state-merge correctness claim. vvar stays out of the
    hash (1e15-magnitude ssq leaves ~1e-4 absolute cancellation noise
    between accumulation orders), and total/vavg re-round to 2dp: the
    merged partial sums arrive in shuffle-fetch order, which is
    NONDETERMINISTIC run-to-run, so finalize's 4dp/6dp presentation sits
    inside the ~1e-6 reorder noise of a 1e8-magnitude sum (caught by the
    bit-exact entry test, r4). The oracle mirrors the two-step rounding
    verbatim so the only residual flake window is the raw noise against
    a 5e-3 boundary."""
    from penr_oz_agent_memory_rust_spark.operators.incremental_agg import (
        agg_state,
        finalize,
        merge_states,
    )

    o = load_table(spark, sf_dir, "orders")
    cut = F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp_ntz")
    base = agg_state(o.filter(cut), ["o_orderpriority"], "o_totalprice")
    delta = agg_state(o.filter(~cut), ["o_orderpriority"], "o_totalprice")
    return (
        finalize(merge_states(base, delta))
        .drop("vvar")
        .withColumn("total", F.round("total", 2))
        .withColumn("vavg", F.round("vavg", 2))
        .orderBy("o_orderpriority")
    )


def q_incremental_quantile_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ incremental PERCENTILE maintenance: per-priority p50/p95 of order
    totals served from a mergeable equal-width histogram state — the base
    (pre-1999) and delta (1999+) states merge by integer bin-count sums,
    never rescanning the base (operators/incremental_agg.py hist_state /
    merge_hist_states / quantile_from_hist). Bin counts are integers and
    the in-bin interpolation is mirrored verbatim in SQL, so unlike
    KLL/t-digest blobs this sketch is fully oracle-checkable; estimate
    error is bounded by the bin width (64 bins over [0, 500k))."""
    from penr_oz_agent_memory_rust_spark.operators.incremental_agg import (
        hist_state,
        merge_hist_states,
        quantile_from_hist,
    )

    o = load_table(spark, sf_dir, "orders")
    cut = F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp_ntz")
    lo, hi, bins = 0.0, 500_000.0, 64
    base = hist_state(o.filter(cut), ["o_orderpriority"], "o_totalprice", lo, hi, bins)
    delta = hist_state(o.filter(~cut), ["o_orderpriority"], "o_totalprice", lo, hi, bins)
    merged = merge_hist_states(base, delta)
    p50 = quantile_from_hist(merged, ["o_orderpriority"], 0.5, lo, hi, bins, "p50")
    p95 = quantile_from_hist(merged, ["o_orderpriority"], 0.95, lo, hi, bins, "p95")
    return p50.join(p95, "o_orderpriority").orderBy("o_orderpriority")


def q_quantized_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ int8-quantized top-k search (4x smaller vector storage). The
    quantized table is WRITTEN once and scanned thereafter — quantization
    is a write-path projection, so the search plan reads tinyint arrays
    (the actual 4x-IO win) instead of re-quantizing per query. The
    quantize/dequantize arithmetic is deterministic, so the full pipeline
    — quantize → dequantize → f64 cosine → top-k — is oracle-checked."""
    import hashlib as _hl
    import tempfile as _tf

    from penr_oz_agent_memory_rust_spark.operators import quantize

    emb = _emb(spark, sf_dir)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    src = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(src)
        ident = f"quant|{sf_dir}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        ident = f"quant|{sf_dir}"
    path = os.path.join(
        _tf.gettempdir(), f"__quant_table_{_hl.md5(ident.encode()).hexdigest()[:12]}"
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        quantize.quantize_table(emb).write.mode("overwrite").parquet(path)
    return quantize.quantized_search(spark.read.parquet(path), qv, k=10)


def _binq_table_path(sf_dir: str) -> str:
    import hashlib as _hl
    import tempfile as _tf

    src = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(src)
        ident = f"binq|{sf_dir}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        ident = f"binq|{sf_dir}"
    return os.path.join(
        _tf.gettempdir(), f"__binq_table_{_hl.md5(ident.encode()).hexdigest()[:12]}"
    )


def _binq_query(spark: SparkSession, sf_dir: str):
    """Shared setup for the binary-quantization gates: probe the query
    vector, pack the table once (write-path projection, 32× smaller than
    float32 on the wire), scan the packed parquet thereafter."""
    from penr_oz_agent_memory_rust_spark.operators import quantize

    emb = _emb(spark, sf_dir)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    path = _binq_table_path(sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        quantize.binarize_table(emb, dim=len(qv)).write.mode("overwrite").parquet(path)
    return emb, qv, spark.read.parquet(path)


def q_bq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ 1-bit (sign) quantized top-k by Hamming distance — the 32×
    storage/IO lever: the scan reads dim/32 bigint words per row and the
    whole score is bit_count(xor) inside whole-stage codegen (no UDF, no
    shuffle; TakeOrderedAndProject heap). Packing is deterministic
    (bit = v > 0, MSB-first 32-per-word), so Hamming ranks are
    oracle-checkable exactly."""
    from penr_oz_agent_memory_rust_spark.operators import quantize

    _, qv, packed = _binq_query(spark, sf_dir)
    return quantize.binary_search(packed, qv, k=10)


def q_bq_ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ two-stage binary ANN: Hamming top-40 candidates from the packed
    scan, exact f64 cosine re-score of only those candidates (broadcast
    semi-join back to the float table), top-10. The serving shape for
    billion-vector search on 1-bit storage; end-to-end deterministic."""
    from penr_oz_agent_memory_rust_spark.operators import quantize

    emb, qv, packed = _binq_query(spark, sf_dir)
    return quantize.binary_search_rerank(packed, emb, qv, k=10, rerank_k=40)


def q_bq_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ 1-bit embedding near-dup pairs: sign-quantize the corpus (plus a
    jittered copy of every 7th vector — +0.001 flips only the bits whose
    coordinate sat within 0.001 of zero) and join ONLY inside (band,
    8-bit value) buckets before verifying with bit_count(xor) ≤ 7 —
    SimHash dedup at 1/32 the scan bytes of the exact embedding_neardup
    path. Banding, packing, and Hamming all mirror verbatim in SQL, so
    unlike LSH this approximate join is oracle-checked END TO END
    (max_bucket is set above the gate's bucket sizes; at scale it is the
    stop-bucket cap)."""
    from penr_oz_agent_memory_rust_spark.operators import quantize

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 7 == 0)
    jit = base.select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x + F.lit(0.001)).cast("float")
        ).alias("embedding"),
    )
    coded = quantize.binarize_table(emb.unionByName(jit), dim=64)
    return quantize.hamming_near_dup_pairs(
        coded, max_bits=7, bands=8, max_bucket=100000
    ).orderBy("u", "v")


def q_ts_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ time-series regularization (time_bucket_gapfill): per event type,
    resample the event COUNT onto a 15-minute grid, densify the grid from
    one (min, max) row per key (sequence+explode — grid size is bounded by
    the time range, never the fact count), and linearly interpolate the
    gaps. ~29% of grid cells are gaps at sf0.01. The gate series is counts
    for the same reason as rolling_series_stats: integer inputs make every
    downstream float op a deterministic IEEE expression — a value-average
    series drifts run-to-run with shuffle-fetch order and flips 6dp
    roundings (caught by the bit-exact entry test, r4); the avg path is
    exercised by tests/test_timeseries.py."""
    from penr_oz_agent_memory_rust_spark.operators import timeseries

    ev = load_table(spark, sf_dir, "events")
    obs = timeseries.resample(ev, ["event_type"], "ts", "value", 900, agg="count")
    # fused form: one lead-window + explode, no grid join (equivalence to
    # gap_fill()+interpolate() pinned in tests/test_timeseries.py)
    out = timeseries.gap_fill_interpolate(obs, ["event_type"], 900, method="linear")
    return out.select(
        "event_type",
        "bucket",
        F.round("value_filled", 6).alias("value_filled"),
        "is_gap",
        F.col("n_obs").cast("bigint").alias("n_obs"),
    ).orderBy("event_type", "bucket")


def q_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ reciprocal (mutual) kNN graph: exact f64 top-6 edges over a
    deterministic corpus slice (vec_id % 5 == 0), then keep only pairs
    where BOTH directions survive — the hubness-robust edge set that
    downstream clustering / label propagation should consume. The filter
    itself (operators/knn.py mutual_knn_filter) shuffles only (id, id,
    score) edge rows and works on any ANN strategy's output. The gate
    slice is %10 (sf0.1: 500 nodes, 250k exact pair scores) — the edge
    GENERATION is the cost; the mutual filter adds one edge-sized
    semi-join."""
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") % 10 == 0)
    # scored via the exact-fold Arrow kernel (r10, bit-identical values;
    # see arrow_all_pairs_cosine_f64); round + top-6 + self-filter stay in
    # the JVM plan exactly as the expr strategy had them
    scored = knn.arrow_all_pairs_cosine_f64(
        emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec")),
        emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")),
        query_id="query_id",
        query_vec="qvec",
        corpus_id="id",
        corpus_vec="vec",
    ).select("query_id", "id", F.round(F.col("score"), 6).alias("score"))
    edges = knn.top_k_per_group(scored, ["query_id"], "score", 6, tiebreak="id").filter(
        F.col("query_id") != F.col("id")
    )
    return knn.mutual_knn_filter(edges).orderBy("u", "v")


def q_semantic_decontaminate_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ production path of semantic_decontaminate: f64 BLAS matmul per
    Arrow batch against the collected (bounded, guarded) test matrix —
    ~20× the expr gate on this workload. Rows-only (BLAS sum order isn't
    the expr fold); pinned to the expr path at 6dp in tests."""
    from penr_oz_agent_memory_rust_spark.operators.corpus import (
        semantic_decontaminate_blas,
    )

    emb = _emb(spark, sf_dir)
    return semantic_decontaminate_blas(
        emb.filter(F.col("label") != 9),
        emb.filter(F.col("label") == 9),
        threshold=0.3,
    ).orderBy("vec_id")


def q_rolling_series_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ trailing moving-window stats (mean / exact interpolated median /
    sample stddev over the last 24 hourly buckets) per event type — the
    moving-aggregate monitoring primitive; the median baseline resists the
    spike it is scoring. One row-bounded window pass per series."""
    from penr_oz_agent_memory_rust_spark.operators import timeseries

    ev = load_table(spark, sf_dir, "events")
    # The gate series is the hourly event COUNT, not the value average:
    # integer sums are accumulation-order-independent, so every downstream
    # fold (mean = s/n, median = (a+b)/2, std over integer ssq) is a
    # deterministic IEEE op with NO cross-engine 6dp half-ties — an avg
    # series hits exact .5 rounding boundaries that Spark (shortest-repr
    # HALF_UP) and DuckDB (exact-double) break differently. The operator's
    # agg='avg' path is exercised by ts_gapfill_interp and unit tests.
    obs = timeseries.resample(ev, ["event_type"], "ts", "value", 3600, agg="count")
    obs = obs.drop("n_obs")
    out = timeseries.rolling(obs, ["event_type"], "bucket", "v", 24)
    return out.select(
        "event_type",
        "bucket",
        "v",
        "roll_mean",
        "roll_median",
        "roll_std",
        "roll_n",
    ).orderBy("event_type", "bucket")


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ embedding-space decontamination: max exact f64 cosine from each
    train vector (even ids, label != 9) to the held-out test set
    (label == 9); flagged above 0.3. Catches the paraphrase leaks n-gram
    overlap misses. Test side broadcasts; map-side partial max means the
    shuffle carries one row per train id, never pairs. The gate trains on
    the even-id half (the expr form exists to oracle the semantics — it
    was the suite's slowest row at full size); the full-size prod path is
    semantic_decontaminate_blas."""
    from penr_oz_agent_memory_rust_spark.operators.corpus import semantic_decontaminate

    emb = _emb(spark, sf_dir)
    return semantic_decontaminate(
        emb.filter((F.col("label") != 9) & (F.col("vec_id") % 2 == 0)),
        emb.filter(F.col("label") == 9),
        threshold=0.3,
    ).orderBy("vec_id")


def q_media_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ perceptual-hash near-dup over media blobs: decode → 8×8 aHash
    (64 bits packed like the binary-quant words) → banded Hamming pairs
    (8 bands of 8 bits; pigeonhole gives exact recall for ≤ 7-bit
    thresholds) — SimHash on pixels (operators/multimodal.py). The corpus
    is documents-as-fake-media plus a duplicated slice (doc_id % 7), so
    every copied blob must pair with its original at hamming 0; the
    oracle enumerates exactly those pairs — a hash that ever collides
    unequal payloads within 5 bits, or banding that misses a true pair,
    fails the gate. Decode runs through the pluggable decode_pixels_fn
    seam (deterministic fake here; codecs absent in this container)."""
    from penr_oz_agent_memory_rust_spark.operators import multimodal as mm

    docs = _docs(spark, sf_dir)
    media = mm.synthesize_media_from_documents(docs).unionByName(
        mm.synthesize_media_from_documents(docs.filter(F.col("doc_id") % 7 == 0), kind="copy")
    )
    hashed = mm.perceptual_hash(media)
    return (
        mm.phash_near_dup_pairs(hashed, max_bits=5, bands=8)
        .orderBy("u", "v")
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ frame-sampling plumbing: fixed-size slices of each media payload
    (deterministic fake blobs => 4 frames of 16 bytes each)."""
    from penr_oz_agent_memory_rust_spark.operators.multimodal import sample_frames

    media = synthesize_media_from_documents(_docs(spark, sf_dir))
    frames = sample_frames(media, every_n_bytes=16, max_frames=4)
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.length("frame").cast("bigint").alias("frame_bytes"),
    )


def q_distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation surface: exact distinct users per event type."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"), F.count("*").alias("n_events")
    )


def q_users_purchase_no_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation surface: purchasers who produced no error event in the
    same early-January window (EXCEPT / anti-join equivalence). The window
    keeps the result discriminating — over the full month every user emits
    every event type, so the unwindowed EXCEPT is vacuously empty."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-04 00:00:00").cast("timestamp")
    )
    purchasers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    erroring = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    return purchasers.exceptAll(erroring)


def q_users_purchase_and_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation surface, INTERSECT side: users who both purchased and
    errored in the early-January window (same windowing rationale as the
    EXCEPT query)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-04 00:00:00").cast("timestamp")
    )
    purchasers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    erroring = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    return purchasers.intersect(erroring)


def q_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ as-of join: for each event, the customer's most recent order at
    event time (union-sort implementation, no range-join explosion)."""
    from penr_oz_agent_memory_rust_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderdate"
    )
    out = asof_join(
        ev,
        orders,
        key="user_id",
        left_time="ts",
        right_time="o_orderdate",
        right_cols=["o_orderkey", "o_orderdate"],
        tiebreak="o_orderkey",
        keep_unmatched=False,
    )
    return out.select("event_id", "user_id", "o_orderkey", "o_orderdate")


def q_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function surface: monthly order counts and value."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("month", F.date_trunc("month", F.col("o_orderdate")))
        .groupBy("month")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 4).alias("total"))
        .select(F.unix_timestamp("month").alias("month_epoch"), "n_orders", "total")
    )


BM25_QUERY_TERMS = ["spark", "query", "join", "table"]


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ BM25 keyword retrieval over the inverted-index DataFrame."""
    from penr_oz_agent_memory_rust_spark.operators import bm25

    idx = bm25.build_term_index(_docs(spark, sf_dir))
    return bm25.bm25_search(idx, BM25_QUERY_TERMS, k=10)


def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ hybrid retrieval: BM25 ranking ⊕ vector ranking fused with
    reciprocal-rank fusion; fully deterministic (f64 + rounding), so the
    whole fusion is oracle-checked in SQL."""
    from penr_oz_agent_memory_rust_spark.operators import bm25

    idx = bm25.build_term_index(_docs(spark, sf_dir))
    kw = bm25.bm25_search(idx, BM25_QUERY_TERMS, k=20)
    vec = (
        _scored_vs_q0(spark, sf_dir)
        .select(F.col("vec_id").alias("doc_id"), "score")
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )
    return bm25.reciprocal_rank_fusion(kw, vec, k=10)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ transitive closure of MinHash candidate pairs: duplicate clusters
    with their canonical (minimum) member."""
    from penr_oz_agent_memory_rust_spark.operators import components

    pairs = dedup.minhash_lsh_pairs(_docs(spark, sf_dir), n_hashes=12, bands=4)
    return components.dedup_clusters(pairs)


def q_neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ near-dup canonicalization: each MinHash-candidate cluster keeps
    only its highest-quality member (ties to smallest id); singletons
    survive as themselves. The step that turns a candidate-pair list into
    an actual deduplicated corpus, scored by the same quality expression
    the filtering gates use."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, n_hashes=12, bands=4)
    return dedup.neardup_keep_best(
        docs, pairs, text_ops.quality_score_expr(F.col("text"))
    )


def q_pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ end-to-end curation pipeline composing the two r7 operators:
    Gopher rule-filter (thresholds tuned to this corpus: min_words=40,
    min_stopword_hits=1 — the synthetic vocabulary has only 'the' from
    the stop list) -> MinHash candidate pairs over the SURVIVORS only ->
    near-dup canonicalization keeping each cluster's best-quality member.
    The filter runs BEFORE pair generation, so the expensive shingle
    pipeline never sees rejected docs — the ordering that matters at
    100 TB. It is applied as the INLINE predicate gopher_ok_expr, not a
    keep-list semi-join: the join-back form adds a corpus-sized shuffle
    once the id list outgrows the broadcast threshold, while the
    predicate filters in the scan stage with zero joins (plan-pinned;
    probe numbers in PLANS.md "Filter-first curation probe")."""
    docs = _docs(spark, sf_dir)
    survivors = docs.filter(
        text_ops.gopher_ok_expr(F.col("text"), min_words=40, min_stopword_hits=1)
    )
    pairs = dedup.minhash_lsh_pairs(survivors, n_hashes=12, bands=4)
    return dedup.neardup_keep_best(
        survivors, pairs, text_ops.quality_score_expr(F.col("text"))
    )


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup aggregation surface: event counts by (type, user bucket) with
    subtotal and grand-total rows."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 4).cast("bigint")
    )
    return ev.rollup("event_type", "user_bucket").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("total_value")
    )


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot surface: per-user-bucket value sums, one column per event type
    (fixed column list so both engines emit the same schema)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 4).cast("bigint")
    )
    types = ["click", "view", "purchase", "signup", "error"]
    out = (
        ev.groupBy("user_bucket")
        .pivot("event_type", types)
        .agg(F.round(F.sum("value"), 6))
    )
    return out.select("user_bucket", *[F.col(t).alias(f"v_{t}") for t in types])


def q_events_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (Spark `percentile` ==
    DuckDB `quantile_cont`)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
    )


def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube aggregation: every grouping-set combination of
    (event_type, user_bucket) — completes the rollup/pivot family."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 4).cast("bigint")
    )
    return ev.cube("event_type", "user_bucket").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("total_value")
    )


def q_events_followup_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ binned interval join: for each anchor event, how many of the same
    user's OTHER events land within the following day (inclusive bounds).
    The bin-explode equi-join on (user, day-bin) keeps per-key work bounded
    — no O(|L|x|R|) range explosion even for hyperactive users."""
    from penr_oz_agent_memory_rust_spark.operators import rangejoin

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "user_id", F.col("event_id").alias("l_event_id"), F.unix_timestamp("ts").alias("es")
    )
    anchors = ev.select(
        "user_id",
        F.col("event_id").alias("event_id"),
        F.unix_timestamp("ts").alias("a_start"),
    ).withColumn("a_end", F.col("a_start") + F.lit(86_400))
    joined = rangejoin.interval_join(
        pts, anchors, key="user_id", left_ts="es",
        right_start="a_start", right_end="a_end", bin_width=86_400,
    )
    return (
        joined.filter(F.col("l_event_id") != F.col("event_id"))
        .groupBy("event_id")
        .agg(F.count("*").alias("n_followups"))
    )


def q_events_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile sketch per event type (no oracle: the KLL/GK
    sketch is algorithm-specific; accuracy is pinned against exact
    percentiles in tests at 1% relative error)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 10000)").alias("p50_approx"),
        F.expr("approx_percentile(value, 0.95, 10000)").alias("p95_approx"),
    )


def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-user sketch per event type (no oracle: HLL
    estimates are algorithm-specific; accuracy pinned vs exact counts in
    tests at rsd=0.02)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users")
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ multimodal plumbing: synth media blobs -> mapInPandas feature
    extraction (deterministic fake decoder; real codecs stubbed)."""
    media = synthesize_media_from_documents(_docs(spark, sf_dir))
    feats = extract_features(media, fake=True)
    return feats.select(
        "media_id", "kind", F.size("features").cast("bigint").alias("n_features")
    )


def q_tpch_q6_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecast-revenue: pure scan + filter + single agg — every
    predicate reaches the parquet scan (PushedFilters), no shuffle beyond
    the 1-row partial-agg merge."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
        .filter((F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07))
        .filter(F.col("l_quantity") < 24)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q_events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the spark.sql surface (completes the
    rollup/cube family with a hand-picked set list)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 4).cast("bigint")
    )
    ev.createOrReplaceTempView("__events_gs")
    return spark.sql(
        """
        SELECT event_type, user_bucket, count(*) AS n,
               round(sum(value), 6) AS total_value
        FROM __events_gs
        GROUP BY GROUPING SETS ((event_type), (user_bucket), ())
        """
    )


def q_user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative window frames (running count + sum per user ordered by
    time) — the window-function surface beyond rank/lag: an explicit
    ROWS UNBOUNDED PRECEDING frame, partition-parallel per user."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_so_far"),
        F.round(F.sum("value").over(w), 6).alias("value_so_far"),
    )


def q_event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() inter-event gaps per user, aggregated per event type — the
    lead/lag window surface with a downstream reaggregation."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.round(F.avg("gap_s"), 4).alias("avg_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )


def _spark_sql_dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with(cast({a} AS array<double>), cast({b} AS array<double>), "
        f"(x, y) -> x * y), cast(0.0 AS double), (acc, x) -> acc + x)"
    )


def q_sql_api_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §3.1 search expressed entirely through the spark.sql string API
    (temp view + higher-order array functions) — demonstrates that every
    engine operator is reachable from SQL, not just the DataFrame DSL.
    Same plan Catalyst produces for the DataFrame form: broadcast 1-row
    query side, TakeOrderedAndProject top-k."""
    _emb(spark, sf_dir).createOrReplaceTempView("__sql_embeddings")
    cos = (
        f"round({_spark_sql_dot('e.embedding', 'q.qv')} / "
        f"(sqrt({_spark_sql_dot('e.embedding', 'e.embedding')}) * "
        f"sqrt({_spark_sql_dot('q.qv', 'q.qv')})), 6)"
    )
    return spark.sql(
        f"""
        WITH q AS (SELECT embedding AS qv FROM __sql_embeddings WHERE vec_id = 0)
        SELECT e.vec_id, {cos} AS score
        FROM __sql_embeddings e CROSS JOIN q
        WHERE size(e.embedding) = size(q.qv)
          AND {_spark_sql_dot('e.embedding', 'e.embedding')} > 0
          AND {_spark_sql_dot('q.qv', 'q.qv')} > 0
        ORDER BY score DESC, e.vec_id ASC
        LIMIT 10
        """
    )


def q_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ markup extraction (the C4-style crawl front step): each doc is
    wrapped in a deterministic HTML scaffold (title/style/script/comment/
    footer, entities encoded), then text_ops.strip_markup recovers the
    body text — script/style content dropped, tags removed, entities
    decoded, whitespace collapsed. Output hashes the recovered text so
    the whole regexp chain is oracle-checked byte-for-byte."""
    enc = F.replace(
        F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
        F.lit("<"),
        F.lit("&lt;"),
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>p{color:red}</style>"),
        F.lit('<script type="text/javascript">var x = 1 < 2;</script></head>'),
        F.lit("<body><!-- comment --><p>"),
        enc,
        F.lit('</p><div class="footer">&copy; 2024</div></body></html>'),
    )
    stripped = text_ops.strip_markup(html)
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.md5(stripped).alias("stripped_md5"),
        F.length(stripped).cast("bigint").alias("n_chars"),
    )


def q_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ seasonal-baseline anomaly detection: per (event_type, hour-of-day)
    mean/std from the first half of January profiles the second half;
    |z| >= 3 flags — the profile is groups x 24 rows broadcast back, the
    current scan never shuffles (operators/drift.seasonal_anomalies)."""
    from penr_oz_agent_memory_rust_spark.operators import drift

    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp_ntz")
    out = drift.seasonal_anomalies(
        ev.filter(F.col("ts") < cut),
        ev.filter(F.col("ts") >= cut),
        threshold=3.0,
        min_baseline=30,
    )
    return out.select(
        "event_id", "event_type", "hour", F.round("value", 6).alias("value"),
        "mu", "sd", "z",
    )


def q_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ grouped-map Pandas path (applyInPandas): per-event-type z-score of
    the value column — one Arrow batch per group, vectorized NumPy inside."""
    ev = load_table(spark, sf_dir, "events")
    return corpus.zscore_by_group(
        ev, group_col="event_type", value_col="value", id_cols=["event_id"]
    )


def q_doc_bigrams_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Python UDTF surface: LATERAL bigrams(text) over documents — the
    user-defined table-function API (Spark 4) in the correctness gate.
    Aggregated to top-20 bigram counts so the result is compact."""
    text_ops.register_bigrams_udtf(spark)
    _docs(spark, sf_dir).createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT b.bigram, count(*) AS n
        FROM __udtf_docs AS d, LATERAL bigrams(d.text) AS b
        GROUP BY b.bigram
        ORDER BY n DESC, b.bigram ASC
        LIMIT 20
        """
    )


def q_tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: six-table star join (lineitem ⋈ orders ⋈ customer ⋈
    supplier ⋈ nation ⋈ region) with a region filter and one-year window —
    Catalyst reorders and broadcasts every dimension side; the fact table
    never shuffles before aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            s,
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


def q_tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: conditional-aggregate ratio over a lineitem ⋈ part join
    (promo share of revenue for one ship month)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                6,
            ).alias("promo_revenue_pct"),
            F.count("*").alias("n_items"),
        )
    )


def q_dedup_char_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ character-5-gram Jaccard dedup, robust to tokenization changes
    that defeat word shingles. max_doc_freq=50 is load-bearing: this
    corpus's tiny vocabulary makes most 5-grams near-universal (1,797 of
    2,041 distinct grams exceed the cap at sf0.1), and without the
    stop-gram cap the posting-list pair expansion goes quadratic
    (240+ s at sf0.1 vs seconds capped)."""
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=5, threshold=0.3, unit="char", max_doc_freq=50
    )


def q_events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ gap-based sessionization via the NATIVE session_window operator —
    same 30-minute-gap semantics as the lag+cumsum plan in
    events_sessionize (session_window merges an event landing exactly at
    the window end, i.e. splits only on gap > 1800 s, verified), so both
    share one oracle. Timestamps are truncated to whole seconds first so
    the two strategies bucket sub-second gaps identically."""
    ev = load_table(spark, sf_dir, "events")
    sec = F.timestamp_seconds(F.unix_timestamp("ts"))
    return (
        ev.groupBy(F.session_window(sec, "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("sw.start")).alias("sess_start"),
            "n_events",
        )
    )


def q_stream_dedup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ second true-streaming gate query: dropDuplicatesWithinWatermark on
    (user_id, event_type) through a real readStream run. Projecting only
    the key columns makes the result arrival-order-independent (the set of
    distinct keys), so it is oracle-exact even though which full row
    survives is racy."""
    from penr_oz_agent_memory_rust_spark.sources.tables import testdata_path
    from penr_oz_agent_memory_rust_spark.streaming.ingest import run_dedup_keys_once

    return run_dedup_keys_once(
        spark,
        testdata_path(sf_dir, "events"),
        keys=["user_id", "event_type"],
        shuffle_partitions=8,
    )


def q_user_event_type_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-aggregation surface: per user, the sorted set of event types
    plus how many distinct types (collect_set -> sort_array keeps the
    result deterministic for the oracle)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("types"),
        F.count_distinct("event_type").alias("n_types"),
    )


def q_events_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function surface (ntile + percent_rank): per event type,
    decile buckets of value with each decile's row count and top value;
    (value, event_id) ordering makes tie handling deterministic."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.select(
        "event_type",
        "value",
        # cast: Spark ntile is int32, DuckDB's is BIGINT — align the wire
        # dtype so the hash compare never depends on harness normalization
        F.ntile(10).over(w).cast("long").alias("decile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
    )
    return ranked.groupBy("event_type", "decile").agg(
        F.count("*").alias("n"),
        F.round(F.max("value"), 6).alias("top_value"),
        F.round(F.max("pr"), 6).alias("top_pr"),
    )


def q_events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) surface: the pivoted per-bucket frame folded back to
    long form — pivot and unpivot are inverses on dense data."""
    piv = q_events_pivot(spark, sf_dir)
    types = ["click", "view", "purchase", "signup", "error"]
    return piv.unpivot(
        "user_bucket", [f"v_{t}" for t in types], "event_type", "total_value"
    ).filter(F.col("total_value").isNotNull())


def q_fuzzy_part_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ blocked fuzzy entity resolution over part names: block on the
    head noun + length band, levenshtein <= 2 inside blocks only, a < b
    dedupe, stop-block cap — candidate-generate-then-verify like LSH
    dedup, with edit distance as the verifier (operators/linkage.py)."""
    from penr_oz_agent_memory_rust_spark.operators import linkage

    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    pairs = linkage.fuzzy_pairs(
        p, "p_partkey", "p_name", max_distance=2, max_block=1000
    )
    return pairs.select(
        F.col("id_a").alias("part_a"),
        F.col("id_b").alias("part_b"),
        "name_a",
        "name_b",
        "distance",
    )


def q_fuzzy_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ canonical entity assignment: each part's single best fuzzy match
    (lowest distance, id tie-break) via struct-min aggregation — no
    window, one shuffle on id_a (operators/linkage.best_match)."""
    from penr_oz_agent_memory_rust_spark.operators import linkage

    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    pairs = linkage.fuzzy_pairs(
        p, "p_partkey", "p_name", max_distance=2, max_block=1000
    )
    return linkage.best_match(pairs).select(
        F.col("id_a").alias("part_a"),
        F.col("id_b").alias("part_b"),
        "name_b",
        "distance",
    )


def q_events_value_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist window functions per event type — the
    relative-rank window family over the events fact (one shuffle on the
    partition key; frames stay unbounded-preceding defaults)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        F.round("value", 6).alias("value"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


def q_zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Z-order (Morton) clustering key over (l_partkey, l_suppkey) —
    the data-layout primitive behind OPTIMIZE ZORDER: pure codegen bit
    interleaving; write_zordered range-partitions + sorts by it so parquet
    min-max stats prune on BOTH dimensions (operators/layout.py; file-level
    pruning property pinned in tests/test_layout.py)."""
    from penr_oz_agent_memory_rust_spark.operators.layout import zorder_value

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        zorder_value(F.col("l_partkey"), F.col("l_suppkey")),
    )


def q_scd2_customer_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ SCD2 / CDC-apply without a transactional format: every 7th
    customer relocates to a new market segment effective 2026-01-01; the
    merge closes the old version (valid_to set), keeps the rest current,
    and opens the new version — MERGE INTO semantics from anti-join +
    union, dimension table never shuffles (change set broadcasts)."""
    from penr_oz_agent_memory_rust_spark.operators.scd2 import scd2_apply

    cust = load_table(spark, sf_dir, "customer")
    dim = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("1990-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    changes = (
        cust.filter(F.col("c_custkey") % 7 == 0)
        .select(
            "c_custkey",
            F.lit("RELOCATED").alias("c_mktsegment"),
            F.lit("2026-01-01 00:00:00").cast("timestamp").alias("effective_ts"),
        )
    )
    return scd2_apply(
        dim, changes, key="c_custkey", attrs=["c_mktsegment"]
    )


def q_events_variant_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT surface: parse the semi-structured props column once
    into a typed variant (binary-encoded, no re-tokenizing per access) and
    aggregate a typed field extraction — the modern engine path for
    schemaless JSON columns, vs the string get_json_object form in
    json_metadata_extract."""
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("k_total"),
            F.max("k").alias("k_max"),
        )
    )


def q_skew_salted_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ explicit skew handling in the gate: a salted join (small side
    replicated per salt, hot keys scattered) feeding a salted two-phase
    aggregation — the manual pattern for keys too hot even for AQE's skew
    split. Result must equal the unsalted join+group exactly."""
    from penr_oz_agent_memory_rust_spark.operators import skew

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    dim = (
        ev.select("event_type").distinct().withColumn("type_len", F.length("event_type"))
    )
    joined = skew.salted_join(ev, dim, "event_type")
    return skew.salted_count_by_key(joined, "type_len")


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ multimodal resize plumbing: blob -> strided 8x8 thumbnail blob via
    mapInPandas (real codec stubbed; the deterministic fake is content-
    checked byte-for-byte against the oracle's hex reconstruction)."""
    from penr_oz_agent_memory_rust_spark.operators.multimodal import resize_media

    media = synthesize_media_from_documents(_docs(spark, sf_dir))
    out = resize_media(media, width=8, height=8)
    return out.select(
        "media_id",
        "width",
        "height",
        F.lower(F.hex("resized")).alias("resized_hex"),
    )


def q_stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ REAL Structured Streaming in the correctness gate: the watermarked
    tumbling-window aggregation executed via readStream -> availableNow ->
    complete-mode memory sink; on bounded input the final state must equal
    the batch plan, which is exactly what the oracle asserts."""
    from penr_oz_agent_memory_rust_spark.sources.tables import testdata_path
    from penr_oz_agent_memory_rust_spark.streaming.ingest import run_windowed_events_once

    out = run_windowed_events_once(
        spark, testdata_path(sf_dir, "events"), minutes=5, shuffle_partitions=8
    )
    return out.select(
        F.unix_timestamp("window_start").alias("ws"),
        "event_type",
        "n",
        F.round("total_value", 6).alias("total_value"),
    )


def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ STATEFUL streaming sessionization: the native session_window
    operator run as a real availableNow stream (state-store windows merge
    as events arrive; complete-mode final state). On bounded input this
    equals the batch session_window plan, so it shares the
    events_session_window_native islands oracle."""
    from penr_oz_agent_memory_rust_spark.sources.tables import testdata_path
    from penr_oz_agent_memory_rust_spark.streaming.ingest import run_session_windows_once

    return run_session_windows_once(
        spark, testdata_path(sf_dir, "events"), shuffle_partitions=8
    )


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ stream-stream interval join (attribution shape): purchases joined
    to same-user views in the preceding hour, both streams watermarked so
    join state is evicted once rows can no longer match. Inner join on
    bounded availableNow input emits exactly the batch interval join —
    the SQL oracle. 4 state partitions: per-partition state-store commit
    overhead is fixed per micro-batch; the r9 A/B measured 2.9-3.2 s at
    8 vs 7.7-11.2 s at the session's 32, and the r10 interleaved A/B
    (min of 3) 2.64 / 2.87 / 3.81 s at 2 / 4 / 8 — 4 keeps ≥25k state
    rows per partition at this volume while shedding most of the commit
    overhead; a production stream sizes this to event volume via the
    same parameter (see _stream_shuffle_partitions)."""
    from penr_oz_agent_memory_rust_spark.sources.tables import testdata_path
    from penr_oz_agent_memory_rust_spark.streaming.ingest import run_interval_join_once

    return run_interval_join_once(
        spark, testdata_path(sf_dir, "events"), shuffle_partitions=4
    )


def q_stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ stream-stream LEFT OUTER interval join: same attribution shape,
    but an unmatched purchase emits (p_id, NULL) once the global watermark
    — min over both sides of (max event time − delay), advanced by the
    trailing no-data micro-batch — proves no view can still arrive for it.
    Purchases younger than the final watermark stay withheld (they could
    still match in a live stream), and the batch oracle reproduces exactly
    that cutoff, so the gate pins the WATERMARK semantics, not just the
    join."""
    from penr_oz_agent_memory_rust_spark.sources.tables import testdata_path
    from penr_oz_agent_memory_rust_spark.streaming.ingest import run_interval_join_once

    return run_interval_join_once(
        spark,
        testdata_path(sf_dir, "events"),
        shuffle_partitions=4,  # same sizing A/B as the inner gate
        how="leftOuter",
        name="__stream_ssj_outer",
    )


def q_asof_tolerance_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ as-of join with a staleness tolerance (pandas merge_asof
    semantics): the carried most-recent order only counts if it is at most
    8370 days old at event time (the synthetic events table sits ~22-24
    years after the TPC-H order dates, so this cutoff keeps roughly the
    fresher half of matches — a discriminating filter, not a no-op)."""
    from penr_oz_agent_memory_rust_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderdate"
    )
    out = asof_join(
        ev,
        orders,
        key="user_id",
        left_time="ts",
        right_time="o_orderdate",
        right_cols=["o_orderkey", "o_orderdate"],
        tiebreak="o_orderkey",
        keep_unmatched=False,
        tolerance_seconds=8370 * 86_400,
    )
    return out.select("event_id", "user_id", "o_orderkey", "o_orderdate")


# ---------------------------------------------------------- merged gates
# The driver evaluates a bounded prefix of the registered queries, so each
# merged gate bundles sibling operator variants into ONE oracle-checked
# query: every variant keeps its full pipeline and carries a tag (or joins
# on the row key), so a hash match still pins each variant independently.
# The standalone variants stay registered after the window for direct use.


def q_mem_search_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P3 in one gate: label-equality filtered search and score-threshold
    search, tagged and unioned (both run their complete §3.1 pipeline)."""
    lab = q_mem_search_label_filter(spark, sf_dir).select(
        F.lit("label").alias("variant"), "vec_id", "score"
    )
    thr = q_mem_search_threshold(spark, sf_dir).select(
        F.lit("threshold").alias("variant"), "vec_id", "score"
    )
    return lab.unionByName(thr)


def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 both sides in one gate: FK-exists (left-semi) tagged 'valid' and
    FK-missing (left-anti) tagged 'reject'."""
    valid = q_fk_semi_join(spark, sf_dir).select(
        F.lit("valid").alias("side"), "o_orderkey", "o_custkey"
    )
    rejects = q_fk_anti_rejects(spark, sf_dir).select(
        F.lit("reject").alias("side"), "o_orderkey", "o_custkey"
    )
    return valid.unionByName(rejects)


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ the per-document text-analysis suite in ONE scan: language-ID,
    whitespace + BPE-ish token counts, quality score, fingerprint, and
    Gopher-style repetition — all native expressions, single projection.
    r11: cpu_rebalance first — the five regex passes per row made this
    the most expensive map-only projection in the suite, and the
    single-file scan ran it as ONE task (profile: one 3.2 s task on a
    32-core box); the rebalance is a no-op at real scale where the scan
    already has >= defaultParallelism partitions."""
    docs = hashing.cpu_rebalance(_docs(spark, sf_dir))
    t = F.col("text")
    toks = hashing.word_tokens(t)
    total = F.size(toks).cast("double")
    rep = F.when(
        total > 0,
        F.round(1.0 - F.size(F.array_distinct(toks)).cast("double") / total, 6),
    ).otherwise(0.0)
    return docs.select(
        "doc_id",
        text_ops.lang_id_expr(t).alias("pred_lang"),
        text_ops.token_count_ws(t).cast("bigint").alias("n_tokens_ws"),
        text_ops.token_count_bpe_ish(t).cast("bigint").alias("n_tokens_bpe"),
        text_ops.quality_score_expr(t).alias("quality"),
        hashing.fingerprint(t).alias("fp"),
        rep.alias("repetition"),
    )


def q_sampling_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ both deterministic sampling strategies in one gate: per-group
    stratified (md5-ordered top-n per lang) and Bernoulli-by-hash (30%)."""
    strat = q_stratified_sample(spark, sf_dir).select(
        F.lit("stratified").alias("variant"), "doc_id", "lang"
    )
    det = q_deterministic_sample(spark, sf_dir).select(
        F.lit("bernoulli").alias("variant"), "doc_id", "lang"
    )
    return strat.unionByName(det)


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ both sessionization strategies in one gate: the lag+cumsum plan
    and the native session_window operator (30-minute gap; identical
    session semantics, verified against one oracle per variant)."""
    lag_plan = q_events_sessionize(spark, sf_dir).select(
        F.lit("lag").alias("variant"), "user_id", "sess_start", "n_events"
    )
    native = q_events_session_window_native(spark, sf_dir).select(
        F.lit("native").alias("variant"), "user_id", "sess_start", "n_events"
    )
    return lag_plan.unionByName(native)


def q_asof_join_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ as-of join, all four modes in one gate: plain latest-order
    (backward), the staleness-tolerance form, and the r7 forward /
    nearest directions — full pandas merge_asof parity."""
    from penr_oz_agent_memory_rust_spark.operators.asof import asof_join

    latest = q_asof_latest_order(spark, sf_dir).select(
        F.lit("latest").alias("variant"), "event_id", "user_id", "o_orderkey", "o_orderdate"
    )
    tol = q_asof_tolerance_order(spark, sf_dir).select(
        F.lit("tolerance").alias("variant"), "event_id", "user_id", "o_orderkey", "o_orderdate"
    )
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderdate"
    )

    def directed(direction: str) -> DataFrame:
        return asof_join(
            ev,
            orders,
            key="user_id",
            left_time="ts",
            right_time="o_orderdate",
            right_cols=["o_orderkey", "o_orderdate"],
            tiebreak="o_orderkey",
            keep_unmatched=False,
            direction=direction,
        ).select(
            F.lit(direction).alias("variant"),
            "event_id",
            "user_id",
            "o_orderkey",
            "o_orderdate",
        )

    return latest.unionByName(tol).unionByName(directed("forward")).unionByName(
        directed("nearest")
    )


def q_asof_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ BY-LESS global as-of join (r8 — pandas merge_asof without `by`):
    every purchase event matched to the latest at-or-before view event
    across the WHOLE stream, no key. One total time order = one window
    partition by design (documented scale hazard with a global_max_rows
    guard; partition with a real key past it). Equal-time view ties go to
    the largest view_id (the operator's tiebreak contract); the oracle
    dedupes ties the same way and replays the match with DuckDB's native
    ASOF LEFT JOIN."""
    from penr_oz_agent_memory_rust_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select("event_id", "ts")
    right = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("vts"),
        F.round("value", 6).alias("view_value"),
    )
    out = asof_join(
        left,
        right,
        key=None,
        left_time="ts",
        right_time="vts",
        right_cols=["view_id", "view_value"],
        tiebreak="view_id",
    )
    return out.select("event_id", "view_id", "view_value")


def q_tpch_q6_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 + Q14 in one gate: both single-row aggregates (pushdown
    scan-agg and conditional-aggregate ratio join), tagged and unioned."""
    q6 = q_tpch_q6_revenue(spark, sf_dir).select(
        F.lit("q6").alias("q"), F.col("revenue").alias("value"), "n_items"
    )
    q14 = q_tpch_q14_promo_revenue(spark, sf_dir).select(
        F.lit("q14").alias("q"), F.col("promo_revenue_pct").alias("value"), "n_items"
    )
    return q6.unionByName(q14)


def q_events_multidim_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup + cube + explicit GROUPING SETS in one gate — the full
    multi-dimensional aggregation family over (event_type, user_bucket),
    each variant tagged."""
    r = q_events_rollup(spark, sf_dir).select(
        F.lit("rollup").alias("variant"), "event_type", "user_bucket", "n", "total_value"
    )
    c = q_events_cube(spark, sf_dir).select(
        F.lit("cube").alias("variant"), "event_type", "user_bucket", "n", "total_value"
    )
    g = q_events_grouping_sets(spark, sf_dir).select(
        F.lit("sets").alias("variant"), "event_type", "user_bucket", "n", "total_value"
    )
    return r.unionByName(c).unionByName(g)


def q_events_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-frame surface in one gate: cumulative ROWS UNBOUNDED
    PRECEDING count/sum AND the lag() inter-event gap, per event row."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(wcum).alias("n_so_far"),
        F.round(F.sum("value").over(wcum), 6).alias("value_so_far"),
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))).alias("gap_s"),
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ cross-snapshot dedup: docs with doc_id < 250 form the already-
    ingested snapshot (as fingerprints); the rest are the incoming batch —
    keep batch docs whose fingerprint is new, min-id within the batch."""
    docs = _docs(spark, sf_dir)
    seen = dedup.exact_dedup(docs.filter(F.col("doc_id") < 250)).select("fp")
    return dedup.incremental_exact_dedup(docs.filter(F.col("doc_id") >= 250), seen)


def q_dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Bloom-prefiltered cross-snapshot dedup: same split and EXACT same
    output as dedup_incremental (shared oracle), but batch rows are routed
    through a broadcast 128 KiB Bloom sketch of the seen-fingerprint
    history first — bloom-miss rows (definitely new, no false negatives)
    bypass the anti-join entirely, so at scale the join shuffles only the
    false-positive + true-dup sliver instead of the whole batch
    (operators/bloom.py)."""
    from penr_oz_agent_memory_rust_spark.operators import bloom

    docs = _docs(spark, sf_dir)
    seen = dedup.exact_dedup(docs.filter(F.col("doc_id") < 250)).select("fp")
    return bloom.incremental_bloom_dedup(docs.filter(F.col("doc_id") >= 250), seen)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ C4-style segment-level dedup: 8-token segments deduped corpus-wide
    (first occurrence survives), documents rebuilt from surviving segments
    (operators/dedup.py:chunk_dedup). Inverted-index shape: one hash-agg on
    the segment fingerprint + one equi-join, never pairwise."""
    return dedup.chunk_dedup(_docs(spark, sf_dir), chunk_tokens=8, stride=8)


def q_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ substring-duplication profile: fraction of each doc's tokens
    covered by 5-grams occurring in >= 2 distinct documents — the
    suffix-array span-dedup signal (Lee et al. 2021) computed with zero
    pair expansion (df is a property of the gram, so cost is linear in
    occurrences; operators/dedup.py:dup_span_coverage)."""
    return dedup.dup_span_coverage(_docs(spark, sf_dir), k=5, min_docs=2)


def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ count-min-sketch heavy hitters: token frequencies estimated from
    a 4×64 counter table (deliberately narrow so collisions occur and the
    oracle pins the over-estimate arithmetic, not just happy-path exact
    counts), top-20 by estimate. The sketch is bounded memory regardless
    of vocabulary size — the scale story exact word_freq_topk can't make
    (operators/sketches.py)."""
    from penr_oz_agent_memory_rust_spark.operators import sketches

    toks = _docs(spark, sf_dir).select(
        F.explode(hashing.word_tokens(F.col("text"))).alias("w")
    )
    return sketches.cms_heavy_hitters(toks, "w", k=20, width=64, depth=4)


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ leakage-safe train/heldout split: documents assigned by the md5
    bucket of their minhash near-dup COMPONENT representative, so a doc
    and its near-duplicates never straddle the split
    (operators/components.py:leakage_safe_split)."""
    from penr_oz_agent_memory_rust_spark.operators import components

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, n_hashes=12, bands=4)
    return components.leakage_safe_split(docs, pairs, train_pct=80, salt="split")


def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ DPO-style preference pairs: per (lang, source) group, the
    best-quality doc vs the worst, margin-filtered. One hash aggregate —
    argmax/argmin as min_by tiebreak structs, no window, text never
    shuffles (operators/preference.py)."""
    from penr_oz_agent_memory_rust_spark.operators.preference import preference_pairs

    docs = _docs(spark, sf_dir)
    scored = docs.select(
        F.concat_ws("|", F.col("lang"), F.col("source")).alias("grp"),
        "doc_id",
        F.round(text_ops.quality_score_expr(F.col("text")), 6).alias("q"),
    )
    return preference_pairs(scored, "grp", "doc_id", "q", min_margin=0.05)


def q_approx_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ deterministic HyperLogLog distinct-user estimate (64 registers):
    unlike approx_count_distinct, the md5 hash family + integer register
    math make the sketch engine-portable, so the ESTIMATE itself is
    oracle-checked, not just row shape (operators/sketches.py). The m-row
    register table merges by elementwise max — the rollup property —
    pinned in tests/test_sketches.py."""
    from penr_oz_agent_memory_rust_spark.operators import sketches

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("u")
    )
    return sketches.hll_distinct(ev, "u", m=64)


def q_remove_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ substring-level dedup with text rewrite (Lee et al. 2021, greedy
    first-occurrence-survives): tokens covered by a 5-gram that also occurs
    in an earlier document are cut; text rebuilt from survivors
    (operators/dedup.py:remove_dup_spans)."""
    return dedup.remove_dup_spans(_docs(spark, sf_dir), k=5, min_docs=2)


def q_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ symmetric boilerplate strip: tokens covered by a 5-gram occurring
    in >= 2 distinct documents are cut from ALL documents (no keeper — the
    contrast with remove_dup_spans), text rebuilt from survivors
    (operators/dedup.py:strip_boilerplate_spans). min_df=2 so the strip
    actually fires at oracle scale; production min_df sits far above any
    dup-cluster size (see the 10M funnel probe in PLANS.md)."""
    return dedup.strip_boilerplate_spans(_docs(spark, sf_dir), k=5, min_df=2)


def q_pipeline_curate_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ the DEFAULT-POSTURE curation funnel end-to-end (r8 verdict ask
    #2): gopher rule-filter → symmetric boilerplate strip (min_df=3, the
    smallest df that exists at oracle scale, so the stage provably fires)
    → minhash est-pairs over the CLEANED text → est >= 0.5 prune → exact
    3-shingle Jaccard verify >= 0.3 over the RAW survivor text →
    neardup_keep_best. The oracle replays every tier in SQL, including
    the strip and the est tier over stripped text
    (operators/dedup.py:curate_funnel)."""
    return dedup.curate_funnel(
        _docs(spark, sf_dir),
        min_words=40,
        min_stopword_hits=1,
        strip_k=5,
        strip_min_df=3,
        n_hashes=12,
        bands=4,
        est_threshold=0.5,
        jaccard=0.3,
    )


def q_strip_common_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ per-source common-line boilerplate removal (CCNet-style site
    chrome strip; operators/text_ops.py:strip_common_lines). The corpus
    has no newlines, so the gate injects the structure it strips — a
    per-source header + footer around the unique body plus a doc-unique
    note line (same injection pattern as text_normalize): the operator
    must drop exactly the two per-source lines from every doc and keep
    both unique lines, entirely in JVM expressions."""
    docs = _docs(spark, sf_dir)
    messy = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.lit("header of "),
            F.col("source"),
            F.lit("\n"),
            F.col("text"),
            F.lit("\ndoc note "),
            F.col("doc_id").cast("string"),
            F.lit("\nfooter of "),
            F.col("source"),
        ).alias("text"),
    )
    return text_ops.strip_common_lines(
        messy, group_col="source", min_frac=0.5, min_docs=2
    )


def q_knn_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ PageRank over the exact top-5 cosine kNN graph (centrality as a
    redundancy/diversity signal for sampling). The graph here is the
    oracle-shaped expr-cosine edge list over a bounded id range (the scale
    path for edge construction is blocked_knn_self_join / knn_graph_lsh,
    already benched); the NEW operator is the power iteration itself —
    3 unrolled iterations, each one join + one map-side-partial hash agg,
    nothing collected, per-iteration 12 dp rounding for engine-portable
    values (operators/pagerank.py)."""
    from penr_oz_agent_memory_rust_spark.operators.pagerank import pagerank

    ranks = pagerank(_knn_edges_500(spark, sf_dir), iters=3, damping=0.85, round_dp=12)
    return ranks.select(
        F.col("id").alias("vec_id"), F.round("rank", 6).alias("rank")
    )


def _knn_edges_500(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-shaped exact top-5 cosine kNN edge list over vec_id < 500 —
    shared by the graph-algorithm gates (knn_pagerank, label_propagation,
    knn_graph_triangles, knn_graph_walks). Built IN-QUERY on every call
    (r10): the pre-r10 code wrote the edge list to a tempdir once per
    sf_dir and scanned it thereafter, which made every bench invocation
    after the first skip the construction — a persisted intermediate
    keyed on the test data, i.e. exactly the cross-run result caching an
    optimization round must not do. The construction itself is now cheap
    enough not to need the cache: scoring runs through
    knn.arrow_all_pairs_cosine_f64 (ONE vectorized Arrow pass,
    bit-identical f64 fold — see its docstring) instead of 250k
    interpreted per-pair dot aggregates, and the 6dp rounding stays in
    the JVM plan so the scores feeding the top-5 are unchanged."""
    return _build_knn_edges_500(spark, sf_dir)


def _build_knn_edges_500(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 500)
    scored = knn.arrow_all_pairs_cosine_f64(
        emb.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("ev")),
        emb.select(F.col("vec_id").alias("src"), F.col("embedding").alias("qv")),
        query_id="src",
        query_vec="qv",
        corpus_id="dst",
        corpus_vec="ev",
    )
    scored = (
        scored.filter(F.col("src") != F.col("dst"))
        .select("src", "dst", F.round(F.col("score"), 6).alias("score"))
    )
    return knn.top_k_per_group(scored, ["src"], "score", 5, tiebreak="dst").select(
        "src", "dst"
    )


def q_knn_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ k-core decomposition (k=3) over the cosine>0.3 threshold graph on
    vec_id < 500 — the dense-community extractor: survivors have ≥ 3
    neighbors that themselves survive, so redundant clique content
    separates from bridge content before sampling. Peeling cascades for
    9 rounds on this data (377 → … → 316 nodes); the operator runs ≤ 12
    peels (monotone, so extra peels past the fixpoint are no-ops) and the
    oracle unrolls the same 12 as CTEs (operators/graph_stats.py)."""
    from penr_oz_agent_memory_rust_spark.operators.graph_stats import kcore

    # built in-query on every call (r10) — the pre-r10 tempdir edge cache
    # was a persisted intermediate keyed on the test data (see
    # _knn_edges_500); the vectorized exact kernel makes it unnecessary
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 500)
    scored = knn.arrow_all_pairs_cosine_f64(
        emb.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("ev")),
        emb.select(F.col("vec_id").alias("src"), F.col("embedding").alias("qv")),
        query_id="src",
        query_vec="qv",
        corpus_id="dst",
        corpus_vec="ev",
    )
    edges = (
        scored.filter(F.col("src") != F.col("dst"))
        .select("src", "dst", F.round(F.col("score"), 6).alias("score"))
        .filter(F.col("score") > 0.3)
        .select("src", "dst")
    )
    return kcore(edges, k=3, max_iters=12).orderBy("id")


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ semi-supervised label propagation over the same exact top-5
    cosine kNN graph: every 10th vector seeds its true label, 3
    synchronous iterations spread labels to the rest (deterministic
    majority vote, min-label tie-break, seeds clamped —
    operators/label_prop.py). Oracle: the identical iterations unrolled
    as SQL CTEs."""
    from penr_oz_agent_memory_rust_spark.operators.label_prop import label_propagation

    emb = _emb(spark, sf_dir)
    seeds = emb.filter((F.col("vec_id") < 500) & (F.col("vec_id") % 10 == 0)).select(
        F.col("vec_id").alias("id"), F.col("label").cast("bigint").alias("label")
    )
    out = label_propagation(_knn_edges_500(spark, sf_dir), seeds, iters=3)
    return out.select(F.col("id").alias("vec_id"), "label")


def q_knn_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ triangle counts + local clustering coefficient over the same
    exact top-5 cosine kNN graph — degree-ordered wedge enumeration so
    hub nodes never fan out d^2 candidates (operators/graph_stats.py).
    Oracle: id-ordered enumeration in SQL (counts are order-invariant)."""
    from penr_oz_agent_memory_rust_spark.operators.graph_stats import triangle_stats

    out = triangle_stats(_knn_edges_500(spark, sf_dir))
    return out.select(
        F.col("id").alias("vec_id"), "degree", "triangles", "clustering"
    )


def q_knn_graph_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ DeepWalk-style walk corpus over the exact top-5 kNN graph —
    derandomized (neighbor index = md5(salt|walk|step) % degree) so the
    walk corpus is reproducible and oracle-checkable; each step is one
    equi-join of the frontier against the indexed adjacency
    (operators/graph_stats.deterministic_walks)."""
    from penr_oz_agent_memory_rust_spark.operators.graph_stats import (
        deterministic_walks,
    )

    out = deterministic_walks(
        _knn_edges_500(spark, sf_dir), walks_per_node=1, walk_len=3
    )
    return out.select("walk_id", F.col("step").cast("int").alias("step"), "node")


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ ordered funnel signup -> view -> purchase with a 6-hour horizon
    from the user's first signup: co-partitioned join per step, no
    windows (operators/funnel.py)."""
    from penr_oz_agent_memory_rust_spark.operators import funnel

    ev = load_table(spark, sf_dir, "events")
    return funnel.funnel_conversion(
        ev, ["signup", "view", "purchase"], within_seconds=21_600
    )


def q_curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ curriculum export: fixed-size shards ordered best-quality-first.
    The sort key is the zero-padded complement of the 6dp quality score,
    so lexicographic key order == descending quality; same bucketed
    exact-rank machinery as training_shards, demonstrating
    assign_shards_by_key over a semantic (non-uniform) ordering."""
    from penr_oz_agent_memory_rust_spark.operators import export

    docs = _docs(spark, sf_dir)
    q = F.round(text_ops.quality_score_expr(F.col("text")), 6)
    key = F.lpad(
        (F.lit(1_000_000) - F.round(q * 1_000_000)).cast("bigint").cast("string"),
        7,
        "0",
    )
    keyed = docs.select("doc_id", key.alias("__k"))
    out = export.assign_shards_by_key(
        keyed, "__k", "doc_id", rows_per_shard=64, drop_key=True
    )
    return out.select("doc_id", "shard", "pos_in_shard")


def q_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ cluster-balanced sampling: 8 k-means cells over the embedding
    space, deterministic 10-per-cell quota. No oracle (k-means is not
    SQL-expressible); quota/coverage/determinism pinned in
    tests/test_corpus.py."""
    return corpus.diversity_sample(
        _emb(spark, sf_dir), n_clusters=8, per_cluster=10
    )


def q_diversity_sample_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ oracle-checked twin of diversity_sample: same per-cell md5 quota
    logic, but cells come from the 6dp-rounded l2 argmin against
    DATA-DEFINED centroids (the first 8 vectors, the kmeans_assign
    recipe) instead of trained ones — so DuckDB replays the whole sampler
    value-for-value. The trained-centroid path stays rows-only
    (Lloyd's is iterative); its quota/coverage invariants are pinned in
    tests/test_corpus.py."""
    import numpy as _np

    emb = _emb(spark, sf_dir)
    seeds = _np.asarray(
        [r["embedding"] for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()],
        dtype=_np.float32,
    )
    return corpus.diversity_sample(
        emb, n_clusters=8, per_cluster=10, centroids=seeds
    ).orderBy("vec_id")


def q_knn_self_all_pairs_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ oracle-checked twin of knn_self_all_pairs: the same all-pairs
    top-3 workload on a bounded 500-vector slice, scored by the exact f64
    expression strategy (6dp-rounded before ranking, zero-norm vectors
    excluded, self-match included — same semantics as the blocked path).
    The full-corpus blocked BLAS gate stays rows-only (f32 scores); this
    twin pins the VALUES the blocked path's rank order is tested against
    in tests/test_knn.py.

    Scored via knn.arrow_all_pairs_cosine_f64 (r10): one vectorized
    Arrow pass with the bit-identical f64 fold instead of 250k
    interpreted per-pair dot aggregates (which ran as a 4.3 s
    single-task stage on the one-partition small-file scan); the 6dp
    round and the per-query top-3 stay in the JVM plan, so ranked values
    and tie-breaks are unchanged (oracle-verified bit-exact)."""
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 500)
    scored = knn.arrow_all_pairs_cosine_f64(
        emb.select(F.col("vec_id"), F.col("embedding").alias("vec")),
        emb.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")),
        query_id="qid",
        query_vec="qv",
        corpus_id="vec_id",
        corpus_vec="vec",
    ).select("qid", "vec_id", F.round(F.col("score"), 6).alias("score"))
    return knn.top_k_per_group(scored, ["qid"], "score", 3, tiebreak="vec_id").select(
        "qid", "vec_id", "score"
    )


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ contrastive hard-negative mining: per query, top-5 corpus rows
    with cosine in [0.2, 0.6) — confusable-but-negative band; self-pairs
    excluded. Same prenormed scan as the exact search, band filter below
    the top-k window."""
    out = knn.hard_negative_mining(
        _query_side(spark, sf_dir, max_id=12),
        _emb(spark, sf_dir).select(F.col("vec_id"), F.col("embedding").alias("vec")),
        k=5,
        lo=0.2,
        hi=0.6,
        query_id="qid",
        query_vec="qv",
        corpus_id="vec_id",
        corpus_vec="vec",
        round_to=6,
    )
    return out.select("qid", "vec_id", "score")


def q_knn_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ exact KNN + hard-negative mining in one gate (same scoring
    pipeline, same schema, tagged)."""
    top = q_knn_join(spark, sf_dir).select(
        F.lit("top5").alias("variant"), "qid", "vec_id", "score"
    )
    neg = q_hard_negatives(spark, sf_dir).select(
        F.lit("hardneg").alias("variant"), "qid", "vec_id", "score"
    )
    return top.unionByName(neg)


def q_dedup_exact_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ exact dedup + cross-snapshot incremental dedup in one gate (same
    fingerprint machinery, tagged; dup_count is null on the incremental
    side)."""
    ex = q_dedup_exact(spark, sf_dir).select(
        F.lit("full").alias("variant"), "doc_id", "fp", "dup_count"
    )
    inc = q_dedup_incremental(spark, sf_dir).select(
        F.lit("incr").alias("variant"),
        "doc_id",
        "fp",
        F.lit(None).cast("bigint").alias("dup_count"),
    )
    return ex.unionByName(inc)


def q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ perplexity-proxy quality scoring: char-bigram LM trained on the
    doc_id < 250 half of the corpus (counts bounded by alphabet², always
    broadcast), add-0.5 smoothing, mean log2 prob per scored doc."""
    docs = _docs(spark, sf_dir)
    lm = corpus.char_bigram_counts(docs.filter(F.col("doc_id") < 250))
    return corpus.lm_quality_score(docs.filter(F.col("doc_id") >= 250), lm)


def q_lm_backoff_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ word-level stupid-backoff LM quality (Brants et al. 2007): bigram
    + unigram counts trained on the English doc_id < 250 half (min_count=2
    prunes the tail; pruned pairs back off), candidate docs scored by mean
    log2 prob — the CCNet-style in-domain filter. The model is never
    collected (operators/ngram_lm.py)."""
    from penr_oz_agent_memory_rust_spark.operators import ngram_lm

    docs = _docs(spark, sf_dir)
    train = docs.filter((F.col("doc_id") < 250) & (F.col("lang") == "en"))
    model = ngram_lm.word_lm_train(train, min_count=2)
    return ngram_lm.word_lm_score(docs.filter(F.col("doc_id") >= 250), *model)


def q_token_offset_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ concat-and-chunk layout: docs laid end-to-end in md5 order, shard
    = first-token offset div 2048 (operators/packing.py) — the contiguous
    counterpart of greedy bin packing, fully oracle-checked."""
    from penr_oz_agent_memory_rust_spark.operators import packing

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return packing.token_offset_shards(docs, tokens_per_shard=2048, salt="tos")


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ canonical selection: among exact duplicates keep the highest
    quality-score doc (ties to smallest id) — the struct-max argmax stays
    in HashAggregate, no window."""
    docs = _docs(spark, sf_dir)
    return dedup.exact_dedup_keep_best(
        docs, F.round(text_ops.quality_score_expr(F.col("text")), 6)
    )


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ weekly retention cohorts: users grouped by first-activity week,
    distinct active users per (cohort_week, week_offset). Two hash-aggs +
    one co-partitioned join on user_id — the standard warehouse cohort
    shape, no windows."""
    ev = load_table(spark, sf_dir, "events")
    week = (F.unix_timestamp("ts") / F.lit(604_800)).cast("bigint")
    activity = ev.select("user_id", week.alias("w")).distinct()
    cohort = activity.groupBy("user_id").agg(F.min("w").alias("w0"))
    return (
        activity.join(cohort, "user_id")
        .groupBy(F.col("w0").alias("cohort_week"), (F.col("w") - F.col("w0")).alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def q_data_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ declarative data-quality checks: five expectations over events in
    ONE scan (conditional aggregates; the check cost never multiplies by
    rule count)."""
    from penr_oz_agent_memory_rust_spark.operators.expectations import (
        validate_expectations,
    )

    ev = load_table(spark, sf_dir, "events")
    return validate_expectations(
        ev,
        {
            "event_id_not_null": "event_id IS NOT NULL",
            "user_in_range": "user_id >= 0 AND user_id < 100",
            "value_non_negative": "value >= 0",
            "known_event_type": "event_type IN ('view','click','purchase','signup','error')",
            "ts_in_2024": "ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2025-01-01'",
        },
    )


def q_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Gopher-style repetition-removal signals (Rae et al. 2021):
    dup-word fraction, top-word mass, top-bigram mass, and the pass/fail
    flag — the repetition leg of training-data quality filtering."""
    return text_ops.repetition_profile(_docs(spark, sf_dir))


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Gopher rule-based quality filter (Rae et al. 2021, §A1.1): the
    word/line-level heuristics — word-count bounds, mean word length,
    symbol ratio, bullet/ellipsis line fractions, alpha-word fraction,
    stop-list hits — one map-only scan, thresholds on 6dp-rounded
    metrics so the oracle agrees at the boundaries."""
    return text_ops.gopher_quality_rules(_docs(spark, sf_dir))


def q_winnowing_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ winnowing fingerprint selection (Schleimer et al., SIGMOD 2003 —
    the MOSS algorithm): per-window min gram hash, rightmost on ties, as
    one packed-bigint running window min."""
    return text_ops.winnowing_fingerprints(_docs(spark, sf_dir), k=8, window=4)


def q_stream_enrich_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ stream-static enrichment: a REAL readStream over events joins the
    customer dimension per micro-batch (broadcast, no state store), then
    counts per (segment, event_type). availableNow + complete mode, so on
    bounded input the result equals the batch join+agg oracle."""
    from penr_oz_agent_memory_rust_spark.streaming.ingest import (
        run_enriched_counts_once,
    )

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    out = run_enriched_counts_once(
        spark,
        f"{sf_dir}/events.parquet",
        dim,
        name="__stream_enrich_gate",
        shuffle_partitions=8,
    )
    return out.select("segment", "event_type", "n")


def q_knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ approximate kNN graph via OR-amplified LSH self-join — the scale
    path for the all-pairs workload (stream-stream bucket equi-join,
    nothing broadcast or collected). No oracle (approximate by design);
    graph invariants + recall vs exact pinned in tests/test_knn.py."""
    out = knn.lsh_knn_self_join(
        _emb(spark, sf_dir).select(F.col("vec_id"), F.col("embedding").alias("vec")),
        k=5,
        n_planes=4,
        n_tables=8,
        id_col="vec_id",
        vec_col="vec",
    )
    return out.select("vec_id_a", "vec_id_b")


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ BPE tokenizer end-to-end: distributed word histogram -> 200
    driver-learned merges (bounded: histogram rows only) -> distributed
    Arrow encode with a word->pieces memo. Oracle-checked since r7: both
    loops replay in DuckDB as recursive CTEs (_bpe_sql — trainer argmax
    via aggregation over the recursive reference, encoder via min-rank
    position merging), verified merge-for-merge against train_bpe; merge
    order, piece partitioning, prefix-stability, and compression
    monotonicity additionally pinned in tests/test_bpe.py."""
    from penr_oz_agent_memory_rust_spark.operators import bpe

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    merges = bpe.train_bpe(bpe.word_histogram(docs, max_words=5000), n_merges=200)
    return bpe.bpe_encode(docs, merges)


def q_lm_quality_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ LM quality scoring, Arrow fast path: the smoothed log-prob table
    folds to a 256x256 ndarray and each doc scores as one vectorized
    gather+mean — ~8x the expression path at sf0.1. No oracle (numpy mean
    accumulation order differs in final ulps); 6dp agreement with the
    oracle-checked expression path pinned in tests/test_corpus.py."""
    docs = _docs(spark, sf_dir)
    lm = corpus.char_bigram_counts(docs.filter(F.col("doc_id") < 250))
    return corpus.lm_quality_score_arrow(docs.filter(F.col("doc_id") >= 250), lm)


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ context-window sequence packing: bucketed greedy FFD into
    256-token bins (operators/packing.py). Oracle-checked since r7: the
    per-bucket first-fit-decreasing loop replays in DuckDB as a recursive
    CTE whose per-bucket row carries the remaining-capacity list
    (list-state, one step per doc) — budget/coverage/determinism
    invariants additionally pinned in tests/test_packing.py."""
    from penr_oz_agent_memory_rust_spark.operators import packing

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    packed = packing.pack_sequences(docs, token_budget=256, n_buckets=8)
    return packing.bin_stats(packed, token_budget=256)


def q_dedup_ngram_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ both n-gram Jaccard variants in one gate: word-3-gram and
    char-5-gram (stop-gram-capped), tagged and unioned — each variant runs
    its complete inverted-index pipeline."""
    word = q_dedup_ngram_jaccard(spark, sf_dir).select(
        F.lit("word").alias("unit"), "a", "b", "jaccard"
    )
    char = q_dedup_char_ngram(spark, sf_dir).select(
        F.lit("char").alias("unit"), "a", "b", "jaccard"
    )
    return word.unionByName(char)


def q_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ frame-sampling + resize plumbing in one gate (both mapInPandas
    pipelines over the deterministic fake decoder), folded to a common
    (stage, media_id, idx, val) schema so one oracle pins both."""
    frames = q_multimodal_frames(spark, sf_dir).select(
        F.lit("frames").alias("stage"),
        "media_id",
        F.col("frame_idx").alias("idx"),
        F.col("frame_bytes").cast("string").alias("val"),
    )
    resize = q_multimodal_resize(spark, sf_dir).select(
        F.lit("resize").alias("stage"),
        "media_id",
        F.lit(0).cast("bigint").alias("idx"),
        F.concat_ws(
            ":",
            F.concat(F.col("width").cast("string"), F.lit("x"), F.col("height").cast("string")),
            "resized_hex",
        ).alias("val"),
    )
    return frames.unionByName(resize)


def q_shard_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ loader-integrity shard manifest: fixed-size shard assignment
    (same plan as training_shards) + per-shard row count, payload bytes,
    and the order-BINDING but commutatively-aggregated content checksum —
    sum of md5_long(pos || '|' || text) wrapped to signed 64-bit, so the
    aggregation is map-side partial with an O(1) buffer per shard
    (operators/export.py:shard_checksums)."""
    from penr_oz_agent_memory_rust_spark.operators import export

    d = _docs(spark, sf_dir).select("doc_id", "text")
    sharded = export.assign_shards(d, "doc_id", rows_per_shard=64, salt="r2")
    return export.shard_checksums(sharded, F.col("text"))


def _messy_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic messy-URL injection over documents (the corpus has
    no URL column — same injection device as text_normalize /
    strip_common_lines): every doc_id gets a URL whose scheme casing,
    www prefix, default port, trailing slash, tracking params, param
    order, and fragment vary by doc_id residues, while doc_id % 50 picks
    the underlying page — so ~10 docs per source collapse to one
    canonical page."""
    return hashing.cpu_rebalance(_docs(spark, sf_dir)).select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 4 == 0, F.lit("HTTP://WWW."))
            .when(F.col("doc_id") % 4 == 1, F.lit("http://"))
            .when(F.col("doc_id") % 4 == 2, F.lit("https://"))
            .otherwise(F.lit("")),
            F.col("source"),
            F.lit(".example.com"),
            F.when(F.col("doc_id") % 4 == 0, F.lit(":80")).otherwise(F.lit("")),
            F.lit("/Page/"),
            (F.col("doc_id") % 50).cast("string"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit("?utm_source=x&b=2&a=1#frag")
            )
            .when(F.col("doc_id") % 3 == 1, F.lit("?a=1&b=2"))
            .otherwise(F.lit("")),
        ).alias("url"),
    )


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ URL canonicalization — the crawl pipeline's front dedup stage
    (operators/urls.py): scheme/host lowercased, www + default ports +
    fragments stripped, tracking params dropped, surviving params
    sorted, trailing slashes removed; host + registrable-domain
    heuristic alongside. Pure JVM regexp/array expressions; the oracle
    mirrors each step function-for-function in DuckDB."""
    from penr_oz_agent_memory_rust_spark.operators import urls

    m = _messy_urls(spark, sf_dir)
    return m.select(
        "doc_id",
        "url",
        urls.canonicalize_url_expr(F.col("url")).alias("canonical_url"),
        urls.url_host_expr(F.col("url")).alias("host"),
        urls.url_domain_expr(F.col("url")).alias("domain"),
    )


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ canonical-URL dedup with keep-best policy (url_dedup_keep_best):
    recrawl variants of the same page collapse to one canonical key; the
    highest-n_chars capture survives (ties to smallest doc_id). One
    shuffle on the canonical string, min_by-struct argmax, no window
    function (operators/urls.py)."""
    from penr_oz_agent_memory_rust_spark.operators import urls

    docs = _docs(spark, sf_dir)
    m = _messy_urls(spark, sf_dir).join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    return urls.url_dedup_keep_best(
        m, F.col("n_chars").cast("double"), url_col="url", id_col="doc_id"
    )


def q_url_domain_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ domain-blocklist filter (urls.block_by_domain): registrable-
    level broadcast anti-join drops blocked domains INCLUDING their
    subdomain hosts (www. / deep.sub. variants injected per doc_id
    residue). The oracle derives each doc's domain INDEPENDENTLY from
    the generative structure (source || '.com') rather than mirroring
    the host heuristic — a ground-truth oracle, not a mirror."""
    from penr_oz_agent_memory_rust_spark.operators import urls

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.concat(
            F.lit("http://"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("www."))
            .when(F.col("doc_id") % 3 == 1, F.lit("deep.sub."))
            .otherwise(F.lit("")),
            F.col("source"),
            F.lit(".com/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    bl = spark.createDataFrame(
        [("src0.com",), ("src3.com",), ("src7.com",)], "domain string"
    )
    return urls.block_by_domain(docs, bl).select("doc_id", "source", "url")


def q_url_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ incremental crawl dedup by canonical URL (urls.url_dedup_incremental):
    the new batch (doc_id % 5 == 0) anti-joins the CORPUS's canonical-key
    table (built from the other docs' messy URLs via url_dedup_keep_best).
    The injection makes every spelling variant of a page canonicalize
    IDENTICALLY (case/www/port, trailing slash, tracking params, param
    order), so a recrawl of an already-held page is dropped even though
    its raw URL string never matched — the gate result contains real
    drops, not a vacuous pass-through."""
    from penr_oz_agent_memory_rust_spark.operators import urls

    m = _recrawl_urls(spark, sf_dir)
    old = m.filter(F.col("doc_id") % 5 > 0)
    batch = m.filter(F.col("doc_id") % 5 == 0)
    seen = urls.url_dedup_keep_best(
        old.withColumn("score", F.lit(1.0)), F.col("score")
    ).select("canonical_url")
    return urls.url_dedup_incremental(batch, seen).select(
        "doc_id", "url", "canonical_url"
    )


def _recrawl_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Messy-URL injection for the INCREMENTAL gate: every spelling
    variant of a page canonicalizes to the SAME key (scheme/www/port,
    trailing slash, tracking params, param order all normalize away),
    pages group docs in TENS (docs 10k..10k+9 are recrawls of page k —
    host derives from the page, not the doc), and docs with
    doc_id % 20 == 0 get a FRESH page nobody else has. So the batch
    (doc_id % 5 == 0) contains both genuine recrawls (dropped: an old
    doc holds their canonical key) and fresh pages (kept) at ANY sf.
    cpu_rebalance'd (r10): the downstream canonicalizer is a long
    regexp_replace chain that otherwise runs on the single-partition
    small-file scan (1.25 s single-task stage in the profile)."""
    page = F.when(
        F.col("doc_id") % 20 == 0, F.lit(100000) + F.col("doc_id")
    ).otherwise(F.floor(F.col("doc_id") / 10))
    return hashing.cpu_rebalance(_docs(spark, sf_dir)).select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 4 == 0, F.lit("HTTP://WWW."))
            .when(F.col("doc_id") % 4 == 1, F.lit("http://"))
            .when(F.col("doc_id") % 4 == 2, F.lit("http://www."))
            .otherwise(F.lit("")),
            F.lit("site"),
            (page % 7).cast("string"),
            F.lit(".example.com"),
            F.when(F.col("doc_id") % 4 == 0, F.lit(":80")).otherwise(F.lit("")),
            F.lit("/p/"),
            page.cast("string"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 3 == 0, F.lit("?utm_source=x&b=2&a=1#frag"))
            .when(F.col("doc_id") % 3 == 1, F.lit("?a=1&b=2"))
            .otherwise(F.lit("?b=2&a=1")),
        ).alias("url"),
    )


def q_extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ crawl-frontier link extraction (urls.extract_links): one row per
    href (double- AND single-quoted) with a stable per-doc occurrence
    index — the step feeding the canonicalize -> block -> dedup frontier
    loop. Injected markup: every doc gets a double-quoted absolute link;
    even docs add a single-quoted relative one."""
    from penr_oz_agent_memory_rust_spark.operators import urls

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit('<a href="http://'),
            F.col("source"),
            F.lit(".com/p/"),
            (F.col("doc_id") % 10).cast("string"),
            F.lit('">x</a> '),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit("<a href='/rel/"),
                    F.col("doc_id").cast("string"),
                    F.lit("'>r</a>"),
                ),
            ).otherwise(F.lit("<p>none</p>")),
        ).alias("text"),
    )
    return urls.extract_links(docs)


def q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ deterministic training-shard assignment: global shuffle order by
    md5('r2' || doc_id), exact fixed-size shards of 64 via the bucketed
    global rank (no single-partition window — per-bucket row_number plus
    broadcast prefix offsets; see operators/export.py)."""
    from penr_oz_agent_memory_rust_spark.operators import export

    d = _docs(spark, sf_dir).select("doc_id")
    return export.assign_shards(d, "doc_id", rows_per_shard=64, salt="r2").select(
        "doc_id", "shard", "pos_in_shard"
    )


_MIX_WEIGHTS = {"en": 0.5, "de": 0.2, "fr": 0.2, "es": 0.1}


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ tokenizer-coverage report: top-500 word vocab from the
    doc_id < 250 half (count DESC, word ASC), per-doc OOV rate on the
    other half — bounded TakeOrdered vocab + broadcast probe
    (operators/corpus.vocab_coverage)."""
    docs = _docs(spark, sf_dir)
    return corpus.vocab_coverage(
        docs.filter(F.col("doc_id") < 250),
        docs.filter(F.col("doc_id") >= 250),
        vocab_size=500,
    )


def q_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ dataset datasheet: the one-table summary a corpus release ships
    with — sizes, language share, exact-duplicate rate, quality
    distribution — computed in a handful of scalar/grouped aggregations
    unioned into (metric, value) long format; every input is one scan
    with map-side partials."""
    docs = _docs(spark, sf_dir)
    toks = F.size(hashing.word_tokens(F.col("text")))
    base = docs.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum(toks).cast("double").alias("n_tokens"),
        F.sum(F.length("text")).cast("double").alias("n_chars"),
        F.avg((F.col("lang") == "en").cast("double")).alias("en_share"),
    )
    qual = docs.select(
        text_ops.quality_score_expr(F.col("text")).alias("q")
    ).agg(
        F.round(F.avg("q"), 6).alias("quality_mean"),
        F.round(F.expr("percentile(q, 0.5)"), 6).alias("quality_p50"),
    )
    dup = (
        docs.select(hashing.fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("c"))
        .agg(
            (
                1.0 - F.count("*").cast("double") / F.sum("c").cast("double")
            ).alias("dup_rate")
        )
    )
    def melt(df):
        cols = df.columns
        pairs = ", ".join(f"'{c}', cast(`{c}` as double)" for c in cols)
        return df.selectExpr(f"stack({len(cols)}, {pairs}) as (metric, value)")

    out = melt(base).unionByName(melt(qual)).unionByName(melt(dup))
    return out.select("metric", F.round("value", 6).alias("value"))


def q_corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ temperature-scaled mixture planning (mBERT/XLM-R alpha=0.5):
    per-language token counts -> sampling shares ∝ tokens^alpha + a
    200-doc quota — the data-driven front half of the mixture sampler
    (operators/corpus.temperature_mixture_weights)."""
    d = _docs(spark, sf_dir).select("text", "lang")
    return corpus.temperature_mixture_weights(
        d, group_col="lang", alpha=0.5, n_total=200
    )


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ weighted-domain corpus mixture, both variants in one gate:
    by-document-count quotas (200 docs at en/de/fr/es = 5/2/2/1) and
    by-token-budget (20 000 ws-tokens at the same weights, boundary doc
    included). Deterministic md5-order selection; one shuffle on lang."""
    d = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    cnt = corpus.corpus_mixture_sample(
        d, _MIX_WEIGHTS, n_total=200, group_col="lang", salt="mix"
    ).select(F.lit("count").alias("variant"), "doc_id", "lang")
    tok = corpus.corpus_token_mixture(
        d, _MIX_WEIGHTS, token_budget=20_000, group_col="lang", salt="mix"
    ).select(F.lit("token").alias("variant"), "doc_id", "lang")
    return cnt.unionByName(tok)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's core query (§3.1 semantic top-k search)
    on sf0.001."""
    _ship_package(spark)
    return q_mem_search_topk(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: _wrap(v) for k, v in _RAW_QUERIES.items()}


def _build_published(work: str, marker_name: str, build) -> None:
    """Concurrency-safe build-once cache for stateful gates.

    ``build(stage_dir)`` constructs the dataset in a per-process staging
    dir; the marker is written inside it, then ONE ``os.rename`` publishes
    the finished dir at ``work``. Two bench/verify processes sharing a
    tmpdir each build privately — the first rename wins, losers adopt the
    winner's dir — so there is no window where a reader observes ``work``
    half-built or has it deleted out from under a read in flight (the
    previous check→rmtree→rebuild-in-place pattern had both races;
    ADVICE r7). All gate artifacts are path-relocatable (plain parquet /
    tar / relative-path versioned manifests), so building under the
    staging name and serving under ``work`` is sound."""
    import shutil as _sh

    marker = os.path.join(work, marker_name)
    if os.path.exists(marker):
        return
    stage = f"{work}.stage{os.getpid()}"
    if os.path.exists(stage):  # interrupted earlier build by this same pid
        _sh.rmtree(stage)
    os.makedirs(stage)
    try:
        build(stage)
        with open(os.path.join(stage, marker_name), "w") as f:
            f.write("ok")
    except BaseException:
        # a failed build must not strand its stage dir for other pids
        _sh.rmtree(stage, ignore_errors=True)
        raise
    if os.path.exists(work) and not os.path.exists(marker):
        # pre-staging partial dir from an interrupted legacy run; two
        # processes can both take this branch, so tolerate the loser
        # racing rmtree against the winner's concurrent removal
        _sh.rmtree(work, ignore_errors=True)
    try:
        os.rename(stage, work)
    except OSError:
        _sh.rmtree(stage, ignore_errors=True)
        if not os.path.exists(marker):  # lost the race to nobody: real error
            raise


# Registration order is load-bearing: the driver evaluates a bounded
def q_stream_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ streaming chunk-level dedup — CDC end-to-end: documents arrive
    as TWO availableNow micro-batches (doc_id < 250, then the rest);
    each batch is content-defined-chunked and only chunks whose
    fingerprint is NOT already in the persisted store append
    (streaming.run_cdc_chunk_dedup_once). The oracle recomputes the same
    first-batch-wins store in SQL: batch-1 chunks plus batch-2 chunks
    whose fp no batch-1 chunk carries — a dropped or double-processed
    micro-batch changes the result."""
    import hashlib as _hl
    import tempfile as _tf

    from penr_oz_agent_memory_rust_spark.streaming import ingest as _ingest

    src = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(src)
        ident = f"cdcstream|{sf_dir}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        ident = f"cdcstream|{sf_dir}"
    work = os.path.join(
        _tf.gettempdir(), f"__cdc_stream_{_hl.md5(ident.encode()).hexdigest()[:12]}"
    )
    def _build(stage: str) -> None:
        incoming = os.path.join(stage, "incoming")
        store = os.path.join(stage, "store")
        docs = _docs(spark, sf_dir).select("doc_id", "text")
        docs.filter(F.col("doc_id") < 250).coalesce(1).write.mode("append").parquet(
            incoming
        )
        _ingest.run_cdc_chunk_dedup_once(spark, incoming, store)
        docs.filter(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(
            incoming
        )
        _ingest.run_cdc_chunk_dedup_once(spark, incoming, store)

    _build_published(work, "_STREAMED_OK", _build)
    return spark.read.parquet(os.path.join(work, "store", "chunks")).select(
        "doc_id", "chunk_idx", "chunk_start", "chunk_len", "chunk_fp"
    )


def q_stream_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ streaming sketch maintenance: documents arrive as TWO availableNow
    micro-batches (doc_id < 250, then the rest); each batch folds into its
    own 4×64 count-min partial that APPENDS to the sketch store — CMS is
    linear, so the live counter table is the groupBy-sum of the partials
    (streaming.run_cms_ingest_once / read_cms_sketch; append-only =
    exactly-once with no read-modify-write window). The gate then runs the
    SAME heavy-hitters estimate as the batch `heavy_hitters_cms` — the
    DuckDB oracle computes the sketch over the whole corpus at once, so a
    dropped or double-counted micro-batch shifts the counters and fails
    the hash."""
    import hashlib as _hl
    import tempfile as _tf

    from penr_oz_agent_memory_rust_spark.operators import sketches
    from penr_oz_agent_memory_rust_spark.streaming import ingest as _ingest

    src = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(src)
        ident = f"cmsstream|{sf_dir}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        ident = f"cmsstream|{sf_dir}"
    work = os.path.join(
        _tf.gettempdir(), f"__cms_stream_{_hl.md5(ident.encode()).hexdigest()[:12]}"
    )
    def _tok(bdf: DataFrame) -> DataFrame:
        return bdf.select(F.explode(hashing.word_tokens(F.col("text"))).alias("w"))

    def _build(stage: str) -> None:
        incoming = os.path.join(stage, "incoming")
        sketch = os.path.join(stage, "sketch")
        docs = _docs(spark, sf_dir).select("doc_id", "text")
        docs.filter(F.col("doc_id") < 250).coalesce(1).write.mode("append").parquet(
            incoming
        )
        _ingest.run_cms_ingest_once(spark, incoming, sketch, "w", 64, 4, prepare=_tok)
        docs.filter(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(
            incoming
        )
        _ingest.run_cms_ingest_once(spark, incoming, sketch, "w", 64, 4, prepare=_tok)

    _build_published(work, "_STREAMED_OK", _build)
    counters = _ingest.read_cms_sketch(spark, os.path.join(work, "sketch"))
    cands = _tok(_docs(spark, sf_dir)).distinct()
    est = sketches.cms_estimate(cands, counters, "w", width=64, depth=4)
    return (
        est.orderBy(F.col("est").desc(), F.col("w"))
        .limit(20)
        .select("w", F.col("est").cast("bigint").alias("est"))
    )


def q_stream_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ streaming → ANN-index incremental build: the persisted IVF index
    is built from HALF the corpus (even vec_ids, trained centroids), then
    the other half arrives as a REAL availableNow parquet stream whose
    micro-batches are appended into the index's cell partitions with the
    existing centroids (streaming.run_ivf_append_once → foreachBatch →
    ivf_index.append_to_ivf_index). The gate then searches the streamed
    index probing ALL cells, which makes the result the EXACT top-k over
    the full corpus — so the DuckDB brute-force oracle checks that
    search-after-append covers every row (a dropped or duplicated
    micro-batch row changes the result set). Probe-limited (approximate)
    search over the same machinery is exercised by ivf_ann and
    tests/test_ivf_index.py."""
    import hashlib as _hl
    import tempfile as _tf

    from penr_oz_agent_memory_rust_spark.operators import ivf_index
    from penr_oz_agent_memory_rust_spark.streaming import ingest as _ingest

    src = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(src)
        ident = f"stream|{sf_dir}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        ident = f"stream|{sf_dir}"
    path = os.path.join(
        _tf.gettempdir(), f"__ivf_streamed_{_hl.md5(ident.encode()).hexdigest()[:12]}"
    )
    def _build(stage: str) -> None:
        emb = _emb(spark, sf_dir)
        ivf_index.build_ivf_index(
            emb.filter(F.col("vec_id") % 2 == 0),
            stage,
            id_col="vec_id",
            vec_col="embedding",
            n_centroids=8,
            n_iters=3,
        )
        incoming = os.path.join(stage, "_incoming")
        emb.filter(F.col("vec_id") % 2 == 1).write.mode("overwrite").parquet(incoming)
        _ingest.run_ivf_append_once(spark, incoming, stage)

    _build_published(path, "_STREAMED_OK", _build)
    idx = spark.read.parquet(os.path.join(path, "data")).select("vec_id", "embedding")
    return topk.top_k(
        _scored_vs_q0(spark, sf_dir, src=idx), "score", 12, tiebreak="vec_id"
    ).select("vec_id", "score")


def q_jsonl_rescue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ JSONL ingest with corrupt-line quarantine (sources.tables.
    read_jsonl_rescued): the documents table is serialized to JSON lines
    with DETERMINISTIC corruption — every doc with doc_id % 7 == 3 has
    its line truncated by 5 chars, which is always-invalid JSON (the
    opening brace never closes) — then read back PERMISSIVE. Parsed rows
    keep their values; quarantined rows recover doc_id from the RAW
    preserved line (regexp over the quarantine bytes, proving nothing was
    dropped) and lose the typed fields (NULL n_chars). The oracle needs
    no file: corruption is a pure function of doc_id, so DuckDB replays
    it from the documents table directly."""
    import hashlib as _hl
    import tempfile as _tf

    from penr_oz_agent_memory_rust_spark.sources.tables import read_jsonl_rescued

    src = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(src)
        ident = f"jsonl|{sf_dir}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        ident = f"jsonl|{sf_dir}"
    path = os.path.join(
        _tf.gettempdir(), f"__jsonl_rescue_{_hl.md5(ident.encode()).hexdigest()[:12]}"
    )
    def _build(stage: str) -> None:
        line = F.to_json(F.struct("doc_id", "text", "lang", "source", "n_chars"))
        (
            _docs(spark, sf_dir)
            .select("doc_id", line.alias("j"))
            .select(
                F.when(
                    F.col("doc_id") % 7 == 3,
                    F.expr("substring(j, 1, length(j) - 5)"),
                )
                .otherwise(F.col("j"))
                .alias("value")
            )
            .coalesce(4)
            .write.mode("overwrite")
            .text(os.path.join(stage, "data"))
        )

    _build_published(path, "_WRITTEN_OK", _build)
    data = os.path.join(path, "data")
    df = read_jsonl_rescued(
        spark, data, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    return df.select(
        F.coalesce(
            F.col("doc_id"),
            F.regexp_extract(F.col("_corrupt_record"), '"doc_id":(\\d+)', 1).cast("bigint"),
        ).alias("doc_id"),
        F.col("n_chars"),
        F.when(F.col("_corrupt_record").isNull(), F.lit("parsed"))
        .otherwise(F.lit("quarantined"))
        .alias("status"),
    )


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ pre-flight skew diagnostic over the events fact, on both key
    shapes that matter: the low-cardinality categorical (event_type — a
    handful of heavy values) and the high-cardinality id (user_id). One
    partial-aggregated count per key + a broadcast 1-row stats join + a
    TakeOrderedAndProject top-10 each; the skew_factor column is the
    salt-or-not decision input for a planned join."""
    from penr_oz_agent_memory_rust_spark.operators import skew as _skew

    ev = load_table(spark, sf_dir, "events")

    def tagged(key: str) -> DataFrame:
        return _skew.skew_report(ev, key, 10).select(
            F.lit(key).alias("key_name"),
            F.col(key).cast("string").alias("key"),
            "cnt",
            "frac",
            "skew_factor",
        )

    return tagged("event_type").unionByName(tagged("user_id"))


def q_skew_salted_targeted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ the diagnose→remediate loop CLOSED: skew_report names the heavy
    event types, hot_key_salts turns their skew factors into per-key salt
    fan-outs, and salted_join_targeted salts ONLY those keys — cold keys
    keep plain equi-join traffic, the hot list rides two broadcast joins
    (plan-pinned in tests/test_skew.py). The result must equal the plain
    join + aggregation exactly, which is what the oracle recomputes."""
    from penr_oz_agent_memory_rust_spark.operators import skew as _skew

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn("type_len", F.length("event_type"))
    )
    rep = _skew.skew_report(ev, "event_type", 5)
    hot = _skew.hot_key_salts(rep, "event_type", target_factor=1.0, max_salts=8)
    joined = _skew.salted_join_targeted(ev, dim, "event_type", hot)
    return joined.groupBy("event_type", "type_len").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def q_webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ WebDataset export/read roundtrip: the documents table written as
    loader-ready tar shards (two members per sample, canonicalized tar
    metadata — operators/export.write_webdataset_shards), read back
    through the binaryFile + mapInPandas reader, and reassembled into
    (doc_id, text, n_chars) — text from the .txt member, n_chars parsed
    out of the .json metadata member. The write runs fresh on every call
    (the writer IS part of what this gate measures); the oracle is the
    original table, so any dropped/duplicated/reordered-into-the-wrong-
    sample member fails the value hash."""
    import hashlib as _hl
    import shutil as _sh
    import tempfile as _tf

    from penr_oz_agent_memory_rust_spark.operators import export as _exp

    src = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(src)
        ident = f"wds|{sf_dir}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        ident = f"wds|{sf_dir}"
    # per-PROCESS dir: the write deliberately runs fresh on every call (the
    # writer is part of what the gate measures), so two concurrent bench /
    # verify processes must not share it — one would rmtree the shards the
    # other is mid-read (ADVICE r7)
    path = os.path.join(
        _tf.gettempdir(),
        f"__wds_{_hl.md5(ident.encode()).hexdigest()[:12]}.{os.getpid()}",
    )
    if os.path.exists(path):
        _sh.rmtree(path)
    # the returned DataFrame reads the shards lazily (the driver collects
    # after we return), so the dir can't be removed here — reclaim it at
    # process exit instead of leaking a corpus of tars per run (ADVICE r8)
    import atexit as _atexit

    _atexit.register(_sh.rmtree, path, ignore_errors=True)
    manifest = _exp.write_webdataset_shards(
        # byte-budgeted sizing (r8): the loader-facing mode — shard bytes
        # land within one max-sample of the budget regardless of doc-length
        # skew; the row-counted mode stays pytest-pinned in test_export
        _docs(spark, sf_dir), path, "doc_id", salt="wds",
        bytes_per_shard=256 * 1024,
    ).collect()  # materializes the write; one row per tar
    assert manifest, "webdataset write produced no shards"
    members = _exp.read_webdataset_shards(spark, path)
    did = F.split(F.col("key"), "_").getItem(1).cast("bigint").alias("doc_id")
    txt = members.filter(F.col("ext") == "txt").select(
        did, F.col("data").cast("string").alias("text")
    )
    meta = members.filter(F.col("ext") == "json").select(
        did,
        F.get_json_object(F.col("data").cast("string"), "$.n_chars")
        .cast("bigint")
        .alias("n_chars"),
    )
    return txt.join(meta, "doc_id")


def q_events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ user-journey Markov transitions: P(next event type | current) from
    per-user lead() over (ts, event_id) order — one shuffle on user for the
    window, two bounded aggs (|event types|² rows), broadcast-join of the
    per-row totals."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    c = s.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("cnt"))
    t = c.groupBy("cur").agg(F.sum("cnt").alias("tot"))
    return c.join(F.broadcast(t), "cur").select(
        "cur", "nxt", "cnt", F.round(F.col("cnt") / F.col("tot"), 6).alias("p")
    )


def q_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ scalar-feature drift: population stability index of the event
    `value` distribution, purchases (current) vs views (baseline) —
    equal-width bins over the baseline range, eps-floored shares, per-bin
    PSI terms (operators/drift.py). Sum of `term` is the headline PSI."""
    from penr_oz_agent_memory_rust_spark.operators import drift

    ev = load_table(spark, sf_dir, "events")
    return drift.psi_bins(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        value_col="value",
        n_bins=10,
    )


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ robust outlier monitor: per-event-type modified z-score
    0.6745·(x−median)/MAD over event values, |z| > 3.5 — two exact-median
    grouped aggs broadcast back onto the fact scan, 50% breakdown point
    (operators/drift.mad_outliers)."""
    from penr_oz_agent_memory_rust_spark.operators import drift

    return drift.mad_outliers(load_table(spark, sf_dir, "events"))


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ per-document keyword extraction: top-5 terms by smooth-idf TF-IDF
    (tf/dl · (ln((1+N)/(1+df))+1)) — reuses the BM25 inverted index; the
    top-k window is partitioned per document, never global
    (operators/bm25.tfidf_keywords)."""
    from penr_oz_agent_memory_rust_spark.operators import bm25

    return bm25.tfidf_keywords(_docs(spark, sf_dir), k=5)


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ cross-source contamination audit: distinct 3-gram shingle overlap
    + Jaccard for every source pair — shingle self-equi-join with
    n_sources²-bounded fan-out, broadcast totals
    (operators/dedup.source_overlap)."""
    return dedup.source_overlap(_docs(spark, sf_dir))


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ collocation mining: top-50 adjacent-word pairs by PMI (min pair
    count 5) — vocab-bounded aggs, broadcast scalar totals, heap top-k
    (operators/corpus.pmi_collocations)."""
    return corpus.pmi_collocations(_docs(spark, sf_dir), min_count=5, top_k=50)


def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ corpus-slice drift monitor: per-source Jensen–Shannon divergence
    (bits) of the char-bigram distribution vs the whole corpus — one
    corpus scan, everything downstream bounded by sources × alphabet²
    (operators/corpus.source_divergence)."""
    return corpus.source_divergence(_docs(spark, sf_dir))


def q_stream_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ streaming embedding-drift monitor: the corpus arrives as a REAL
    availableNow stream of (ts, embedding) rows (ts synthesized as one
    vector per second from vec_id), per-(5-min window, dimension) stats
    are maintained as streaming state, and each window's drift — squared
    L2 shift of its centroid against the batch per-dim baseline — is
    reduced in batch over the final state. On bounded input this equals
    the batch aggregation, which the oracle asserts."""
    import hashlib as _hl
    import tempfile as _tf

    from penr_oz_agent_memory_rust_spark.streaming import ingest as _ingest

    src = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(src)
        ident = f"drift|{sf_dir}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        ident = f"drift|{sf_dir}"
    path = os.path.join(
        _tf.gettempdir(), f"__emb_drift_{_hl.md5(ident.encode()).hexdigest()[:12]}"
    )
    emb = _emb(spark, sf_dir)

    def _build(stage: str) -> None:
        emb.select(
            F.timestamp_seconds(F.lit(1767225600) + F.col("vec_id")).alias("ts"),
            "embedding",
        ).write.mode("overwrite").parquet(stage)

    _build_published(path, "_STAGED_OK", _build)
    baseline = (
        emb.select(F.posexplode("embedding").alias("dim", "__x"))
        .groupBy("dim")
        .agg(F.round(F.avg(F.col("__x").cast("double")), 6).alias("mu"))
    )
    return _ingest.run_embedding_drift_once(
        spark, path, baseline, window_secs=300, shuffle_partitions=8
    )


def q_pca_gramian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ PCA stats pass: the 64×64 gramian X^T X as (i, j, g) rows — one
    Arrow scan accumulating d×d f64 partials per partition, one
    d²-bounded hash aggregation (operators/pca.py). Oracle: the same
    sums via dims×dims cross join in SQL."""
    from penr_oz_agent_memory_rust_spark.operators import pca as _pca

    return _pca.gramian_rows(_emb(spark, sf_dir), round_to=6)


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ embedding-space outlier scan: diagonal-covariance Mahalanobis
    (pure built-in expressions — per-dim moments rounded 6dp, folded with
    F.aggregate/zip_with), top-20 most anomalous vectors."""
    from penr_oz_agent_memory_rust_spark.operators import pca as _pca

    scored = _pca.diag_mahalanobis(_emb(spark, sf_dir))
    return topk.top_k(scored, "maha", 20, tiebreak="vec_id").select("vec_id", "maha")


def q_pca_projected_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ PCA-projected candidate generation (the learned counterpart of
    q_jl_projected_ann): fit 64→16 PCA from one distributed stats pass,
    project the corpus in a map-only Arrow pass, LSH-bucket + score in the
    4×-smaller space, re-rank the final k by exact f64 cosine on the
    ORIGINAL vectors. No oracle: approximate by design; fit/projection
    exactness pinned vs numpy in tests/test_pca.py."""
    from penr_oz_agent_memory_rust_spark.operators import pca as _pca
    from penr_oz_agent_memory_rust_spark.operators.topk import top_k_per_group

    emb = _emb(spark, sf_dir)
    model = _pca.fit_pca(emb, n_components=16)
    proj = _pca.pca_project(emb.select("vec_id", "embedding"), model)
    corpus = proj.select(F.col("vec_id"), F.col("pvec").alias("vec"))
    queries = proj.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("pvec").alias("qv")
    )
    cand = knn.lsh_knn_join(
        queries, corpus, k=20, n_planes=4, dim=16,
        query_id="qid", query_vec="qv", corpus_id="vec_id", corpus_vec="vec",
    ).select("qid", "vec_id")
    qorig = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    )
    rerank = (
        cand.join(emb.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(qorig), "qid")
        .withColumn("score", knn.cosine_pairs_udf()(F.col("embedding"), F.col("q_emb")))
        .filter(F.col("score").isNotNull())
        .select("qid", "vec_id", "score")
    )
    return top_k_per_group(rerank, ["qid"], "score", 5, tiebreak="vec_id").select(
        "qid", "vec_id"
    )


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ retrieval evaluation: per-query precision/recall/RR/nDCG@10 of the
    cosine top-10 run against graded label-match qrels (rel=2 exact label,
    rel=1 same label mod 5). The run reuses the expr KNN strategy (top-11,
    self excluded, re-ranked); qrels are a broadcast 8-row query side
    crossed with the corpus; metrics come from operators.ranking_metrics
    (histogram-based IDCG — no corpus-sized window anywhere)."""
    from pyspark.sql import Window
    from penr_oz_agent_memory_rust_spark.operators import ranking_metrics

    emb = _emb(spark, sf_dir)
    qside = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("ql"),
    )
    run11 = knn.expr_knn_join(
        qside.select("qid", "qv"),
        emb.select("vec_id", F.col("embedding").alias("vec")),
        k=11,
        precision="f64",
        query_id="qid",
        query_vec="qv",
        corpus_id="vec_id",
        corpus_vec="vec",
        round_to=6,
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vec_id"))
    run = (
        run11.filter(F.col("vec_id") != F.col("qid"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("qid", F.col("vec_id").alias("doc_id"), "rank")
    )
    rel = (
        F.when(F.col("label") == F.col("ql"), F.lit(2))
        .when(F.col("label") % 5 == F.col("ql") % 5, F.lit(1))
        .otherwise(F.lit(0))
    )
    qrels = (
        emb.select(F.col("vec_id").alias("doc_id"), "label")
        .crossJoin(F.broadcast(qside.select("qid", "ql")))
        .filter(F.col("doc_id") != F.col("qid"))
        .select("qid", "doc_id", rel.alias("rel"))
    )
    return ranking_metrics.retrieval_metrics(run, qrels, k=10)


def q_quality_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ exact per-group quantiles (quantile_cont semantics) — the
    threshold-setting primitive quality cuts need exact, not sketched:
    p25/p50/p75/p90 of n_chars per language. Integer inputs keep the
    interpolation on dyadic fractions, so both engines produce identical
    doubles (operators/stats.exact_group_quantiles)."""
    from penr_oz_agent_memory_rust_spark.operators import stats as _st

    d = _docs(spark, sf_dir)
    probs = [0.25, 0.5, 0.75, 0.9]
    cols = ["variant", "lang", "p", "quantile_value", "n_values"]
    agg = (
        _st.exact_group_quantiles(d, ["lang"], "n_chars", probs)
        .withColumn("variant", F.lit("agg"))
        .select(*cols)
    )
    # the 100 TB twin: same quantiles from bucketed global ranks — no
    # per-group value buffering anywhere in the plan
    ranked = (
        _st.exact_group_quantiles_scalable(d, ["lang"], "n_chars", probs, n_buckets=64)
        .withColumn("variant", F.lit("ranked"))
        .select(*cols)
    )
    return agg.unionByName(ranked).orderBy("variant", "lang", "p")


def q_doc_quantile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ quantile binning WITHOUT a global window: edges from one exact
    percentile aggregate, bucket assignment map-only against broadcast
    edge literals — the ntile() replacement that survives 100× (a global
    ntile funnels the whole table through one partition)."""
    from penr_oz_agent_memory_rust_spark.operators import stats as _st

    return _st.quantile_bucket_stats(_docs(spark, sf_dir), "n_chars", 4).orderBy(
        "bucket"
    )


def q_events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ fixed-width histogram per event type (bin = floor(value/20)) —
    the drift/PSI baseline primitive as one hash aggregate, integer
    counts, no sort (operators/stats.fixed_width_histogram)."""
    from penr_oz_agent_memory_rust_spark.operators import stats as _st

    ev = load_table(spark, sf_dir, "events")
    return _st.fixed_width_histogram(ev, "value", 20.0, ["event_type"]).orderBy(
        "event_type", "bin"
    )


def q_weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ weighted sampling, deterministic across engines/runs: Poisson
    inclusion u < k·w/Σw with the portable md5 uniform and an EXACT
    integer Σw — weight-proportional selection with no transcendental
    (pow/ln last-ulps differ per libm), so the same docs survive
    everywhere (operators/text_ops.weighted_bernoulli_sample)."""
    return text_ops.weighted_bernoulli_sample(
        _docs(spark, sf_dir), "doc_id", "n_chars", expected_k=100
    ).select("doc_id", "lang", "n_chars").orderBy("doc_id")


def q_events_pivot_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ PIVOT surface: event_type × value-bucket count matrix (10
    fixed-width buckets pivoted wide). Spark's relational pivot plans as
    one hash aggregate with a CASE-fan — no per-bucket scans."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") / F.lit(50.0)).cast("int").alias("b"),
    )
    wide = ev.groupBy("event_type").pivot("b", list(range(10))).count().na.fill(0)
    renamed = wide.select(
        "event_type",
        *[F.col(str(i)).cast("bigint").alias(f"b{i}") for i in range(10)],
    )
    return renamed.orderBy("event_type")


def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ directed n-gram containment (|A∩B|/|A|) over the inverted
    shingle index — the doc-inside-doc detector Jaccard misses (a page
    quoting a paragraph whole scores ≈1 here, low on Jaccard), which is
    what decontamination / boilerplate-inclusion sweeps key on
    (operators/dedup.ngram_containment_pairs)."""
    return dedup.ngram_containment_pairs(
        _docs(spark, sf_dir), n=3, threshold=0.3
    ).orderBy("src", "dst")


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ language-ID evaluation: confusion counts of the marker-argmax
    lang_id_expr against the labeled lang column — the quality gate a
    corpus-curation pipeline runs after any langid change."""
    d = _docs(spark, sf_dir)
    return (
        d.select("lang", text_ops.lang_id_expr(F.col("text")).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "pred_lang")
    )


def q_jl_exact_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ JL candidate generation, EXPRESSION path: project 64→16 dims as
    native fold expressions over the seeded Gaussian literal matrix
    (whole-stage codegen, zero Python — projection.project_embeddings_expr),
    take the top-20 candidates per query by rounded f64 cosine in the
    4×-smaller space, then re-rank the final 5 by exact f64 cosine on the
    ORIGINAL vectors. Unlike the Arrow/BLAS twin (jl_projected_ann, no
    oracle by design), every arithmetic step here is a deterministic
    left-to-right fold the DuckDB oracle mirrors bit-exactly."""
    from penr_oz_agent_memory_rust_spark.operators import projection as _proj
    from penr_oz_agent_memory_rust_spark.operators.topk import top_k_per_group

    emb = _emb(spark, sf_dir)
    # projection via the exact-fold Arrow twin (r10): bit-identical values
    # to project_embeddings_expr (see project_rows_arrow_exact), with the
    # 6dp HALF_UP round kept as a JVM transform — the 16×64-literal
    # expression tree made driver planning the gate's dominant cost
    proj = _proj.project_rows_arrow_exact(
        emb.select("vec_id", "embedding"), "vec_id", 64, 16
    ).select(
        "vec_id", F.transform("proj", lambda x: F.round(x, 6)).alias("proj")
    )
    corpus = proj.select("vec_id", F.col("proj").alias("vec"))
    queries = proj.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("proj").alias("qv")
    )
    pscore = F.round(similarity.cosine_f64(F.col("vec"), F.col("qv")), 6)
    cand = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(similarity.norm_f64(F.col("vec")) > 0)
        .filter(similarity.norm_f64(F.col("qv")) > 0)
        .withColumn("pscore", pscore)
        .select("qid", "vec_id", "pscore")
    )
    top20 = top_k_per_group(cand, ["qid"], "pscore", 20, tiebreak="vec_id")
    qorig = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    )
    rerank = (
        top20.select("qid", "vec_id")
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(qorig), "qid")
        .withColumn(
            "score",
            F.round(similarity.cosine_f64(F.col("embedding"), F.col("q_emb")), 6),
        )
        .select("qid", "vec_id", "score")
    )
    return top_k_per_group(rerank, ["qid"], "score", 5, tiebreak="vec_id").orderBy(
        "qid", F.col("score").desc(), "vec_id"
    )


def _gate_workdir(sf_dir: str, tag: str, src_name: str = "orders.parquet") -> tuple[str, str]:
    """(work_dir, marker_path) for a stateful gate, keyed by the source
    table's identity so a testdata refresh invalidates the cached build."""
    import hashlib as _hl
    import tempfile as _tf

    src = os.path.join(sf_dir, src_name)
    try:
        st = os.stat(src)
        ident = f"{tag}|{sf_dir}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        ident = f"{tag}|{sf_dir}"
    work = os.path.join(
        _tf.gettempdir(), f"__{tag}_{_hl.md5(ident.encode()).hexdigest()[:12]}"
    )
    return work, os.path.join(work, "_BUILT_OK")


def _versioned_orders_schema():
    from pyspark.sql import types as _T

    return _T.StructType(
        [
            _T.StructField("o_orderkey", _T.LongType(), True),
            _T.StructField("o_custkey", _T.LongType(), True),
            _T.StructField("o_totalprice", _T.DoubleType(), True),
            _T.StructField("o_orderstatus", _T.StringType(), True),
        ]
    )


def q_versioned_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ snapshot isolation + time travel through the oracle gate: seed a
    versioned table from orders, then a delete commit (keys % 5 = 0) and
    an update commit (+100 on status 'F'). The gate returns BOTH the
    as-of-seed snapshot (time travel to v2 — must be byte-identical to
    the original orders despite two later rewrites) and the current state;
    the oracle recomputes each in SQL. A time-travel read that leaks a
    later commit, or a mutation that misses/over-applies, fails the hash."""

    from penr_oz_agent_memory_rust_spark.sources.versioned_tables import (
        VersionedParquetTable,
    )

    work, marker = _gate_workdir(sf_dir, "versioned_tt")

    def _build(stage: str) -> None:
        ts = VersionedParquetTable(
            spark, os.path.join(stage, "lake"), _versioned_orders_schema()
        )
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
        )
        ts.append(orders.repartitionByRange(4, "o_orderkey"))  # v2
        ts.delete_where("o_orderkey % 5 = 0")  # v3
        ts.update_where(
            "o_orderstatus = 'F'",
            {"o_totalprice": F.col("o_totalprice") + F.lit(100.0)},
        )  # v4

    _build_published(work, os.path.basename(marker), _build)
    t = VersionedParquetTable(spark, os.path.join(work, "lake"), _versioned_orders_schema())
    cols = ["variant", "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]
    seed = t.read(version=2).withColumn("variant", F.lit("seed")).select(*cols)
    now = t.read().withColumn("variant", F.lit("now")).select(*cols)
    return seed.unionByName(now).orderBy("variant", "o_orderkey")


def q_versioned_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ zero-copy schema evolution through the oracle gate: seed a
    2-column versioned table from orders, add_columns a nullable
    o_category (metadata-only commit — no data file is touched), then
    append shifted-key rows that carry the new column. Old rows must
    surface with NULL category under the widened read schema; the oracle
    recomputes the widened union in SQL."""

    from pyspark.sql import types as _T

    from penr_oz_agent_memory_rust_spark.sources.versioned_tables import (
        VersionedParquetTable,
    )

    work, marker = _gate_workdir(sf_dir, "versioned_sev")
    sch = _T.StructType(
        [
            _T.StructField("o_orderkey", _T.LongType(), True),
            _T.StructField("o_totalprice", _T.DoubleType(), True),
        ]
    )
    def _build(stage: str) -> None:
        ts = VersionedParquetTable(spark, os.path.join(stage, "lake"), sch)
        orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        mk = int(orders.agg(F.max("o_orderkey")).first()[0])
        ts.append(orders.repartitionByRange(4, "o_orderkey"))  # v2
        ts.add_columns(_T.StructField("o_category", _T.StringType(), True))  # v3
        newrows = (
            orders.filter(F.col("o_orderkey") % 3 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(mk + 1))
            .withColumn(
                "o_category",
                F.when(F.col("o_totalprice") > 100000.0, F.lit("big")).otherwise(
                    F.lit("small")
                ),
            )
        )
        ts.append(newrows)  # v4: carries the widened column

    _build_published(work, os.path.basename(marker), _build)
    t = VersionedParquetTable(spark, os.path.join(work, "lake"), sch)
    return (
        t.read()
        .select("o_orderkey", "o_totalprice", "o_category")
        .orderBy("o_orderkey")
    )


def q_versioned_optimize_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ OPTIMIZE + manifest data skipping through the oracle gate: four
    interleaved appends (event_id % 4 stripes) give every file a
    near-full key span — the skipping index is useless — then
    optimize(sort_by=event_id) re-clusters into 8 range-disjoint files
    WITHOUT changing contents. The gate asserts the post-optimize
    manifest actually prunes (files touched < total) and returns the
    range-probed rows via read_pruned + row filter; the oracle is a plain
    BETWEEN over events, so a clustering commit that loses or duplicates
    a single row fails the hash."""

    from pyspark.sql import types as _T

    from penr_oz_agent_memory_rust_spark.sources.versioned_tables import (
        VersionedParquetTable,
    )

    work, marker = _gate_workdir(sf_dir, "versioned_opt", "events.parquet")
    sch = _T.StructType(
        [
            _T.StructField("event_id", _T.LongType(), True),
            _T.StructField("user_id", _T.LongType(), True),
            _T.StructField("value", _T.DoubleType(), True),
        ]
    )
    def _build(stage: str) -> None:
        ts = VersionedParquetTable(spark, os.path.join(stage, "lake"), sch)
        ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
        for r in range(4):  # interleaved stripes: every file spans ~the full range
            ts.append(ev.filter(F.col("event_id") % 4 == r).repartition(2))
        ts.optimize(n_files=8, sort_by="event_id")

    _build_published(work, os.path.basename(marker), _build)
    t = VersionedParquetTable(spark, os.path.join(work, "lake"), sch)
    mk = int(
        load_table(spark, sf_dir, "events").agg(F.max("event_id")).first()[0]
    )
    lo, hi = mk // 4, mk // 2
    keep, total = t.prune_files("event_id", lo, hi)
    assert len(keep) < total, (len(keep), total)  # clustering made skipping real
    return (
        t.read_pruned("event_id", lo, hi)
        .filter((F.col("event_id") >= lo) & (F.col("event_id") <= hi))
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    )


def q_versioned_cdf_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ change-data-feed CONSUMER end-to-end (the CDC story): v2 holds
    the first half of documents and a materialized downstream word-count
    index built from it. A merge_upsert then rewrites some docs (text +
    ' refreshed') and inserts the rest. The index is refreshed ONLY from
    t.changes(v2) — token deltas of the feed's insert rows minus its
    delete rows, outer-joined onto the stale index — never by re-reading
    the table. The oracle recomputes the word counts of the FINAL state
    from scratch in SQL, so a missed delete, double-counted insert, or
    stale surviving row in the feed shifts a count and fails the hash."""

    from pyspark.sql import types as _T

    from penr_oz_agent_memory_rust_spark.sources.versioned_tables import (
        VersionedParquetTable,
    )

    work, marker = _gate_workdir(sf_dir, "versioned_cdf", "documents.parquet")
    sch = _T.StructType(
        [
            _T.StructField("doc_id", _T.LongType(), True),
            _T.StructField("text", _T.StringType(), True),
        ]
    )
    out_path = os.path.join(work, "index_refreshed")

    def _word_counts(df: DataFrame) -> DataFrame:
        return (
            df.select(F.explode(hashing.word_tokens(F.col("text"))).alias("token"))
            .filter(F.col("token") != "")
            .groupBy("token")
            .agg(F.count("*").alias("cnt"))
        )

    def _build(stage: str) -> None:
        t = VersionedParquetTable(spark, os.path.join(stage, "lake"), sch)
        docs = _docs(spark, sf_dir).select("doc_id", "text")
        t.append(docs.filter(F.col("doc_id") < 250).repartitionByRange(4, "doc_id"))
        v2 = t.current_version()
        index_path = os.path.join(stage, "index_v2")
        _word_counts(t.read()).write.parquet(index_path)
        upd = docs.filter(
            (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 250)
        ).withColumn("text", F.concat(F.col("text"), F.lit(" refreshed")))
        ins = docs.filter(F.col("doc_id") >= 250)
        t.merge_upsert(upd.unionByName(ins), ["doc_id"])
        cdf = t.changes(v2)
        sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(F.lit(-1))
        delta = (
            cdf.select(
                F.explode(hashing.word_tokens(F.col("text"))).alias("token"),
                sign.alias("sign"),
            )
            .filter(F.col("token") != "")
            .groupBy("token")
            .agg(F.sum("sign").alias("delta"))
        )
        stale = spark.read.parquet(index_path)
        refreshed = (
            stale.join(delta, "token", "full_outer")
            .select(
                "token",
                (
                    F.coalesce(F.col("cnt"), F.lit(0))
                    + F.coalesce(F.col("delta"), F.lit(0))
                ).alias("cnt"),
            )
            .filter(F.col("cnt") > 0)
        )
        refreshed.write.parquet(os.path.join(stage, "index_refreshed"))

    _build_published(work, os.path.basename(marker), _build)
    return spark.read.parquet(out_path).select(
        "token", F.col("cnt").cast("bigint").alias("cnt")
    ).orderBy("token")


def q_stream_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ exactly-once streaming MERGE (CDC apply) end-to-end: orders rows
    arrive as TWO availableNow micro-batches — the base set, then a CDC
    batch carrying UPDATES (keys %7==3: price+1000, status 'U', twice per
    key with increasing seq so only the LATEST survives) and INSERTS
    (beyond-max keys, status 'N'). Each batch merge-upserts into the
    versioned table as ONE atomic commit carrying (app, batch) txn ids
    (streaming.run_versioned_cdc_merge_once); a dropped, duplicated, or
    wrongly-ordered batch changes the final state. The oracle recomputes
    the last-writer-wins result in pure SQL over orders."""

    from pyspark.sql import types as _T

    from penr_oz_agent_memory_rust_spark.sources.versioned_tables import (
        VersionedParquetTable,
    )
    from penr_oz_agent_memory_rust_spark.streaming.ingest import (
        run_versioned_cdc_merge_once,
    )

    work, marker = _gate_workdir(sf_dir, "stream_cdc_merge")
    sch = _T.StructType(
        [
            _T.StructField("o_orderkey", _T.LongType(), True),
            _T.StructField("o_custkey", _T.LongType(), True),
            _T.StructField("o_totalprice", _T.DoubleType(), True),
            _T.StructField("o_orderstatus", _T.StringType(), True),
            _T.StructField("seq", _T.LongType(), True),
        ]
    )
    def _build(stage: str) -> None:
        t = VersionedParquetTable(spark, os.path.join(stage, "lake"), sch)
        incoming = os.path.join(stage, "incoming")
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
        )
        mk = int(orders.agg(F.max("o_orderkey")).first()[0])
        base = orders.withColumn("seq", F.lit(0).cast("long"))
        base.coalesce(4).write.mode("append").parquet(incoming)
        run_versioned_cdc_merge_once(spark, incoming, t, ["o_orderkey"], seq_col="seq")
        upd_keys = orders.filter(F.col("o_orderkey") % 7 == 3)
        stale = upd_keys.withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(500.0)
        ).withColumn("o_orderstatus", F.lit("X")).withColumn("seq", F.lit(1).cast("long"))
        fresh = upd_keys.withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
        ).withColumn("o_orderstatus", F.lit("U")).withColumn("seq", F.lit(2).cast("long"))
        ins = (
            orders.filter(F.col("o_orderkey") % 419 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(mk + 1))
            .withColumn("o_orderstatus", F.lit("N"))
            .withColumn("seq", F.lit(1).cast("long"))
        )
        stale.unionByName(fresh).unionByName(ins).coalesce(2).write.mode(
            "append"
        ).parquet(incoming)
        run_versioned_cdc_merge_once(spark, incoming, t, ["o_orderkey"], seq_col="seq")

    _build_published(work, os.path.basename(marker), _build)
    t = VersionedParquetTable(spark, os.path.join(work, "lake"), sch)
    return (
        t.read()
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    )


def q_versioned_merge_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ lakehouse mutation gate — the versioned table's file-pruned MERGE
    and key-addressed DELETE end-to-end (reference upsert-by-id
    src/vector_store.rs:215-255, delete src/memory.rs:139-141, re-expressed
    as manifest commits over plain parquet): seed a VersionedParquetTable
    from orders range-partitioned on o_orderkey (8 files, disjoint key
    ranges with footer min/max in the manifest), merge_upsert a batch that
    UPDATES the bottom key-quarter (price +1000, status 'U') and INSERTS
    brand-new beyond-max keys (status 'N'), then delete_keys a scattered
    top-quarter key list. Both mutations must take the PRUNED path
    (asserted on history): files whose key range cannot hold a touched key
    survive zero-copy, so mutation cost is O(matched files) — the Delta
    MERGE cost model this layer exists for. The DuckDB oracle recomputes
    the same last-writer-wins + delete state in pure SQL over orders; a
    stale surviving row, lost update, or over-deleted key fails the hash."""
    import hashlib as _hl
    import tempfile as _tf

    from pyspark.sql import types as _T

    from penr_oz_agent_memory_rust_spark.sources.versioned_tables import (
        VersionedParquetTable,
    )

    src = os.path.join(sf_dir, "orders.parquet")
    try:
        st = os.stat(src)
        ident = f"vmerge|{sf_dir}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        ident = f"vmerge|{sf_dir}"
    work = os.path.join(
        _tf.gettempdir(), f"__versioned_merge_{_hl.md5(ident.encode()).hexdigest()[:12]}"
    )
    sch = _T.StructType(
        [
            _T.StructField("o_orderkey", _T.LongType(), True),
            _T.StructField("o_custkey", _T.LongType(), True),
            _T.StructField("o_totalprice", _T.DoubleType(), True),
            _T.StructField("o_orderstatus", _T.StringType(), True),
        ]
    )
    def _build(stage: str) -> None:
        t = VersionedParquetTable(spark, os.path.join(stage, "lake"), sch)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
        )
        mk = int(orders.agg(F.max("o_orderkey")).first()[0])
        t.append(orders.repartitionByRange(8, "o_orderkey"))
        upd = (
            orders.filter(
                (F.col("o_orderkey") % 7 == 3) & (F.col("o_orderkey") <= mk // 4)
            )
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
            .withColumn("o_orderstatus", F.lit("U"))
        )
        ins = (
            orders.filter(F.col("o_orderkey") % 419 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(mk + 1))
            .withColumn("o_orderstatus", F.lit("N"))
        )
        t.merge_upsert(upd.unionByName(ins), ["o_orderkey"])
        assert t.history()[-1]["op"] == "merge_upsert_pruned", t.history()[-1]
        dkeys = [
            r[0]
            for r in t.read()
            .filter(
                (F.col("o_orderkey") % 97 == 0)
                & (F.col("o_orderkey") > (mk * 3) // 4)
            )
            .select("o_orderkey")
            .collect()
        ]
        assert dkeys, "delete-key predicate must select rows at every sf"
        t.delete_keys(dkeys, "o_orderkey")
        assert t.history()[-1]["op"] == "delete_keys_pruned", t.history()[-1]

    _build_published(work, "_MERGED_OK", _build)
    t = VersionedParquetTable(spark, os.path.join(work, "lake"), sch)
    return (
        t.read()
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    )


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Unicode text normalization end-to-end: every doc's text gets a
    deterministic "messy" suffix (tab, DECOMPOSED e+U+0301 grapheme,
    double space, BEL control char) and the normalizer must strip
    controls, canonicalize to precomposed NFC, and collapse whitespace —
    proven byte-for-byte via md5 against DuckDB's nfc_normalize (both
    implement the same Unicode canonical-composition algorithm)
    (operators/text_ops.normalize_text)."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.col("text"), F.lit("\tcafe\u0301  \x07!")).alias("text"),
    )
    n = text_ops.normalize_text(d, "text", form="NFC", out_col="norm")
    return n.select(
        "doc_id",
        F.length("text").alias("n_raw"),
        F.length("norm").alias("n_norm"),
        F.md5(F.col("norm")).alias("norm_md5"),
    ).orderBy("doc_id")


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ incremental near-dup ingestion: corpus docs (doc_id % 10 < 7)
    are ALREADY indexed as stored (id, band-bucket) rows; the arriving
    batch (doc_id % 10 >= 7) computes minhash bands for ITS docs only and
    equi-joins the stored index — unordered candidate pairs (a < b, at
    least one side a batch doc) without ever repaying the corpus-side
    shingle+minhash work. The 100 TB shape of "dedup the daily crawl
    against the whole corpus" (operators/dedup.lsh_band_rows +
    minhash_lsh_incremental; examples/incremental_dedup_demo.py
    round-trips the index + its (bucket, cnt) companion through
    VersionedParquetTable)."""
    docs = _docs(spark, sf_dir)
    idx_bands = dedup.lsh_band_rows(docs.filter(F.col("doc_id") % 10 < 7))
    batch = docs.filter(F.col("doc_id") % 10 >= 7)
    return dedup.minhash_lsh_incremental(batch, idx_bands).orderBy("a", "b")


def q_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ leakage-safe 5-fold assignment: fold = md5 of the minhash
    near-dup COMPONENT representative mod 5, so a doc and all its
    near-duplicates always share a fold — cross-validation stays honest
    under near-dup contamination
    (operators/components.leakage_safe_kfold)."""
    from penr_oz_agent_memory_rust_spark.operators import components

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, n_hashes=12, bands=4)
    return components.leakage_safe_kfold(docs, pairs, k=5, salt="kf").orderBy("doc_id")


def q_kfold_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ statistical sanity of the leakage-safe k-fold assignment: per-fold
    doc counts of the 5-fold split. The builder ASSERTS every fold is
    populated and within [0.6, 1.5]× of the uniform share — deterministic
    given the md5 fold hash, so this either always passes or flags a real
    bucketing defect (r6 judge ask #7; measured shares at sf0.001/0.01/0.1
    all sit within [0.85, 1.10]×). The oracle re-derives the counts from
    the same component + fold SQL, so balance is value-checked end-to-end."""
    from penr_oz_agent_memory_rust_spark.operators import components

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, n_hashes=12, bands=4)
    folds = components.leakage_safe_kfold(docs, pairs, k=5, salt="kf")
    out = folds.groupBy("fold").agg(F.count("*").alias("n_docs")).orderBy("fold")
    rows = out.collect()  # 5 rows — the balance check needs the values
    n = sum(r["n_docs"] for r in rows)
    assert n > 0 and len(rows) == 5, f"folds missing: {rows}"
    for r in rows:
        share = r["n_docs"] / (n / 5)
        assert 0.6 <= share <= 1.5, f"fold {r['fold']} share {share:.2f}: {rows}"
    # the 5 asserted rows ARE the result — return them as a local relation
    # so the caller's materialization doesn't re-run the whole component
    # pipeline a second time
    return spark.createDataFrame(rows, out.schema)


# The query registry. Its order is part of the driver contract: the driver
# certifies the first 50 names (the keys of CORRECTNESS_r11.json, in order),
# so a reorder or an insert above slot 50 changes what it checks. The
# queries without an oracle in oracle_sql() come last.
_RAW_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "mem_search_topk": q_mem_search_topk,
    "mem_search_filters": q_mem_search_filters,
    "dedup_exact_suite": q_dedup_exact_suite,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_ngram_suite": q_dedup_ngram_suite,
    "dedup_simhash": q_dedup_simhash,
    "embedding_neardup": q_embedding_neardup,
    "dedup_clusters": q_dedup_clusters,
    "incremental_neardup": q_incremental_neardup,
    "neardup_keep_best": q_neardup_keep_best,
    "knn_suite": q_knn_suite,
    "ts_gapfill_interp": q_ts_gapfill_interp,
    "versioned_merge_pruned": q_versioned_merge_pruned,
    "stream_cms_topk": q_stream_cms_topk,
    "media_phash_dedup": q_media_phash_dedup,
    "text_normalize": q_text_normalize,
    "text_profile": q_text_profile,
    "gopher_rules": q_gopher_rules,
    "winnowing_fps": q_winnowing_fps,
    "decontaminate_ngram": q_decontaminate_ngram,
    "jsonl_rescue": q_jsonl_rescue,
    "sampling_suite": q_sampling_suite,
    "quality_quantile_filter": q_quality_quantile_filter,
    "doc_chunking": q_doc_chunking,
    "pipeline_clean_corpus": q_pipeline_clean_corpus,
    "pipeline_curate_corpus": q_pipeline_curate_corpus,
    "multimodal_features": q_multimodal_features,
    "multimodal_pipeline": q_multimodal_pipeline,
    "training_shards": q_training_shards,
    "corpus_mix": q_corpus_mix,
    "kfold_split": q_kfold_split,
    "stream_window_agg": q_stream_window_agg,
    "stream_dedup_distinct": q_stream_dedup_distinct,
    "stream_ivf_append": q_stream_ivf_append,
    "asof_join_suite": q_asof_join_suite,
    "url_canonicalize": q_url_canonicalize,
    "url_dedup": q_url_dedup,
    "minhash_est_pairs": q_minhash_est_pairs,
    "minhash_calibration": q_minhash_calibration,
    "knn_self_all_pairs_expr": q_knn_self_all_pairs_expr,
    "dup_span_coverage": q_dup_span_coverage,
    "remove_dup_spans": q_remove_dup_spans,
    "leakage_safe_split": q_leakage_safe_split,
    "hard_negatives": q_hard_negatives,
    "tpch_q10_returned_items": q_tpch_q10_returned_items,
    "strip_boilerplate": q_strip_boilerplate,
    "pipeline_curate_funnel": q_pipeline_curate_funnel,
    "strip_common_lines": q_strip_common_lines,
    "funnel_plan": q_funnel_plan,
    "shard_checksums": q_shard_checksums,
    "sessionization": q_sessionization,
    "events_followup_day": q_events_followup_day,
    "scd2_customer_segment": q_scd2_customer_segment,
    "skew_salted_pipeline": q_skew_salted_pipeline,
    "tpch_q1_pricing_summary": q_tpch_q1_pricing_summary,
    "tpch_q3_shipping_priority": q_tpch_q3_shipping_priority,
    "tpch_q5_local_supplier_volume": q_tpch_q5_local_supplier_volume,
    "tpch_q6_q14": q_tpch_q6_q14,
    "events_multidim_agg": q_events_multidim_agg,
    "events_window_frames": q_events_window_frames,
    "events_unpivot": q_events_unpivot,
    "events_variant_agg": q_events_variant_agg,
    "doc_bigrams_udtf": q_doc_bigrams_udtf,
    "upsert_latest_by_key": q_upsert_latest_by_key,
    "session_pagination": q_session_pagination,
    "fk_integrity": q_fk_integrity,
    "distance_metrics": q_distance_metrics,
    "sql_api_search": q_sql_api_search,
    "mem_delete_anti_join": q_mem_delete_anti_join,
    "bm25_search": q_bm25_search,
    "hybrid_search_rrf": q_hybrid_search_rrf,
    "quantized_search": q_quantized_search,
    "bq_ann_rerank": q_bq_ann_rerank,
    "mutual_knn": q_mutual_knn,
    "bq_ann": q_bq_ann,
    "bq_neardup": q_bq_neardup,
    "rolling_series_stats": q_rolling_series_stats,
    "incremental_quantile_refresh": q_incremental_quantile_refresh,
    "semantic_decontaminate": q_semantic_decontaminate,
    "zscore_events": q_zscore_events,
    "repetition_profile": q_repetition_profile,
    "word_freq_topk": q_word_freq_topk,
    "pii_scan": q_pii_scan,
    "session_touch": q_session_touch,
    "json_metadata_extract": q_json_metadata_extract,
    "projection_validate": q_projection_validate,
    "semantic_dedup": q_semantic_dedup,
    "dsir_select": q_dsir_select,
    "stream_session_window": q_stream_session_window,
    "stream_interval_join": q_stream_interval_join,
    "stream_interval_join_outer": q_stream_interval_join_outer,
    "dedup_incremental": q_dedup_incremental,
    "dedup_incremental_bloom": q_dedup_incremental_bloom,
    "line_dedup": q_line_dedup,
    "heavy_hitters_cms": q_heavy_hitters_cms,
    "approx_distinct_hll": q_approx_distinct_hll,
    "preference_pairs": q_preference_pairs,
    "knn_pagerank": q_knn_pagerank,
    "knn_kcore": q_knn_kcore,
    "lm_quality": q_lm_quality,
    "funnel_conversion": q_funnel_conversion,
    "skew_salted_targeted": q_skew_salted_targeted,
    "dedup_funnel_verify": q_dedup_funnel_verify,
    "source_quality_profile": q_source_quality_profile,
    "source_curation": q_source_curation,
    "asof_global": q_asof_global,
    "url_domain_block": q_url_domain_block,
    "url_dedup_incremental": q_url_dedup_incremental,
    "extract_links": q_extract_links,
    "webdataset_roundtrip": q_webdataset_roundtrip,
    "skew_report": q_skew_report,
    "tpch_q4_order_priority": q_tpch_q4_order_priority,
    "tpch_q7_volume_shipping": q_tpch_q7_volume_shipping,
    "tpch_q13_order_distribution": q_tpch_q13_order_distribution,
    "tpch_q18_large_volume": q_tpch_q18_large_volume,
    "tpch_q2_min_cost_supplier": q_tpch_q2_min_cost_supplier,
    "tpch_q8_market_share": q_tpch_q8_market_share,
    "tpch_q9_product_profit": q_tpch_q9_product_profit,
    "tpch_q11_important_parts": q_tpch_q11_important_parts,
    "tpch_q12_priority_by_status": q_tpch_q12_priority_by_status,
    "tpch_q15_top_supplier": q_tpch_q15_top_supplier,
    "tpch_q16_supplier_counts": q_tpch_q16_supplier_counts,
    "tpch_q17_small_quantity": q_tpch_q17_small_quantity,
    "tpch_q19_disjunctive_revenue": q_tpch_q19_disjunctive_revenue,
    "tpch_q20_promo_suppliers": q_tpch_q20_promo_suppliers,
    "tpch_q21_waiting_supplier": q_tpch_q21_waiting_supplier,
    "tpch_q22_global_sales": q_tpch_q22_global_sales,
    "incremental_agg_refresh": q_incremental_agg_refresh,
    "analyze_table_stats": q_analyze_table_stats,
    "curriculum_shards": q_curriculum_shards,
    "token_offset_shards": q_token_offset_shards,
    "stream_enrich_counts": q_stream_enrich_counts,
    "data_expectations": q_data_expectations,
    "retention_cohorts": q_retention_cohorts,
    "dedup_keep_best": q_dedup_keep_best,
    "dsir_weights": q_dsir_weights,
    "knn_join": q_knn_join,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_char_ngram": q_dedup_char_ngram,
    "multimodal_frames": q_multimodal_frames,
    "multimodal_resize": q_multimodal_resize,
    "mem_search_label_filter": q_mem_search_label_filter,
    "mem_search_threshold": q_mem_search_threshold,
    "fk_semi_join": q_fk_semi_join,
    "fk_anti_rejects": q_fk_anti_rejects,
    "text_lang_id": q_text_lang_id,
    "text_quality_tokens": q_text_quality_tokens,
    "doc_fingerprint": q_doc_fingerprint,
    "repetition_score": q_repetition_score,
    "stratified_sample": q_stratified_sample,
    "deterministic_sample": q_deterministic_sample,
    "events_sessionize": q_events_sessionize,
    "events_session_window_native": q_events_session_window_native,
    "asof_latest_order": q_asof_latest_order,
    "asof_tolerance_order": q_asof_tolerance_order,
    "tpch_q6_revenue": q_tpch_q6_revenue,
    "tpch_q14_promo_revenue": q_tpch_q14_promo_revenue,
    "events_rollup": q_events_rollup,
    "events_cube": q_events_cube,
    "events_grouping_sets": q_events_grouping_sets,
    "user_running_totals": q_user_running_totals,
    "event_gap_stats": q_event_gap_stats,
    "events_window_agg": q_events_window_agg,
    "events_pivot": q_events_pivot,
    "events_percentiles": q_events_percentiles,
    "events_value_deciles": q_events_value_deciles,
    "user_event_type_sets": q_user_event_type_sets,
    "orders_by_month": q_orders_by_month,
    "topk_per_group": q_topk_per_group,
    "distinct_users_per_type": q_distinct_users_per_type,
    "users_purchase_no_error": q_users_purchase_no_error,
    "users_purchase_and_error": q_users_purchase_and_error,
    "embedding_stats": q_embedding_stats,
    "docs_with_embeddings": q_docs_with_embeddings,
    "retrieval_eval": q_retrieval_eval,
    "pca_gramian": q_pca_gramian,
    "embedding_outliers": q_embedding_outliers,
    "stream_embedding_drift": q_stream_embedding_drift,
    "source_divergence": q_source_divergence,
    "label_propagation": q_label_propagation,
    "pmi_collocations": q_pmi_collocations,
    "psi_value_drift": q_psi_value_drift,
    "mad_outliers": q_mad_outliers,
    "tfidf_keywords": q_tfidf_keywords,
    "source_overlap": q_source_overlap,
    "quality_quantile_by_lang": q_quality_quantile_by_lang,
    "events_transition_matrix": q_events_transition_matrix,
    "knn_graph_triangles": q_knn_graph_triangles,
    "lm_backoff_quality": q_lm_backoff_quality,
    "fuzzy_part_matches": q_fuzzy_part_matches,
    "cdc_chunking": q_cdc_chunking,
    "vocab_coverage": q_vocab_coverage,
    "seasonal_anomalies": q_seasonal_anomalies,
    "html_strip": q_html_strip,
    "fuzzy_best_match": q_fuzzy_best_match,
    "events_value_ranks": q_events_value_ranks,
    "stream_cdc_dedup": q_stream_cdc_dedup,
    "corpus_datasheet": q_corpus_datasheet,
    "knn_graph_walks": q_knn_graph_walks,
    "zorder_values": q_zorder_values,
    "quality_winsorize": q_quality_winsorize,
    "corpus_mix_temperature": q_corpus_mix_temperature,
    "kmeans_assign": q_kmeans_assign,
    "centroid_classifier": q_centroid_classifier,
    "versioned_time_travel": q_versioned_time_travel,
    "versioned_schema_evolution": q_versioned_schema_evolution,
    "versioned_optimize_read": q_versioned_optimize_read,
    "versioned_cdf_refresh": q_versioned_cdf_refresh,
    "stream_cdc_merge": q_stream_cdc_merge,
    "quality_exact_quantiles": q_quality_exact_quantiles,
    "doc_quantile_buckets": q_doc_quantile_buckets,
    "events_value_histogram": q_events_value_histogram,
    "weighted_doc_sample": q_weighted_doc_sample,
    "events_pivot_matrix": q_events_pivot_matrix,
    "ngram_containment": q_ngram_containment,
    "langid_confusion": q_langid_confusion,
    "jl_exact_ann": q_jl_exact_ann,
    "mmr_rerank": q_mmr_rerank,
    "kfold_balance": q_kfold_balance,
    "diversity_sample_seeded": q_diversity_sample_seeded,
    "sequence_packing": q_sequence_packing,
    "bpe_tokenize": q_bpe_tokenize,
    "semantic_decontaminate_blas": q_semantic_decontaminate_blas,
    "semantic_dedup_ivf": q_semantic_dedup_ivf,
    "knn_join_blocked": q_knn_join_blocked,
    "lsh_ann": q_lsh_ann,
    "lsh_ann_multiprobe": q_lsh_ann_multiprobe,
    "ivf_ann": q_ivf_ann,
    "pq_ann": q_pq_ann,
    "ivfpq_ann": q_ivfpq_ann,
    "kmeans_profile": q_kmeans_profile,
    "quality_classifier_train": q_quality_classifier_train,
    "jl_projected_ann": q_jl_projected_ann,
    "pca_projected_ann": q_pca_projected_ann,
    "knn_self_all_pairs": q_knn_self_all_pairs,
    "knn_graph_lsh": q_knn_graph_lsh,
    "diversity_sample": q_diversity_sample,
    "lm_quality_arrow": q_lm_quality_arrow,
    "embed_documents_search": q_embed_documents_search,
    "approx_distinct_users": q_approx_distinct_users,
    "events_percentiles_approx": q_events_percentiles_approx,
}

# Registered but left out of bench.py's timed set (bench.HEADLINE is the
# registry minus these, in registry order).
UNBENCHED = frozenset({
    "hard_negatives",
    "tpch_q10_returned_items",
    "dedup_incremental",
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_profit",
    "tpch_q11_important_parts",
    "tpch_q12_priority_by_status",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_counts",
    "tpch_q17_small_quantity",
    "tpch_q19_disjunctive_revenue",
    "tpch_q20_promo_suppliers",
    "tpch_q22_global_sales",
    "analyze_table_stats",
    "curriculum_shards",
    "token_offset_shards",
    "dsir_weights",
    "knn_join",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_char_ngram",
    "multimodal_frames",
    "multimodal_resize",
    "mem_search_label_filter",
    "mem_search_threshold",
    "fk_semi_join",
    "fk_anti_rejects",
    "text_lang_id",
    "text_quality_tokens",
    "doc_fingerprint",
    "repetition_score",
    "stratified_sample",
    "deterministic_sample",
    "events_sessionize",
    "events_session_window_native",
    "asof_latest_order",
    "asof_tolerance_order",
    "tpch_q6_revenue",
    "tpch_q14_promo_revenue",
    "events_rollup",
    "events_cube",
    "events_grouping_sets",
    "user_running_totals",
    "event_gap_stats",
    "events_window_agg",
    "events_pivot",
    "events_percentiles",
    "events_value_deciles",
    "user_event_type_sets",
    "orders_by_month",
    "topk_per_group",
    "distinct_users_per_type",
    "users_purchase_no_error",
    "users_purchase_and_error",
    "embedding_stats",
    "docs_with_embeddings",
    "semantic_dedup_ivf",
    "embed_documents_search",
    "approx_distinct_users",
    "events_percentiles_approx",
})


# ---------------------------------------------------------------- oracles


def _lang_hits_cols(text_ref: str = "text") -> str:
    codes = sorted(text_ops.LANG_MARKERS)
    return ", ".join(
        f"len(regexp_extract_all(lower({text_ref}), "
        f"'\\b({'|'.join(text_ops.LANG_MARKERS[c])})\\b')) AS h_{c}"
        for c in codes
    )


def _lang_case() -> str:
    codes = sorted(text_ops.LANG_MARKERS)
    whens = []
    for c in codes:
        conds = [f"h_{c} >= h_{o}" for o in codes if o != c] + [f"h_{c} >= 1"]
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{c}'")
    return f"CASE {' '.join(whens)} ELSE 'und' END"


def _lang_case_sql() -> str:
    return (
        f"WITH h AS (SELECT doc_id, {_lang_hits_cols()} FROM documents) "
        f"SELECT doc_id, {_lang_case()} AS pred_lang FROM h"
    )


_DK_QUALITY = r"""round(0.4 * least(1.0, length(text) / 500.0)
    + 0.5 * (CASE WHEN length(text) > 0
             THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / length(text)
             ELSE 0 END)
    + 0.1 * (1.0 - least(1.0, 4.0 * (CASE WHEN length(text) > 0
             THEN length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) * 1.0 / length(text)
             ELSE 0 END))), 6)"""


_DK_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
)

_DK_SHINGLES3 = (
    "list_transform(generate_series(1, greatest(1, len(string_split(lower(text), ' ')) - 2)), "
    "i -> array_to_string(string_split(lower(text), ' ')[i:i+2], ' '))"
)


def _minhash_sql(n_hashes: int = 12, bands: int = 4) -> str:
    rows = n_hashes // bands
    sig_cols = ", ".join(
        f"min(substring(md5('{j // 6}|' || sh), {1 + 5 * (j % 6)}, 5)) AS h{j}"
        for j in range(n_hashes)
    )
    band_exprs = ", ".join(
        "'" + str(b) + ":' || " + " || ".join(f"h{b * rows + r}" for r in range(rows))
        for b in range(bands)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_DK_SHINGLES3})) AS sh FROM documents
), sig AS (
  SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id
), bands AS (
  SELECT doc_id, unnest([{band_exprs}]) AS bucket FROM sig
)
SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
FROM bands l JOIN bands r ON l.bucket = r.bucket AND l.doc_id < r.doc_id
"""


def _minhash_incr_sql(n_hashes: int = 12, bands: int = 4) -> str:
    """DuckDB mirror of q_incremental_neardup: identical shingle/minhash/
    band pipeline over ALL documents, then the index-side (doc_id%10<7)
    ∪ batch-side rows join the batch-side bands — the same pair predicate
    as minhash_lsh_incremental, normalized to unordered least/greatest
    form before the DISTINCT (so a doc id present on both sides can never
    emit one unordered pair twice — r6 advisor)."""
    rows = n_hashes // bands
    sig_cols = ", ".join(
        f"min(substring(md5('{j // 6}|' || sh), {1 + 5 * (j % 6)}, 5)) AS h{j}"
        for j in range(n_hashes)
    )
    band_exprs = ", ".join(
        "'" + str(b) + ":' || " + " || ".join(f"h{b * rows + r}" for r in range(rows))
        for b in range(bands)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_DK_SHINGLES3})) AS sh FROM documents
), sig AS (
  SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id
), bands AS (
  SELECT doc_id, unnest([{band_exprs}]) AS bucket FROM sig
), lft AS (
  SELECT doc_id, bucket,
         CASE WHEN doc_id % 10 < 7 THEN 'idx' ELSE 'new' END AS side
  FROM bands
), nb AS (
  SELECT doc_id, bucket FROM bands WHERE doc_id % 10 >= 7
)
SELECT DISTINCT least(l.doc_id, r.doc_id) AS a, greatest(l.doc_id, r.doc_id) AS b
FROM lft l JOIN nb r ON l.bucket = r.bucket
WHERE (l.side = 'idx' AND l.doc_id != r.doc_id)
   OR (l.side = 'new' AND l.doc_id < r.doc_id)
ORDER BY a, b
"""


def _bpe_sql(n_merges: int = 200, max_words: int = 5000) -> str:
    """DuckDB replay of the ENTIRE BPE pipeline (operators/bpe.py) — the
    r6 judge's "recursive CTE" suggestion, implemented: TWO recursive
    CTEs sharing one WITH RECURSIVE.

    Trainer `t`: the working set is the per-word symbol-list state; each
    step picks the best pair via min(struct(-count, a, b)) over the
    unnested adjacent pairs (DuckDB permits aggregation over the
    recursive reference) — exactly Sennrich max-count/lexical-tie — and
    applies it to every word with a list_reduce fold that replicates the
    trainer's single left-to-right pass (overlap semantics: [a,a,a] with
    (a,a) -> [aa,a]). Merges fall out as the DISTINCT (it-1, ma, mb)
    rows. Stops at n_merges or best count < 2, like train_bpe.

    Encoder `e`: per DISTINCT word, one step merges the lowest-rank pair
    at its earliest position (min struct(rank, i), the GPT-2 apply order
    of _encode_word), rank looked up in a single-row map keyed
    a||chr(1)||b (chr(1) cannot occur in whitespace-split tokens). A
    word's pieces are its max-iteration row. Doc stats then mirror
    bpe_encode: n_words/n_pieces per doc, zero-word docs kept by the
    LEFT JOIN."""
    return rf"""
WITH RECURSIVE hist AS (
  SELECT w, count(*)::BIGINT AS c FROM (
    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS w
    FROM documents)
  GROUP BY w ORDER BY c DESC, w ASC LIMIT {max_words}
),
t AS (
  SELECT list_transform(generate_series(1, length(w)), i -> substring(w, i, 1)) || ['</w>'] AS syms,
         c AS cnt, 0 AS it, NULL::VARCHAR AS ma, NULL::VARCHAR AS mb
  FROM hist WHERE w <> ''
  UNION ALL
  SELECT
    list_reduce(
      list_transform(syms, s -> [s]),
      (acc, x) -> CASE WHEN len(acc) >= 1 AND acc[len(acc)] = best.a AND x[1] = best.b
                       THEN acc[1:len(acc)-1] || [best.a || best.b]
                       ELSE acc || x END) AS syms,
    cnt, it + 1, best.a, best.b
  FROM t, (
    SELECT m.a, m.b FROM (
      SELECT min(struct_pack(negc := -s, a := a, b := b)) AS m FROM (
        SELECT p.a AS a, p.b AS b, sum(cnt) AS s FROM (
          SELECT cnt, unnest(list_transform(generate_series(1, len(syms) - 1),
                      i -> struct_pack(a := syms[i], b := syms[i+1]))) AS p
          FROM t
        ) GROUP BY p.a, p.b HAVING sum(cnt) >= 2
      )
    ) WHERE m IS NOT NULL
  ) best
  WHERE it < {n_merges}
),
merges AS (
  SELECT DISTINCT it - 1 AS rank, ma AS a, mb AS b FROM t WHERE ma IS NOT NULL
),
mp AS (
  SELECT map_from_entries(list(struct_pack(k := a || chr(1) || b, v := rank))) AS m
  FROM merges
),
doc_words AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS w
  FROM documents
),
e AS (
  SELECT w AS word,
         list_transform(generate_series(1, length(w)), i -> substring(w, i, 1)) || ['</w>'] AS syms,
         0 AS it
  FROM (SELECT DISTINCT w FROM doc_words)
  UNION ALL
  SELECT word,
         syms[1:best.i-1] || [syms[best.i] || syms[best.i+1]] || syms[best.i+2:len(syms)],
         it + 1
  FROM (
    SELECT word, syms, it,
           list_sort(
             list_filter(
               list_transform(generate_series(1, len(syms) - 1),
                 i -> struct_pack(rank := m[syms[i] || chr(1) || syms[i+1]][1], i := i)),
               x -> x.rank IS NOT NULL))[1] AS best
    FROM e, mp WHERE len(syms) > 1
  ) WHERE best IS NOT NULL
),
pieces AS (
  SELECT word, len(syms) AS n_p FROM e
  QUALIFY row_number() OVER (PARTITION BY word ORDER BY it DESC) = 1
),
agg AS (
  SELECT dw.doc_id, count(*) AS n_words, sum(p.n_p)::BIGINT AS n_pieces
  FROM doc_words dw JOIN pieces p ON p.word = dw.w
  GROUP BY dw.doc_id
)
SELECT d.doc_id, coalesce(a.n_words, 0) AS n_words, coalesce(a.n_pieces, 0) AS n_pieces
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def _simhash_sql(bits: int = 16) -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (th >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}" for i in range(bits)
    )
    pack = " + ".join(f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits))
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
), th AS (
  SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS th FROM tok
), votes AS (
  SELECT doc_id, {votes} FROM th GROUP BY doc_id
), sig AS (
  SELECT doc_id, CAST({pack} AS BIGINT) AS simhash FROM votes
)
SELECT simhash, min(doc_id) AS doc_id, count(*) AS dup_count
FROM sig GROUP BY simhash HAVING count(*) > 1
"""


def _dsir_sql(k: int = 100, n_buckets: int = 1024, seed: int = 97, weights_only: bool = False) -> str:
    """DuckDB mirror of operators/importance.py: identical md5 bucket
    hashing, add-one smoothed bucket models over a dense generate_series
    spine, per-doc log ratios, and the deterministic md5-Gumbel top-k.
    2^60+1 appears as the same double literal both engines round to."""
    toks = "string_split(lower(text), ' ')"
    grams = (
        f"{toks} || list_transform(generate_series(1, greatest(1, len({toks}) - 1)), "
        f"i -> array_to_string({toks}[i:i+1], ' '))"
    )
    bucket = f"('0x' || substring(md5(g), 1, 15))::BIGINT % {n_buckets}"

    def model(name: str, pred: str) -> str:
        return (
            f"{name}_g AS (SELECT {bucket} AS bucket FROM "
            f"(SELECT unnest({grams}) AS g FROM documents WHERE {pred})), "
            f"{name}_c AS (SELECT bucket, count(*) AS c FROM {name}_g GROUP BY bucket), "
            f"{name}_t AS (SELECT count(*) AS t FROM {name}_g), "
            f"{name}_m AS (SELECT gs.b AS bucket, "
            f"ln((coalesce(c, 0) + 1)::DOUBLE / (t + {n_buckets})::DOUBLE) AS lp "
            f"FROM generate_series(0, {n_buckets - 1}) gs(b) "
            f"LEFT JOIN {name}_c ON gs.b = {name}_c.bucket CROSS JOIN {name}_t)"
        )

    span = float((1 << 60) + 1)
    head = f"""
        WITH {model('tgt', "lang = 'en'")},
        {model('raw', "lang <> 'en'")},
        raw_docs_g AS (
          SELECT doc_id, {bucket} AS bucket FROM
          (SELECT doc_id, unnest({grams}) AS g FROM documents WHERE lang <> 'en')
        ),
        w AS (
          SELECT doc_id, sum(t.lp - r.lp) AS logratio
          FROM raw_docs_g dg
          JOIN tgt_m t ON dg.bucket = t.bucket
          JOIN raw_m r ON dg.bucket = r.bucket
          GROUP BY doc_id
        )"""
    if weights_only:
        return head + "\n        SELECT doc_id, round(logratio, 6) AS logratio FROM w"
    return head + f""",
        sel AS (
          SELECT doc_id, logratio,
                 logratio - ln(-ln(
                   (('0x' || substring(md5('{seed}|' || doc_id::VARCHAR), 1, 15))::BIGINT + 1)
                   / {span!r}
                 )) AS gkey
          FROM w
        )
        SELECT doc_id, round(logratio, 6) AS logratio, round(gkey, 6) AS gkey
        FROM sel ORDER BY gkey DESC, doc_id LIMIT {k}"""


def _semantic_dedup_sql(threshold: float = 0.4, n_planes: int = 4, seed: int = 11, dim: int = 64) -> str:
    """DuckDB mirror of dedup.semantic_dedup(cells='hyperplane'): the SAME
    6dp-rounded plane constants embed as literals, cell = packed sign bits
    of f64 dots, in-cell pairs a<b, f64 cosine at 6dp, per-dropped-doc
    min-rep via arg_min."""
    planes = dedup.semantic_cell_planes(dim, n_planes, seed)
    cell = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(x) for x in p)}]::DOUBLE[]) > 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes)
    )
    return f"""
        WITH v AS (
          SELECT vec_id, embedding, ({cell})::BIGINT AS cell
          FROM embeddings WHERE {_dk_norm_pos('embedding')}
        ),
        p AS (
          SELECT l.vec_id AS a, r.vec_id AS b,
                 {_dk_cos('l.embedding', 'r.embedding')} AS score
          FROM v l JOIN v r ON l.cell = r.cell AND l.vec_id < r.vec_id
        )
        SELECT b AS vec_id, min(a) AS rep_id, arg_min(score, a) AS score
        FROM p WHERE score >= {threshold} GROUP BY b"""


def _gopher_sql(
    min_words: int = 50,
    max_words: int = 100_000,
    min_stopword_hits: int = 2,
) -> str:
    """DuckDB mirror of text_ops.gopher_quality_rules, parameterized on the
    thresholds the gates vary (word bounds + stop-list hits); the metric
    definitions are fixed to match the Spark expressions exactly."""
    return f"""
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 w -> w <> '') AS words,
                     list_filter(string_split(text, chr(10)),
                                 l -> trim(l) <> '') AS lines,
                     length(text) - length(replace(text, '#', ''))
                       AS hash_cnt,
                     (length(text) - length(replace(text, '...', ''))) // 3
                       + (length(text) - length(replace(text, '…', '')))
                       AS ell_cnt
              FROM documents
            ), m AS (
              SELECT doc_id,
                     CAST(len(words) AS BIGINT) AS n_words,
                     CAST(len(lines) AS BIGINT) AS n_lines,
                     coalesce(list_sum(list_transform(words,
                                                      w -> length(w))), 0)
                       AS sum_len,
                     len(list_filter(words,
                                     w -> regexp_matches(w, '[a-z]')))
                       AS alpha_words,
                     len(list_filter(lines,
                                     l -> regexp_matches(trim(l),
                                                         '^[-*•]')))
                       AS bullet_lines,
                     len(list_filter(lines,
                                     l -> regexp_matches(rtrim(l),
                                                         '(\\.\\.\\.|…)$')))
                       AS ellipsis_lines,
                     CAST(len(list_intersect(list_distinct(words),
                         ['the','be','to','of','and','that','have','with']))
                       AS BIGINT) AS stopword_hits,
                     hash_cnt, ell_cnt
              FROM base
            ), r AS (
              SELECT doc_id, n_words,
                     CASE WHEN n_words > 0
                          THEN round(sum_len * 1.0 / n_words, 6)
                     END AS mean_word_len,
                     CASE WHEN n_words > 0
                          THEN round((hash_cnt + ell_cnt) * 1.0 / n_words, 6)
                     END AS symbol_word_ratio,
                     CASE WHEN n_lines > 0
                          THEN round(bullet_lines * 1.0 / n_lines, 6)
                     END AS bullet_line_frac,
                     CASE WHEN n_lines > 0
                          THEN round(ellipsis_lines * 1.0 / n_lines, 6)
                     END AS ellipsis_line_frac,
                     CASE WHEN n_words > 0
                          THEN round(alpha_words * 1.0 / n_words, 6)
                     END AS alpha_word_frac,
                     stopword_hits
              FROM m
            )
            SELECT *, coalesce(
                     n_words BETWEEN {min_words} AND {max_words}
                     AND mean_word_len BETWEEN 3 AND 10
                     AND symbol_word_ratio <= 0.1
                     AND bullet_line_frac <= 0.9
                     AND ellipsis_line_frac <= 0.3
                     AND alpha_word_frac >= 0.8
                     AND stopword_hits >= {min_stopword_hits}, FALSE) AS gopher_ok
            FROM r
        """


def _minhash_est_sql(
    n_hashes: int = 12, bands: int = 4, source: str = "documents"
) -> str:
    """DuckDB mirror of minhash_est_pairs: same md5-slice signatures and
    banding as _minhash_reach_cte (hex-slice equality == bigint equality,
    so the agreement count matches the Spark conv()'d form exactly).
    `source` names the (doc_id, text) relation the shingles come from —
    pipeline_curate_funnel points it at the boilerplate-stripped CTE."""
    r = n_hashes // bands
    sig_cols = ", ".join(
        f"min(substring(md5('{j // 6}|' || s), {1 + 5 * (j % 6)}, 5)) AS h{j}"
        for j in range(n_hashes)
    )
    band_cols = ", ".join(
        "'" + str(b) + ":' || " + " || ".join(f"h{b * r + j}" for j in range(r))
        for b in range(bands)
    )
    agree = " + ".join(
        f"CASE WHEN sa.h{j} = sb.h{j} THEN 1 ELSE 0 END" for j in range(n_hashes)
    )
    return f"""
            WITH sigsh AS (
              SELECT doc_id, unnest(list_distinct({_DK_SHINGLES3})) AS s FROM {source}
            ), sig AS (
              SELECT doc_id, {sig_cols} FROM sigsh GROUP BY doc_id
            ), bands AS (
              SELECT doc_id, unnest([{band_cols}]) AS bucket FROM sig
            ), pairs AS (
              SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
              FROM bands l JOIN bands r ON l.bucket = r.bucket AND l.doc_id < r.doc_id
            )
            SELECT p.a, p.b, round(({agree}) / {n_hashes}.0, 6) AS est_jaccard
            FROM pairs p
            JOIN sig sa ON sa.doc_id = p.a
            JOIN sig sb ON sb.doc_id = p.b
        """


def _minhash_bucket_counts_sql(n_hashes: int = 12, bands: int = 4) -> str:
    """DuckDB mirror of lsh_bucket_counts(lsh_band_rows(...)): the same
    signature/banding CTEs as _minhash_est_sql, aggregated to one
    (bucket, cnt) row per band value. Bucket labels differ from the Spark
    side (hex slices vs decimal bigints) but the partition of rows is
    identical — slice equality == conv'd-bigint equality — so the cnt
    multiset (all the planner's quantile consumes) matches exactly."""
    r = n_hashes // bands
    sig_cols = ", ".join(
        f"min(substring(md5('{j // 6}|' || s), {1 + 5 * (j % 6)}, 5)) AS h{j}"
        for j in range(n_hashes)
    )
    band_cols = ", ".join(
        "'" + str(b) + ":' || " + " || ".join(f"h{b * r + j}" for j in range(r))
        for b in range(bands)
    )
    return f"""
            WITH sigsh AS (
              SELECT doc_id, unnest(list_distinct({_DK_SHINGLES3})) AS s FROM documents
            ), sig AS (
              SELECT doc_id, {sig_cols} FROM sigsh GROUP BY doc_id
            ), bands AS (
              SELECT doc_id, unnest([{band_cols}]) AS bucket FROM sig
            )
            SELECT bucket, count(*) AS cnt FROM bands GROUP BY bucket
    """


def _minhash_reach_cte(pre: str = "", where: str = "") -> str:
    """Shared WITH-RECURSIVE prefix: minhash band candidate pairs over
    documents and their transitive closure `reach(u, v)` — the oracle twin
    of minhash_lsh_pairs + connected_components, composed by
    dedup_clusters and leakage_safe_split. `pre` injects extra
    (non-recursive) CTEs ahead of the pipeline and `where` filters the
    documents feeding it — the hooks pipeline_curate_corpus uses to run
    the closure over the quality-filtered subset only."""
    sig_cols = ", ".join(
        f"min(substring(md5('{j // 6}|' || s), {1 + 5 * (j % 6)}, 5)) AS h{j}"
        for j in range(12)
    )
    band_cols = ", ".join(
        "'" + str(b) + ":' || " + " || ".join(f"h{b * 3 + r}" for r in range(3))
        for b in range(4)
    )
    return f"""
            WITH RECURSIVE {pre}sigsh AS (
              SELECT doc_id, unnest(list_distinct({_DK_SHINGLES3})) AS s
              FROM documents {where}
            ), sig AS (
              SELECT doc_id, {sig_cols}
              FROM sigsh GROUP BY doc_id
            ), bands AS (
              SELECT doc_id, unnest([{band_cols}]) AS bucket
              FROM sig
            ), pairs AS (
              SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
              FROM bands l JOIN bands r ON l.bucket = r.bucket AND l.doc_id < r.doc_id
            ), edges AS (
              SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs
            ), reach(u, v) AS (
              SELECT u, v FROM edges
              UNION
              SELECT u, u FROM edges
              UNION
              SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
            )
    """


def _label_prop_sql(iters: int = 3, k: int = 5) -> str:
    """DuckDB mirror of q_label_propagation: same 6dp-rounded cosine top-k
    edges as _pagerank_sql, mirrored to an undirected vote list, then the
    SAME synchronous iterations unrolled as CTEs — majority vote with
    (cnt DESC, label ASC) determinism, seeds clamped, no-labeled-neighbor
    keeps the previous label."""
    ctes = [
        f"""scored AS (
          SELECT q.vec_id AS src, e.vec_id AS dst,
                 {_dk_cos('e.embedding', 'q.embedding')} AS score
          FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
          WHERE q.vec_id < 500 AND e.vec_id < 500
            AND {_dk_norm_pos('q.embedding')} AND {_dk_norm_pos('e.embedding')}
        )""",
        f"""edges AS (
          SELECT src, dst FROM scored
          QUALIFY row_number() OVER (PARTITION BY src ORDER BY score DESC, dst) <= {k}
        )""",
        """bidir AS (
          SELECT src, dst FROM edges
          UNION ALL SELECT dst AS src, src AS dst FROM edges
        )""",
        "nodes AS (SELECT DISTINCT src AS id FROM bidir)",
        """seeds AS (
          SELECT vec_id AS id, CAST(label AS BIGINT) AS label
          FROM embeddings WHERE vec_id < 500 AND vec_id % 10 = 0
        )""",
        "l0 AS (SELECT n.id, s.label FROM nodes n LEFT JOIN seeds s ON s.id = n.id)",
    ]
    prev = "l0"
    for i in range(1, iters + 1):
        ctes.append(
            f"""v{i} AS (
              SELECT b.dst AS id, l.label, count(*) AS cnt
              FROM bidir b JOIN {prev} l ON l.id = b.src
              WHERE l.label IS NOT NULL
              GROUP BY 1, 2
            )"""
        )
        ctes.append(
            f"""c{i} AS (
              SELECT id, label FROM v{i}
              QUALIFY row_number() OVER (PARTITION BY id ORDER BY cnt DESC, label) = 1
            )"""
        )
        ctes.append(
            f"""l{i} AS (
              SELECT n.id, coalesce(s.label, c.label, p.label) AS label
              FROM nodes n
              LEFT JOIN seeds s ON s.id = n.id
              LEFT JOIN c{i} c ON c.id = n.id
              LEFT JOIN {prev} p ON p.id = n.id
            )"""
        )
        prev = f"l{i}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id AS vec_id, label FROM {prev}"
    )


def _kcore_sql(k: int = 3, tau: float = 0.3, peels: int = 12) -> str:
    """DuckDB mirror of q_knn_kcore: the same 6dp-rounded cosine threshold
    edges (both directions), then `peels` fixed degree-filter rounds
    unrolled as CTEs — peeling is monotone, so any unroll ≥ the fixpoint
    depth equals the true k-core."""
    # AS MATERIALIZED: DuckDB inlines plain CTEs, and every peel references
    # the previous edge CTE three times — un-materialized, the expansion is
    # 3^peels scans of the base join ("too many open files" long before
    # any result)
    ctes = [
        f"""e0 AS MATERIALIZED (
          SELECT a.vec_id AS u, b.vec_id AS v
          FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
          WHERE a.vec_id < 500 AND b.vec_id < 500
            AND {_dk_norm_pos('a.embedding')} AND {_dk_norm_pos('b.embedding')}
            AND {_dk_cos('a.embedding', 'b.embedding')} > {tau!r}
        )"""
    ]
    prev = "e0"
    for i in range(1, peels + 1):
        ctes.append(
            f"""k{i} AS MATERIALIZED (
              SELECT u AS id FROM {prev} GROUP BY u HAVING count(*) >= {k}
            )"""
        )
        ctes.append(
            f"""e{i} AS MATERIALIZED (
              SELECT e.u, e.v FROM {prev} e
              JOIN k{i} a ON e.u = a.id JOIN k{i} b ON e.v = b.id
            )"""
        )
        prev = f"e{i}"
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT u AS id, CAST(count(*) AS BIGINT) AS degree FROM {prev} GROUP BY u ORDER BY id"
    )


def _pagerank_sql(iters: int = 3, k: int = 5, damping: float = 0.85) -> str:
    """DuckDB mirror of q_knn_pagerank: same 6dp-rounded cosine edges
    (top-k per src, dst-asc tiebreak), then the SAME power iterations
    unrolled as CTEs — identical float literals via repr(), per-iteration
    round to 12 dp, final 6 dp."""
    teleport_num = repr(1.0 - damping)
    ctes = [
        f"""scored AS (
          SELECT q.vec_id AS src, e.vec_id AS dst,
                 {_dk_cos('e.embedding', 'q.embedding')} AS score
          FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
          WHERE q.vec_id < 500 AND e.vec_id < 500
            AND {_dk_norm_pos('q.embedding')} AND {_dk_norm_pos('e.embedding')}
        )""",
        f"""edges AS (
          SELECT src, dst FROM scored
          QUALIFY row_number() OVER (PARTITION BY src ORDER BY score DESC, dst) <= {k}
        )""",
        """nodes AS (
          SELECT DISTINCT id FROM
          (SELECT src AS id FROM edges UNION ALL SELECT dst AS id FROM edges)
        )""",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        "r0 AS (SELECT id, 1.0 / n AS rank FROM nodes CROSS JOIN nn)",
    ]
    prev = "r0"
    for i in range(1, iters + 1):
        ctes.append(
            f"""c{i} AS (
              SELECT e.dst AS id, sum(r.rank / d.deg) AS c
              FROM edges e JOIN deg d ON e.src = d.src JOIN {prev} r ON r.id = e.src
              GROUP BY e.dst
            )"""
        )
        ctes.append(
            f"""r{i} AS (
              SELECT nodes.id,
                     round({teleport_num} / n + {damping!r} * coalesce(c, 0.0), 12) AS rank
              FROM nodes CROSS JOIN nn LEFT JOIN c{i} ON nodes.id = c{i}.id
            )"""
        )
        prev = f"r{i}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id AS vec_id, round(rank, 6) AS rank FROM {prev}"
    )


def oracle_sql() -> dict[str, str]:
    cos_e_q = _dk_cos("e.embedding", "q.qv")
    d = {
        "mem_search_topk": f"""
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id, {cos_e_q} AS score
            FROM embeddings e, q
            WHERE {_dk_norm_pos('e.embedding')} AND {_dk_norm_pos('q.qv')}
            ORDER BY score DESC, e.vec_id LIMIT 10
        """,
        "mem_search_label_filter": f"""
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id, e.label, {cos_e_q} AS score
            FROM embeddings e, q
            WHERE e.label = 1 AND {_dk_norm_pos('e.embedding')} AND {_dk_norm_pos('q.qv')}
            ORDER BY score DESC, e.vec_id LIMIT 10
        """,
        "mem_search_threshold": f"""
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id, {cos_e_q} AS score
            FROM embeddings e, q
            WHERE {_dk_norm_pos('e.embedding')} AND {_dk_norm_pos('q.qv')}
              AND {cos_e_q} >= 0.15
            ORDER BY score DESC, e.vec_id LIMIT 100
        """,
        "stream_ivf_append": f"""
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id, {cos_e_q} AS score
            FROM embeddings e, q
            WHERE {_dk_norm_pos('e.embedding')} AND {_dk_norm_pos('q.qv')}
            ORDER BY score DESC, e.vec_id LIMIT 12
        """,
        "mem_delete_anti_join": """
            SELECT vec_id, label FROM embeddings
            WHERE vec_id NOT IN (SELECT vec_id FROM embeddings WHERE vec_id % 10 = 0)
        """,
        "upsert_latest_by_key": """
            SELECT user_id, event_id, event_type, round(value, 6) AS value
            FROM events
            QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        """,
        "versioned_merge_pruned": """
            WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders),
            upd AS (
                SELECT o.o_orderkey, o.o_custkey,
                       o.o_totalprice + 1000.0 AS o_totalprice,
                       'U' AS o_orderstatus
                FROM orders o, mx
                WHERE o.o_orderkey % 7 = 3 AND o.o_orderkey <= mx.mk // 4
            ),
            ins AS (
                SELECT o.o_orderkey + mx.mk + 1 AS o_orderkey, o.o_custkey,
                       o.o_totalprice, 'N' AS o_orderstatus
                FROM orders o, mx WHERE o.o_orderkey % 419 = 0
            ),
            kept AS (
                SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, o.o_orderstatus
                FROM orders o, mx
                WHERE NOT (o.o_orderkey % 7 = 3 AND o.o_orderkey <= mx.mk // 4)
            ),
            merged AS (
                SELECT * FROM kept UNION ALL SELECT * FROM upd
                UNION ALL SELECT * FROM ins
            )
            SELECT m.o_orderkey, m.o_custkey, m.o_totalprice, m.o_orderstatus
            FROM merged m, mx
            WHERE NOT (m.o_orderkey % 97 = 0 AND m.o_orderkey > (mx.mk * 3) // 4)
            ORDER BY m.o_orderkey
        """,
        "versioned_time_travel": """
            SELECT 'seed' AS variant, o_orderkey, o_custkey, o_totalprice, o_orderstatus
            FROM orders
            UNION ALL
            SELECT 'now' AS variant, o_orderkey, o_custkey,
                   CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 100.0
                        ELSE o_totalprice END AS o_totalprice,
                   o_orderstatus
            FROM orders WHERE o_orderkey % 5 <> 0
            ORDER BY variant, o_orderkey
        """,
        "versioned_schema_evolution": """
            WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders)
            SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_category
            FROM orders
            UNION ALL
            SELECT o.o_orderkey + mx.mk + 1 AS o_orderkey, o.o_totalprice,
                   CASE WHEN o.o_totalprice > 100000.0 THEN 'big' ELSE 'small' END AS o_category
            FROM orders o, mx WHERE o.o_orderkey % 3 = 0
            ORDER BY o_orderkey
        """,
        "versioned_optimize_read": """
            WITH mx AS (SELECT max(event_id) AS mk FROM events)
            SELECT e.event_id, e.user_id, e.value
            FROM events e, mx
            WHERE e.event_id >= mx.mk // 4 AND e.event_id <= mx.mk // 2
            ORDER BY e.event_id
        """,
        "versioned_cdf_refresh": """
            WITH final AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 50 = 0 AND doc_id < 250
                            THEN text || ' refreshed' ELSE text END AS text
                FROM documents
            ),
            tok AS (SELECT unnest(string_split(lower(text), ' ')) AS token FROM final)
            SELECT token, count(*) AS cnt FROM tok WHERE token <> ''
            GROUP BY token ORDER BY token
        """,
        "stream_cdc_merge": """
            WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders),
            upd AS (
                SELECT o.o_orderkey, o.o_custkey,
                       o.o_totalprice + 1000.0 AS o_totalprice,
                       'U' AS o_orderstatus
                FROM orders o WHERE o.o_orderkey % 7 = 3
            ),
            ins AS (
                SELECT o.o_orderkey + mx.mk + 1 AS o_orderkey, o.o_custkey,
                       o.o_totalprice, 'N' AS o_orderstatus
                FROM orders o, mx WHERE o.o_orderkey % 419 = 0
            ),
            kept AS (
                SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
                FROM orders WHERE o_orderkey % 7 <> 3
            ),
            merged AS (
                SELECT * FROM kept UNION ALL SELECT * FROM upd
                UNION ALL SELECT * FROM ins
            )
            SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
            FROM merged ORDER BY o_orderkey
        """,
        "mmr_rerank": _mmr_sql(10, 0.7, 50),
        "quality_exact_quantiles": """
            WITH qs AS (
                SELECT lang, count(n_chars)::BIGINT AS n_values,
                       quantile_cont(n_chars, 0.25) AS q25,
                       quantile_cont(n_chars, 0.5)  AS q50,
                       quantile_cont(n_chars, 0.75) AS q75,
                       quantile_cont(n_chars, 0.9)  AS q90
                FROM documents GROUP BY lang
            ),
            longf AS (
                SELECT lang, 0.25::DOUBLE AS p, round(q25, 6) AS quantile_value, n_values FROM qs
                UNION ALL SELECT lang, 0.5::DOUBLE,  round(q50, 6), n_values FROM qs
                UNION ALL SELECT lang, 0.75::DOUBLE, round(q75, 6), n_values FROM qs
                UNION ALL SELECT lang, 0.9::DOUBLE,  round(q90, 6), n_values FROM qs
            )
            SELECT v.variant, l.lang, l.p, l.quantile_value, l.n_values
            FROM longf l, (VALUES ('agg'), ('ranked')) v(variant)
            ORDER BY v.variant, l.lang, l.p
        """,
        "doc_quantile_buckets": """
            WITH e AS (
                SELECT quantile_cont(n_chars, 0.25) AS e1,
                       quantile_cont(n_chars, 0.5)  AS e2,
                       quantile_cont(n_chars, 0.75) AS e3
                FROM documents
            )
            SELECT ((n_chars::DOUBLE > e1)::INT + (n_chars::DOUBLE > e2)::INT
                    + (n_chars::DOUBLE > e3)::INT)::BIGINT AS bucket,
                   count(*) AS n,
                   round(sum(n_chars::DOUBLE) / count(*), 6) AS mean_value
            FROM documents, e
            WHERE n_chars IS NOT NULL
            GROUP BY bucket ORDER BY bucket
        """,
        "events_value_histogram": """
            SELECT event_type, CAST(floor(value / 20.0) AS BIGINT) AS bin,
                   count(*) AS n
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type, bin ORDER BY event_type, bin
        """,
        "weighted_doc_sample": """
            WITH tot AS (SELECT sum(n_chars) AS w FROM documents WHERE n_chars > 0)
            SELECT doc_id, lang, n_chars
            FROM documents, tot
            WHERE n_chars > 0
              AND (('0x' || substring(md5('wsample|' || doc_id::VARCHAR), 1, 15))::BIGINT)::DOUBLE
                  / 1152921504606846976.0
                  < least(100 * n_chars::DOUBLE / tot.w::DOUBLE, 1.0)
            ORDER BY doc_id
        """,
        "events_pivot_matrix": """
            SELECT event_type,
        """ + ",\n".join(
            f"                   sum(CASE WHEN CAST(floor(value / 50.0) AS INT) = {i} "
            f"THEN 1 ELSE 0 END)::BIGINT AS b{i}"
            for i in range(10)
        ) + """
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "ngram_containment": f"""
            WITH sh0 AS (
              SELECT doc_id AS did, unnest(list_distinct({_DK_SHINGLES3})) AS s FROM documents
            ), sh AS (
              SELECT did, ('0x' || substring(md5(s), 1, 15))::BIGINT AS sh FROM sh0
            ), sizes AS (
              SELECT did, count(*) AS sz FROM sh GROUP BY did
            ), inter AS (
              SELECT l.did AS a, r.did AS b, count(*) AS inter
              FROM sh l JOIN sh r ON l.sh = r.sh AND l.did < r.did
              GROUP BY l.did, r.did
            ), scored AS (
              SELECT a, b, inter, sa.sz AS sza, sb.sz AS szb
              FROM inter JOIN sizes sa ON sa.did = a JOIN sizes sb ON sb.did = b
            ), bothdir AS (
              SELECT a AS src, b AS dst, round(inter / sza, 6) AS containment FROM scored
              UNION ALL
              SELECT b AS src, a AS dst, round(inter / szb, 6) AS containment FROM scored
            )
            SELECT src, dst, containment FROM bothdir
            WHERE containment >= 0.3 ORDER BY src, dst
        """,
        "langid_confusion": f"""
            WITH h AS (SELECT doc_id, lang, {_lang_hits_cols()} FROM documents),
            p AS (SELECT lang, {_lang_case()} AS pred_lang FROM h)
            SELECT lang, pred_lang, count(*)::BIGINT AS n
            FROM p GROUP BY lang, pred_lang ORDER BY lang, pred_lang
        """,
        "jl_exact_ann": f"""
            WITH m(mat) AS (SELECT {_jl_matrix_sql(64, 16, 42)}),
            proj AS (
              SELECT e.vec_id,
                     list_transform(generate_series(1, 16),
                       j -> round(list_sum(list_transform(generate_series(1, 64),
                             i -> e.embedding[i]::DOUBLE * m.mat[i][j])), 6)) AS p
              FROM embeddings e, m
            ),
            q AS (SELECT vec_id AS qid, p AS qp FROM proj WHERE vec_id < 8),
            cand AS (
              SELECT q.qid, c.vec_id,
                     round(list_dot_product(c.p, q.qp) /
                           (sqrt(list_dot_product(c.p, c.p)) * sqrt(list_dot_product(q.qp, q.qp))), 6) AS pscore
              FROM proj c, q
              WHERE list_dot_product(c.p, c.p) > 0 AND list_dot_product(q.qp, q.qp) > 0
            ),
            top20 AS (
              SELECT qid, vec_id FROM cand
              QUALIFY row_number() OVER (PARTITION BY qid ORDER BY pscore DESC, vec_id) <= 20
            ),
            rerank AS (
              SELECT t.qid, t.vec_id, {_dk_cos('e.embedding', 'qe.embedding')} AS score
              FROM top20 t
              JOIN embeddings e ON e.vec_id = t.vec_id
              JOIN embeddings qe ON qe.vec_id = t.qid
            )
            SELECT qid, vec_id, score FROM rerank
            QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) <= 5
            ORDER BY qid, score DESC, vec_id
        """,
        "session_pagination": """
            SELECT o_orderkey, o_orderdate FROM orders
            ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 50 OFFSET 10
        """,
        "session_touch": """
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 100 = 0 THEN TIMESTAMP '2026-08-13 00:00:00'
                        ELSE o_orderdate END AS updated_at
            FROM orders
        """,
        "fk_semi_join": """
            SELECT o_orderkey, o_custkey FROM orders o
            WHERE EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING')
        """,
        "fk_anti_rejects": """
            SELECT o_orderkey, o_custkey FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey AND c.c_acctbal >= 0)
        """,
        "json_metadata_extract": """
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
            FROM events
            WHERE json_extract_string(props, '$.k') IS NOT NULL
              AND CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
        """,
        "projection_validate": """
            SELECT doc_id, lang, n_chars FROM documents WHERE length(trim(text)) > 0
        """,
        "distance_metrics": f"""
            SELECT e1.vec_id AS a, e2.vec_id AS b,
                   {_dk_cos('e1.embedding', 'e2.embedding')} AS cosine,
                   round(list_dot_product(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]), 6) AS dot,
                   round(sqrt(list_sum(list_transform(generate_series(1, len(e1.embedding)),
                         i -> (e1.embedding[i]::DOUBLE - e2.embedding[i]::DOUBLE) ^ 2))), 6) AS euclid
            FROM embeddings e1 JOIN embeddings e2 ON e2.vec_id = e1.vec_id + 1
        """,
        "knn_join": f"""
            WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
            scored AS (
              SELECT q.qid, e.vec_id, {cos_e_q} AS score
              FROM embeddings e, q
              WHERE {_dk_norm_pos('e.embedding')} AND {_dk_norm_pos('q.qv')}
            )
            SELECT qid, vec_id, score FROM scored
            QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) <= 5
        """,
        "dedup_exact": f"""
            SELECT min(doc_id) AS doc_id, md5({_DK_NORM}) AS fp, count(*) AS dup_count
            FROM documents GROUP BY fp
        """,
        "dedup_minhash_lsh": _minhash_sql(12, 4),
        "dedup_ngram_jaccard": f"""
            WITH sh0 AS (
              SELECT doc_id AS did, unnest(list_distinct({_DK_SHINGLES3})) AS s FROM documents
            ), sh AS (
              SELECT did, ('0x' || substring(md5(s), 1, 15))::BIGINT AS sh FROM sh0
            ), sizes AS (
              SELECT did, count(*) AS sz FROM sh GROUP BY did
            ), inter AS (
              SELECT l.did AS a, r.did AS b, count(*) AS inter
              FROM sh l JOIN sh r ON l.sh = r.sh AND l.did < r.did
              GROUP BY l.did, r.did
            )
            SELECT a, b, round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
            FROM inter JOIN sizes sa ON sa.did = a JOIN sizes sb ON sb.did = b
            WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= 0.2
        """,
        "centroid_classifier": """
            WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
            w0 AS (
              SELECT d.i,
                     round(coalesce(avg(CASE WHEN e.label = 1 THEN e.embedding[d.i]::DOUBLE END), 0)
                         - coalesce(avg(CASE WHEN e.label = 0 THEN e.embedding[d.i]::DOUBLE END), 0), 6) AS w
              FROM embeddings e CROSS JOIN dims d
              GROUP BY d.i
            ),
            wl AS (SELECT list(w ORDER BY i) AS wv FROM w0)
            SELECT e.vec_id,
                   round(1.0 / (1.0 + exp(-round(list_sum(list_transform(generate_series(1, 64),
                         i -> e.embedding[i]::DOUBLE * wv[i])), 6))), 6) AS score
            FROM embeddings e CROSS JOIN wl
        """,
        "kmeans_assign": """
            SELECT e.vec_id, c.vec_id::INT AS cell
            FROM embeddings e JOIN embeddings c ON c.vec_id < 8
            QUALIFY row_number() OVER (
              PARTITION BY e.vec_id
              ORDER BY round(list_sum(list_transform(generate_series(1, len(e.embedding)),
                    i -> (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
                       * (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE))), 6),
                c.vec_id
            ) = 1
        """,
        "diversity_sample_seeded": """
            WITH assigned AS (
              SELECT e.vec_id, c.vec_id::INT AS cell
              FROM embeddings e JOIN embeddings c ON c.vec_id < 8
              QUALIFY row_number() OVER (
                PARTITION BY e.vec_id
                ORDER BY round(list_sum(list_transform(generate_series(1, len(e.embedding)),
                      i -> (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
                         * (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE))), 6),
                  c.vec_id
              ) = 1
            )
            SELECT vec_id, cell FROM assigned
            QUALIFY row_number() OVER (
              PARTITION BY cell ORDER BY md5(vec_id::VARCHAR), vec_id
            ) <= 10
            ORDER BY vec_id
        """,
        # sequence_packing: the per-bucket first-fit-decreasing loop
        # (packing.pack_sequences) replayed as a recursive CTE — each
        # bucket's row carries the remaining-capacity list `bins` and
        # advances one doc per step (first fit = first list position whose
        # remaining capacity holds the doc; no fit = append a new bin,
        # oversize docs become immediately-full singletons), exactly the
        # Python loop. bin_id = (bucket << 32) | local index.
        "sequence_packing": r"""
            WITH RECURSIVE src AS (
              SELECT doc_id AS id,
                     len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS tok,
                     ('0x' || substring(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 8 AS bucket
              FROM documents
            ),
            q AS (
              SELECT bucket,
                     list(struct_pack(id := id, tok := tok) ORDER BY tok DESC, id ASC) AS ds
              FROM src GROUP BY bucket
            ),
            pk AS (
              SELECT bucket, ds, 0::BIGINT AS pos, []::BIGINT[] AS bins,
                     NULL::BIGINT AS a_id, NULL::BIGINT AS a_tok, NULL::BIGINT AS a_bin
              FROM q
              UNION ALL
              SELECT bucket, ds, pos + 1,
                     CASE WHEN fit > 0
                          THEN bins[1:fit-1] || [bins[fit] - t] || bins[fit+1:len(bins)]
                          ELSE bins || [greatest(0, 256 - t)] END,
                     ds[pos+1].id, t,
                     CASE WHEN fit > 0 THEN fit - 1 ELSE len(bins) END
              FROM (
                SELECT bucket, ds, pos, bins,
                       ds[pos+1].tok AS t,
                       coalesce(list_position(
                         list_transform(bins, r -> r >= ds[pos+1].tok), true), 0) AS fit
                FROM pk WHERE pos < len(ds)
              )
            )
            SELECT bucket * 4294967296 + a_bin AS bin_id,
                   count(*) AS n_docs, sum(a_tok)::BIGINT AS total_tokens,
                   round(sum(a_tok) / 256.0, 6) AS fill_ratio
            FROM pk WHERE a_id IS NOT NULL
            GROUP BY 1
        """,
        "knn_self_all_pairs_expr": f"""
            WITH sl AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500),
            q AS (SELECT vec_id AS qid, embedding AS qv FROM sl),
            scored AS (
              SELECT q.qid, e.vec_id, {_dk_cos('e.embedding', 'q.qv')} AS score
              FROM sl e, q
              WHERE {_dk_norm_pos('e.embedding')} AND {_dk_norm_pos('q.qv')}
            )
            SELECT qid, vec_id, score FROM scored
            QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) <= 3
        """,
        "dedup_simhash": _simhash_sql(16),
        "embedding_neardup": f"""
            SELECT l.vec_id AS a, r.vec_id AS b,
                   {_dk_cos('l.embedding', 'r.embedding')} AS score
            FROM embeddings l JOIN embeddings r ON l.vec_id < r.vec_id
            WHERE {_dk_norm_pos('l.embedding')} AND {_dk_norm_pos('r.embedding')}
              AND {_dk_cos('l.embedding', 'r.embedding')} >= 0.4
        """,
        "semantic_dedup": _semantic_dedup_sql(threshold=0.4, n_planes=4, seed=11, dim=64),
        "dsir_select": _dsir_sql(k=100, n_buckets=1024, seed=97),
        "dsir_weights": _dsir_sql(n_buckets=1024, weights_only=True),
        "text_lang_id": _lang_case_sql(),
        "text_quality_tokens": rf"""
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tokens_ws,
                   len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))::BIGINT AS n_tokens_bpe,
                   {_DK_QUALITY} AS quality
            FROM documents
        """,
        "topk_per_group": """
            SELECT l_suppkey, l_orderkey, l_linenumber, revenue FROM (
              SELECT l_suppkey, l_orderkey, l_linenumber,
                     round(l_extendedprice * (1 - l_discount), 4) AS revenue
              FROM lineitem
            )
            QUALIFY row_number() OVER (
              PARTITION BY l_suppkey ORDER BY revenue DESC, l_orderkey, l_linenumber) <= 3
        """,
        "pipeline_clean_corpus": rf"""
            WITH valid AS (
              SELECT doc_id, text FROM documents WHERE length(trim(text)) > 0
            ), scored AS (
              SELECT doc_id, text, {_DK_QUALITY} AS quality, md5({_DK_NORM}) AS fp
              FROM valid
            ), surv AS (
              SELECT doc_id, text, quality FROM scored
              WHERE quality >= 0.5
              QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
            ), h AS (
              SELECT doc_id, quality,
                     len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tokens,
                     {_lang_hits_cols()}
              FROM surv
            )
            SELECT doc_id, {_lang_case()} AS pred_lang, n_tokens, quality FROM h
        """,
        "doc_fingerprint": f"""
            SELECT doc_id, md5({_DK_NORM}) AS fp FROM documents
        """,
        "decontaminate_ngram": f"""
            WITH test_sh AS (
              SELECT DISTINCT unnest(list_distinct({_DK_SHINGLES3})) AS sh
              FROM documents WHERE doc_id % 17 = 0
            ), train_sh AS (
              SELECT doc_id, unnest(list_distinct({_DK_SHINGLES3})) AS sh
              FROM documents WHERE doc_id % 17 <> 0
            )
            SELECT doc_id, count(*) AS n_overlap
            FROM train_sh JOIN test_sh USING (sh)
            GROUP BY doc_id
        """,
        "word_freq_topk": """
            SELECT token, count(*) AS freq
            FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
            WHERE token <> ''
            GROUP BY token
            ORDER BY freq DESC, token ASC
            LIMIT 100
        """,
        "pii_scan": r"""
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
                   len(regexp_extract_all(text,
                       '\+?[0-9][0-9()\- ]{7,}[0-9]')) AS n_phones,
                   regexp_replace(regexp_replace(text,
                       '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
                       '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS redacted
            FROM documents
        """,
        "repetition_score": """
            SELECT doc_id,
                   len(string_split(lower(text), ' ')) AS n_tokens,
                   CASE WHEN len(string_split(lower(text), ' ')) > 0
                        THEN round(1.0 - len(list_distinct(string_split(lower(text), ' ')))
                                   * 1.0 / len(string_split(lower(text), ' ')), 6)
                        ELSE 0.0 END AS repetition
            FROM documents
        """,
        "stratified_sample": """
            SELECT doc_id, lang FROM documents
            QUALIFY row_number() OVER (
                PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id) <= 20
        """,
        "quality_quantile_filter": f"""
            WITH scored AS (SELECT doc_id, {_DK_QUALITY} AS quality FROM documents),
            thr AS (SELECT round(quantile_cont(quality, 0.25), 6) AS t FROM scored)
            SELECT doc_id, quality FROM scored, thr WHERE quality >= t
        """,
        "events_window_agg": """
            SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS ws,
                   event_type, count(*) AS n, round(sum(value), 6) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "events_sessionize": """
            WITH lagged AS (
              SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
                     lag(CAST(floor(epoch(ts)) AS BIGINT))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_es
              FROM events
            ), flagged AS (
              SELECT user_id, event_id, es,
                     CASE WHEN prev_es IS NOT NULL AND es - prev_es > 1800 THEN 1 ELSE 0 END AS new_sess
              FROM lagged
            ), numbered AS (
              SELECT user_id, es,
                     sum(new_sess) OVER (PARTITION BY user_id ORDER BY es, event_id
                                         ROWS UNBOUNDED PRECEDING) AS sess_idx
              FROM flagged
            )
            SELECT user_id, CAST(min(es) AS BIGINT) AS sess_start, count(*) AS n_events
            FROM numbered GROUP BY user_id, sess_idx
        """,
        "doc_chunking": """
            WITH c AS (
              SELECT doc_id,
                     list_transform(
                       generate_series(1,
                         greatest(1, len(string_split(text, ' ')) - 64 + 48), 48),
                       s -> array_to_string(string_split(text, ' ')[s:s+63], ' ')
                     ) AS chunks
              FROM documents
            )
            SELECT doc_id,
                   CAST(generate_subscripts(chunks, 1) - 1 AS BIGINT) AS chunk_idx,
                   md5(unnest(chunks)) AS chunk_md5,
                   len(string_split(unnest(chunks), ' '))::BIGINT AS n_chunk_tokens
            FROM c
        """,
        "deterministic_sample": """
            SELECT doc_id, lang, source FROM documents
            WHERE ('0x' || substring(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 30
        """,
        "embedding_stats": """
            SELECT label, count(*) AS n_vectors,
                   round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS avg_norm
            FROM embeddings GROUP BY label
        """,
        "docs_with_embeddings": """
            SELECT d.doc_id, d.lang, e.label, d.n_chars
            FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        """,
        "distinct_users_per_type": """
            SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
            FROM events GROUP BY event_type
        """,
        "users_purchase_no_error": """
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-04'
            EXCEPT
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-04'
        """,
        "bm25_search": f"""
            WITH tokens AS (
              SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
            ), tf AS (
              SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY 1, 2
            ), dl AS (
              SELECT doc_id, count(*) AS dl FROM tokens GROUP BY 1
            ), stats AS (
              SELECT (SELECT count(*) FROM documents) AS n_docs,
                     (SELECT avg(dl) FROM dl) AS avgdl
            ), dfreq AS (
              SELECT term, count(*) AS df FROM tf GROUP BY 1
            )
            SELECT tf.doc_id,
                   round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                         * tf * (1.2 + 1)
                         / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS bm25
            FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term), stats
            WHERE term IN ({", ".join(repr(t) for t in BM25_QUERY_TERMS)})
            GROUP BY tf.doc_id
            ORDER BY bm25 DESC, tf.doc_id LIMIT 10
        """,
        "hybrid_search_rrf": f"""
            WITH tokens AS (
              SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
            ), tf AS (
              SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY 1, 2
            ), dl AS (
              SELECT doc_id, count(*) AS dl FROM tokens GROUP BY 1
            ), stats AS (
              SELECT (SELECT count(*) FROM documents) AS n_docs,
                     (SELECT avg(dl) FROM dl) AS avgdl
            ), dfreq AS (
              SELECT term, count(*) AS df FROM tf GROUP BY 1
            ), bm AS (
              SELECT tf.doc_id,
                     round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                           * tf * (1.2 + 1)
                           / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS bm25
              FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term), stats
              WHERE term IN ({", ".join(repr(t) for t in BM25_QUERY_TERMS)})
              GROUP BY tf.doc_id
            ), kw AS (
              SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
              FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id LIMIT 20) kb
            ), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            vs AS (
              SELECT e.vec_id AS doc_id, {cos_e_q} AS score
              FROM embeddings e, q
              WHERE {_dk_norm_pos('e.embedding')} AND {_dk_norm_pos('q.qv')}
            ), vec AS (
              SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
              FROM (SELECT * FROM vs ORDER BY score DESC, doc_id LIMIT 20) vb
            )
            SELECT doc_id, round(sum(CAST(1.0 AS DOUBLE) / (60 + rnk)), 9) AS rrf
            FROM (SELECT doc_id, rnk FROM kw UNION ALL SELECT doc_id, rnk FROM vec) u
            GROUP BY doc_id
            ORDER BY rrf DESC, doc_id LIMIT 10
        """,
        "quantized_search": f"""
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            mx AS (
              SELECT vec_id,
                     embedding,
                     list_max(list_transform(embedding, x -> abs(x))) AS maxabs
              FROM embeddings
            ), dq AS (
              SELECT vec_id,
                     list_transform(embedding, x ->
                       ((CASE WHEN maxabs > 0
                              THEN CAST(round(x::DOUBLE / maxabs::DOUBLE * 127) AS TINYINT)
                              ELSE CAST(0 AS TINYINT) END)::FLOAT
                        * (maxabs::DOUBLE / 127)::FLOAT)::FLOAT) AS deq
              FROM mx
            )
            SELECT d.vec_id, {_dk_cos('d.deq', 'q.qv')} AS score
            FROM dq d, q
            WHERE {_dk_norm_pos('d.deq')} AND {_dk_norm_pos('q.qv')}
            ORDER BY score DESC, d.vec_id LIMIT 10
        """,
        "bq_neardup": """
            WITH base AS (
              SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 = 0
            ), jit AS (
              SELECT vec_id + 1000000 AS vec_id,
                     list_transform(embedding, x -> CAST(x + 0.001 AS FLOAT)) AS embedding
              FROM base
            ), allv AS (
              SELECT vec_id, embedding FROM embeddings
              UNION ALL SELECT vec_id, embedding FROM jit
            ), pos AS (
              SELECT vec_id, embedding, UNNEST(range(len(embedding))) AS i FROM allv
            ), words AS MATERIALIZED (
              SELECT vec_id, i // 32 AS w,
                     CAST(SUM(CASE WHEN embedding[i + 1] > 0
                                   THEN CAST(pow(2, 31 - (i % 32)) AS BIGINT)
                                   ELSE 0 END) AS BIGINT) AS word
              FROM pos GROUP BY vec_id, i // 32
            ), bs AS (SELECT UNNEST(generate_series(0, 7)) AS band
            ), bandv AS MATERIALIZED (
              SELECT vec_id, band,
                     (word >> (24 - 8 * (band % 4))) & 255 AS val
              FROM words JOIN bs ON words.w = bs.band // 4
            ), cand AS (
              SELECT DISTINCT x.vec_id AS u, y.vec_id AS v
              FROM bandv x JOIN bandv y
                ON x.band = y.band AND x.val = y.val AND x.vec_id < y.vec_id
            ), ham AS (
              SELECT c.u, c.v,
                     CAST(SUM(bit_count(xor(wu.word, wv.word))) AS BIGINT) AS hamming
              FROM cand c
              JOIN words wu ON wu.vec_id = c.u
              JOIN words wv ON wv.vec_id = c.v AND wv.w = wu.w
              GROUP BY c.u, c.v
            )
            SELECT u, v, hamming FROM ham WHERE hamming <= 7 ORDER BY u, v
        """,
        "bq_ann": """
            WITH pos AS (
              SELECT vec_id, embedding, UNNEST(range(len(embedding))) AS i FROM embeddings
            ), words AS (
              SELECT vec_id, i // 32 AS w,
                     CAST(SUM(CASE WHEN embedding[i + 1] > 0
                                   THEN CAST(pow(2, 31 - (i % 32)) AS BIGINT)
                                   ELSE 0 END) AS BIGINT) AS word
              FROM pos GROUP BY vec_id, i // 32
            ), ham AS (
              SELECT v.vec_id, CAST(SUM(bit_count(xor(v.word, q.word))) AS BIGINT) AS hamming
              FROM words v JOIN (SELECT w, word FROM words WHERE vec_id = 0) q USING (w)
              GROUP BY v.vec_id
            )
            SELECT vec_id, hamming FROM ham ORDER BY hamming, vec_id LIMIT 10
        """,
        "bq_ann_rerank": f"""
            WITH pos AS (
              SELECT vec_id, embedding, UNNEST(range(len(embedding))) AS i FROM embeddings
            ), words AS (
              SELECT vec_id, i // 32 AS w,
                     CAST(SUM(CASE WHEN embedding[i + 1] > 0
                                   THEN CAST(pow(2, 31 - (i % 32)) AS BIGINT)
                                   ELSE 0 END) AS BIGINT) AS word
              FROM pos GROUP BY vec_id, i // 32
            ), ham AS (
              SELECT v.vec_id, CAST(SUM(bit_count(xor(v.word, q.word))) AS BIGINT) AS hamming
              FROM words v JOIN (SELECT w, word FROM words WHERE vec_id = 0) q USING (w)
              GROUP BY v.vec_id
            ), cand AS (
              SELECT vec_id FROM ham ORDER BY hamming, vec_id LIMIT 40
            ), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id, {_dk_cos('e.embedding', 'q.qv')} AS score
            FROM embeddings e JOIN cand USING (vec_id), q
            WHERE {_dk_norm_pos('e.embedding')} AND {_dk_norm_pos('q.qv')}
            ORDER BY score DESC, e.vec_id LIMIT 10
        """,
        "ts_gapfill_interp": """
            WITH obs AS (
              SELECT event_type,
                     CAST(floor(floor(epoch(ts)) / 900) * 900 AS BIGINT) AS bucket,
                     CAST(count(value) AS DOUBLE) AS v,
                     count(*) AS n_obs
              FROM events GROUP BY event_type, 2
            ), bounds AS (
              SELECT event_type, min(bucket) AS mn, max(bucket) AS mx FROM obs GROUP BY event_type
            ), grid AS (
              SELECT event_type, UNNEST(range(mn, mx + 900, 900)) AS bucket FROM bounds
            ), filled AS (
              SELECT g.event_type, g.bucket, o.v, coalesce(o.n_obs, 0) AS n_obs
              FROM grid g LEFT JOIN obs o USING (event_type, bucket)
            ), bounded AS (
              SELECT *,
                last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
                last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
                  OVER (PARTITION BY event_type ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
                first_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bucket
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
                first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
                  OVER (PARTITION BY event_type ORDER BY bucket
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
              FROM filled
            )
            SELECT event_type, bucket,
                   round(CASE WHEN v IS NOT NULL THEN v
                              WHEN pv IS NOT NULL AND nv IS NOT NULL
                                THEN pv + ((nv - pv) * (CAST(bucket - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE)))
                              ELSE coalesce(pv, nv) END, 6) AS value_filled,
                   (v IS NULL) AS is_gap,
                   CAST(n_obs AS BIGINT) AS n_obs
            FROM bounded ORDER BY event_type, bucket
        """,
        "mutual_knn": f"""
            WITH sub AS (
              SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
            ), pairs AS (
              SELECT a.vec_id AS u, b.vec_id AS v,
                     {_dk_cos('a.embedding', 'b.embedding')} AS score
              FROM sub a, sub b
              WHERE {_dk_norm_pos('a.embedding')} AND {_dk_norm_pos('b.embedding')}
            ), ranked AS (
              SELECT u, v, score,
                     row_number() OVER (PARTITION BY u ORDER BY score DESC, v) AS rn
              FROM pairs
            ), edges AS (
              SELECT u, v, score FROM ranked WHERE rn <= 6 AND u <> v
            )
            SELECT e.u, e.v, e.score
            FROM edges e JOIN edges r ON e.u = r.v AND e.v = r.u
            WHERE e.u < e.v
            ORDER BY e.u, e.v
        """,
        "rolling_series_stats": """
            WITH obs AS (
              SELECT event_type,
                     CAST(floor(floor(epoch(ts)) / 3600) * 3600 AS BIGINT) AS bucket,
                     CAST(count(value) AS DOUBLE) AS v
              FROM events GROUP BY event_type, 2
            ), framed AS (
              -- mirror the Spark plan: stats fold over the frame's SORTED
              -- array (windowed sliding sums drift engine-specifically)
              SELECT event_type, bucket, v,
                     list_sort(list(v) OVER (PARTITION BY event_type ORDER BY bucket
                       ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)) AS arr
              FROM obs
            ), stats AS (
              SELECT event_type, bucket, v, arr,
                     len(arr) AS n,
                     list_aggregate(arr, 'sum') AS s,
                     list_aggregate(list_transform(arr, x -> x * x), 'sum') AS ssq
              FROM framed
            )
            SELECT event_type, bucket, v,
                   round(s / n, 6) AS roll_mean,
                   round(CASE WHEN n % 2 = 1 THEN arr[n // 2 + 1]
                              ELSE (arr[n // 2] + arr[n // 2 + 1]) / 2.0 END, 6) AS roll_median,
                   round(CASE WHEN n > 1
                              THEN sqrt(greatest(0.0, (ssq - (s * s) / n) / (n - 1)))
                         END, 6) AS roll_std,
                   CAST(n AS BIGINT) AS roll_n
            FROM stats
            ORDER BY event_type, bucket
        """,
        "semantic_decontaminate": f"""
            WITH test AS (SELECT embedding FROM embeddings WHERE label = 9),
                 train AS (SELECT vec_id, embedding FROM embeddings
                           WHERE label <> 9 AND vec_id % 2 = 0),
            sims AS (
              SELECT t.vec_id, {_dk_cos('t.embedding', 's.embedding')} AS sim
              FROM train t, test s
              WHERE {_dk_norm_pos('t.embedding')} AND {_dk_norm_pos('s.embedding')}
            )
            SELECT vec_id, max(sim) AS max_test_sim FROM sims GROUP BY vec_id
            HAVING max(sim) > 0.3 ORDER BY vec_id
        """,
        "dedup_clusters": _minhash_reach_cte() + """
            SELECT min_v AS component, count(*) AS cluster_size FROM (
              SELECT u, min(v) AS min_v FROM reach GROUP BY u
            ) GROUP BY min_v
        """,
        "webdataset_roundtrip": """
            SELECT doc_id, text, n_chars FROM documents
        """,
        "minhash_est_pairs": _minhash_est_sql(12, 4),
        "minhash_calibration": f"""
            WITH e AS ({_minhash_est_sql(12, 4)}),
            sets AS (
              SELECT doc_id, list_distinct({_DK_SHINGLES3}) AS shs FROM documents
            ), px AS (
              SELECT e.est_jaccard,
                     round(len(list_intersect(sa.shs, sb.shs)) * 1.0
                           / (len(sa.shs) + len(sb.shs)
                              - len(list_intersect(sa.shs, sb.shs))), 6) AS exact
              FROM e
              JOIN sets sa ON sa.doc_id = e.a
              JOIN sets sb ON sb.doc_id = e.b
            )
            SELECT est_jaccard, count(*) AS n_pairs,
                   round(avg(exact), 6) AS mean_exact,
                   min(exact) AS min_exact, max(exact) AS max_exact
            FROM px GROUP BY est_jaccard
        """,
        "skew_report": """
            WITH rep AS (
              SELECT 'event_type' AS key_name, event_type::VARCHAR AS k,
                     cnt, total, n_keys, rnk FROM (
                SELECT event_type, count(*) AS cnt,
                       sum(count(*)) OVER () AS total,
                       count(*) OVER () AS n_keys,
                       row_number() OVER (ORDER BY count(*) DESC, event_type)
                         AS rnk
                FROM events GROUP BY event_type)
              UNION ALL
              SELECT 'user_id', user_id::VARCHAR, cnt, total, n_keys, rnk
              FROM (
                SELECT user_id, count(*) AS cnt,
                       sum(count(*)) OVER () AS total,
                       count(*) OVER () AS n_keys,
                       row_number() OVER (ORDER BY count(*) DESC, user_id)
                         AS rnk
                FROM events GROUP BY user_id)
            )
            SELECT key_name, k AS key, cnt,
                   round(cnt * 1.0 / total, 6) AS frac,
                   round(cnt * 1.0 / total * n_keys, 6) AS skew_factor
            FROM rep WHERE rnk <= 10
        """,
        "skew_salted_targeted": """
            SELECT event_type, length(event_type) AS type_len,
                   count(*) AS cnt
            FROM events GROUP BY event_type
        """,
        "asof_global": """
            WITH l AS (
              SELECT event_id, ts FROM events WHERE event_type = 'purchase'
            ),
            r0 AS (
              SELECT event_id AS view_id, ts AS vts, round(value, 6) AS view_value
              FROM events WHERE event_type = 'view'
            ),
            r AS (
              SELECT view_id, vts, view_value FROM r0
              QUALIFY row_number() OVER (PARTITION BY vts
                                         ORDER BY view_id DESC) = 1
            )
            SELECT l.event_id, r.view_id, r.view_value
            FROM l ASOF LEFT JOIN r ON l.ts >= r.vts
        """,
        "source_quality_profile": f"""
            WITH g AS ({_gopher_sql(min_words=10, min_stopword_hits=1)}),
            scored AS (
              SELECT d.source, {_DK_QUALITY} AS q,
                     length(d.text)::DOUBLE AS len,
                     CASE WHEN g.gopher_ok THEN 1 ELSE 0 END AS ok
              FROM documents d JOIN g ON g.doc_id = d.doc_id
            )
            SELECT source, count(*) AS n_docs,
                   round(avg(q), 6) AS mean_quality,
                   round(coalesce(stddev_samp(q), 0), 6) AS std_quality,
                   round(avg(len), 6) AS mean_len,
                   round(avg(ok), 6) AS gopher_pass_rate
            FROM scored GROUP BY source
        """,
        "source_curation": f"""
            WITH g AS ({_gopher_sql(min_words=10, min_stopword_hits=1)}),
            scored AS (
              SELECT d.source, d.doc_id, {_DK_QUALITY} AS q,
                     CASE WHEN g.gopher_ok THEN 1 ELSE 0 END AS ok
              FROM documents d JOIN g ON g.doc_id = d.doc_id
            ),
            prof AS (
              SELECT source, round(avg(q), 6) AS mean_quality,
                     round(avg(ok), 6) AS gopher_pass_rate
              FROM scored GROUP BY source
            ),
            bad AS (
              SELECT source FROM prof
              WHERE gopher_pass_rate < 0.75 OR mean_quality < 0.72
            )
            SELECT doc_id, source FROM documents
            WHERE source NOT IN (SELECT source FROM bad)
        """,
        "dedup_funnel_verify": f"""
            WITH e AS ({_minhash_est_sql(12, 4)}),
            kept AS (SELECT a, b FROM e WHERE est_jaccard >= 0.5),
            sh AS (
              SELECT doc_id AS did, unnest(list_distinct({_DK_SHINGLES3})) AS s
              FROM documents
            ),
            sizes AS (SELECT did, count(*) AS sz FROM sh GROUP BY did),
            inter AS (
              SELECT k.a, k.b, count(*) AS inter
              FROM kept k
              JOIN sh l ON l.did = k.a
              JOIN sh r ON r.did = k.b AND r.s = l.s
              GROUP BY k.a, k.b
            )
            SELECT i.a, i.b,
                   round(i.inter / (sa.sz + sb.sz - i.inter), 6) AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.did = i.a
            JOIN sizes sb ON sb.did = i.b
            WHERE round(i.inter / (sa.sz + sb.sz - i.inter), 6) >= 0.3
        """,
        "jsonl_rescue": """
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 3 THEN NULL ELSE n_chars END AS n_chars,
                   CASE WHEN doc_id % 7 = 3 THEN 'quarantined'
                        ELSE 'parsed' END AS status
            FROM documents
        """,
        "pipeline_curate_corpus": _minhash_reach_cte(
            pre=f"g AS ({_gopher_sql(min_words=40, min_stopword_hits=1)}), "
                "gkeep AS (SELECT doc_id FROM g WHERE gopher_ok), ",
            where="WHERE doc_id IN (SELECT doc_id FROM gkeep)",
        ) + f""",
            comp AS (SELECT u AS doc_id, min(v) AS component FROM reach GROUP BY u),
            scored AS (
              SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
                     {_DK_QUALITY} AS q
              FROM documents d
              JOIN gkeep USING (doc_id)
              LEFT JOIN comp c ON d.doc_id = c.doc_id
            )
            SELECT doc_id, component, cluster_size, q AS score FROM (
              SELECT doc_id, component, q,
                     count(*) OVER (PARTITION BY component) AS cluster_size,
                     row_number() OVER (PARTITION BY component
                                        ORDER BY q DESC, doc_id) AS rn
              FROM scored
            ) WHERE rn = 1
        """,
        "neardup_keep_best": _minhash_reach_cte() + f""",
            comp AS (SELECT u AS doc_id, min(v) AS component FROM reach GROUP BY u),
            scored AS (
              SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
                     {_DK_QUALITY} AS q
              FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
            )
            SELECT doc_id, component, cluster_size, q AS score FROM (
              SELECT doc_id, component, q,
                     count(*) OVER (PARTITION BY component) AS cluster_size,
                     row_number() OVER (PARTITION BY component
                                        ORDER BY q DESC, doc_id) AS rn
              FROM scored
            ) WHERE rn = 1
        """,
        "text_normalize": r"""
            WITH messy AS (
              SELECT doc_id,
                     text || chr(9) || 'cafe' || chr(769) || '  ' || chr(7) || '!' AS t
              FROM documents
            ), step AS (
              SELECT doc_id, t,
                     trim(regexp_replace(nfc_normalize(
                       regexp_replace(t, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')),
                       '\s+', ' ', 'g')) AS norm
              FROM messy
            )
            SELECT doc_id, length(t) AS n_raw, length(norm) AS n_norm,
                   md5(norm) AS norm_md5
            FROM step ORDER BY doc_id
        """,
        "incremental_neardup": _minhash_incr_sql(12, 4),
        "bpe_tokenize": _bpe_sql(n_merges=200, max_words=5000),
        "kfold_split": _minhash_reach_cte() + """,
            comp AS (SELECT u AS doc_id, min(v) AS component FROM reach GROUP BY u)
            SELECT d.doc_id,
                   coalesce(c.component, d.doc_id) AS rep,
                   CAST((('0x' || substring(md5('kf|' ||
                          coalesce(c.component, d.doc_id)::VARCHAR), 1, 15))::BIGINT
                          % 5) AS INT) AS fold
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
            ORDER BY d.doc_id
        """,
        "kfold_balance": _minhash_reach_cte() + """,
            comp AS (SELECT u AS doc_id, min(v) AS component FROM reach GROUP BY u),
            folds AS (
              SELECT CAST((('0x' || substring(md5('kf|' ||
                       coalesce(c.component, d.doc_id)::VARCHAR), 1, 15))::BIGINT
                       % 5) AS INT) AS fold
              FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
            )
            SELECT fold, count(*) AS n_docs FROM folds GROUP BY fold ORDER BY fold
        """,
        "leakage_safe_split": _minhash_reach_cte() + """,
            comp AS (SELECT u AS doc_id, min(v) AS component FROM reach GROUP BY u)
            SELECT d.doc_id,
                   coalesce(c.component, d.doc_id) AS rep,
                   CASE WHEN ('0x' || substring(md5('split|' ||
                          coalesce(c.component, d.doc_id)::VARCHAR), 1, 15))::BIGINT
                          % 100 < 80
                        THEN 'train' ELSE 'heldout' END AS split
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        """,
        "asof_latest_order": """
            WITH cand AS (
              SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
                     row_number() OVER (PARTITION BY e.event_id
                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
              FROM events e
              JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
            )
            SELECT event_id, user_id, o_orderkey, o_orderdate FROM cand WHERE rn = 1
        """,
        "orders_by_month": """
            SELECT CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT) AS month_epoch,
                   count(*) AS n_orders, round(sum(o_totalprice), 4) AS total
            FROM orders GROUP BY 1
        """,
        "events_rollup": """
            SELECT event_type, user_id % 4 AS user_bucket,
                   count(*) AS n, round(sum(value), 6) AS total_value
            FROM events GROUP BY ROLLUP (event_type, user_bucket)
        """,
        "events_cube": """
            SELECT event_type, user_id % 4 AS user_bucket,
                   count(*) AS n, round(sum(value), 6) AS total_value
            FROM events GROUP BY CUBE (event_type, user_bucket)
        """,
        "events_followup_day": """
            SELECT r.event_id, count(*) AS n_followups
            FROM events l
            JOIN events r
              ON l.user_id = r.user_id
             AND CAST(floor(epoch(l.ts)) AS BIGINT)
                   BETWEEN CAST(floor(epoch(r.ts)) AS BIGINT)
                       AND CAST(floor(epoch(r.ts)) AS BIGINT) + 86400
             AND l.event_id != r.event_id
            GROUP BY 1
        """,
        "events_pivot": """
            SELECT user_id % 4 AS user_bucket,
                   round(sum(value) FILTER (event_type = 'click'), 6) AS v_click,
                   round(sum(value) FILTER (event_type = 'view'), 6) AS v_view,
                   round(sum(value) FILTER (event_type = 'purchase'), 6) AS v_purchase,
                   round(sum(value) FILTER (event_type = 'signup'), 6) AS v_signup,
                   round(sum(value) FILTER (event_type = 'error'), 6) AS v_error
            FROM events GROUP BY 1
        """,
        "events_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.95), 6) AS p95
            FROM events GROUP BY event_type
        """,
        "tpch_q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q3_shipping_priority": """
            SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
        "multimodal_features": """
            SELECT 'image-' || CAST(doc_id AS VARCHAR) AS media_id,
                   'image' AS kind, CAST(16 AS BIGINT) AS n_features
            FROM documents
        """,
        "multimodal_frames": """
            SELECT 'image-' || CAST(doc_id AS VARCHAR) AS media_id,
                   unnest([0, 1, 2, 3])::BIGINT AS frame_idx,
                   CAST(16 AS BIGINT) AS frame_bytes
            FROM documents
        """,
        "tpch_q6_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "events_grouping_sets": """
            WITH ev AS (SELECT event_type, user_id % 4 AS user_bucket, value FROM events)
            SELECT event_type, user_bucket, count(*) AS n,
                   round(sum(value), 6) AS total_value
            FROM ev
            GROUP BY GROUPING SETS ((event_type), (user_bucket), ())
        """,
        "user_running_totals": """
            SELECT event_id, user_id,
                   count(*) OVER w AS n_so_far,
                   round(sum(value) OVER w, 6) AS value_so_far
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING)
        """,
        "event_gap_stats": """
            WITH lagged AS (
              SELECT event_type,
                     CAST(floor(epoch(ts)) AS BIGINT)
                       - lag(CAST(floor(epoch(ts)) AS BIGINT))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
              FROM events
            )
            SELECT event_type, count(*) AS n_gaps,
                   round(avg(gap_s), 4) AS avg_gap_s, max(gap_s) AS max_gap_s
            FROM lagged WHERE gap_s IS NOT NULL
            GROUP BY event_type
        """,
        "sql_api_search": f"""
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id, {cos_e_q} AS score
            FROM embeddings e, q
            WHERE {_dk_norm_pos('e.embedding')} AND {_dk_norm_pos('q.qv')}
            ORDER BY score DESC, e.vec_id LIMIT 10
        """,
        "tpch_q5_local_supplier_volume": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
        """,
        "tpch_q14_promo_revenue": """
            SELECT round(100.0 * sum(CASE WHEN p_type = 'ECONOMY'
                                          THEN l_extendedprice * (1 - l_discount)
                                          ELSE 0.0 END)
                         / sum(l_extendedprice * (1 - l_discount)), 6)
                     AS promo_revenue_pct,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
        """,
        "dedup_char_ngram": """
            WITH sh0 AS (
              SELECT doc_id AS did,
                     unnest(list_distinct(list_transform(
                       generate_series(1, greatest(1, length(text) - 4)),
                       i -> substr(text, i, 5)))) AS s
              FROM documents
            ), sh_all AS (
              SELECT did, ('0x' || substring(md5(s), 1, 15))::BIGINT AS sh FROM sh0
            ), sh AS (
              SELECT * FROM sh_all
              WHERE sh NOT IN (SELECT sh FROM sh_all GROUP BY sh HAVING count(*) > 50)
            ), sizes AS (
              SELECT did, count(*) AS sz FROM sh GROUP BY did
            ), inter AS (
              SELECT l.did AS a, r.did AS b, count(*) AS inter
              FROM sh l JOIN sh r ON l.sh = r.sh AND l.did < r.did
              GROUP BY l.did, r.did
            )
            SELECT a, b, round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
            FROM inter JOIN sizes sa ON sa.did = a JOIN sizes sb ON sb.did = b
            WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= 0.3
        """,
        "events_session_window_native": """
            WITH lagged AS (
              SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
                     lag(CAST(floor(epoch(ts)) AS BIGINT))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_es
              FROM events
            ), flagged AS (
              SELECT user_id, event_id, es,
                     CASE WHEN prev_es IS NOT NULL AND es - prev_es > 1800 THEN 1 ELSE 0 END AS new_sess
              FROM lagged
            ), numbered AS (
              SELECT user_id, es,
                     sum(new_sess) OVER (PARTITION BY user_id ORDER BY es, event_id
                                         ROWS UNBOUNDED PRECEDING) AS sess_idx
              FROM flagged
            )
            SELECT user_id, CAST(min(es) AS BIGINT) AS sess_start, count(*) AS n_events
            FROM numbered GROUP BY user_id, sess_idx
        """,
        "stream_dedup_distinct": """
            SELECT DISTINCT user_id, event_type FROM events
        """,
        "user_event_type_sets": """
            SELECT user_id,
                   list_sort(list_distinct(array_agg(event_type))) AS types,
                   count(DISTINCT event_type) AS n_types
            FROM events GROUP BY user_id
        """,
        "events_value_deciles": """
            WITH ranked AS (
              SELECT event_type, value,
                     ntile(10) OVER w AS decile,
                     round(percent_rank() OVER w, 6) AS pr
              FROM events
              WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
            )
            SELECT event_type, decile, count(*) AS n,
                   round(max(value), 6) AS top_value, round(max(pr), 6) AS top_pr
            FROM ranked GROUP BY event_type, decile
        """,
        "events_unpivot": """
            SELECT user_id % 4 AS user_bucket,
                   'v_' || event_type AS event_type,
                   round(sum(value), 6) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "scd2_customer_segment": """
            SELECT c_custkey, c_mktsegment,
                   TIMESTAMP '1990-01-01' AS valid_from,
                   TIMESTAMP '2026-01-01' AS valid_to
            FROM customer WHERE c_custkey % 7 = 0
            UNION ALL
            SELECT c_custkey, c_mktsegment,
                   TIMESTAMP '1990-01-01', NULL
            FROM customer WHERE c_custkey % 7 <> 0
            UNION ALL
            SELECT c_custkey, 'RELOCATED',
                   TIMESTAMP '2026-01-01', NULL
            FROM customer WHERE c_custkey % 7 = 0
        """,
        "users_purchase_and_error": """
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-04'
            INTERSECT
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-04'
        """,
        "events_variant_agg": """
            SELECT event_type,
                   count(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_with_k,
                   CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total,
                   CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
            FROM events GROUP BY event_type
        """,
        "skew_salted_pipeline": """
            SELECT length(event_type) AS type_len, count(*) AS count
            FROM events GROUP BY 1
        """,
        "multimodal_resize": """
            WITH h AS (SELECT doc_id, repeat(md5(text), 8) AS hx FROM documents)
            SELECT 'image-' || CAST(doc_id AS VARCHAR) AS media_id,
                   CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
                   list_reduce(list_transform(generate_series(0, 63),
                               i -> substr(hx, 4 * i + 1, 2)),
                               (a, b) -> a || b) AS resized_hex
            FROM h
        """,
        "zscore_events": """
            SELECT event_id, event_type,
                   CASE WHEN stddev_pop(value) OVER w > 0
                        THEN round((value - avg(value) OVER w)
                                   / stddev_pop(value) OVER w, 6)
                        ELSE 0.0 END AS z
            FROM events
            WINDOW w AS (PARTITION BY event_type)
        """,
        "doc_bigrams_udtf": """
            WITH toks AS (
              SELECT doc_id, string_split(lower(text), ' ') AS parts FROM documents
            ), bg AS (
              SELECT unnest(list_transform(generate_series(1, len(parts) - 1),
                            i -> parts[i] || ' ' || parts[i + 1])) AS bigram
              FROM toks
            )
            SELECT bigram, count(*) AS n FROM bg
            GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20
        """,
        "stream_window_agg": """
            SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS ws,
                   event_type, count(*) AS n, round(sum(value), 6) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "asof_tolerance_order": """
            WITH cand AS (
              SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
                     row_number() OVER (PARTITION BY e.event_id
                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
              FROM events e
              JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
            )
            SELECT event_id, user_id, o_orderkey, o_orderdate FROM cand
            WHERE rn = 1
              AND CAST(floor(epoch(ts)) AS BIGINT)
                  - CAST(floor(epoch(o_orderdate)) AS BIGINT) <= 8370 * 86400
        """,
        # ------------------------------------------------ merged gates
        "mem_search_filters": f"""
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT 'label' AS variant, vec_id, score FROM (
              SELECT e.vec_id, {cos_e_q} AS score
              FROM embeddings e, q
              WHERE e.label = 1 AND {_dk_norm_pos('e.embedding')} AND {_dk_norm_pos('q.qv')}
              ORDER BY score DESC, e.vec_id LIMIT 10
            )
            UNION ALL
            SELECT 'threshold' AS variant, vec_id, score FROM (
              SELECT e.vec_id, {cos_e_q} AS score
              FROM embeddings e, q
              WHERE {_dk_norm_pos('e.embedding')} AND {_dk_norm_pos('q.qv')}
                AND {cos_e_q} >= 0.15
              ORDER BY score DESC, e.vec_id LIMIT 100
            )
        """,
        "fk_integrity": """
            SELECT 'valid' AS side, o_orderkey, o_custkey FROM orders o
            WHERE EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING')
            UNION ALL
            SELECT 'reject' AS side, o_orderkey, o_custkey FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey AND c.c_acctbal >= 0)
        """,
        "text_profile": rf"""
            WITH h AS (SELECT doc_id, text, {_lang_hits_cols()} FROM documents)
            SELECT doc_id, {_lang_case()} AS pred_lang,
                   len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tokens_ws,
                   len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))::BIGINT AS n_tokens_bpe,
                   {_DK_QUALITY} AS quality,
                   md5({_DK_NORM}) AS fp,
                   CASE WHEN len(string_split(lower(text), ' ')) > 0
                        THEN round(1.0 - len(list_distinct(string_split(lower(text), ' ')))
                                   * 1.0 / len(string_split(lower(text), ' ')), 6)
                        ELSE 0.0 END AS repetition
            FROM h
        """,
        "repetition_profile": """
            WITH toks AS (
              SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
            ), wc AS (
              SELECT doc_id, w, count(*) AS c
              FROM (SELECT doc_id, unnest(t) AS w FROM toks) GROUP BY 1, 2
            ), ws AS (
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
                     count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_word
              FROM wc GROUP BY 1
            ), bc AS (
              SELECT doc_id, bg, count(*) AS c
              FROM (
                SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(t) - 1),
                                             i -> t[i] || ' ' || t[i + 1])) AS bg
                FROM toks WHERE len(t) >= 2
              ) GROUP BY 1, 2
            ), bs AS (
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                     CAST(max(c) AS BIGINT) AS top_bigram
              FROM bc GROUP BY 1
            )
            SELECT ws.doc_id, n_words,
                   round(1.0 - n_distinct * 1.0 / n_words, 6) AS dup_word_frac,
                   round(top_word * 1.0 / n_words, 6) AS top_word_frac,
                   round(top_bigram * 1.0 / n_bigrams, 6) AS top_bigram_frac,
                   (round(1.0 - n_distinct * 1.0 / n_words, 6) <= 0.30
                    AND coalesce(round(top_bigram * 1.0 / n_bigrams, 6) <= 0.18, TRUE)
                   ) AS repetition_ok
            FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id
        """,
        "gopher_rules": _gopher_sql(),
        "winnowing_fps": f"""
            WITH norm AS (
              SELECT doc_id, {_DK_NORM} AS t FROM documents
            ), keyed AS (
              SELECT doc_id, i AS pos,
                     ('0x' || substring(md5(substring(t, i, 8)), 1, 10))::BIGINT
                       * 1048576 + (1048575 - i) AS k
              FROM norm, unnest(generate_series(1, least(length(t) - 7, 1048575))) AS u(i)
              WHERE length(t) >= 8
            ), sel AS (
              SELECT DISTINCT doc_id,
                     min(k) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS k
              FROM keyed
            )
            SELECT doc_id, CAST(1048575 - (k % 1048576) AS BIGINT) AS pos,
                   CAST(k // 1048576 AS BIGINT) AS fp
            FROM sel
        """,
        "sampling_suite": """
            SELECT 'stratified' AS variant, doc_id, lang FROM documents
            QUALIFY row_number() OVER (
                PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id) <= 20
            UNION ALL
            SELECT 'bernoulli' AS variant, doc_id, lang FROM documents
            WHERE ('0x' || substring(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 30
        """,
        "sessionization": """
            WITH lagged AS (
              SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
                     lag(CAST(floor(epoch(ts)) AS BIGINT))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_es
              FROM events
            ), flagged AS (
              SELECT user_id, event_id, es,
                     CASE WHEN prev_es IS NOT NULL AND es - prev_es > 1800 THEN 1 ELSE 0 END AS new_sess
              FROM lagged
            ), numbered AS (
              SELECT user_id, es,
                     sum(new_sess) OVER (PARTITION BY user_id ORDER BY es, event_id
                                         ROWS UNBOUNDED PRECEDING) AS sess_idx
              FROM flagged
            ), sess AS (
              SELECT user_id, CAST(min(es) AS BIGINT) AS sess_start, count(*) AS n_events
              FROM numbered GROUP BY user_id, sess_idx
            )
            SELECT 'lag' AS variant, user_id, sess_start, n_events FROM sess
            UNION ALL
            SELECT 'native' AS variant, user_id, sess_start, n_events FROM sess
        """,
        "asof_join_suite": """
            WITH cand AS (
              SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
                     row_number() OVER (PARTITION BY e.event_id
                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
              FROM events e
              JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
            ), candf AS (
              SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
                     row_number() OVER (PARTITION BY e.event_id
                       ORDER BY o.o_orderdate ASC, o.o_orderkey DESC) AS rn
              FROM events e
              JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
            ), b1 AS (SELECT * FROM cand WHERE rn = 1),
               f1 AS (SELECT * FROM candf WHERE rn = 1)
            SELECT 'latest' AS variant, event_id, user_id, o_orderkey, o_orderdate
            FROM b1
            UNION ALL
            SELECT 'tolerance' AS variant, event_id, user_id, o_orderkey, o_orderdate
            FROM b1
            WHERE CAST(floor(epoch(ts)) AS BIGINT)
                  - CAST(floor(epoch(o_orderdate)) AS BIGINT) <= 8370 * 86400
            UNION ALL
            SELECT 'forward' AS variant, event_id, user_id, o_orderkey, o_orderdate
            FROM f1
            UNION ALL
            SELECT 'nearest' AS variant, e.event_id, e.user_id,
                   CASE WHEN b.o_orderkey IS NULL THEN f.o_orderkey
                        WHEN f.o_orderkey IS NULL THEN b.o_orderkey
                        WHEN epoch(e.ts) - epoch(b.o_orderdate)
                             <= epoch(f.o_orderdate) - epoch(e.ts)
                        THEN b.o_orderkey ELSE f.o_orderkey END AS o_orderkey,
                   CASE WHEN b.o_orderkey IS NULL THEN f.o_orderdate
                        WHEN f.o_orderkey IS NULL THEN b.o_orderdate
                        WHEN epoch(e.ts) - epoch(b.o_orderdate)
                             <= epoch(f.o_orderdate) - epoch(e.ts)
                        THEN b.o_orderdate ELSE f.o_orderdate END AS o_orderdate
            FROM events e
            LEFT JOIN b1 b ON b.event_id = e.event_id
            LEFT JOIN f1 f ON f.event_id = e.event_id
            WHERE coalesce(b.o_orderkey, f.o_orderkey) IS NOT NULL
        """,
        "tpch_q6_q14": """
            SELECT 'q6' AS q, round(sum(l_extendedprice * l_discount), 4) AS value,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
            UNION ALL
            SELECT 'q14' AS q,
                   round(100.0 * sum(CASE WHEN p_type = 'ECONOMY'
                                          THEN l_extendedprice * (1 - l_discount)
                                          ELSE 0.0 END)
                         / sum(l_extendedprice * (1 - l_discount)), 6) AS value,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
        """,
        "events_multidim_agg": """
            WITH ev AS (SELECT event_type, user_id % 4 AS user_bucket, value FROM events)
            SELECT 'rollup' AS variant, event_type, user_bucket,
                   count(*) AS n, round(sum(value), 6) AS total_value
            FROM ev GROUP BY ROLLUP (event_type, user_bucket)
            UNION ALL
            SELECT 'cube' AS variant, event_type, user_bucket,
                   count(*) AS n, round(sum(value), 6) AS total_value
            FROM ev GROUP BY CUBE (event_type, user_bucket)
            UNION ALL
            SELECT 'sets' AS variant, event_type, user_bucket,
                   count(*) AS n, round(sum(value), 6) AS total_value
            FROM ev GROUP BY GROUPING SETS ((event_type), (user_bucket), ())
        """,
        "events_window_frames": """
            SELECT event_id, user_id,
                   count(*) OVER w AS n_so_far,
                   round(sum(value) OVER w, 6) AS value_so_far,
                   CAST(floor(epoch(ts)) AS BIGINT)
                     - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w2 AS gap_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING),
                   w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        # knn_join_blocked, lsh_ann(_multiprobe), events-stream variants:
        # intentionally no oracle (float32 BLAS / approximate by design) —
        # rows-only check; exactness pinned vs the expr strategy in
        # tests/test_knn.py.
        "shard_checksums": """
            WITH ranked AS (
              SELECT doc_id, text,
                     row_number() OVER (
                       ORDER BY md5('r2' || CAST(doc_id AS VARCHAR)), doc_id
                     ) - 1 AS r
              FROM documents
            ), rows_h AS (
              SELECT CAST(r // 64 AS BIGINT) AS shard,
                     octet_length(encode(text)) AS nb,
                     ('0x' || substring(md5(CAST(r % 64 AS VARCHAR) || '|' || text),
                                        1, 15))::BIGINT AS h
              FROM ranked
            ), agg AS (
              SELECT shard, count(*) AS n_rows, sum(nb)::BIGINT AS n_bytes,
                     sum(h::HUGEINT) % 18446744073709551616::HUGEINT AS s
              FROM rows_h GROUP BY shard
            )
            SELECT shard, n_rows, n_bytes,
                   CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                             THEN s - 18446744073709551616::HUGEINT
                             ELSE s END AS BIGINT) AS checksum
            FROM agg
        """,
        "training_shards": """
            WITH ranked AS (
              SELECT doc_id,
                     row_number() OVER (
                       ORDER BY md5('r2' || CAST(doc_id AS VARCHAR)), doc_id
                     ) - 1 AS r
              FROM documents
            )
            SELECT doc_id, CAST(r // 64 AS BIGINT) AS shard,
                   CAST(r % 64 AS BIGINT) AS pos_in_shard
            FROM ranked
        """,
        "corpus_mix": r"""
            WITH base AS (
              SELECT doc_id, lang,
                     len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS nt,
                     md5('mix' || CAST(doc_id AS VARCHAR)) AS k,
                     CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 40
                               WHEN 'fr' THEN 40 WHEN 'es' THEN 20 END AS quota,
                     CASE lang WHEN 'en' THEN 10000 WHEN 'de' THEN 4000
                               WHEN 'fr' THEN 4000 WHEN 'es' THEN 2000 END AS budget
              FROM documents WHERE lang IN ('en', 'de', 'fr', 'es')
            ), ranked AS (
              SELECT *,
                     row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS rn,
                     coalesce(sum(nt) OVER (
                       PARTITION BY lang ORDER BY k, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS before
              FROM base
            )
            SELECT 'count' AS variant, doc_id, lang FROM ranked WHERE rn <= quota
            UNION ALL
            SELECT 'token' AS variant, doc_id, lang FROM ranked WHERE before < budget
        """,
    }
    d["dedup_incremental"] = f"""
        WITH seen AS (
          SELECT DISTINCT md5({_DK_NORM}) AS fp FROM documents WHERE doc_id < 250
        ), batch AS (
          SELECT md5({_DK_NORM}) AS fp, min(doc_id) AS doc_id
          FROM documents WHERE doc_id >= 250 GROUP BY 1
        )
        SELECT doc_id, fp FROM batch b
        WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.fp = b.fp)
    """
    # exact semantics by construction: the Bloom sketch only routes rows
    # (miss -> definitely new, hit -> anti-join confirm), so the oracle is
    # the SAME anti-join SQL as the unsketched incremental dedup
    d["dedup_incremental_bloom"] = d["dedup_incremental"]
    d["line_dedup"] = """
        WITH c AS (
          SELECT doc_id,
                 list_transform(
                   generate_series(1, greatest(1, len(string_split(text, ' '))), 8),
                   s -> array_to_string(string_split(text, ' ')[s:s+7], ' ')
                 ) AS chunks
          FROM documents
        ), ch AS (
          SELECT doc_id,
                 CAST(generate_subscripts(chunks, 1) - 1 AS BIGINT) AS chunk_idx,
                 unnest(chunks) AS chunk_text
          FROM c
        ), fp AS (
          SELECT doc_id, chunk_idx, chunk_text,
                 ('0x' || substring(md5(chunk_text), 1, 15))::BIGINT AS fp,
                 doc_id * 1000000 + chunk_idx AS occ
          FROM ch
        ), keep AS (
          SELECT fp, min(occ) AS keep_occ FROM fp GROUP BY fp
        ), kept AS (
          SELECT f.doc_id, count(*) AS n_kept,
                 array_to_string(list(chunk_text ORDER BY chunk_idx), ' ') AS text_dedup
          FROM fp f JOIN keep k ON f.fp = k.fp AND f.occ = k.keep_occ
          GROUP BY f.doc_id
        ), tot AS (
          SELECT doc_id, count(*) AS n_chunks FROM fp GROUP BY doc_id
        )
        SELECT t.doc_id, t.n_chunks,
               coalesce(n_kept, 0) AS n_kept,
               coalesce(text_dedup, '') AS text_dedup
        FROM tot t LEFT JOIN kept USING (doc_id)
    """
    d["dup_span_coverage"] = """
        WITH g0 AS (
          SELECT doc_id, len(string_split(lower(text), ' '))::BIGINT AS n_tokens,
                 list_transform(
                   generate_series(1, greatest(1, len(string_split(lower(text), ' ')) - 4)),
                   i -> array_to_string(string_split(lower(text), ' ')[i:i+4], ' ')
                 ) AS grams
          FROM documents
        ), g AS (
          SELECT doc_id, n_tokens,
                 CAST(generate_subscripts(grams, 1) AS BIGINT) AS s,
                 ('0x' || substring(md5(unnest(grams)), 1, 15))::BIGINT AS gh
          FROM g0
        ), dup AS (
          SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
        ), cov AS (
          SELECT DISTINCT doc_id, n_tokens, p FROM (
            SELECT g.doc_id, g.n_tokens,
                   unnest(generate_series(g.s, least(g.s + 4, g.n_tokens))) AS p
            FROM g WHERE g.gh IN (SELECT gh FROM dup)
          )
        ), agg AS (
          SELECT doc_id, n_tokens, count(*) AS dup_tokens
          FROM cov GROUP BY doc_id, n_tokens
        )
        SELECT t.doc_id, t.n_tokens,
               coalesce(a.dup_tokens, 0) AS dup_tokens,
               round(coalesce(a.dup_tokens, 0) / t.n_tokens, 6) AS dup_frac
        FROM (SELECT doc_id, len(string_split(lower(text), ' '))::BIGINT AS n_tokens
              FROM documents) t
        LEFT JOIN agg a ON t.doc_id = a.doc_id AND t.n_tokens = a.n_tokens
    """
    d["knn_pagerank"] = _pagerank_sql(iters=3, k=5, damping=0.85)
    d["knn_kcore"] = _kcore_sql(k=3, tau=0.3, peels=12)
    d["label_propagation"] = _label_prop_sql(iters=3, k=5)
    _z_terms = " + ".join(
        f"((((l_partkey::BIGINT & 65535) >> {i}) & 1) << {2 * i}) + "
        f"((((l_suppkey::BIGINT & 65535) >> {i}) & 1) << {2 * i + 1})"
        for i in range(16)
    )
    d["zorder_values"] = f"""
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
               ({_z_terms})::BIGINT AS zval
        FROM lineitem WHERE l_orderkey < 2000
    """
    _walk_hash = (
        "('0x' || substring(md5('walk|' || f.walk_id || '|{i}'), 1, 15))::BIGINT"
    )
    _walk_steps = "".join(
        f""", f{i} AS (
          SELECT f.walk_id, n.nbr AS node
          FROM f{i - 1} f JOIN nbrs n ON n.node = f.node
           AND n.idx = {_walk_hash.format(i=i)} % n.deg
        )"""
        for i in (1, 2, 3)
    )
    _walk_union = " UNION ALL ".join(
        f"SELECT walk_id, {i} AS step, node FROM f{i}" for i in (0, 1, 2, 3)
    )
    d["knn_graph_walks"] = f"""
        WITH scored AS (
          SELECT q.vec_id AS src, e.vec_id AS dst,
                 {_dk_cos('e.embedding', 'q.embedding')} AS score
          FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
          WHERE q.vec_id < 500 AND e.vec_id < 500
            AND {_dk_norm_pos('q.embedding')} AND {_dk_norm_pos('e.embedding')}
        ), edges AS (
          SELECT src, dst FROM scored
          QUALIFY row_number() OVER (PARTITION BY src ORDER BY score DESC, dst) <= 5
        ), und AS (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM edges WHERE src <> dst
        ), adj AS (
          SELECT a AS node, b AS nbr FROM und
          UNION ALL SELECT b AS node, a AS nbr FROM und
        ), nbrs AS (
          SELECT node, nbr,
                 row_number() OVER (PARTITION BY node ORDER BY nbr) - 1 AS idx,
                 count(*) OVER (PARTITION BY node) AS deg
          FROM adj
        ), f0 AS (
          SELECT DISTINCT CAST(node AS VARCHAR) || '#0' AS walk_id, node FROM nbrs
        ){_walk_steps}
        SELECT walk_id, step, node FROM ({_walk_union})
    """
    d["knn_graph_triangles"] = f"""
        WITH scored AS (
          SELECT q.vec_id AS src, e.vec_id AS dst,
                 {_dk_cos('e.embedding', 'q.embedding')} AS score
          FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
          WHERE q.vec_id < 500 AND e.vec_id < 500
            AND {_dk_norm_pos('q.embedding')} AND {_dk_norm_pos('e.embedding')}
        ), edges AS (
          SELECT src, dst FROM scored
          QUALIFY row_number() OVER (PARTITION BY src ORDER BY score DESC, dst) <= 5
        ), und AS (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM edges WHERE src <> dst
        ), deg AS (
          SELECT id, count(*)::BIGINT AS degree FROM
          (SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)
          GROUP BY 1
        ), tri AS (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM und e1
          JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
          JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
        ), percount AS (
          SELECT id, count(*)::BIGINT AS triangles FROM
          (SELECT x AS id FROM tri UNION ALL SELECT y AS id FROM tri
           UNION ALL SELECT z AS id FROM tri)
          GROUP BY 1
        )
        SELECT d.id AS vec_id, d.degree,
               coalesce(p.triangles, 0)::BIGINT AS triangles,
               round(CASE WHEN d.degree >= 2
                     THEN 2.0 * coalesce(p.triangles, 0) / (d.degree * (d.degree - 1.0))
                     ELSE 0.0 END, 6) AS clustering
        FROM deg d LEFT JOIN percount p ON p.id = d.id
    """
    d["lm_backoff_quality"] = """
        WITH tt AS (
          SELECT string_split(lower(text), ' ') AS toks FROM documents
          WHERE doc_id < 250 AND lang = 'en'
        ), unigrams AS (
          SELECT w, count(*)::BIGINT AS c
          FROM (SELECT unnest(toks) AS w FROM tt) GROUP BY 1
        ), totals AS (
          SELECT sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS v FROM unigrams
        ), bigrams AS (
          SELECT w1, w2, count(*)::BIGINT AS c12 FROM (
            SELECT toks[i-1] AS w1, toks[i] AS w2 FROM (
              SELECT toks, unnest(generate_series(2, len(toks))) AS i
              FROM tt WHERE len(toks) >= 2))
          GROUP BY 1, 2 HAVING count(*) >= 2
        ), bmodel AS (
          SELECT b.w1, b.w2, b.c12, u.c AS c1
          FROM bigrams b JOIN unigrams u ON u.w = b.w1
        ), pairs AS (
          SELECT doc_id, toks[i-1] AS w1, toks[i] AS w2 FROM (
            SELECT doc_id, toks, unnest(generate_series(2, len(toks))) AS i
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
                  FROM documents WHERE doc_id >= 250)
            WHERE len(toks) >= 2)
        ), scored AS (
          SELECT p.doc_id,
                 CASE WHEN m.c12 IS NOT NULL THEN log2(m.c12 * 1.0 / m.c1)
                      ELSE log2(0.4 * (coalesce(u2.c, 0) + 1) * 1.0
                                / (t.n_tokens + t.v)) END AS logp,
                 CASE WHEN m.c12 IS NULL THEN 1.0 ELSE 0.0 END AS bo
          FROM pairs p
          LEFT JOIN bmodel m ON m.w1 = p.w1 AND m.w2 = p.w2
          LEFT JOIN unigrams u2 ON u2.w = p.w2
          CROSS JOIN totals t
        )
        SELECT doc_id, count(*)::BIGINT AS n_bigrams,
               round(avg(bo), 6) AS backoff_rate,
               round(avg(logp), 6) AS lm_score
        FROM scored GROUP BY 1
    """
    d["fuzzy_best_match"] = """
        WITH k0 AS (
          SELECT p_partkey AS id, p_name AS name,
                 string_split(lower(p_name), ' ') AS toks
          FROM part
        ), keyed AS (
          SELECT id, name,
                 toks[len(toks)] || '|' ||
                 CAST(CAST(floor(length(name) / 4) AS BIGINT) AS VARCHAR) AS block
          FROM k0
        ), ok AS (
          SELECT block FROM keyed GROUP BY block HAVING count(*) <= 1000
        ), kk AS (
          SELECT k.id, k.name, k.block FROM keyed k JOIN ok o ON o.block = k.block
        ), pairs AS (
          SELECT a.id AS id_a, b.id AS id_b, b.name AS name_b,
                 levenshtein(a.name, b.name) AS distance
          FROM kk a JOIN kk b ON a.block = b.block AND a.id < b.id
          WHERE levenshtein(a.name, b.name) <= 2
        )
        SELECT id_a AS part_a, id_b AS part_b, name_b, distance FROM pairs
        QUALIFY row_number() OVER (
          PARTITION BY id_a ORDER BY distance, id_b, name_b) = 1
    """
    d["events_value_ranks"] = """
        SELECT event_id, event_type, round(value, 6) AS value,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """
    d["html_strip"] = """
        WITH wrapped AS (
          SELECT doc_id,
                 '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
                 '</title><style>p{color:red}</style>' ||
                 '<script type="text/javascript">var x = 1 < 2;</script></head>' ||
                 '<body><!-- comment --><p>' ||
                 replace(replace(text, '&', '&amp;'), '<', '&lt;') ||
                 '</p><div class="footer">&copy; 2024</div></body></html>' AS html
          FROM documents
        ), stripped AS (
          SELECT doc_id,
                 trim(regexp_replace(
                   replace(replace(replace(replace(replace(replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(html,
                             '<script\\b[^>]*>.*?</script>', ' ', 'gis'),
                           '<style\\b[^>]*>.*?</style>', ' ', 'gis'),
                         '<!--.*?-->', ' ', 'gs'),
                       '<[^>]+>', ' ', 'gs'),
                   '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'),
                   '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
                   '\\s+', ' ', 'g')) AS s
          FROM wrapped
        )
        SELECT doc_id, md5(s) AS stripped_md5, length(s)::BIGINT AS n_chars
        FROM stripped
    """
    d["seasonal_anomalies"] = """
        WITH prof AS (
          SELECT event_type, hour(ts) AS hh,
                 avg(value) AS mu, stddev_pop(value) AS sd, count(*) AS n
          FROM events WHERE ts < TIMESTAMP '2024-01-16'
          GROUP BY 1, 2
          HAVING count(*) >= 30 AND stddev_pop(value) > 0
        ), cur AS (
          SELECT event_id, event_type, hour(ts) AS hh, value
          FROM events WHERE ts >= TIMESTAMP '2024-01-16'
        ), scored AS (
          SELECT c.event_id, c.event_type, c.hh,
                 c.value, p.mu, p.sd,
                 round((c.value - p.mu) / p.sd, 6) AS z
          FROM cur c JOIN prof p ON p.event_type = c.event_type AND p.hh = c.hh
        )
        SELECT event_id, event_type, hh AS hour, round(value, 6) AS value,
               round(mu, 6) AS mu, round(sd, 6) AS sd, z
        FROM scored WHERE abs(z) >= 3.0
    """
    d["vocab_coverage"] = """
        WITH counts AS (
          SELECT w, count(*)::BIGINT AS c FROM (
            SELECT unnest(string_split(lower(text), ' ')) AS w
            FROM documents WHERE doc_id < 250)
          GROUP BY 1
        ), vocab AS (
          SELECT w FROM counts
          QUALIFY row_number() OVER (ORDER BY c DESC, w) <= 500
        ), toks AS (
          SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          FROM documents WHERE doc_id >= 250
        )
        SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
               sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)::BIGINT AS oov_tokens,
               round(sum(CASE WHEN v.w IS NULL THEN 1.0 ELSE 0.0 END) / count(*), 6)
                 AS oov_rate
        FROM toks t LEFT JOIN vocab v ON v.w = t.w
        GROUP BY 1
    """
    _cdc_ctes = f"""b2 AS (
          SELECT doc_id, norm, length(norm) AS n FROM
          (SELECT doc_id, {_DK_NORM} AS norm FROM documents)
          WHERE length(norm) >= 1
        ), bounds AS (
          SELECT doc_id, i AS b FROM (
            SELECT doc_id, norm, n, unnest(generate_series(8, n - 1)) AS i
            FROM b2 WHERE n >= 9)
          WHERE ('0x' || substring(md5(substring(norm, i - 7, 8)), 1, 15))::BIGINT
                % 64 = 0
        ), body AS (
          SELECT doc_id,
                 lag(b, 1, 0) OVER w + 1 AS chunk_start,
                 b - lag(b, 1, 0) OVER w AS chunk_len,
                 row_number() OVER w - 1 AS chunk_idx
          FROM bounds WINDOW w AS (PARTITION BY doc_id ORDER BY b)
        ), lastb AS (
          SELECT doc_id, max(b) AS lb, count(*) AS nb FROM bounds GROUP BY 1
        ), tail AS (
          SELECT b2.doc_id, coalesce(l.lb, 0) + 1 AS chunk_start,
                 b2.n - coalesce(l.lb, 0) AS chunk_len,
                 coalesce(l.nb, 0) AS chunk_idx
          FROM b2 LEFT JOIN lastb l USING (doc_id)
          WHERE b2.n - coalesce(l.lb, 0) >= 1
        ), allc AS (
          SELECT * FROM body UNION ALL SELECT * FROM tail
        ), chunks AS (
          SELECT a.doc_id, a.chunk_idx::BIGINT AS chunk_idx,
                 a.chunk_start::BIGINT AS chunk_start,
                 a.chunk_len::BIGINT AS chunk_len,
                 md5(substring(b2.norm, a.chunk_start, a.chunk_len)) AS chunk_fp
          FROM allc a JOIN b2 USING (doc_id)
        )"""
    d["corpus_datasheet"] = f"""
        WITH base AS (
          SELECT count(*)::DOUBLE AS n_docs,
                 sum(len(string_split(lower(text), ' ')))::DOUBLE AS n_tokens,
                 sum(length(text))::DOUBLE AS n_chars,
                 avg(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END) AS en_share
          FROM documents
        ), qual AS (
          SELECT round(avg(q), 6) AS quality_mean,
                 round(quantile_cont(q, 0.5), 6) AS quality_p50
          FROM (SELECT {_DK_QUALITY} AS q FROM documents)
        ), dup AS (
          SELECT 1.0 - count(*)::DOUBLE / sum(c)::DOUBLE AS dup_rate
          FROM (SELECT md5({_DK_NORM}) AS fp, count(*) AS c
                FROM documents GROUP BY 1)
        )
        SELECT metric, round(value, 6) AS value FROM (
          SELECT 'n_docs' AS metric, n_docs AS value FROM base
          UNION ALL SELECT 'n_tokens', n_tokens FROM base
          UNION ALL SELECT 'n_chars', n_chars FROM base
          UNION ALL SELECT 'en_share', en_share FROM base
          UNION ALL SELECT 'quality_mean', quality_mean FROM qual
          UNION ALL SELECT 'quality_p50', quality_p50 FROM qual
          UNION ALL SELECT 'dup_rate', dup_rate FROM dup
        )
    """
    d["stream_cdc_dedup"] = f"""
        WITH {_cdc_ctes},
        tagged AS (
          SELECT *, CASE WHEN doc_id < 250 THEN 1 ELSE 2 END AS batch FROM chunks
        )
        SELECT doc_id, chunk_idx, chunk_start, chunk_len, chunk_fp
        FROM tagged WHERE batch = 1
        UNION ALL
        SELECT c.doc_id, c.chunk_idx, c.chunk_start, c.chunk_len, c.chunk_fp
        FROM tagged c
        WHERE c.batch = 2 AND NOT EXISTS (
          SELECT 1 FROM tagged e WHERE e.batch = 1 AND e.chunk_fp = c.chunk_fp)
    """
    d["cdc_chunking"] = f"""
        WITH b2 AS (
          SELECT doc_id, norm, length(norm) AS n FROM
          (SELECT doc_id, {_DK_NORM} AS norm FROM documents)
          WHERE length(norm) >= 1
        ), bounds AS (
          SELECT doc_id, i AS b FROM (
            SELECT doc_id, norm, n, unnest(generate_series(8, n - 1)) AS i
            FROM b2 WHERE n >= 9)
          WHERE ('0x' || substring(md5(substring(norm, i - 7, 8)), 1, 15))::BIGINT
                % 64 = 0
        ), body AS (
          SELECT doc_id,
                 lag(b, 1, 0) OVER w + 1 AS chunk_start,
                 b - lag(b, 1, 0) OVER w AS chunk_len,
                 row_number() OVER w - 1 AS chunk_idx
          FROM bounds WINDOW w AS (PARTITION BY doc_id ORDER BY b)
        ), lastb AS (
          SELECT doc_id, max(b) AS lb, count(*) AS nb FROM bounds GROUP BY 1
        ), tail AS (
          SELECT b2.doc_id, coalesce(l.lb, 0) + 1 AS chunk_start,
                 b2.n - coalesce(l.lb, 0) AS chunk_len,
                 coalesce(l.nb, 0) AS chunk_idx
          FROM b2 LEFT JOIN lastb l USING (doc_id)
          WHERE b2.n - coalesce(l.lb, 0) >= 1
        ), allc AS (
          SELECT * FROM body UNION ALL SELECT * FROM tail
        )
        SELECT a.doc_id, a.chunk_idx::BIGINT AS chunk_idx,
               a.chunk_start::BIGINT AS chunk_start,
               a.chunk_len::BIGINT AS chunk_len,
               md5(substring(b2.norm, a.chunk_start, a.chunk_len)) AS chunk_fp
        FROM allc a JOIN b2 USING (doc_id)
    """
    d["corpus_mix_temperature"] = """
        WITH g AS (
          SELECT lang, count(*)::BIGINT AS n_docs,
                 sum(len(string_split(lower(text), ' ')))::BIGINT AS n_tokens
          FROM documents GROUP BY 1
        ), t AS (
          SELECT sum(n_tokens)::DOUBLE AS tot,
                 sum(power(n_tokens, 0.5)) AS tot_p
          FROM g
        )
        SELECT lang, n_docs, n_tokens,
               round(n_tokens / t.tot, 6) AS raw_share,
               round(power(n_tokens, 0.5) / t.tot_p, 6) AS temp_share,
               CAST(floor(power(n_tokens, 0.5) / t.tot_p * 200) AS BIGINT) AS quota
        FROM g CROSS JOIN t
    """
    d["quality_winsorize"] = f"""
        WITH scored AS (
          SELECT doc_id, source, {_DK_QUALITY} AS quality FROM documents
        ), bounds AS (
          SELECT source,
                 round(quantile_cont(quality, 0.05), 6) AS lo,
                 round(quantile_cont(quality, 0.95), 6) AS hi
          FROM scored GROUP BY 1
        ), clamped AS (
          SELECT s.doc_id, s.source, s.quality,
                 least(greatest(s.quality, b.lo), b.hi) AS quality_wins
          FROM scored s JOIN bounds b USING (source)
        ), stats AS (
          SELECT source, avg(quality_wins) AS mu, stddev_pop(quality_wins) AS sd
          FROM clamped GROUP BY 1
        )
        SELECT c.doc_id, c.source, c.quality, c.quality_wins,
               CASE WHEN s.sd > 0
                    THEN round((c.quality_wins - s.mu) / s.sd, 6)
                    ELSE 0.0 END AS quality_z
        FROM clamped c JOIN stats s USING (source)
    """
    d["fuzzy_part_matches"] = """
        WITH k0 AS (
          SELECT p_partkey AS id, p_name AS name,
                 string_split(lower(p_name), ' ') AS toks
          FROM part
        ), keyed AS (
          SELECT id, name,
                 toks[len(toks)] || '|' ||
                 CAST(CAST(floor(length(name) / 4) AS BIGINT) AS VARCHAR) AS block
          FROM k0
        ), ok AS (
          SELECT block FROM keyed GROUP BY block HAVING count(*) <= 1000
        ), kk AS (
          SELECT k.id, k.name, k.block FROM keyed k JOIN ok o ON o.block = k.block
        )
        SELECT a.id AS part_a, b.id AS part_b,
               a.name AS name_a, b.name AS name_b,
               levenshtein(a.name, b.name) AS distance
        FROM kk a JOIN kk b ON a.block = b.block AND a.id < b.id
        WHERE levenshtein(a.name, b.name) <= 2
    """
    d["heavy_hitters_cms"] = """
        WITH tok AS (
          SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
        ), ds AS (
          SELECT unnest(generate_series(0, 3)) AS d
        ), th AS (
          SELECT w, ('0x' || substring(md5(w), 1, 15))::BIGINT AS h FROM tok
        ), counters AS (
          SELECT d, (h + d * ((h >> 17) | 1)) % 64 AS bucket, count(*) AS c
          FROM th CROSS JOIN ds GROUP BY 1, 2
        ), cands AS (
          SELECT DISTINCT w, ('0x' || substring(md5(w), 1, 15))::BIGINT AS h FROM tok
        ), probes AS (
          SELECT w, d, (h + d * ((h >> 17) | 1)) % 64 AS bucket
          FROM cands CROSS JOIN ds
        ), est AS (
          SELECT p.w, min(coalesce(ct.c, 0)) AS est
          FROM probes p LEFT JOIN counters ct ON p.d = ct.d AND p.bucket = ct.bucket
          GROUP BY p.w
        )
        SELECT w, est FROM est ORDER BY est DESC, w LIMIT 20
    """
    # the streamed sketch must equal the batch sketch (CMS linearity +
    # exactly-once micro-batches), so its oracle IS the batch oracle
    d["stream_cms_topk"] = d["heavy_hitters_cms"]
    d["preference_pairs"] = f"""
        WITH s AS (
          SELECT lang || '|' || source AS grp, doc_id, {_DK_QUALITY} AS q
          FROM documents
        ), c AS (
          SELECT grp, doc_id AS chosen_id, q AS chosen_score FROM s
          QUALIFY row_number() OVER (PARTITION BY grp ORDER BY q DESC, doc_id) = 1
        ), r AS (
          SELECT grp, doc_id AS rejected_id, q AS rejected_score FROM s
          QUALIFY row_number() OVER (PARTITION BY grp ORDER BY q ASC, doc_id) = 1
        )
        SELECT c.grp, chosen_id, rejected_id, chosen_score, rejected_score,
               round(chosen_score - rejected_score, 6) AS gap
        FROM c JOIN r ON c.grp = r.grp
        WHERE chosen_id <> rejected_id
          AND chosen_score - rejected_score >= 0.05
    """
    _hll_amm = repr(0.709 * 64 * 64)
    d["approx_distinct_hll"] = f"""
        WITH h AS (
          SELECT ('0x' || substring(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
          FROM events
        ), br AS (
          SELECT h % 64 AS bucket,
                 CASE WHEN (h >> 6) = 0 THEN 55
                      ELSE 55 - length(bin(h >> 6)) END AS r
          FROM h
        ), regs0 AS (
          SELECT bucket, max(r) AS r FROM br GROUP BY bucket
        ), spine AS (
          SELECT unnest(generate_series(0, 63)) AS bucket
        ), regs AS (
          SELECT s.bucket, coalesce(regs0.r, 0) AS r
          FROM spine s LEFT JOIN regs0 ON s.bucket = regs0.bucket
        ), agg AS (
          SELECT sum(power(2.0, -r)) AS z,
                 sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS v
          FROM regs
        )
        SELECT round(CASE WHEN {_hll_amm} / z <= 160.0 AND v > 0
                          THEN 64.0 * ln(64.0 / v)
                          ELSE {_hll_amm} / z END, 6) AS est
        FROM agg
    """
    d["remove_dup_spans"] = """
        WITH g0 AS (
          SELECT doc_id, len(string_split(lower(text), ' '))::BIGINT AS n_tokens,
                 list_transform(
                   generate_series(1, greatest(1, len(string_split(lower(text), ' ')) - 4)),
                   i -> array_to_string(string_split(lower(text), ' ')[i:i+4], ' ')
                 ) AS grams
          FROM documents
        ), g AS (
          SELECT doc_id, n_tokens,
                 CAST(generate_subscripts(grams, 1) - 1 AS BIGINT) AS i,
                 ('0x' || substring(md5(unnest(grams)), 1, 15))::BIGINT AS gh
          FROM g0
        ), stats AS (
          SELECT gh, count(DISTINCT doc_id) AS df, min(doc_id) AS keeper
          FROM g GROUP BY gh
        ), cut AS (
          SELECT DISTINCT doc_id, p FROM (
            SELECT g.doc_id,
                   unnest(generate_series(g.i + 1, least(g.i + 5, g.n_tokens))) AS p
            FROM g JOIN stats ON g.gh = stats.gh
            WHERE stats.df >= 2 AND g.doc_id <> stats.keeper
          )
        ), tok AS (
          SELECT doc_id,
                 unnest(string_split(lower(text), ' ')) AS tok,
                 CAST(generate_subscripts(string_split(lower(text), ' '), 1) AS BIGINT) AS p
          FROM documents
        ), kept AS (
          SELECT t.doc_id, t.tok, t.p
          FROM tok t LEFT JOIN cut c ON t.doc_id = c.doc_id AND t.p = c.p
          WHERE c.p IS NULL
        ), agg AS (
          SELECT doc_id, array_to_string(list(tok ORDER BY p), ' ') AS text_clean,
                 count(*) AS n_kept
          FROM kept GROUP BY doc_id
        )
        SELECT d.doc_id,
               len(string_split(lower(d.text), ' '))::BIGINT AS n_tokens,
               len(string_split(lower(d.text), ' '))::BIGINT - coalesce(a.n_kept, 0) AS n_removed,
               coalesce(a.text_clean, '') AS text_clean
        FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """
    d["funnel_plan"] = f"""
        WITH cal AS (
          SELECT est_jaccard, count(*) AS n_pairs
          FROM ({_minhash_est_sql(12, 4)}) GROUP BY est_jaccard
        ),
        bc AS ({_minhash_bucket_counts_sql(12, 4)}),
        band_choice AS (
          SELECT bands, r, p_at_target FROM (
            SELECT (12 // r)::INT AS bands, r::INT AS r,
                   round(1.0 - pow(1.0 - pow(0.8, r), 12 // r), 6) AS p_at_target
            FROM (SELECT unnest([1, 2, 3, 4, 6, 12]) AS r)
          ) ORDER BY (p_at_target >= 0.9) DESC,
                     (CASE WHEN p_at_target >= 0.9 THEN r ELSE -r END) DESC
          LIMIT 1
        ),
        thr AS (
          SELECT round(k / 12.0, 6) AS est_threshold,
                 tail AS est_recall_at_target FROM (
            SELECT k,
                   round(list_reduce(
                     list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(generate_series(k, 12),
                         j -> (CASE WHEN j = 0 THEN CAST(1.0 AS DOUBLE)
                               ELSE list_product(list_transform(
                                 generate_series(1, j::INT),
                                 i -> (12.0 - j + i) / i)) END)
                              * pow(0.8, j) * pow(0.19999999999999996, 12 - j))),
                     (acc, x) -> acc + x), 6) AS tail
            FROM (SELECT unnest(generate_series(0, 12)) AS k)
          ) WHERE tail >= 0.9 ORDER BY k DESC LIMIT 1
        ),
        measured AS (
          SELECT t.est_threshold, t.est_recall_at_target,
                 coalesce(sum(c.n_pairs), 0)::BIGINT AS pairs_total,
                 coalesce(sum(CASE WHEN c.est_jaccard >= t.est_threshold
                          THEN c.n_pairs ELSE 0 END), 0)::BIGINT AS pairs_kept
          FROM thr t LEFT JOIN cal c ON TRUE GROUP BY 1, 2
        ),
        cap AS (SELECT ceil(quantile_cont(cnt, 0.999))::BIGINT AS max_bucket FROM bc)
        SELECT 12 AS n_hashes, 0.8::DOUBLE AS target_jaccard,
               0.9::DOUBLE AS recall_floor,
               band_choice.bands, band_choice.r, band_choice.p_at_target,
               m.est_threshold, m.est_recall_at_target, m.pairs_total,
               m.pairs_kept,
               CASE WHEN m.pairs_total > 0
                    THEN round(m.pairs_kept / m.pairs_total, 6) END AS keep_frac,
               cap.max_bucket
        FROM band_choice, measured m, cap
    """
    d["strip_boilerplate"] = """
        WITH g0 AS (
          SELECT doc_id, len(string_split(lower(text), ' '))::BIGINT AS n_tokens,
                 list_transform(
                   generate_series(1, greatest(1, len(string_split(lower(text), ' ')) - 4)),
                   i -> array_to_string(string_split(lower(text), ' ')[i:i+4], ' ')
                 ) AS grams
          FROM documents
        ), g AS (
          SELECT doc_id, n_tokens,
                 CAST(generate_subscripts(grams, 1) - 1 AS BIGINT) AS i,
                 ('0x' || substring(md5(unnest(grams)), 1, 15))::BIGINT AS gh
          FROM g0
        ), hot AS (
          SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS df FROM g GROUP BY gh)
          WHERE df >= 2
        ), cut AS (
          SELECT DISTINCT doc_id, p FROM (
            SELECT g.doc_id,
                   unnest(generate_series(g.i + 1, least(g.i + 5, g.n_tokens))) AS p
            FROM g JOIN hot ON g.gh = hot.gh
          )
        ), tok AS (
          SELECT doc_id,
                 unnest(string_split(lower(text), ' ')) AS tok,
                 CAST(generate_subscripts(string_split(lower(text), ' '), 1) AS BIGINT) AS p
          FROM documents
        ), kept AS (
          SELECT t.doc_id, t.tok, t.p
          FROM tok t LEFT JOIN cut c ON t.doc_id = c.doc_id AND t.p = c.p
          WHERE c.p IS NULL
        ), agg AS (
          SELECT doc_id, array_to_string(list(tok ORDER BY p), ' ') AS text_clean,
                 count(*) AS n_kept
          FROM kept GROUP BY doc_id
        )
        SELECT d.doc_id,
               len(string_split(lower(d.text), ' '))::BIGINT AS n_tokens,
               len(string_split(lower(d.text), ' '))::BIGINT - coalesce(a.n_kept, 0) AS n_removed,
               coalesce(a.text_clean, '') AS text_clean
        FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """
    d["pipeline_curate_funnel"] = f"""
        WITH RECURSIVE g AS ({_gopher_sql(min_words=40, min_stopword_hits=1)}),
        gkeep AS (SELECT doc_id FROM g WHERE gopher_ok),
        surv AS (
          SELECT d.doc_id, d.text FROM documents d JOIN gkeep USING (doc_id)
        ), sg0 AS (
          SELECT doc_id, len(string_split(lower(text), ' '))::BIGINT AS n_tokens,
                 list_transform(
                   generate_series(1, greatest(1, len(string_split(lower(text), ' ')) - 4)),
                   i -> array_to_string(string_split(lower(text), ' ')[i:i+4], ' ')
                 ) AS grams
          FROM surv
        ), sg AS (
          SELECT doc_id, n_tokens,
                 CAST(generate_subscripts(grams, 1) - 1 AS BIGINT) AS i,
                 ('0x' || substring(md5(unnest(grams)), 1, 15))::BIGINT AS gh
          FROM sg0
        ), hot AS (
          SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS df FROM sg GROUP BY gh)
          WHERE df >= 3
        ), cut AS (
          SELECT DISTINCT doc_id, p FROM (
            SELECT sg.doc_id,
                   unnest(generate_series(sg.i + 1, least(sg.i + 5, sg.n_tokens))) AS p
            FROM sg JOIN hot ON sg.gh = hot.gh
          )
        ), tok AS (
          SELECT doc_id,
                 unnest(string_split(lower(text), ' ')) AS tok,
                 CAST(generate_subscripts(string_split(lower(text), ' '), 1) AS BIGINT) AS p
          FROM surv
        ), keptt AS (
          SELECT t.doc_id, t.tok, t.p
          FROM tok t LEFT JOIN cut c ON t.doc_id = c.doc_id AND t.p = c.p
          WHERE c.p IS NULL
        ), clean AS (
          SELECT s.doc_id, coalesce(a.text, '') AS text
          FROM surv s LEFT JOIN (
            SELECT doc_id, array_to_string(list(tok ORDER BY p), ' ') AS text
            FROM keptt GROUP BY doc_id
          ) a USING (doc_id)
        ),
        e AS ({_minhash_est_sql(12, 4, source="clean")}),
        cand AS (SELECT a, b FROM e WHERE est_jaccard >= 0.5),
        vsh AS (
          SELECT doc_id AS did, unnest(list_distinct({_DK_SHINGLES3})) AS s
          FROM surv
        ),
        vsizes AS (SELECT did, count(*) AS sz FROM vsh GROUP BY did),
        vinter AS (
          SELECT k.a, k.b, count(*) AS inter
          FROM cand k
          JOIN vsh l ON l.did = k.a
          JOIN vsh r ON r.did = k.b AND r.s = l.s
          GROUP BY k.a, k.b
        ),
        ver AS (
          SELECT i.a, i.b FROM vinter i
          JOIN vsizes sa ON sa.did = i.a
          JOIN vsizes sb ON sb.did = i.b
          WHERE round(i.inter / (sa.sz + sb.sz - i.inter), 6) >= 0.3
        ),
        edges AS (SELECT a AS u, b AS v FROM ver UNION SELECT b, a FROM ver),
        reach(u, v) AS (
          SELECT u, v FROM edges
          UNION
          SELECT u, u FROM edges
          UNION
          SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u
        ),
        comp AS (SELECT u AS doc_id, min(v) AS component FROM reach GROUP BY u),
        scored AS (
          SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
                 {_DK_QUALITY} AS q
          FROM documents d
          JOIN gkeep USING (doc_id)
          LEFT JOIN comp c ON d.doc_id = c.doc_id
        )
        SELECT doc_id, component, cluster_size, q AS score FROM (
          SELECT doc_id, component, q,
                 count(*) OVER (PARTITION BY component) AS cluster_size,
                 row_number() OVER (PARTITION BY component
                                    ORDER BY q DESC, doc_id) AS rn
          FROM scored
        ) WHERE rn = 1
    """
    d["strip_common_lines"] = """
        WITH messy AS (
          SELECT doc_id, source,
                 'header of ' || source || chr(10) || text || chr(10) ||
                 'doc note ' || doc_id || chr(10) || 'footer of ' || source AS t
          FROM documents
        ), lines AS (
          SELECT doc_id, source,
                 unnest(list_distinct(string_split(t, chr(10)))) AS line
          FROM messy
        ), gn AS (SELECT source, count(*) AS n FROM messy GROUP BY source),
        boiler AS (
          SELECT l.source, l.line
          FROM (SELECT source, line, count(DISTINCT doc_id) AS df
                FROM lines GROUP BY source, line) l
          JOIN gn ON gn.source = l.source
          WHERE l.df >= 2 AND l.df >= gn.n * 0.5
        ), bset AS (SELECT source, list(line) AS bl FROM boiler GROUP BY source)
        SELECT m.doc_id, m.source,
               len(string_split(m.t, chr(10)))::BIGINT AS n_lines,
               (len(string_split(m.t, chr(10)))
                - len(list_filter(string_split(m.t, chr(10)),
                      x -> NOT coalesce(list_contains(b.bl, x), FALSE))))::BIGINT
                 AS n_removed,
               array_to_string(
                 list_filter(string_split(m.t, chr(10)),
                             x -> NOT coalesce(list_contains(b.bl, x), FALSE)),
                 chr(10)) AS text_clean
        FROM messy m LEFT JOIN bset b ON m.source = b.source
    """
    _messy_url_sql = """
        SELECT doc_id,
               (CASE doc_id % 4 WHEN 0 THEN 'HTTP://WWW.'
                                WHEN 1 THEN 'http://'
                                WHEN 2 THEN 'https://' ELSE '' END)
               || source || '.example.com'
               || (CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END)
               || '/Page/' || (doc_id % 50)::VARCHAR
               || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
               || (CASE doc_id % 3 WHEN 0 THEN '?utm_source=x&b=2&a=1#frag'
                                   WHEN 1 THEN '?a=1&b=2' ELSE '' END) AS url
        FROM documents
    """
    # canonicalization mirrored function-for-function (operators/urls.py);
    # DuckDB lateral column aliases keep the steps readable
    _url_canon_steps = """
          SELECT doc_id, url,
                 trim(url) AS tu,
                 CASE WHEN regexp_matches(tu, '^[a-zA-Z][a-zA-Z0-9+.-]*://')
                      THEN tu ELSE 'http://' || tu END AS ws,
                 regexp_replace(ws, '#.*$', '') AS u,
                 lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
                 regexp_replace(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://', '') AS rest,
                 regexp_replace(lower(regexp_extract(rest, '^([^/?]*)', 1)),
                                '^www\\.', '') AS hostport,
                 CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
                      WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                      ELSE hostport END AS host,
                 regexp_replace(regexp_extract(rest, '^[^/?]*([^?]*)', 1),
                                '/+$', '') AS path,
                 CASE WHEN strpos(rest, '?') > 0
                      THEN regexp_replace(rest, '^[^?]*\\?', '') ELSE '' END AS qraw,
                 array_to_string(list_sort(list_filter(string_split(qraw, '&'),
                   p -> p <> '' AND NOT regexp_matches(p,
                        '^(utm_[^=]*|gclid|fbclid|ref|mc_cid|mc_eid)(=.*)?$'))),
                   '&') AS sq,
                 scheme || '://' || host || path
                   || (CASE WHEN sq <> '' THEN '?' || sq ELSE '' END) AS canonical_url,
                 regexp_replace(hostport, ':[0-9]+$', '') AS bare_host,
                 string_split(bare_host, '.') AS labels,
                 len(labels) AS nl,
                 (nl >= 3
                  AND regexp_matches(labels[nl - 1], '^(co|com|net|org|ac|gov|edu)$')
                  AND regexp_matches(labels[nl], '^[a-z]{2}$')) AS take3,
                 CASE WHEN take3 THEN 3 ELSE 2 END AS kk,
                 CASE WHEN regexp_matches(bare_host, '^[0-9.]+$') OR nl <= 2
                      THEN bare_host
                      ELSE array_to_string(labels[nl - kk + 1 : nl], '.') END AS domain
    """
    d["url_canonicalize"] = f"""
        WITH m AS ({_messy_url_sql}),
        c AS ({_url_canon_steps} FROM m)
        SELECT doc_id, url, canonical_url, bare_host AS host, domain FROM c
    """
    d["url_dedup"] = f"""
        WITH m AS ({_messy_url_sql}),
        c AS ({_url_canon_steps} FROM m),
        s AS (
          SELECT c.doc_id, c.canonical_url, d.n_chars::DOUBLE AS sc
          FROM c JOIN documents d ON c.doc_id = d.doc_id
        )
        SELECT doc_id, canonical_url, dup_count, score FROM (
          SELECT doc_id, canonical_url,
                 count(*) OVER w AS dup_count,
                 max(sc) OVER w AS score,
                 row_number() OVER (PARTITION BY canonical_url
                                    ORDER BY sc DESC, doc_id) AS rn
          FROM s WINDOW w AS (PARTITION BY canonical_url)
        ) WHERE rn = 1
    """
    d["url_domain_block"] = """
        WITH m AS (
          SELECT doc_id, source,
                 'http://'
                 || (CASE doc_id % 3 WHEN 0 THEN 'www.'
                                     WHEN 1 THEN 'deep.sub.' ELSE '' END)
                 || source || '.com/p/' || doc_id::VARCHAR AS url
          FROM documents
        )
        SELECT doc_id, source, url FROM m
        WHERE source || '.com' NOT IN ('src0.com', 'src3.com', 'src7.com')
    """
    _recrawl_url_sql = """
        SELECT doc_id,
               (CASE doc_id % 4 WHEN 0 THEN 'HTTP://WWW.'
                                WHEN 1 THEN 'http://'
                                WHEN 2 THEN 'http://www.' ELSE '' END)
               || 'site' || (pg % 7)::VARCHAR || '.example.com'
               || (CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END)
               || '/p/' || pg::VARCHAR
               || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
               || (CASE doc_id % 3 WHEN 0 THEN '?utm_source=x&b=2&a=1#frag'
                                   WHEN 1 THEN '?a=1&b=2'
                                   ELSE '?b=2&a=1' END) AS url
        FROM (SELECT doc_id,
                     CASE WHEN doc_id % 20 = 0 THEN 100000 + doc_id
                          ELSE CAST(floor(doc_id / 10) AS BIGINT) END AS pg
              FROM documents)
    """
    d["url_dedup_incremental"] = f"""
        WITH m AS ({_recrawl_url_sql}),
        c AS ({_url_canon_steps} FROM m)
        SELECT doc_id, url, canonical_url FROM c
        WHERE doc_id % 5 = 0
          AND canonical_url NOT IN (
            SELECT DISTINCT canonical_url FROM c WHERE doc_id % 5 > 0)
    """
    d["extract_links"] = r'''
        WITH m AS (
          SELECT doc_id,
                 '<a href="http://' || source || '.com/p/'
                 || (doc_id % 10)::VARCHAR || '">x</a> '
                 || (CASE WHEN doc_id % 2 = 0
                     THEN concat('<a href=', chr(39), '/rel/',
                                 doc_id::VARCHAR, chr(39), '>r</a>')
                     ELSE '<p>none</p>' END) AS t
          FROM documents
        ), l AS (
          SELECT doc_id,
                 list_concat(
                   regexp_extract_all(t, 'href\s*=\s*"([^"]*)"', 1),
                   regexp_extract_all(t,
                     concat('href\s*=\s*', chr(39), '([^', chr(39), ']*)', chr(39)), 1)) AS links
          FROM m
        )
        SELECT doc_id, unnest(links) AS link,
               CAST(generate_subscripts(links, 1) - 1 AS BIGINT) AS link_pos
        FROM l
    '''
    d["hard_negatives"] = f"""
        WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 12),
        scored AS (
          SELECT q.qid, e.vec_id, {cos_e_q} AS score
          FROM embeddings e, q
          WHERE {_dk_norm_pos('e.embedding')} AND {_dk_norm_pos('q.qv')}
            AND e.vec_id <> q.qid
        )
        SELECT qid, vec_id, score FROM scored
        WHERE score >= 0.2 AND score < 0.6
        QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) <= 5
    """
    d["tpch_q10_returned_items"] = """
        SELECT c_custkey, c_name, revenue, c_acctbal, n_name FROM (
          SELECT c_custkey, c_name, c_acctbal, n_name,
                 round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          WHERE l_returnflag = 'R'
            AND o_orderdate >= TIMESTAMP '1995-10-01'
            AND o_orderdate < TIMESTAMP '1996-01-01'
          GROUP BY c_custkey, c_name, c_acctbal, n_name
        ) ORDER BY revenue DESC, c_custkey LIMIT 20
    """
    d["tpch_q4_order_priority"] = """
        SELECT o_orderpriority, count(*)::BIGINT AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """
    d["tpch_q7_volume_shipping"] = """
        SELECT supp_nation, cust_nation, l_year,
               round(sum(volume), 4) AS revenue
        FROM (
          SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 year(l_shipdate) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1998-01-01'
            AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        )
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """
    d["tpch_q13_order_distribution"] = """
        SELECT c_count, count(*)::BIGINT AS custdist FROM (
          SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
          FROM customer c
          LEFT OUTER JOIN orders o
            ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
          GROUP BY c.c_custkey
        ) GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """
    d["tpch_q18_large_volume"] = """
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               round(sum(l_quantity), 4) AS total_qty
        FROM customer
        JOIN orders ON o_custkey = c_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (
          SELECT l_orderkey FROM lineitem
          GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100
    """
    d["tpch_q8_market_share"] = """
        SELECT o_year,
               round(sum(CASE WHEN supp_nation = 'NATION_2' THEN volume ELSE 0 END)
                     / sum(volume), 6) AS mkt_share
        FROM (
          SELECT year(o_orderdate) AS o_year,
                 l_extendedprice * (1 - l_discount) AS volume,
                 n2.n_name AS supp_nation
          FROM lineitem
          JOIN part ON p_partkey = l_partkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n1 ON c_nationkey = n1.n_nationkey
          JOIN region ON n1.n_regionkey = r_regionkey
          JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
            AND o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1998-01-01'
        ) GROUP BY o_year ORDER BY o_year
    """
    d["tpch_q9_product_profit"] = """
        SELECT nation, o_year, round(sum(amount), 4) AS sum_profit
        FROM (
          SELECT n_name AS nation, year(o_orderdate) AS o_year,
                 l_extendedprice * (1 - l_discount)
                 - 0.5 * p_retailprice * l_quantity AS amount
          FROM lineitem
          JOIN part ON p_partkey = l_partkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN orders ON l_orderkey = o_orderkey
          WHERE p_type = 'PROMO'
        ) GROUP BY nation, o_year ORDER BY nation, o_year DESC
    """
    d["tpch_q11_important_parts"] = """
        WITH vals AS (
          SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS val
          FROM lineitem
          WHERE l_suppkey IN (
            SELECT s_suppkey FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_1')
          GROUP BY l_partkey)
        SELECT l_partkey, round(val, 4) AS value
        FROM vals
        WHERE round(val, 4) > round((SELECT sum(val) FROM vals) * 0.001, 4)
        ORDER BY value DESC, l_partkey
    """
    d["tpch_q12_priority_by_status"] = """
        SELECT l_linestatus,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_linestatus ORDER BY l_linestatus
    """
    d["tpch_q15_top_supplier"] = """
        WITH revenue AS (
          SELECT l_suppkey,
                 round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM revenue JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        ORDER BY s_suppkey
    """
    d["tpch_q16_supplier_counts"] = """
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#1'
          AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
          AND l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """
    d["tpch_q17_small_quantity"] = """
        SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
        FROM lineitem l
        JOIN part ON p_partkey = l.l_partkey
        WHERE p_brand = 'Brand#1'
          AND l.l_quantity < (
            SELECT round(0.2 * avg(l2.l_quantity), 6) FROM lineitem l2
            WHERE l2.l_partkey = l.l_partkey)
    """
    d["tpch_q19_disjunctive_revenue"] = """
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20
               AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 15 AND 40
               AND l_quantity BETWEEN 20 AND 50)
    """
    d["tpch_q20_promo_suppliers"] = """
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_suppkey IN (
            SELECT l_suppkey FROM lineitem
            JOIN part ON p_partkey = l_partkey
            WHERE p_type = 'PROMO'
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY l_suppkey, l_partkey
            HAVING sum(l_quantity) > 50)
          AND s_nationkey IN (
            SELECT n_nationkey FROM nation WHERE n_name = 'NATION_3')
        ORDER BY s_name
    """
    d["tpch_q21_waiting_supplier"] = """
        SELECT s_name, count(*)::BIGINT AS numwait
        FROM lineitem l1
        JOIN orders ON o_orderkey = l1.l_orderkey
        JOIN supplier ON s_suppkey = l1.l_suppkey
        WHERE o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20
    """
    d["tpch_q22_global_sales"] = """
        WITH sel AS (
          SELECT c_custkey, c_acctbal, c_nationkey % 10 AS cntrycode
          FROM customer WHERE c_nationkey % 10 IN (1, 2, 3, 4, 5))
        SELECT cntrycode, count(*)::BIGINT AS numcust,
               round(sum(c_acctbal), 4) AS totacctbal
        FROM sel
        WHERE c_acctbal > (
            SELECT round(avg(c_acctbal), 6) FROM sel WHERE c_acctbal > 0)
          AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = sel.c_custkey
              AND o_orderdate >= TIMESTAMP '1999-01-01')
        GROUP BY cntrycode ORDER BY cntrycode
    """
    d["tpch_q2_min_cost_supplier"] = """
        WITH ps AS (SELECT DISTINCT l_partkey AS ps_partkey,
                                    l_suppkey AS ps_suppkey FROM lineitem),
        eu AS (
          SELECT s_suppkey, s_name, s_acctbal, n_name
          FROM supplier
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE')
        SELECT p_partkey, p_name, s_name, s_acctbal, n_name
        FROM part
        JOIN ps ON p_partkey = ps_partkey
        JOIN eu ON ps_suppkey = s_suppkey
        WHERE p_size = 15 AND p_type = 'STANDARD'
          AND s_acctbal = (
            SELECT min(e2.s_acctbal) FROM ps p2 JOIN eu e2
            ON p2.ps_suppkey = e2.s_suppkey
            WHERE p2.ps_partkey = p_partkey)
        ORDER BY s_acctbal, p_partkey, s_name
    """
    _stat_num = """
        SELECT '{c}' AS "column", count(*)::BIGINT AS n_rows,
               (count(*) - count({c}))::BIGINT AS n_nulls,
               count(DISTINCT {c})::BIGINT AS n_distinct,
               min({c})::DOUBLE AS vmin_num, max({c})::DOUBLE AS vmax_num,
               NULL::VARCHAR AS vmin_str, NULL::VARCHAR AS vmax_str
        FROM lineitem"""
    _stat_str = """
        SELECT '{c}' AS "column", count(*)::BIGINT AS n_rows,
               (count(*) - count({c}))::BIGINT AS n_nulls,
               count(DISTINCT {c})::BIGINT AS n_distinct,
               NULL::DOUBLE AS vmin_num, NULL::DOUBLE AS vmax_num,
               min({c}) AS vmin_str, max({c}) AS vmax_str
        FROM lineitem"""
    d["analyze_table_stats"] = (
        " UNION ALL ".join(
            [_stat_num.format(c=c) for c in ("l_quantity", "l_discount", "l_partkey")]
            + [_stat_str.format(c=c) for c in ("l_returnflag", "l_linestatus")]
        )
        + ' ORDER BY "column"'
    )
    d["incremental_agg_refresh"] = """
        SELECT o_orderpriority,
               count(o_totalprice)::BIGINT AS n_rows,
               round(round(sum(o_totalprice), 4), 2) AS total,
               round(min(o_totalprice), 4) AS vmin,
               round(max(o_totalprice), 4) AS vmax,
               round(round(sum(o_totalprice) / count(o_totalprice), 6), 2) AS vavg
        FROM orders
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """
    d["media_phash_dedup"] = """
        SELECT 'copy-' || CAST(doc_id AS VARCHAR) AS u,
               'image-' || CAST(doc_id AS VARCHAR) AS v,
               CAST(0 AS BIGINT) AS hamming
        FROM documents WHERE doc_id % 7 = 0 ORDER BY u, v
    """
    d["incremental_quantile_refresh"] = """
        WITH h AS (
          SELECT o_orderpriority,
                 CAST(least(63, greatest(0,
                      CAST(floor((o_totalprice - 0.0) / 7812.5) AS BIGINT))) AS INT) AS bin,
                 count(*) AS cnt
          FROM orders WHERE o_totalprice IS NOT NULL
          GROUP BY 1, 2
        ), c AS (
          SELECT o_orderpriority, bin, cnt,
                 sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 sum(cnt) OVER (PARTITION BY o_orderpriority) AS n
          FROM h
        ), qq AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.5), (0.95)) t(q)
        ), hit AS (
          SELECT o_orderpriority, q,
                 round(0.0 + 7812.5 * (CAST(bin AS DOUBLE)
                   + (q * CAST(n AS DOUBLE) - CAST(cum - cnt AS DOUBLE))
                     / CAST(cnt AS DOUBLE)), 6) AS est
          FROM c CROSS JOIN qq
          WHERE CAST(cum AS DOUBLE) >= q * CAST(n AS DOUBLE)
            AND CAST(cum - cnt AS DOUBLE) < q * CAST(n AS DOUBLE)
        )
        SELECT o_orderpriority,
               max(CASE WHEN q = 0.5 THEN est END) AS p50,
               max(CASE WHEN q = 0.95 THEN est END) AS p95
        FROM hit GROUP BY o_orderpriority ORDER BY o_orderpriority
    """
    d["curriculum_shards"] = f"""
        WITH scored AS (
          SELECT doc_id, {_DK_QUALITY} AS q FROM documents
        ), keyed AS (
          SELECT doc_id,
                 lpad(CAST(CAST(1000000 - round(q * 1000000) AS BIGINT) AS VARCHAR),
                      7, '0') AS k
          FROM scored
        ), ranked AS (
          SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) - 1 AS r FROM keyed
        )
        SELECT doc_id, CAST(r // 64 AS BIGINT) AS shard,
               CAST(r % 64 AS BIGINT) AS pos_in_shard
        FROM ranked
    """
    d["dedup_keep_best"] = f"""
        WITH scored AS (
          SELECT doc_id, md5({_DK_NORM}) AS fp, {_DK_QUALITY} AS s FROM documents
        ), ranked AS (
          SELECT doc_id, fp, s,
                 count(*) OVER (PARTITION BY fp) AS dup_count,
                 row_number() OVER (PARTITION BY fp ORDER BY s DESC, doc_id) AS rn
          FROM scored
        )
        SELECT doc_id, fp, dup_count, s AS score FROM ranked WHERE rn = 1
    """
    d["retention_cohorts"] = """
        WITH activity AS (
          SELECT DISTINCT user_id,
                 CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS w
          FROM events
        ), cohort AS (
          SELECT user_id, min(w) AS w0 FROM activity GROUP BY 1
        )
        SELECT w0 AS cohort_week, w - w0 AS week_offset,
               count(DISTINCT a.user_id) AS n_users
        FROM activity a JOIN cohort c ON a.user_id = c.user_id
        GROUP BY 1, 2
    """
    d["data_expectations"] = """
        WITH agg AS (
          SELECT count(*) AS n,
            CAST(sum(CASE WHEN event_id IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS v_id,
            CAST(sum(CASE WHEN coalesce(user_id >= 0 AND user_id < 100, false) THEN 0 ELSE 1 END) AS BIGINT) AS v_user,
            CAST(sum(CASE WHEN coalesce(value >= 0, false) THEN 0 ELSE 1 END) AS BIGINT) AS v_val,
            CAST(sum(CASE WHEN coalesce(event_type IN ('view','click','purchase','signup','error'), false) THEN 0 ELSE 1 END) AS BIGINT) AS v_type,
            CAST(sum(CASE WHEN coalesce(ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2025-01-01', false) THEN 0 ELSE 1 END) AS BIGINT) AS v_ts
          FROM events
        )
        -- sums CAST in the CTE: DuckDB sum(int) is HUGEINT, and a UNION ALL
        -- branch left uncast widens the whole output column to HUGEINT ->
        -- pandas float64, hash-red vs Spark's int64 (r3 judge finding; same
        -- class as the r2 events_variant_agg fix)
        SELECT 'event_id_not_null' AS rule, CAST(n AS BIGINT) AS n_rows,
               CAST(v_id AS BIGINT) AS n_violations, round(v_id * 100.0 / n, 6) AS violation_pct FROM agg
        UNION ALL SELECT 'user_in_range', n, v_user, round(v_user * 100.0 / n, 6) FROM agg
        UNION ALL SELECT 'value_non_negative', n, v_val, round(v_val * 100.0 / n, 6) FROM agg
        UNION ALL SELECT 'known_event_type', n, v_type, round(v_type * 100.0 / n, 6) FROM agg
        UNION ALL SELECT 'ts_in_2024', n, v_ts, round(v_ts * 100.0 / n, 6) FROM agg
    """
    d["stream_enrich_counts"] = """
        SELECT c_mktsegment AS segment, event_type, count(*) AS n
        FROM events LEFT JOIN customer ON user_id = c_custkey
        GROUP BY 1, 2
    """
    d["token_offset_shards"] = r"""
        WITH base AS (
          SELECT doc_id AS id,
                 len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tokens,
                 md5('tos' || CAST(doc_id AS VARCHAR)) AS k
          FROM documents
        ), cum AS (
          SELECT id, n_tokens,
                 coalesce(sum(n_tokens) OVER (
                   ORDER BY k, id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS token_offset
          FROM base
        )
        SELECT id, n_tokens, CAST(token_offset AS BIGINT) AS token_offset,
               CAST(token_offset // 2048 AS BIGINT) AS shard
        FROM cum
    """
    d["funnel_conversion"] = """
        WITH s0 AS (
          SELECT user_id AS u, min(ts) AS t0 FROM events
          WHERE event_type = 'signup' GROUP BY 1
        ), s1 AS (
          SELECT s0.u, s0.t0, min(e.ts) AS t1
          FROM s0 LEFT JOIN events e
            ON e.user_id = s0.u AND e.event_type = 'view' AND e.ts > s0.t0
           AND floor(epoch(e.ts)) <= floor(epoch(s0.t0)) + 21600
          GROUP BY 1, 2
        ), s2 AS (
          SELECT s1.u, s1.t1, min(e.ts) AS t2
          FROM s1 LEFT JOIN events e
            ON e.user_id = s1.u AND e.event_type = 'purchase' AND e.ts > s1.t1
           AND floor(epoch(e.ts)) <= floor(epoch(s1.t0)) + 21600
          GROUP BY 1, 2, s1.t0
        )
        SELECT CAST(0 AS INT) AS step_idx, 'signup' AS step, count(*) AS n_users FROM s2
        UNION ALL
        SELECT CAST(1 AS INT), 'view', count(t1) FROM s2
        UNION ALL
        SELECT CAST(2 AS INT), 'purchase', count(t2) FROM s2
    """
    d["lm_quality"] = f"""
        WITH tnorm AS (
          SELECT {_DK_NORM} AS norm FROM documents WHERE doc_id < 250
        ), tbg AS (
          SELECT unnest(list_transform(
                   generate_series(1, length(norm) - 1),
                   i -> substr(norm, i, 2))) AS bg
          FROM tnorm WHERE length(norm) >= 2
        ), lm AS (
          SELECT bg, count(*) AS cnt FROM tbg GROUP BY bg
        ), vocab AS (SELECT count(*) AS v FROM lm),
        marg AS (
          SELECT substr(bg, 1, 1) AS c1, sum(cnt) AS c1_cnt FROM lm GROUP BY 1
        ), snorm AS (
          SELECT doc_id, {_DK_NORM} AS norm FROM documents WHERE doc_id >= 250
        ), sbg AS (
          SELECT doc_id, unnest(list_transform(
                   generate_series(1, length(norm) - 1),
                   i -> substr(norm, i, 2))) AS bg
          FROM snorm WHERE length(norm) >= 2
        )
        SELECT doc_id, count(*) AS n_bigrams,
               round(avg(log2((coalesce(lm.cnt, 0) + 0.5)
                 / (coalesce(marg.c1_cnt, 0) + 0.5 * (SELECT v FROM vocab)))), 6)
                 AS lm_score
        FROM sbg
        LEFT JOIN lm ON sbg.bg = lm.bg
        LEFT JOIN marg ON substr(sbg.bg, 1, 1) = marg.c1
        GROUP BY doc_id
    """
    # merged-gate oracles compose the standalone variants' SQL verbatim, so
    # gate and standalone can never drift apart
    d["knn_suite"] = f"""
        SELECT 'top5' AS variant, * FROM ({d["knn_join"]})
        UNION ALL
        SELECT 'hardneg' AS variant, * FROM ({d["hard_negatives"]})
    """
    d["dedup_exact_suite"] = f"""
        SELECT 'full' AS variant, doc_id, fp, dup_count FROM ({d["dedup_exact"]})
        UNION ALL
        SELECT 'incr' AS variant, doc_id, fp, CAST(NULL AS BIGINT) AS dup_count
        FROM ({d["dedup_incremental"]})
    """
    d["dedup_ngram_suite"] = f"""
        SELECT 'word' AS unit, * FROM ({d["dedup_ngram_jaccard"]})
        UNION ALL
        SELECT 'char' AS unit, * FROM ({d["dedup_char_ngram"]})
    """
    d["multimodal_pipeline"] = f"""
        SELECT 'frames' AS stage, media_id, frame_idx AS idx,
               CAST(frame_bytes AS VARCHAR) AS val
        FROM ({d["multimodal_frames"]})
        UNION ALL
        SELECT 'resize' AS stage, media_id, CAST(0 AS BIGINT) AS idx,
               CAST(width AS VARCHAR) || 'x' || CAST(height AS VARCHAR)
                 || ':' || resized_hex AS val
        FROM ({d["multimodal_resize"]})
    """
    # streaming session_window equals the batch native operator on bounded
    # input — the same islands oracle pins both
    d["stream_session_window"] = d["events_session_window_native"]
    d["stream_interval_join"] = """
        SELECT p.event_id AS p_id, v.event_id AS v_id
        FROM events p JOIN events v
          ON p.user_id = v.user_id
         AND p.event_type = 'purchase' AND v.event_type = 'view'
         AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
    """
    d["stream_interval_join_outer"] = f"""
        WITH m AS ({d["stream_interval_join"]}),
        wm AS (
          SELECT least(
            (SELECT max(ts) FROM events WHERE event_type = 'purchase') - INTERVAL 1 HOUR,
            (SELECT max(ts) FROM events WHERE event_type = 'view') - INTERVAL 2 HOUR
          ) AS w
        )
        SELECT p_id, v_id FROM m
        UNION ALL
        SELECT p.event_id AS p_id, NULL AS v_id
        FROM events p CROSS JOIN wm
        WHERE p.event_type = 'purchase' AND p.ts <= wm.w
          AND NOT EXISTS (SELECT 1 FROM m WHERE m.p_id = p.event_id)
    """
    # mirrors q_retrieval_eval: scored set excludes self BEFORE ranking
    # (equivalent to Spark's top-11-then-filter since self is always rank 1);
    # rel>0 ⇔ label mod 5 matches, grade 2 on exact label match. IDCG uses
    # the same grade-histogram closed form as operators.ranking_metrics.
    d["retrieval_eval"] = f"""
        WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql
                   FROM embeddings WHERE vec_id < 8),
        scored AS (
          SELECT q.qid, e.vec_id, {_dk_cos('e.embedding', 'q.qv')} AS score
          FROM embeddings e, q
          WHERE e.vec_id != q.qid
            AND {_dk_norm_pos('e.embedding')} AND {_dk_norm_pos('q.qv')}
        ),
        run AS (
          SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk
          FROM scored
          QUALIFY rnk <= 10
        ),
        rel_pos AS (
          SELECT q.qid, e.vec_id AS doc,
                 CASE WHEN e.label = q.ql THEN 2 ELSE 1 END AS rel
          FROM embeddings e, q
          WHERE e.vec_id != q.qid AND e.label % 5 = q.ql % 5
        ),
        gh AS (SELECT qid, rel, count(*) AS cnt FROM rel_pos GROUP BY 1, 2),
        gh2 AS (
          SELECT qid, rel, cnt,
                 CAST(sum(cnt) OVER (PARTITION BY qid ORDER BY rel DESC
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - cnt AS BIGINT) AS off
          FROM gh
        ),
        ideal AS (
          SELECT qid, CAST(sum(cnt) AS BIGINT) AS n_rel,
                 sum(CASE WHEN off < 10 THEN
                       (power(2, rel) - 1)
                       * list_sum(list_transform(
                           generate_series(off + 1, least(off + cnt, 10)),
                           p -> 1.0 / log2(p + 1)))
                     ELSE 0 END) AS idcg
          FROM gh2 GROUP BY qid
        ),
        hits AS (
          SELECT r.qid, CAST(count(*) AS BIGINT) AS n_hits,
                 sum((power(2, rp.rel) - 1) / log2(r.rnk + 1)) AS dcg,
                 max(1.0 / r.rnk) AS rr
          FROM run r JOIN rel_pos rp ON rp.qid = r.qid AND rp.doc = r.vec_id
          GROUP BY r.qid
        )
        SELECT i.qid, i.n_rel,
               coalesce(h.n_hits, 0) AS n_hits,
               round(coalesce(h.n_hits, 0) / 10.0, 6) AS precision_at_k,
               round(coalesce(h.n_hits, 0) * 1.0 / i.n_rel, 6) AS recall_at_k,
               round(coalesce(h.rr, 0.0), 6) AS rr,
               round(coalesce(h.dcg, 0.0), 6) AS dcg_at_k,
               round(CASE WHEN i.idcg > 0 THEN coalesce(h.dcg, 0.0) / i.idcg
                     ELSE 0.0 END, 6) AS ndcg_at_k
        FROM ideal i LEFT JOIN hits h ON h.qid = i.qid
    """
    d["pca_gramian"] = """
        WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i)
        SELECT di.i, dj.i AS j,
               round(sum(e.embedding[di.i]::DOUBLE * e.embedding[dj.i]::DOUBLE), 6) AS g
        FROM embeddings e CROSS JOIN dims di CROSS JOIN dims dj
        GROUP BY 1, 2
    """
    # mirrors operators/pca.py diag_mahalanobis: per-dim moments rounded to
    # 6dp BEFORE the score fold; both engines fold dims 1..64 in the same
    # sequential order
    d["embedding_outliers"] = """
        WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
        st AS (
          SELECT d.i,
                 round(avg(e.embedding[d.i]::DOUBLE), 6) AS mu,
                 round(avg(e.embedding[d.i]::DOUBLE * e.embedding[d.i]::DOUBLE), 6) AS m2
          FROM embeddings e CROSS JOIN dims d
          GROUP BY d.i
        ),
        sv AS (SELECT i, mu, m2 - mu * mu AS var FROM st),
        lists AS (SELECT list(mu ORDER BY i) AS mus, list(var ORDER BY i) AS vars FROM sv)
        SELECT e.vec_id,
               round(list_sum(list_transform(generate_series(1, 64),
                     i -> (e.embedding[i]::DOUBLE - mus[i]) * (e.embedding[i]::DOUBLE - mus[i])
                          / (vars[i] + 0.000001))), 6) AS maha
        FROM embeddings e CROSS JOIN lists
        ORDER BY maha DESC, vec_id LIMIT 20
    """
    # mirrors q_stream_embedding_drift's bounded-stream final state: window
    # id = vec_id // 300 (ts is synthesized one row per second from
    # 1767225600 = 2026-01-01 UTC, which is 300-aligned); window means are
    # rounded to 6dp before the fold, matching streaming.drift_scores
    d["stream_embedding_drift"] = """
        WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
        base AS (
          SELECT d.i, round(avg(e.embedding[d.i]::DOUBLE), 6) AS mu
          FROM embeddings e CROSS JOIN dims d GROUP BY d.i
        ),
        win AS (
          SELECT CAST(1767225600 + (e.vec_id // 300) * 300 AS BIGINT) AS ws, d.i,
                 CAST(count(*) AS BIGINT) AS n, sum(e.embedding[d.i]::DOUBLE) AS sx
          FROM embeddings e CROSS JOIN dims d
          GROUP BY 1, 2
        )
        SELECT w.ws, max(w.n) AS n_rows,
               round(sum((round(w.sx / w.n, 6) - b.mu)
                       * (round(w.sx / w.n, 6) - b.mu)), 6) AS drift
        FROM win w JOIN base b ON b.i = w.i
        GROUP BY w.ws
    """
    d["source_divergence"] = f"""
        WITH t AS (SELECT source, {_DK_NORM} AS norm FROM documents),
        bg AS (
          SELECT source, unnest(list_transform(
                   generate_series(1, length(norm) - 1),
                   i -> substr(norm, i, 2))) AS bg
          FROM t WHERE length(norm) >= 2
        ),
        bgc AS (SELECT source, bg, count(*) AS cnt FROM bg GROUP BY 1, 2),
        tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS tot FROM bgc GROUP BY 1),
        q AS (SELECT bg, CAST(sum(cnt) AS BIGINT) AS q_cnt FROM bgc GROUP BY 1),
        qt AS (SELECT CAST(sum(q_cnt) AS BIGINT) AS q_tot FROM q),
        grid AS (
          SELECT t.source, coalesce(b.cnt, 0) * 1.0 / t.tot AS p,
                 q.q_cnt * 1.0 / qt.q_tot AS q
          FROM tot t CROSS JOIN q CROSS JOIN qt
          LEFT JOIN bgc b ON b.source = t.source AND b.bg = q.bg
        ),
        terms AS (
          SELECT source,
                 CASE WHEN p > 0 THEN p * log2(p / ((p + q) / 2)) ELSE 0 END AS kp,
                 q * log2(q / ((p + q) / 2)) AS kq
          FROM grid
        ),
        nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1)
        SELECT nd.source, nd.n_docs,
               round(0.5 * sum(t2.kp) + 0.5 * sum(t2.kq), 6) AS js_bits
        FROM terms t2 JOIN nd ON nd.source = t2.source
        GROUP BY nd.source, nd.n_docs
    """
    # mirrors corpus.pmi_collocations: PMI evaluated term-by-term in f64
    # from exact integer counts; 1-word docs excluded from BOTH unigram and
    # pair counts (the operator filters before counting)
    d["pmi_collocations"] = f"""
        WITH t AS (SELECT string_split({_DK_NORM}, ' ') AS ws FROM documents),
        t2 AS (SELECT ws FROM t WHERE len(ws) >= 2),
        uni AS (SELECT unnest(ws) AS w FROM t2),
        ucnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1),
        nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM ucnt),
        bi AS (
          SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
                        i -> ws[i] || ' ' || ws[i + 1])) AS bg
          FROM t2
        ),
        bic AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12 FROM bi GROUP BY 1),
        mm AS (SELECT CAST(sum(c12) AS BIGINT) AS m FROM bic),
        scored AS (
          SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
                 c12 AS pair_count,
                 round(log2(c12 * 1.0 / mm.m)
                     - log2(u1.c * 1.0 / nn.n)
                     - log2(u2.c * 1.0 / nn.n), 6) AS pmi
          FROM bic CROSS JOIN mm CROSS JOIN nn
          JOIN ucnt u1 ON u1.w = split_part(bg, ' ', 1)
          JOIN ucnt u2 ON u2.w = split_part(bg, ' ', 2)
          WHERE c12 >= 5
        )
        SELECT w1, w2, pair_count, pmi FROM scored
        ORDER BY pmi DESC, w1, w2 LIMIT 50
    """
    # mirrors operators/drift.psi_bins: equal-width bins over the BASELINE
    # range (exact scalars, engine-identical f64 arithmetic), shares
    # eps-floored on both sides of the log, terms from UNROUNDED shares
    d["psi_value_drift"] = """
        WITH b AS (SELECT value FROM events WHERE event_type = 'view'),
        c AS (SELECT value FROM events WHERE event_type = 'purchase'),
        mm AS (SELECT min(value) AS lo, max(value) AS hi,
                      CAST(count(value) AS BIGINT) AS nb FROM b),
        nc_ AS (SELECT CAST(count(value) AS BIGINT) AS nc FROM c),
        bb AS (
          SELECT least(greatest(CAST(floor((value - lo) / ((hi - lo) / 10.0)) AS BIGINT), 0), 9) AS bin
          FROM b CROSS JOIN mm
        ),
        cb AS (
          SELECT least(greatest(CAST(floor((value - lo) / ((hi - lo) / 10.0)) AS BIGINT), 0), 9) AS bin
          FROM c CROSS JOIN mm
        ),
        bcnt AS (SELECT bin, CAST(count(*) AS BIGINT) AS bc FROM bb GROUP BY 1),
        ccnt AS (SELECT bin, CAST(count(*) AS BIGINT) AS cc FROM cb GROUP BY 1),
        grid AS (
          SELECT unnest(generate_series(0, 9)) AS bin, nb, nc
          FROM mm CROSS JOIN nc_
        ),
        shares AS (
          SELECT g.bin,
                 greatest(coalesce(b2.bc, 0) * 1.0 / g.nb, 0.000001) AS e,
                 greatest(coalesce(c2.cc, 0) * 1.0 / g.nc, 0.000001) AS a
          FROM grid g
          LEFT JOIN bcnt b2 ON b2.bin = g.bin
          LEFT JOIN ccnt c2 ON c2.bin = g.bin
        )
        SELECT CAST(bin AS BIGINT) AS bin,
               round(e, 6) AS e_pct, round(a, 6) AS a_pct,
               round((a - e) * ln(a / e), 6) AS term
        FROM shares
    """
    # mirrors operators/drift.mad_outliers: exact interpolated medians,
    # MAD=0 groups excluded, threshold compared on the ROUNDED score
    d["mad_outliers"] = """
        WITH rows_ AS (
          SELECT event_id, event_type, CAST(value AS DOUBLE) AS value
          FROM events WHERE value IS NOT NULL
        ),
        med AS (SELECT event_type, median(value) AS med FROM rows_ GROUP BY 1),
        dev AS (
          SELECT r.event_id, r.event_type, r.value, m.med,
                 abs(r.value - m.med) AS absdev
          FROM rows_ r JOIN med m USING (event_type)
        ),
        mad AS (SELECT event_type, median(absdev) AS mad FROM dev GROUP BY 1)
        SELECT d.event_id, d.event_type,
               round(d.value, 6) AS value, round(d.med, 6) AS med,
               round(m.mad, 6) AS mad,
               round(0.6745 * (d.value - d.med) / m.mad, 6) AS robust_z
        FROM dev d JOIN mad m USING (event_type)
        WHERE m.mad > 0
          AND abs(round(0.6745 * (d.value - d.med) / m.mad, 6)) > 3.5
    """
    # mirrors operators/bm25.tfidf_keywords: same tokenization as the BM25
    # oracles (split on single space), smooth idf, rank on the ROUNDED score
    d["tfidf_keywords"] = """
        WITH tokens AS (
          SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY 1, 2),
        dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY 1),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term,
                 round((tf * 1.0 / dl)
                       * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0), 6) AS tfidf
          FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term), n
        ),
        ranked AS (
          SELECT doc_id, term, tfidf,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, term) AS rnk
          FROM scored
        )
        SELECT doc_id, term, tfidf, rnk FROM ranked WHERE rnk <= 5
    """
    # mirrors operators/corpus.grouped_quantile_filter: per-group exact
    # interpolated quantile (quantile_cont == Spark percentile), rounded
    # to 6dp before the comparison
    d["quality_quantile_by_lang"] = f"""
        WITH scored AS (
          SELECT doc_id, lang, {_DK_QUALITY} AS quality FROM documents
        ),
        thr AS (
          SELECT lang, round(quantile_cont(quality, 0.25), 6) AS t
          FROM scored GROUP BY 1
        )
        SELECT s.doc_id, s.lang, s.quality
        FROM scored s JOIN thr USING (lang)
        WHERE s.quality >= thr.t
    """
    # mirrors operators/dedup.source_overlap: 3-gram word shingles
    # (same generator as the decontamination oracle), distinct per
    # (source, shingle), pair join on the shingle with src_a < src_b
    d["source_overlap"] = f"""
        WITH fps AS (
          SELECT DISTINCT source AS src, sh AS fp FROM (
            SELECT source, unnest(list_distinct({_DK_SHINGLES3})) AS sh
            FROM documents
          )
        ),
        tot AS (SELECT src, CAST(count(*) AS BIGINT) AS n FROM fps GROUP BY 1),
        ov AS (
          SELECT a.src AS src_a, b.src AS src_b, CAST(count(*) AS BIGINT) AS n_overlap
          FROM fps a JOIN fps b ON a.fp = b.fp AND a.src < b.src
          GROUP BY 1, 2
        )
        SELECT src_a, src_b, n_overlap, ta.n AS n_a, tb.n AS n_b,
               round(n_overlap * 1.0 / (ta.n + tb.n - n_overlap), 6) AS jaccard
        FROM ov JOIN tot ta ON ta.src = src_a JOIN tot tb ON tb.src = src_b
    """
    d["events_transition_matrix"] = """
        WITH s AS (
          SELECT event_type AS cur,
                 lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
          FROM events
        ),
        c AS (SELECT cur, nxt, CAST(count(*) AS BIGINT) AS cnt
              FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2),
        t AS (SELECT cur, CAST(sum(cnt) AS BIGINT) AS tot FROM c GROUP BY 1)
        SELECT c.cur, c.nxt, c.cnt, round(c.cnt * 1.0 / t.tot, 6) AS p
        FROM c JOIN t USING (cur)
    """
    return d
