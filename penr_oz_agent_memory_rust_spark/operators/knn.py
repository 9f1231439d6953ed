"""KNN join / similarity search (SURVEY §7 step 7 — north-star scale op).

The reference's S5 search handles ONE query vector per request via Qdrant's
HNSW. At pipeline scale the shape is a *batch KNN join*: Q query vectors ×
N corpus vectors -> top-k per query. Strategies, cheapest first:

  1. expr_knn_join  — broadcast the (small) query side, score with the native
     column kernel, window top-k per query. Pure Catalyst, whole-stage
     codegen, one shuffle on query_id for the window.
  2. blocked_knn_join — Arrow-batched mapInPandas: the query matrix is a
     broadcast variable, each corpus partition does ONE float32 BLAS matmul
     and emits only its local top-k per query, so the shuffle input is
     Q×k×partitions rows, not Q×N. This is the 100 TB path for bounded
     query batches; blocked_knn_self_join is its exact no-collect
     all-pairs counterpart (2-D block nested loop).
  3. lsh_knn_join / lsh_knn_join_multiprobe — random-hyperplane LSH
     bucketing (deterministic seed): equi-join on (table, bucket), exact
     re-score of collisions. Approximate; OR-amplification across
     independent tables buys recall without coarsening buckets.
  4. lsh_knn_self_join — the approximate kNN GRAPH: per-(table, bucket)
     BLAS top-k via applyInPandas; cost ~ collision pairs, not N²
     (measured 6 s vs 172 s exact at 100k vectors).
  5. ivf_knn_join / ivf_index — k-means cells, probe-limited search;
     persisted index turns probes into partition pruning.
  6. hard_negative_mining — banded [lo, hi) variant of the exact scan for
     contrastive-training negatives.

Brute force is exact (recall 1.0) and embarrassingly parallel — the idiomatic
Spark replacement for HNSW per SURVEY §4.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from penr_oz_agent_memory_rust_spark.functions import similarity
from penr_oz_agent_memory_rust_spark.localdata import local_df
from penr_oz_agent_memory_rust_spark.operators.topk import top_k_per_group


def expr_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    metric: str = "cosine",
    precision: str = "f64",
    query_id: str = "query_id",
    query_vec: str = "qvec",
    corpus_id: str = "id",
    corpus_vec: str = "vec",
    round_to: int | None = None,
) -> DataFrame:
    """Strategy 1: broadcast-nested-loop scoring + per-query top-k.

    Output: (query_id, id, score), k rows per query, ties broken by id ASC.
    `round_to` rounds the score BEFORE ranking so an external oracle ranking
    rounded scores agrees at top-k boundaries.
    """
    if metric == "cosine" and precision == "f64":
        # prenormed fast path: norms projected once per side, so the corpus
        # norm is computed once per row (not once per (row, query) pair and
        # not re-evaluated inside the when-condition) — identical f64 values
        q = F.broadcast(
            queries.select(
                query_id,
                query_vec,
                similarity.norm_f64(F.col(query_vec)).alias("__qn"),
            )
        )
        scored_src = corpus.select(
            corpus_id,
            corpus_vec,
            similarity.norm_f64(F.col(corpus_vec)).alias("__cn"),
        ).crossJoin(q)
        score = similarity.cosine_f64_prenormed(
            similarity.dot_f64(F.col(corpus_vec), F.col(query_vec)),
            F.col("__cn"),
            F.col("__qn"),
            F.size(corpus_vec) == F.size(query_vec),
        )
    else:
        q = F.broadcast(queries.select(query_id, query_vec))
        scored_src = corpus.select(corpus_id, corpus_vec).crossJoin(q)
        score = similarity.score_expr(
            metric, F.col(corpus_vec), F.col(query_vec), precision
        )
    if round_to is not None:
        score = F.round(score, round_to)
    scored = (
        scored_src.withColumn("score", score)
        .filter(F.col("score").isNotNull())
        .select(query_id, corpus_id, "score")
    )
    return top_k_per_group(scored, [query_id], "score", k, tiebreak=corpus_id)


def hard_negative_mining(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    lo: float = 0.3,
    hi: float = 0.8,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    corpus_id: str = "id",
    corpus_vec: str = "vec",
    round_to: int | None = 6,
) -> DataFrame:
    """★ contrastive-training hard negatives: per query, the top-k corpus
    rows whose cosine lands in [lo, hi) — similar enough to be confusable,
    dissimilar enough to be a true negative (positives sit above `hi`,
    trivial negatives below `lo`).

    Same plan as the exact search with the band filter applied BELOW the
    per-query top-k window, so ranking work is bounded by band membership;
    scoring itself is the embarrassingly-parallel prenormed-cosine scan.
    Self-pairs are excluded (a row is never its own negative).
    """
    q = F.broadcast(
        queries.select(
            query_id, query_vec, similarity.norm_f64(F.col(query_vec)).alias("__qn")
        )
    )
    scored = (
        corpus.select(
            corpus_id, corpus_vec, similarity.norm_f64(F.col(corpus_vec)).alias("__cn")
        )
        .crossJoin(q)
        .withColumn(
            "score",
            similarity.cosine_f64_prenormed(
                similarity.dot_f64(F.col(corpus_vec), F.col(query_vec)),
                F.col("__cn"),
                F.col("__qn"),
                F.size(corpus_vec) == F.size(query_vec),
            ),
        )
    )
    if round_to is not None:
        scored = scored.withColumn("score", F.round("score", round_to))
    banded = scored.filter(
        F.col("score").isNotNull()
        & (F.col("score") >= lo)
        & (F.col("score") < hi)
        & (F.col(query_id) != F.col(corpus_id))
    ).select(query_id, corpus_id, "score")
    return top_k_per_group(banded, [query_id], "score", k, tiebreak=corpus_id)


def arrow_all_pairs_cosine_f64(
    corpus: DataFrame,
    queries: DataFrame,
    query_id: str = "qid",
    query_vec: str = "qv",
    corpus_id: str = "id",
    corpus_vec: str = "vec",
    id_type: str = "bigint",
    max_broadcast_queries: int = 200_000,
) -> DataFrame:
    """All-pairs exact f64 cosine scores, BIT-IDENTICAL to the expr
    strategy (similarity.dot_f64 / cosine_f64_prenormed) but computed
    vectorized in one Arrow pass instead of one interpreted higher-order
    aggregate per pair (r10: the 500×500 expr scan cost a 4.3 s
    single-task stage; this kernel computes the same scores in ~0.1 s).

    Bit-parity argument: Spark's `aggregate(zip_with(a,b,(x,y)->x*y),
    0.0d, (acc,x)->acc+x)` is elementwise f64 products followed by a
    LEFT-TO-RIGHT sequential f64 add starting at 0.0. Here the products
    are the same f64 ops, and the fold is reproduced exactly by looping
    over DIMENSIONS (adds stay in fold order) while vectorizing across
    PAIRS — IEEE addition is deterministic, so every pair's dot (and the
    norms, same fold over v*v then sqrt) comes out bit-identical. The
    6dp rounding is deliberately NOT done here: callers keep F.round in
    the JVM plan (Spark round is BigDecimal HALF_UP; Python round is
    banker's — they differ at exact .5 boundaries).

    Semantics match cosine_f64's guards: a pair is emitted only when the
    dims match and both norms are > 0 — pairs the expr strategy scores
    NULL (and every caller filters out) are simply absent. Self-pairs ARE
    emitted; callers exclude them exactly as they did on the crossJoin.

    The query side is collected to the driver and shipped in the task
    closure — same bounded-request contract (and the same guard) as
    blocked_knn_join. Output: (query_id, corpus_id, score double), score
    unrounded."""
    q_rows = (
        queries.select(query_id, query_vec)
        .limit(max_broadcast_queries + 1)
        .collect()
    )
    if len(q_rows) > max_broadcast_queries:
        raise ValueError(
            f"arrow_all_pairs_cosine_f64 broadcasts the query side; got more "
            f"than max_broadcast_queries={max_broadcast_queries} rows — use "
            f"blocked_knn_self_join for corpus-scale query sides."
        )
    out_schema = f"{query_id} {id_type}, {corpus_id} {id_type}, score double"
    if not q_rows:
        return local_df(corpus.sparkSession, [], out_schema)

    def _seq_dot(m: np.ndarray, other: np.ndarray) -> np.ndarray:
        # rows of m · rows of other, sequential-fold order over dims
        acc = np.zeros(m.shape[0], dtype=np.float64)
        for d in range(m.shape[1]):
            acc = acc + m[:, d] * other[:, d]
        return acc

    # group queries by dimension (comparability is per-pair); each group
    # is a (q, d) f64 matrix + its fold-order norms
    by_dim: dict = {}
    for r in q_rows:
        v = r[1]
        if v is None:
            continue
        by_dim.setdefault(len(v), []).append(r)
    groups = []
    for d, rows in by_dim.items():
        qids = np.asarray([r[0] for r in rows])
        Q = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
        qn = np.sqrt(_seq_dot(Q, Q))
        keep = qn > 0
        if keep.any():
            groups.append((d, qids[keep], Q[keep], qn[keep]))
    bc = corpus.sparkSession.sparkContext.broadcast(groups)

    def score(batches):
        import pyarrow as pa

        grps = bc.value
        for batch in batches:
            tbl = batch.to_pydict()
            ids = tbl[corpus_id]
            vecs = tbl[corpus_vec]
            # bucket corpus rows by dim too, then score dim-matched blocks
            rows_by_dim: dict = {}
            for cid, v in zip(ids, vecs):
                if v is None:
                    continue
                rows_by_dim.setdefault(len(v), ([], []))
                rows_by_dim[len(v)][0].append(cid)
                rows_by_dim[len(v)][1].append(v)
            out_q, out_c, out_s = [], [], []
            for d, (cids, cvs) in rows_by_dim.items():
                V = np.asarray(cvs, dtype=np.float64)
                vn = np.sqrt(_seq_dot(V, V))
                ok = vn > 0
                if not ok.any():
                    continue
                V, vn = V[ok], vn[ok]
                cid_arr = np.asarray(cids)[ok]
                for gd, qids, Q, qn in grps:
                    if gd != d:
                        continue
                    n, q = V.shape[0], Q.shape[0]
                    # dot[i,j] with the fold over dims outermost: adds per
                    # pair happen in dimension order, matching the expr fold
                    S = np.zeros((n, q), dtype=np.float64)
                    for k in range(d):
                        S = S + V[:, k : k + 1] * Q[None, :, k]
                    S = S / (vn[:, None] * qn[None, :])
                    out_q.append(np.repeat(qids, n))
                    out_c.append(np.tile(cid_arr, q))
                    out_s.append(S.T.reshape(-1))
            if out_q:
                yield pa.RecordBatch.from_pydict(
                    {
                        query_id: pa.array(np.concatenate(out_q)),
                        corpus_id: pa.array(np.concatenate(out_c)),
                        "score": pa.array(np.concatenate(out_s)),
                    }
                )

    return corpus.select(corpus_id, corpus_vec).mapInArrow(score, out_schema)


def blocked_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    metric: str = "cosine",
    query_id: str = "query_id",
    query_vec: str = "qvec",
    corpus_id: str = "id",
    corpus_vec: str = "vec",
    id_type: str = "bigint",
    query_block: int = 2048,
    max_broadcast_queries: int = 200_000,
) -> DataFrame:
    """Strategy 2: per-partition BLAS matmul + local top-k, then global top-k.

    The query side must fit on the driver (it is the broadcast dimension) —
    the same assumption Qdrant makes about a search request. Math is float32,
    matching the reference kernel (reference src/memory.rs:150-161).

    `query_block` bounds per-task memory: the score matrix is computed in
    (partition_rows × query_block) chunks, so a 1M-query all-pairs job
    allocates ~partition_rows*block*4 bytes per task instead of one giant
    (n × Q) matrix — the inflated-data probe finding in README "Scale
    design notes" that motivated this.

    `max_broadcast_queries` is the guard rail on the driver collect: this
    strategy is for *bounded request batches*. Feeding it an unbounded
    query side (e.g. the corpus itself) would OOM the driver long before
    100 TB — that workload belongs to `blocked_knn_self_join`, which never
    collects anything.
    """
    q_rows = queries.select(query_id, query_vec).limit(max_broadcast_queries + 1).collect()
    if len(q_rows) > max_broadcast_queries:
        raise ValueError(
            f"blocked_knn_join broadcasts the query side to the driver; got more "
            f"than max_broadcast_queries={max_broadcast_queries} rows. For "
            f"corpus-scale query sides use blocked_knn_self_join (2-D block "
            f"nested loop, no driver collect) or an ANN strategy (lsh/ivf)."
        )
    if not q_rows:
        return queries.sparkSession.createDataFrame(
            [], f"{query_id} {id_type}, {corpus_id} {id_type}, score double"
        )
    qids = [r[0] for r in q_rows]
    Q = np.asarray([r[1] for r in q_rows], dtype=np.float32)  # (q, d)
    if metric == "cosine":
        qn = np.linalg.norm(Q, axis=1, keepdims=True)
        qn[qn == 0] = np.inf  # zero-norm query matches nothing (P2 semantics)
        Q = Q / qn
    bc = queries.sparkSession.sparkContext.broadcast((qids, Q, metric, k, query_block))

    def score_partition(batches):
        qids_, Q_, metric_, k_, block = bc.value
        qids_arr = np.asarray(qids_)
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(pdf[corpus_vec].to_numpy()).astype(np.float32)  # (n, d)
            if metric_ == "cosine":
                vn = np.linalg.norm(V, axis=1, keepdims=True)
                vn[vn == 0] = np.inf
                V = V / vn
            ids = pdf[corpus_id].to_numpy()
            kk = min(k_, V.shape[0])
            for lo in range(0, len(qids_arr), block):
                Qb = Q_[lo : lo + block]  # (b, d)
                if metric_ in ("cosine", "dot"):
                    S = V @ Qb.T  # (n, b)
                else:  # euclid: smaller is better -> negate so top-k is uniform
                    S = -np.sqrt(
                        np.maximum(
                            (V * V).sum(1)[:, None] - 2 * V @ Qb.T + (Qb * Qb).sum(1)[None, :], 0
                        )
                    )
                # local top-k per query: argpartition is O(n) per column
                part_idx = np.argpartition(-S, kk - 1, axis=0)[:kk]  # (k, b)
                nb = S.shape[1]
                # vectorized emit: column-major flatten, no per-query loop
                out_id = ids[part_idx].T.reshape(-1)  # (b*k,)
                out_score = S[part_idx, np.arange(nb)].T.reshape(-1).astype(float)
                out_qid = np.repeat(qids_arr[lo : lo + nb], kk)
                yield pd.DataFrame({query_id: out_qid, corpus_id: out_id, "score": out_score})

    local = corpus.select(corpus_id, corpus_vec).mapInPandas(
        score_partition, schema=f"{query_id} {id_type}, {corpus_id} {id_type}, score double"
    )
    out = top_k_per_group(local, [query_id], "score", k, tiebreak=corpus_id)
    if metric == "euclid":
        out = out.withColumn("score", -F.col("score"))
    return out


def blocked_knn_self_join(
    corpus: DataFrame,
    k: int = 3,
    metric: str = "cosine",
    id_col: str = "id",
    vec_col: str = "vec",
    id_type: str = "bigint",
    query_blocks: int | None = None,
    corpus_blocks: int | None = None,
) -> DataFrame:
    """Exact all-pairs top-k over the corpus against itself — the
    nearest-neighbor-graph / embedding-dedup workload — with NO driver
    collect and NO broadcast of the corpus.

    2-D block nested loop: rows hash into BQ query blocks and BC corpus
    blocks; every (query block, corpus block) cell is an independent task
    that runs ONE float32 BLAS matmul over its (N/BQ × N/BC) slice and
    emits only its local top-k per query row. A global per-query top-k
    merges the cells. Exact (every pair is scored exactly once), and every
    memory footprint is bounded:
      driver:    nothing (pure cogroup plan)
      per task:  (N/BQ + N/BC) × d floats
      shuffle:   N×BC + N×BQ replicated input rows, N×BC×k candidate rows
    Scaling 100×: grow BQ·BC ∝ N² to hold task memory constant — the work
    is inherently O(N²) because the result is exact; for sub-quadratic cost
    use the LSH/IVF strategies instead.

    Output: (id_col_q, id_col, score) — k rows per query row including the
    self-match, same semantics as blocked_knn_join(corpus, corpus).
    """
    sess = corpus.sparkSession
    if query_blocks is None or corpus_blocks is None:
        par = sess.sparkContext.defaultParallelism
        side = max(2, int(np.ceil(np.sqrt(par))))
        query_blocks = query_blocks or side
        corpus_blocks = corpus_blocks or side
    qid_out, cid_out = f"{id_col}_q", id_col
    left = (
        corpus.select(F.col(id_col).alias("__qid"), F.col(vec_col).alias("__qv"))
        .withColumn("__qb", F.pmod(F.hash("__qid"), F.lit(query_blocks)))
        .withColumn("__cb", F.explode(F.array(*[F.lit(j) for j in range(corpus_blocks)])))
    )
    right = (
        corpus.select(F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cv"))
        .withColumn("__cb", F.pmod(F.hash("__cid"), F.lit(corpus_blocks)))
        .withColumn("__qb", F.explode(F.array(*[F.lit(j) for j in range(query_blocks)])))
    )

    def score_cell(lpdf, rpdf):
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({qid_out: [], cid_out: [], "score": []})
        Q = np.stack(lpdf["__qv"].to_numpy()).astype(np.float32)
        V = np.stack(rpdf["__cv"].to_numpy()).astype(np.float32)
        if metric == "cosine":
            qn = np.linalg.norm(Q, axis=1, keepdims=True)
            qn[qn == 0] = np.inf
            Q = Q / qn
            vn = np.linalg.norm(V, axis=1, keepdims=True)
            vn[vn == 0] = np.inf
            V = V / vn
        if metric in ("cosine", "dot"):
            S = V @ Q.T  # (n, q)
        else:
            S = -np.sqrt(
                np.maximum(
                    (V * V).sum(1)[:, None] - 2 * V @ Q.T + (Q * Q).sum(1)[None, :], 0
                )
            )
        ids = rpdf["__cid"].to_numpy()
        qids = lpdf["__qid"].to_numpy()
        kk = min(k, V.shape[0])
        part_idx = np.argpartition(-S, kk - 1, axis=0)[:kk]  # (k, q)
        nq = S.shape[1]
        return pd.DataFrame(
            {
                qid_out: np.repeat(qids, kk),
                cid_out: ids[part_idx].T.reshape(-1),
                "score": S[part_idx, np.arange(nq)].T.reshape(-1).astype(float),
            }
        )

    local = (
        left.groupby("__qb", "__cb")
        .cogroup(right.groupby("__qb", "__cb"))
        .applyInPandas(score_cell, schema=f"{qid_out} {id_type}, {cid_out} {id_type}, score double")
    )
    out = top_k_per_group(local, [qid_out], "score", k, tiebreak=cid_out)
    if metric == "euclid":
        out = out.withColumn("score", -F.col("score"))
    return out


def cosine_pairs_udf():
    """Arrow-batched cosine over aligned (a, b) array columns — the rescore
    kernel for approximate paths (LSH/IVF candidates). f32 BLAS; rows with a
    zero norm come back NaN (caller filters). Exact oracle-checked paths
    keep the f64 column expression instead."""

    @F.pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.stack(a.to_numpy()).astype(np.float32)
        B = np.stack(b.to_numpy()).astype(np.float32)
        na = np.linalg.norm(A, axis=1)
        nb = np.linalg.norm(B, axis=1)
        denom = na * nb
        with np.errstate(divide="ignore", invalid="ignore"):
            s = (A * B).sum(axis=1) / denom
        s[denom == 0] = np.nan
        return pd.Series(s.astype(float))

    return _cos


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.Generator(
        np.random.PCG64(int.from_bytes(hashlib.md5(f"lsh{seed}".encode()).digest()[:8], "little"))
    )
    return rng.standard_normal((n_planes, dim)).astype(np.float32)


def lsh_signature_expr(vec_col: F.Column, planes: np.ndarray) -> F.Column:
    """Random-hyperplane signature as a native expression: one sign bit per
    plane folded into a bigint. Deterministic (seeded planes as literals)."""
    bits = []
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(
            F.zip_with(vec_col.cast("array<double>"), lit_plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return sig.cast("bigint")


def train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "vec",
    n_centroids: int = 16,
    n_iters: int = 5,
    sample_fraction: float | None = None,
    seed: int = 42,
    max_sample_rows: int = 50_000,
) -> np.ndarray:
    """Train IVF centroids: k-means on a SAMPLED collect of the corpus.

    Deterministic: seeded init, fixed iteration count. Only the sample
    (never the full corpus) comes to the driver — k-means on a small
    sample is the standard IVF recipe (FAISS does the same); assignment
    stays fully distributed. `sample_fraction=None` (the default)
    auto-sizes the fraction so at most ~`max_sample_rows` vectors are
    collected regardless of corpus size; an explicit fraction is still
    capped at `max_sample_rows` collected rows, so no caller can turn this
    into a full-corpus collect.
    """
    df = corpus.select(vec_col)
    if sample_fraction is None:
        n = df.count()
        sample_fraction = min(1.0, max_sample_rows / max(n, 1))
    if sample_fraction < 1.0:
        df = df.sample(fraction=sample_fraction, seed=seed)
    X = np.asarray(
        [r[0] for r in df.limit(max_sample_rows).collect()], dtype=np.float32
    )
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1
    X = X / norms
    rng = np.random.Generator(
        np.random.PCG64(int.from_bytes(hashlib.md5(f"ivf{seed}".encode()).digest()[:8], "little"))
    )
    k = min(n_centroids, len(X))
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(n_iters):
        assign = np.argmax(X @ C.T, axis=1)  # cosine assignment on unit vectors
        for j in range(k):
            members = X[assign == j]
            if len(members):
                c = members.mean(axis=0)
                n = np.linalg.norm(c)
                if n > 0:
                    C[j] = c / n
    return C.astype(np.float32)


def ivf_assign_expr(vec_col: F.Column, centroids: np.ndarray) -> F.Column:
    """Nearest-centroid id as a native expression: argmax of centroid dots.

    The centroid matrix is tiny (k × d literals), so assignment is pure
    codegen — no Python, no shuffle; ideal as a *partition column* when
    writing an IVF-indexed table (`df.write.partitionBy("ivf_bucket")`),
    which turns probe-limited search into partition pruning at the scan.
    """
    dots = []
    for j, c in enumerate(centroids):
        lit_c = F.array(*[F.lit(float(x)) for x in c])
        dot = F.aggregate(
            F.zip_with(vec_col.cast("array<double>"), lit_c, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        norm = F.sqrt(
            F.aggregate(
                F.zip_with(vec_col.cast("array<double>"), vec_col.cast("array<double>"), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        dots.append(F.struct((dot / norm).alias("s"), F.lit(j).alias("j")))
    return F.array_max(F.array(*dots)).getField("j")


def ivf_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    n_probes: int = 2,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    corpus_id: str = "id",
    corpus_vec: str = "vec",
) -> DataFrame:
    """IVF (inverted-file) approximate KNN: corpus rows live in their
    nearest-centroid bucket; each query probes its `n_probes` nearest
    buckets and exact-scores only those rows.

    vs LSH: buckets follow the data distribution (k-means cells) instead of
    random hyperplanes — better recall at equal candidate count on clustered
    data. The equi-join on bucket is the only shuffle; with the corpus
    pre-partitioned by bucket it disappears entirely.
    """
    cb = corpus.withColumn("__bucket", ivf_assign_expr(F.col(corpus_vec), centroids))
    # query side: explode its n_probes nearest centroids
    probe_structs = []
    for j, c in enumerate(centroids):
        lit_c = F.array(*[F.lit(float(x)) for x in c])
        dot = F.aggregate(
            F.zip_with(F.col(query_vec).cast("array<double>"), lit_c, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        probe_structs.append(F.struct(dot.alias("s"), F.lit(j).alias("j")))
    probes = F.slice(F.reverse(F.array_sort(F.array(*probe_structs))), 1, n_probes)
    qb = queries.withColumn("__bucket", F.explode(probes.getField("j")))
    scored = (
        cb.join(qb, "__bucket")
        .withColumn("score", cosine_pairs_udf()(F.col(corpus_vec), F.col(query_vec)))
        .filter(F.col("score").isNotNull() & ~F.isnan(F.col("score")))
        .select(query_id, corpus_id, "score")
    )
    return top_k_per_group(scored, [query_id], "score", k, tiebreak=corpus_id)


def lsh_signature_udf(planes: np.ndarray):
    """Arrow-batched signature: one (batch × planes) matmul instead of
    n_planes interpreted fold expressions per row — the scale-probe finding
    was ~10× on bucket assignment over 50k vectors."""
    P = planes.astype(np.float32)
    weights = (1 << np.arange(len(P), dtype=np.int64))

    @F.pandas_udf("bigint")
    def _sig(vecs: pd.Series) -> pd.Series:
        M = np.stack(vecs.to_numpy()).astype(np.float32)
        bits = (M @ P.T >= 0).astype(np.int64)  # (n, p)
        return pd.Series(bits @ weights)

    return _sig


def lsh_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    corpus_id: str = "id",
    corpus_vec: str = "vec",
) -> DataFrame:
    """Strategy 3: bucket by hyperplane signature, exact cosine inside buckets.

    Equi-join on the signature replaces the full cross product — at scale the
    shuffle moves each side once, partitioned by bucket. Approximate: a true
    neighbor in a different bucket is missed (recall < 1); n_planes tunes the
    bucket count (2^n_planes) vs recall trade-off.
    """
    candidates = _lsh_bucket_join(
        queries, corpus, n_planes, dim, seed, 1, query_id, query_vec, corpus_id, corpus_vec
    )
    scored = (
        candidates.withColumn(
            "score", cosine_pairs_udf()(F.col(corpus_vec), F.col(query_vec))
        )
        .filter(F.col("score").isNotNull() & ~F.isnan(F.col("score")))
        .select(query_id, corpus_id, "score")
    )
    return top_k_per_group(scored, [query_id], "score", k, tiebreak=corpus_id)


def _lsh_bucket_join(
    queries: DataFrame,
    corpus: DataFrame,
    n_planes: int,
    dim: int,
    seed: int,
    n_tables: int,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate (query, corpus) rows sharing a bucket in ANY of `n_tables`
    independent hyperplane tables. Each row carries both vectors for the
    exact re-score stage. The signatures for all tables are computed in ONE
    Arrow pass per side (array of bigints, then posexplode), so adding
    tables costs one extra shuffle row per (row, table), never an extra
    scan. A pair colliding in several tables appears once per collision;
    the caller scores each occurrence and dedupes on (query, corpus)
    AFTER projecting away the vectors — deduping first would shuffle rows
    still carrying both embeddings (~KB each), which is what blows up on
    duplicate-heavy corpora, while post-score rows are a few dozen bytes
    and a pair's score is identical across its occurrences."""
    all_planes = [
        _hyperplanes(dim, n_planes, seed if n_tables == 1 else seed * 1000 + t)
        for t in range(n_tables)
    ]
    sig = _multi_signature_udf(all_planes)

    def with_buckets(df: DataFrame, vec: str) -> DataFrame:
        return df.select(
            "*", F.posexplode(sig(F.col(vec))).alias("__table", "__bucket")
        )

    qb = with_buckets(queries, query_vec)
    cb = with_buckets(corpus, corpus_vec)
    if max_bucket is not None:
        # stop-bucket cap (same guard as the MinHash band join): a bucket
        # holding > max_bucket corpus rows contributes O(members x queries)
        # candidate pairs — on duplicate-heavy corpora or too-coarse plane
        # counts that goes quadratic. Oversized buckets are dropped from
        # THAT table only; the row keeps its chances in the other tables.
        sizes = (
            cb.groupBy("__table", "__bucket")
            .count()
            .filter(F.col("count") <= max_bucket)
            .drop("count")
        )
        cb = cb.join(sizes, ["__table", "__bucket"])
    return cb.join(qb, ["__table", "__bucket"]).drop("__table", "__bucket")


def _multi_signature_udf(all_planes: list[np.ndarray]):
    """Arrow-batched: one (batch x dim) @ (dim x tables*planes) matmul
    yields every table's signature; bits are folded per table into a
    bigint. Returns array<bigint> of length n_tables."""
    P = np.concatenate([p.astype(np.float32) for p in all_planes], axis=0)
    n_tables = len(all_planes)
    per = len(all_planes[0])
    weights = 1 << np.arange(per, dtype=np.int64)

    @F.pandas_udf("array<bigint>")
    def _sig(vecs: pd.Series) -> pd.Series:
        M = np.stack(vecs.to_numpy()).astype(np.float32)
        bits = (M @ P.T >= 0).astype(np.int64)  # (n, tables*per)
        sigs = bits.reshape(len(M), n_tables, per) @ weights  # (n, tables)
        return pd.Series(list(sigs))

    return _sig


def lsh_knn_join_multiprobe(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 16,
    dim: int = 64,
    seed: int = 42,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    corpus_id: str = "id",
    corpus_vec: str = "vec",
    max_bucket: int | None = None,
) -> DataFrame:
    """OR-amplified LSH ANN: `n_tables` independent hyperplane tables; a
    corpus vector is a candidate if it shares a bucket with the query in
    ANY table, then exact cosine + top-k. Per-table miss probability for a
    true neighbor at cosine t is (1 - p^bits) with p = 1 - acos(t)/pi, so
    T tables drive recall to 1 - (1 - p^bits)^T — tunable without touching
    bucket selectivity (bits), unlike the single-table variant where the
    only lever (fewer planes) also blows up bucket size. Still fully
    distributed: one Arrow signature pass per side, equi-join on
    (table, bucket), distinct, re-score.

    Defaults (4 planes x 16 tables) come from the measured worst case
    (PLANS.md "Recall probe"): on the near-uniform sf0.1 embeddings —
    minimal neighbor contrast, the hardest regime for LSH — they reach recall@10 ~= 0.93, and
    (4, 24)/(4, 32) clear 0.95/0.99; clustered real-world embeddings
    need fewer tables for the same recall."""
    candidates = _lsh_bucket_join(
        queries,
        corpus,
        n_planes,
        dim,
        seed,
        n_tables,
        query_id,
        query_vec,
        corpus_id,
        corpus_vec,
        max_bucket=max_bucket,
    )
    scored = (
        candidates.withColumn(
            "score", cosine_pairs_udf()(F.col(corpus_vec), F.col(query_vec))
        )
        .filter(F.col("score").isNotNull() & ~F.isnan(F.col("score")))
        .select(query_id, corpus_id, "score")
        # one row per distinct pair; every occurrence carries the same score
        .dropDuplicates([query_id, corpus_id])
    )
    return top_k_per_group(scored, [query_id], "score", k, tiebreak=corpus_id)


def lsh_knn_self_join(
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "id",
    vec_col: str = "vec",
    max_bucket: int | None = 5_000,
) -> DataFrame:
    """★ approximate kNN GRAPH: every vector's top-k neighbors via
    OR-amplified LSH self-join — the scale path where the exact 2-D block
    plan (blocked_knn_self_join) pays the full O(N²) score count. Both
    sides stream through the (table, bucket) equi-join; nothing is
    broadcast or collected, so the cost is bucket-collision pairs, not
    N². Self-pairs are excluded. Output: (id, neighbor_id, score).

    Size `n_planes` to the corpus: buckets = 2^planes per table, so aim
    for log2(N / target_bucket_size) planes (~10 at 100k rows for ~100-row
    buckets). `max_bucket` is the stop-bucket guard (same as the MinHash
    band cap): duplicate-heavy corpora concentrate identical vectors in
    one bucket, whose pair expansion is quadratic — oversized buckets are
    dropped per table (exact duplicates should be removed by exact_dedup
    BEFORE building a kNN graph anyway; clone pairs collide in EVERY
    table, so on undeduped data the join degenerates by design). Recall
    per true neighbor at cosine t is 1-(1-p^planes)^tables with
    p = 1 - acos(t)/pi.

    Measured (local[32], 100k distinct 64-dim vectors, 9 planes x 8
    tables): 6 s for the k=3 graph vs 172 s for the exact 2-D block
    all-pairs plan — the bucket-selectivity factor, delivered.
    """
    # Per-bucket BLAS, not a per-pair UDF: a (table, bucket) group arrives
    # as ONE Arrow batch, one (m x m) f32 matmul scores all its pairs, and
    # only each member's in-bucket top-k leaves the group. Arrow moves each
    # vector once per table (N x T rows) instead of once per collision
    # pair (sum of m^2) — the difference between ~N and ~N^2/buckets bytes.
    all_planes = [
        _hyperplanes(dim, n_planes, seed * 1000 + t) for t in range(n_tables)
    ]
    sig = _multi_signature_udf(all_planes)
    members = corpus.select(
        F.col(id_col), F.col(vec_col), F.posexplode(sig(F.col(vec_col))).alias("__table", "__bucket")
    )
    if max_bucket is not None:
        sizes = (
            members.groupBy("__table", "__bucket")
            .count()
            .filter(F.col("count") <= max_bucket)
            .drop("count")
        )
        members = members.join(sizes, ["__table", "__bucket"])
    id_type = dict(corpus.dtypes)[id_col]
    kk = k

    def bucket_topk(pdf):
        ids = pdf[id_col].to_numpy()
        M = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        norms[norms == 0] = np.inf
        Mn = M / norms
        S = Mn @ Mn.T
        np.fill_diagonal(S, -np.inf)
        n = len(ids)
        t = min(kk, n - 1)
        if t <= 0:
            return pd.DataFrame({"a": [], "b": [], "score": []})
        part = np.argpartition(-S, t - 1, axis=1)[:, :t]
        rows = np.repeat(np.arange(n), t)
        cols = part.ravel()
        return pd.DataFrame(
            {"a": ids[rows], "b": ids[cols], "score": S[rows, cols].astype(np.float64)}
        )

    per_bucket = members.groupBy("__table", "__bucket").applyInPandas(
        bucket_topk, schema=f"a {id_type}, b {id_type}, score double"
    )
    # a pair surviving several tables carries the same f32 score everywhere
    deduped = per_bucket.dropDuplicates(["a", "b"])
    out = top_k_per_group(deduped, ["a"], "score", k, tiebreak="b")
    return out.select(
        F.col("a").alias(id_col + "_a"), F.col("b").alias(id_col + "_b"), "score"
    )


def mutual_knn_filter(
    edges: DataFrame,
    src_col: str = "query_id",
    dst_col: str = "id",
    score_col: str | None = "score",
) -> DataFrame:
    """★ reciprocal (mutual) kNN filter: keep an edge (u, v) only when v is
    in u's top-k AND u is in v's top-k. Mutual edges are the standard
    robustness gate for similarity graphs — one-directional edges are
    dominated by hubness (a vector that is everyone's neighbor while its
    own neighborhood is elsewhere), and downstream dedup clustering /
    label propagation over mutual edges resists hub-induced mega-clusters.

    Works on ANY directed edge list (exact, LSH, IVF strategies all emit
    the same shape). One self-join on the canonical pair: left-semi
    against the reversed edges, then u < v keeps each mutual pair once.
    Shuffle cost is |E| ~ N·k rows of (id, id, score) — never touches
    vectors.
    """
    cols = [F.col(src_col).alias("u"), F.col(dst_col).alias("v")]
    if score_col is not None:
        cols.append(F.col(score_col).alias("score"))
    fwd = edges.select(*cols)
    rev = edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v"))
    return (
        fwd.join(rev, ["u", "v"], "left_semi")
        .filter(F.col("u") < F.col("v"))
    )
