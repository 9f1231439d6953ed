"""Structural statistics over similarity graphs (★ north-star operator).

Training-data use: triangle counts and local clustering coefficients over
the kNN graph separate dense near-duplicate cliques (high clustering) from
bridge/outlier content (low clustering) — a standard redundancy signal used
alongside PageRank centrality (operators/pagerank.py) to stratify corpus
sampling. No counterpart in the reference (no graph surface); this is the
classic distributed triangle-enumeration pattern done Spark-first.

Scale shape: the naive wedge join explodes on skewed (hub) nodes — a node
of degree d generates d^2 wedge candidates. The standard fix (implemented
here) is *degree ordering*: orient every undirected edge from its
lower-(degree, id) endpoint to its higher one, enumerate wedges only at the
minimum endpoint, and close them with one more equi-join. Every triangle is
then counted exactly once, and per-node wedge fan-out is bounded by the
out-degree under the orientation, which is O(sqrt(m)) for any graph — the
same bound MapReduce/GraphX triangle counters rely on. Three shuffles
total (degree agg, wedge join, closure join); nothing collects.

Determinism: counts are exact integers; enumeration order does not affect
them, so the oracle may enumerate by plain id order while the engine uses
degree order — identical per-node results either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import StructType

from penr_oz_agent_memory_rust_spark.localdata import _size_probed, next_round


def undirected_edges(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Canonicalize a (possibly directed, possibly duplicated) edge list
    into distinct undirected edges (a < b). Self-loops dropped."""
    a = F.least(F.col(src_col), F.col(dst_col)).alias("a")
    b = F.greatest(F.col(src_col), F.col(dst_col)).alias("b")
    return edges.select(a, b).filter(F.col("a") != F.col("b")).distinct()


def _local_triangle_stats(rows, round_dp: int) -> list:
    """Driver-local mirror of triangle_stats over collected DISTINCT
    undirected (a, b) rows: per-edge common-neighbor closure with c > b
    so every triangle is counted exactly once, then the identical
    clustering arithmetic — (2.0 * T) / (d * (d - 1.0)) in f64, HALF_UP
    rounded like Spark's round(). Returns sorted (id, degree, triangles,
    clustering)."""
    from penr_oz_agent_memory_rust_spark.operators.pagerank import _round_half_up

    adj: dict = {}
    for a, b in rows:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = {n: 0 for n in adj}
    for a, b in rows:
        lo, hi = (a, b) if a < b else (b, a)
        for c in adj[lo] & adj[hi]:
            if c > hi:
                tri[lo] += 1
                tri[hi] += 1
                tri[c] += 1
    out = []
    for n in sorted(adj):
        d = len(adj[n])
        t = tri[n]
        cl = _round_half_up((2.0 * t) / (d * (d - 1.0)), round_dp) if d >= 2 else 0.0
        out.append((n, d, t, cl))
    return out


def triangle_stats(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    round_dp: int = 6,
) -> DataFrame:
    """Per-node (id, degree, triangles, clustering) over the undirected
    version of `edges`. clustering = 2*T / (d*(d-1)) for d >= 2, else 0.

    Small graphs run driver-locally (`localdata._size_probed`, probed on
    the distinct undirected edges; equality pinned in
    tests/test_graph_stats.py). Counts are integers and the clustering
    arithmetic is replicated op-for-op, so the local values are
    bit-identical.

    Degree-ordered enumeration: orient each edge (a,b) as u -> v where
    (deg(u), u) < (deg(v), v); wedges (u,v),(u,w) with (deg(v),v) <
    (deg(w),w) are closed by an equi-join against the oriented edges on
    (v,w). The closure join is on the edge key itself, so AQE can handle
    residual skew; no node ranks are materialized (no global window).
    """
    return _size_probed(
        undirected_edges(edges, src_col, dst_col),
        lambda rows: _local_triangle_stats(rows, round_dp),
        StructType()
        .add("id", edges.schema[src_col].dataType)
        .add("degree", "long")
        .add("triangles", "long")
        .add("clustering", "double"),
        lambda und: _distributed_triangle_stats(und, round_dp),
    )


def _distributed_triangle_stats(und: DataFrame, round_dp: int) -> DataFrame:
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("degree"))
        .persist()
    )
    # orient by (degree, id): carry both endpoint degrees onto the edge
    dega = deg.select(F.col("id").alias("a"), F.col("degree").alias("da"))
    degb = deg.select(F.col("id").alias("b"), F.col("degree").alias("db"))
    withd = und.join(dega, "a").join(degb, "b")
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = withd.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("da")).otherwise(F.col("db")).alias("du"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).persist()
    w1 = oriented.select("u", F.col("v").alias("x"), F.col("dv").alias("dx"))
    w2 = oriented.select("u", F.col("v").alias("y"), F.col("dv").alias("dy"))
    wedges = w1.join(w2, "u").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closure = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tris = wedges.join(closure, ["x", "y"]).select("u", "x", "y")
    per_node = (
        tris.select(F.col("u").alias("id"))
        .unionByName(tris.select(F.col("x").alias("id")))
        .unionByName(tris.select(F.col("y").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
    out = (
        deg.join(per_node, "id", "left")
        .select(
            "id",
            "degree",
            F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    2.0
                    * F.coalesce("triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1.0)),
                ).otherwise(F.lit(0.0)),
                round_dp,
            ).alias("clustering"),
        )
        .localCheckpoint(eager=True)
    )
    for df in (oriented, deg):
        df.unpersist()
    return out


def deterministic_walks(
    edges: DataFrame,
    walks_per_node: int = 2,
    walk_len: int = 3,
    salt: str = "walk",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """DeepWalk-style walk corpus over the undirected graph, made
    engine-portable: the "random" neighbor at step i of walk w is
    neighbor index md5(salt|w|i) % degree — the same derandomization
    trick as the deterministic samplers (text_ops.deterministic_sample),
    so walk corpora are reproducible across runs/engines and the whole
    operator is oracle-checkable. Output: (walk_id, step, node), step 0
    is the start node; walks stop early only at isolated nodes (none on
    an undirected edge list).

    Scale shape: the neighbor table (adjacency with a per-source dense
    index from a PER-NODE window — partitioned by node, never global)
    is built once and reused; each step is ONE equi-join of the frontier
    (n_walks rows) against it plus a modulo on the precomputed degree.
    Lineage grows linearly with walk_len, so long walks should
    localCheckpoint the frontier every few steps (same pattern as
    pagerank); the unrolled-join shape is exactly how distributed
    node2vec corpus generation is done at graph scale.
    """
    from penr_oz_agent_memory_rust_spark.functions import hashing

    und = undirected_edges(edges, src_col, dst_col)
    adj = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).select(F.col("a").alias("node"), F.col("b").alias("nbr"))
    w = Window.partitionBy("node").orderBy("nbr")
    nbrs = adj.select(
        "node",
        "nbr",
        (F.row_number().over(w) - 1).alias("__idx"),
        F.count("*").over(Window.partitionBy("node")).alias("__deg"),
    ).persist()
    starts = (
        nbrs.select("node")
        .distinct()
        .crossJoin(
            F.broadcast(
                nbrs.sparkSession.range(walks_per_node).select(
                    F.col("id").alias("__j")
                )
            )
        )
        .select(
            F.concat_ws("#", F.col("node").cast("string"), F.col("__j")).alias(
                "walk_id"
            ),
            F.col("node"),
        )
    )
    out = starts.select("walk_id", F.lit(0).alias("step"), "node")
    frontier = starts
    for i in range(1, walk_len + 1):
        pick = (
            hashing.md5_long(
                F.concat_ws("|", F.lit(salt), F.col("walk_id"), F.lit(str(i)))
            )
            % F.col("__deg")
        )
        frontier = (
            frontier.join(nbrs, "node")
            .filter(F.col("__idx") == pick)
            .select("walk_id", F.col("nbr").alias("node"))
        )
        out = out.unionByName(
            frontier.select("walk_id", F.lit(i).alias("step"), "node")
        )
    res = out.localCheckpoint(eager=True)
    nbrs.unpersist()
    return res


def _local_kcore(rows, k: int, max_iters: int) -> list:
    """Driver-local synchronous peel over collected symmetrized-distinct
    (src, dst) rows — the same rounds as the distributed loop: every
    round drops ALL nodes of degree < k at once, recomputes, stops at
    the fixpoint or after max_iters. Returns sorted (id, degree)."""
    adj: dict = {}
    for u, v in rows:
        adj.setdefault(u, set()).add(v)
    for _ in range(max_iters):
        doomed = [n for n, nb in adj.items() if len(nb) < k]
        if not doomed:
            break
        for n in doomed:
            adj.pop(n)
        doomed_set = set(doomed)
        for nb in adj.values():
            nb -= doomed_set
    return sorted((n, len(nb)) for n, nb in adj.items())


def kcore(
    edges: DataFrame,
    k: int,
    max_iters: int = 20,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """★ k-core decomposition: iteratively peel nodes of degree < k until
    fixpoint — the standard dense-community extractor (a node in the
    k-core has ≥ k neighbors that are themselves in the core), used to
    split redundant clique content from bridge content before sampling.

    Input edges are treated as UNDIRECTED: the list is symmetrized and
    deduplicated first, so a kNN edge list (directed top-k) works as-is.
    Each peel is one degree aggregation + two semi-joins — node-sized
    frames only; each round's edge frame is an eager localCheckpoint,
    released as soon as the next round's is written
    (`localdata.next_round`). Peeling is monotone (the survivor set only
    shrinks), so `max_iters` peels compute exactly the fixpoint whenever
    convergence happens earlier — which makes the operator oracle-mirrorable by a
    fixed CTE unroll. Returns (id, degree) for the surviving core.

    Small graphs run the peel as a driver-local loop over the collected
    symmetrized edges (`localdata._size_probed`; the r10 profile counted
    76 jobs for a distributed 9-round peel at sf0.1, nearly all
    scheduling). Both paths run the identical synchronous rounds
    (equality pinned in tests/test_graph_stats.py).
    """
    sym = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return _size_probed(
        sym,
        lambda rows: _local_kcore(rows, k, max_iters),
        StructType().add("id", edges.schema[src_col].dataType).add("degree", "long"),
        lambda e: _distributed_kcore(e, k, max_iters),
    )


def _distributed_kcore(sym: DataFrame, k: int, max_iters: int) -> DataFrame:
    # eager localCheckpoint per round, NOT persist: each peel references
    # the previous edge frame three times (degree agg + two semi-joins),
    # so the un-cut logical plan grows 3^rounds — 12 peels OOM'd the
    # driver on plan STRINGS alone. Checkpointing materializes the edge
    # frame and truncates lineage, the same pattern as label_prop /
    # pagerank / deepwalk.
    cur = sym.localCheckpoint(eager=True)
    # fixpoint on the EDGE count, not a per-round distinct-node count: a
    # peeled node always had >= 1 edge (degree-0 nodes never appear in an
    # edge list), so the edge count is stable iff the survivor set is —
    # and counting the checkpointed frame is a scan, not a shuffle
    n_prev = cur.count()
    for _ in range(max_iters):
        deg = cur.groupBy("src").agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select(F.col("src").alias("id"))
        cur = next_round(
            cur,
            cur.join(keep.withColumnRenamed("id", "src"), "src", "left_semi").join(
                keep.withColumnRenamed("id", "dst"), "dst", "left_semi"
            ),
        )
        n_now = cur.count()
        if n_now == n_prev:
            break
        n_prev = n_now
    return cur.groupBy("src").agg(F.count("*").cast("bigint").alias("degree")).select(
        F.col("src").alias("id"), "degree"
    )
