"""PageRank over a similarity graph (★ north-star pipeline operator).

Training-data use: rank documents/embeddings by centrality in their kNN
graph — a standard diversity/quality signal (central = redundant cluster
core, peripheral = rare content) used to stratify sampling. No counterpart
in the reference (which has no graph surface); this demonstrates the
iterative-algorithm pattern done Spark-first: each power iteration is one
join + one hash aggregation, nothing is ever collected, and lineage is cut
by persisting the loop-invariant edge table once and checkpointing ranks
every `CHECKPOINT_EVERY` iterations so a 50-iteration run on a real
cluster does not re-derive iteration 1's shuffle.

Determinism: double-precision contributions are rounded per iteration
(12 dp — far above summation noise of ~1e-15, far below rank scale), so a
fixed iteration count yields engine-portable values and the whole operator
is oracle-checkable by unrolling the same iterations in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

from penr_oz_agent_memory_rust_spark.localdata import _size_probed, next_round

# Iterations between the Spark loop's lineage-cutting rank checkpoints
# (0: only the final one). Read at call time.
CHECKPOINT_EVERY = 8


def _round_half_up(x: float, dp: int) -> float:
    """Spark F.round semantics on a double: BigDecimal of the EXACT binary
    value, setScale(dp, HALF_UP) — NOT Python's banker's round()."""
    import decimal

    return float(
        decimal.Decimal(x).quantize(
            decimal.Decimal(1).scaleb(-dp), rounding=decimal.ROUND_HALF_UP
        )
    )


def _local_pagerank(edge_rows, iters: int, damping: float, round_dp: int) -> list:
    """Driver-local mirror of the distributed power iteration: same
    simplified formulation (dangling nodes contribute nothing, every node
    gets the teleport mass), same per-iteration HALF_UP rounding. f64
    contribution sums may differ from the cluster's combine order at
    ~1e-16 relative — 4 orders of magnitude below the 1e-12 rounding
    grain, the same margin the SQL oracle already relies on. Returns
    sorted (id, rank)."""
    from collections import defaultdict

    nodes = set()
    deg: dict = defaultdict(int)
    out: dict = defaultdict(list)
    for u, v in edge_rows:
        nodes.add(u)
        nodes.add(v)
        deg[u] += 1
        out[u].append(v)
    n = len(nodes)
    teleport = (1.0 - damping) / n
    rank = {nd: 1.0 / n for nd in nodes}
    for _ in range(iters):
        contrib: dict = defaultdict(float)
        for u in sorted(out):  # fixed order: deterministic f64 sums
            c = rank[u] / deg[u]
            for v in out[u]:
                contrib[v] += c
        rank = {
            nd: _round_half_up(teleport + damping * contrib.get(nd, 0.0), round_dp)
            for nd in nodes
        }
    return sorted(rank.items())


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    round_dp: int = 12,
) -> DataFrame:
    """Power-iteration PageRank on a directed edge list. Returns
    (id, rank) for every node appearing as src or dst, rank rounded to
    `round_dp`.

    Scale shape per iteration: ranks (small: one row per node) hash-join
    the co-partitioned edge table on src, contributions aggregate on dst
    with map-side partial sums — two exchanges of node-sized data, the
    edges themselves shuffle ONCE at persist time. Dangling nodes (no
    out-edges) contribute nothing, matching the classic simplified
    formulation; every node still receives the (1-d)/N teleport mass.
    Every `CHECKPOINT_EVERY` iterations the ranks are checkpointed through
    `localdata.next_round`, which releases the previous checkpoint, so
    the held result is the only one left stored.

    Small graphs run the power iteration driver-locally over the collected
    edge list (`localdata._size_probed`; the r10 profile counted 24 jobs
    for 3 distributed iterations on the 2.5k-edge gate graph). Same
    formulation, same per-iteration HALF_UP rounding; f64 sum-order
    differences sit ~4 orders of magnitude below the rounding grain
    (equality pinned in tests/test_pagerank.py).
    """
    return _size_probed(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")),
        lambda rows: _local_pagerank(rows, iters, damping, round_dp),
        StructType().add("id", edges.schema[src_col].dataType).add("rank", "double"),
        lambda e: _distributed_pagerank(e, iters, damping, round_dp),
    )


def _distributed_pagerank(edges: DataFrame, iters: int, damping: float, round_dp: int) -> DataFrame:
    every = CHECKPOINT_EVERY
    e = edges.repartition("src").persist()
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .persist()
    )
    n = nodes.count()  # scalar metadata for the teleport term, not data
    deg = e.groupBy("src").agg(F.count("*").alias("__deg"))
    e_deg = e.join(deg, "src").persist()
    teleport = (1.0 - damping) / n
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    held = None  # the last checkpoint of ranks, released by the next one
    for i in range(iters):
        contribs = (
            e_deg.join(ranks.withColumnRenamed("id", "src"), "src")
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") / F.col("__deg")).alias("__c"),
            )
            .groupBy("id")
            .agg(F.sum("__c").alias("__c"))
        )
        ranks = nodes.join(contribs, "id", "left").select(
            "id",
            F.round(
                F.lit(teleport) + F.lit(damping) * F.coalesce("__c", F.lit(0.0)),
                round_dp,
            ).alias("rank"),
        )
        if every and (i + 1) % every == 0 and i + 1 < iters:
            # cut lineage on long runs; materializes ranks (node-sized)
            ranks = held = next_round(held, ranks)
    # materialize the final ranks (node-sized) so the loop-invariant caches
    # can be released NOW — without this, every invocation leaks three
    # persisted frames into the session and repeated calls churn the block
    # manager (observed as a 20 s outlier on an otherwise 1.5 s bench run)
    out = next_round(held, ranks)
    for df in (e_deg, nodes, e):
        df.unpersist()
    return out
