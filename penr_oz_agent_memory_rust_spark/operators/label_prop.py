"""Semi-supervised label propagation over a similarity graph (★ north-star
pipeline operator).

Training-data use: spread a small set of human quality/domain labels
through the kNN/near-dup graph — label a few thousand documents, propagate
to the full corpus, then filter or stratify on the propagated label. The
reference has no graph surface; this joins pagerank.py and components.py as
the third iterative-algorithm shape done Spark-first.

Synchronous, deterministic variant: each iteration every node takes the
most common label among its (undirected) neighbors' PREVIOUS labels —
ties broken by smallest label — while seed nodes stay clamped; nodes with
no labeled neighbor keep their previous label. Fixed iteration count and
total tie-break order make the whole operator oracle-checkable by
unrolling the same iterations in SQL.

Scale shape per iteration: node-sized label frame hash-joins the
persisted bidirectional edge list, one (node, label) vote count with
map-side partial combine, one argmax agg (max of a (cnt, -label) struct —
no window), one reassembly join. Edges shuffle ONCE at persist; lineage
is cut by an EAGER localCheckpoint of the node-sized label frame every
iteration, released once the next one is written (`localdata.next_round`)
— stricter than pagerank.py's every-few-iterations discipline
because the label frame is consumed twice per iteration, which doubles
the analyzed plan per iteration unless a barrier flattens it (see the
comment in _distributed_label_prop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

from penr_oz_agent_memory_rust_spark.localdata import _size_probed, next_round


def _local_label_prop(edge_rows, seed_rows, iters: int) -> list:
    """Driver-local mirror of the distributed loop: per iteration every
    node takes the most common label among its DIRECTED-after-mirroring
    neighbors' previous labels (a duplicated (a,b)+(b,a) input pair
    weights 2, same as the vote-count join), ties to smallest label,
    seeds clamped, no-labeled-neighbor keeps previous. Returns sorted
    (id, label) for every node in the edge list."""
    from collections import Counter, defaultdict

    nbrs = defaultdict(list)  # incoming vote sources per node, with multiplicity
    nodes = set()
    for u, v in edge_rows:
        nbrs[v].append(u)
        nbrs[u].append(v)
        nodes.add(u)
        nodes.add(v)
    seed = {i: int(l) for i, l in seed_rows}
    labels = {nd: seed.get(nd) for nd in nodes}
    for _ in range(iters):
        new = {}
        for nd in nodes:
            if nd in seed:
                new[nd] = seed[nd]
                continue
            votes = Counter(
                labels[s] for s in nbrs[nd] if labels.get(s) is not None
            )
            if votes:
                # max count, ties to smallest label — max of (cnt, -label)
                new[nd] = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))[0]
            else:
                new[nd] = labels[nd]
        labels = new
    return sorted(labels.items())


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "id",
    label_col: str = "label",
) -> DataFrame:
    """Propagate integer labels from `seeds` (id, label) over the
    undirected graph given by `edges`. Returns (id, label) for every node
    in the edge list, label null only if unreachable from any seed.
    Labels must be numeric (the deterministic tie-break uses max of a
    (cnt, -label) struct).

    Votes are counted per DIRECTED edge after mirroring: if the input
    contains both (a,b) and (b,a) — e.g. a mutual-kNN pair — that
    neighbor's label carries weight 2. Dedupe the edge list first for
    strict unweighted LPA; the operator does not hide a distinct() here
    because at scale that is a second full edge shuffle the caller may
    not want to pay.

    Small graphs run as a driver-local loop over the collected edge and
    seed lists (`localdata._size_probed`; the r10 profile counted 34 jobs
    for 3 distributed iterations on a 2.5k-edge gate graph). Votes,
    clamping, tie-breaks and the keep-previous fallback are the identical
    synchronous rounds (equality pinned in tests/test_label_prop.py);
    labels are integers, so there is no float-order concern."""

    def local(rows):
        seed_rows = seeds.select(id_col, F.col(label_col).cast("bigint")).collect()
        return _local_label_prop(rows, seed_rows, iters)

    return _size_probed(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")),
        local,
        StructType().add("id", edges.schema[src_col].dataType).add("label", "long"),
        lambda e: _distributed_label_prop(e, seeds, iters, id_col, label_col),
    )


def _distributed_label_prop(
    edges: DataFrame, seeds: DataFrame, iters: int, id_col: str, label_col: str
) -> DataFrame:
    bidir = (
        edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition("src")
        .persist()
    )
    nodes = bidir.select(F.col("src").alias("id")).distinct().persist()
    sd = F.broadcast(
        seeds.select(
            F.col(id_col).alias("id"),
            F.col(label_col).cast("bigint").alias("__seed"),
        )
    )
    # each iteration consumes the previous labels TWICE (the vote join and
    # the keep-previous fallback), so WITHOUT a materialization barrier the
    # logical plan doubles per iteration — 2^iters plan nodes, minutes of
    # analysis overhead and eventually a StackOverflow in plan printing
    # (observed at 5 iterations on a 50k-node graph). persist() does not
    # help: it dedupes execution, not the analyzed plan. An EAGER
    # localCheckpoint per iteration keeps the plan flat; the frame is
    # node-sized, so the per-iteration materialization is the cheap part
    # (measured 39 s -> 6 s for 5 iterations at 50k nodes).
    labels = (
        nodes.join(sd, "id", "left")
        .select("id", F.col("__seed").alias("label"))
        .localCheckpoint(eager=True)
    )
    for i in range(iters):
        votes = (
            bidir.join(
                labels.select(F.col("id").alias("src"), "label"), "src"
            )
            .filter(F.col("label").isNotNull())
            .groupBy(F.col("dst").alias("id"), "label")
            .agg(F.count(F.lit(1)).alias("__cnt"))
        )
        cand = (
            votes.groupBy("id")
            .agg(F.max(F.struct(F.col("__cnt"), (-F.col("label")).alias("__neg"))).alias("m"))
            .select("id", (-F.col("m.__neg")).alias("__cand"))
        )
        labels = next_round(
            labels,
            nodes.join(sd, "id", "left")
            .join(cand, "id", "left")
            .join(labels.withColumnRenamed("label", "__prev"), "id", "left")
            .select(
                "id",
                F.coalesce("__seed", "__cand", "__prev").alias("label"),
            ),
        )
    for df in (nodes, bidir):
        df.unpersist()
    return labels
