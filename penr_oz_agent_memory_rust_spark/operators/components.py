"""Connected components over candidate-duplicate pairs — the transitive-
closure step that turns pairwise dedup hits into clusters with one canonical
representative (large-scale dedup pipelines always end here: A~B, B~C ⇒
{A,B,C} keep min).

Algorithm: two physical strategies behind one API, chosen by the edge-count
probe of `localdata._size_probed` —

1. **Driver-local union-find** when the edge list is small. After LSH
   banding the candidate-pair graph is orders of magnitude smaller than the
   corpus (pairs only exist where signatures collide), so at any scale the
   *closure* input is usually tiny even when the corpus is 100 TB; a single
   collect + union-find beats several shuffle rounds of scheduling overhead
   by a wide margin.
2. **Large-star/small-star** otherwise (Kiveris et al., "Connected
   Components in MapReduce and Beyond", SoCC 2014). Edges are kept as
   (child, parent) with child > parent. Large-star links every neighbor
   above a node to the node's smallest neighbor-or-self; small-star links a
   node and all its parents to the smallest of those parents. Both keep
   connectivity and move every edge toward its component's minimum, and
   the loop stops when the edges form a star forest: each child has one
   parent and no parent is a child. Each parent is then its component's
   minimum. O(log² n) rounds, where min-label propagation needs
   O(diameter); each round is two window shuffles, one distinct and an
   eager localCheckpoint (a persisted loop re-plans every earlier round),
   released once the next round's is written (`localdata.next_round`).
   A loop that reaches `MAX_ROUNDS` raises instead of returning partial
   labels.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import StructType

from penr_oz_agent_memory_rust_spark.localdata import _size_probed, next_round

# Cap on large-star/small-star rounds; read at call time. A 10k-node chain
# converges in 14 rounds and a random 100k-node chain in 13.
MAX_ROUNDS = 50


def _local_union_find(edges) -> list:
    """Union-find with path compression over collected (u, v) rows; returns
    [(node, min_member_of_component)] sorted for deterministic output."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[rv] = ru
    rep: dict = {}
    for node in parent:
        r = find(node)
        if r not in rep or node < rep[r]:
            rep[r] = node
    return sorted((node, rep[find(node)]) for node in parent)


def _star_components(src: DataFrame) -> DataFrame:
    """Large-star/small-star over (u, v) edges; returns the checkpointed
    (node, component) frame. Raises once `MAX_ROUNDS` rounds have run
    without reaching a star forest."""
    cap = MAX_ROUNDS
    u, v, m = F.col("u"), F.col("v"), F.col("m")
    by_u = Window.partitionBy("u")
    e = src.filter(u != v).select(F.greatest(u, v).alias("u"), F.least(u, v).alias("v"))
    for i in range(cap):
        # large-star; the minimum is over all of u's neighbors, so the
        # filter to the neighbors above u comes after the window
        both = e.unionByName(e.select(v.alias("u"), u.alias("v")))
        large = (
            both.withColumn("m", F.least(u, F.min(v).over(by_u)))
            .filter(v > u)
            .select(v.alias("u"), m.alias("v"))
        )
        # small-star: u and each of its parents link to its smallest parent
        small = large.withColumn("m", F.min(v).over(by_u)).select(
            F.explode(F.array(F.struct(v.alias("u"), m.alias("v")), F.struct(u, m.alias("v"))))
        )
        # the first round reads the lazy input edges, not a checkpoint
        e = next_round(e if i else None, small.select("col.*").filter(u != v).distinct())
        # star forest: a child with a second edge has two parents or is a
        # parent too
        roles = e.select(u.alias("n"), F.lit(1).alias("child")).unionByName(
            e.select(v.alias("n"), F.lit(0).alias("child"))
        )
        per_node = roles.groupBy("n").agg(F.count("*").alias("k"), F.max("child").alias("child"))
        if per_node.filter("child = 1 AND k > 1").isEmpty():
            break
    else:
        raise RuntimeError(f"connected_components did not converge within MAX_ROUNDS={cap} rounds")
    nodes = src.select(u.alias("node")).union(src.select(v.alias("node"))).distinct()
    return next_round(
        e,
        nodes.join(e.withColumnRenamed("u", "node"), "node", "left").select(
            "node", F.coalesce(v, F.col("node")).alias("component")
        ),
    )


def _edges(pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
    return pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))


def connected_components(pairs: DataFrame, a_col: str = "a", b_col: str = "b") -> DataFrame:
    """Input: undirected edges (a, b). Output: (node, component) where
    component is the minimum node id reachable from `node`.

    Nodes appearing in no edge are absent (callers union isolated nodes
    back as their own component if needed)."""
    node_type = pairs.schema[a_col].dataType
    return _size_probed(
        _edges(pairs, a_col, b_col),
        _local_union_find,
        StructType().add("node", node_type).add("component", node_type),
        _star_components,
    )


def dedup_clusters(pairs: DataFrame, a_col: str = "a", b_col: str = "b") -> DataFrame:
    """Cluster summary: (component, cluster_size) with component = the
    canonical (minimum) member — the keep-list's complement. On the local
    path the sizes are counted on the driver too, instead of shuffling a
    few hundred rows."""
    return _size_probed(
        _edges(pairs, a_col, b_col),
        lambda rows: sorted(Counter(c for _, c in _local_union_find(rows)).items()),
        StructType()
        .add("component", pairs.schema[a_col].dataType)
        .add("cluster_size", "long", False),
        lambda e: _star_components(e)
        .groupBy("component")
        .agg(F.count("*").alias("cluster_size")),
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    salt: str = "split",
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """★ leakage-safe train/heldout split: assign each document by the
    portable hash of its near-dup COMPONENT representative, so a document
    and all its near-duplicates land on the SAME side — the eval-hygiene
    property a row-level hash split cannot give (a train doc whose
    near-twin sits in the eval set leaks the answer). Docs in no pair are
    their own singleton component. Output: (id, rep, split).

    Scale shape: connected components over the candidate pairs (size-probed
    driver union-find or distributed large-star/small-star), one left join
    of the corpus ids against the node->component map (components only
    exist for docs IN pairs — the map is far smaller than the corpus), and
    a pure-expression md5 bucket. Deterministic and engine-portable, hence
    oracle-checkable."""
    from penr_oz_agent_memory_rust_spark.functions import hashing

    comp = connected_components(pairs, a_col, b_col).withColumnRenamed(
        "node", id_col
    )
    rep = F.coalesce(F.col("component"), F.col(id_col))
    bucket = (
        hashing.md5_long(F.concat(F.lit(f"{salt}|"), rep.cast("string"))) % 100
    )
    return (
        docs.select(id_col)
        .join(comp, id_col, "left")
        .select(
            id_col,
            rep.alias("rep"),
            F.when(bucket < train_pct, F.lit("train"))
            .otherwise(F.lit("heldout"))
            .alias("split"),
        )
    )


def leakage_safe_kfold(
    docs: DataFrame,
    pairs: DataFrame,
    k: int,
    id_col: str = "doc_id",
    salt: str = "kfold",
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """★ leakage-safe k-fold assignment: fold = portable-md5(salt|component
    representative) mod k, so a document and ALL its near-duplicates share
    one fold — cross-validation's exchangeability assumption survives
    near-dup contamination (the k-fold generalization of
    leakage_safe_split; same scale shape: components over pairs, one left
    join, pure-expression bucketing). Deterministic across engines and
    runs. Output: (id, rep, fold) with fold in [0, k)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    from penr_oz_agent_memory_rust_spark.functions import hashing

    comp = connected_components(pairs, a_col, b_col).withColumnRenamed(
        "node", id_col
    )
    rep = F.coalesce(F.col("component"), F.col(id_col))
    fold = hashing.md5_long(F.concat(F.lit(f"{salt}|"), rep.cast("string"))) % k
    return (
        docs.select(id_col)
        .join(comp, id_col, "left")
        .select(id_col, rep.alias("rep"), fold.cast("int").alias("fold"))
    )
