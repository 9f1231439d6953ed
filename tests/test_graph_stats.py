from __future__ import annotations

from pyspark.sql import functions as F

from penr_oz_agent_memory_rust_spark import localdata
from penr_oz_agent_memory_rust_spark.operators.graph_stats import (
    triangle_stats,
    undirected_edges,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src bigint, dst bigint")


def test_undirected_canonical_distinct(spark):
    e = _edges(spark, [(1, 2), (2, 1), (2, 3), (3, 3), (1, 2)])
    rows = sorted((r.a, r.b) for r in undirected_edges(e).collect())
    assert rows == [(1, 2), (2, 3)]


def test_triangle_counts_known_graph(spark):
    # K4 on {1,2,3,4} plus a pendant 5-1: every K4 node is in 3 triangles
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    e = _edges(spark, k4 + [(5, 1)])
    out = {r.id: r for r in triangle_stats(e).collect()}
    for n in (2, 3, 4):
        assert out[n].triangles == 3
        assert out[n].degree == 3
        assert abs(out[n].clustering - 1.0) < 1e-9
    assert out[1].degree == 4
    assert out[1].triangles == 3
    assert abs(out[1].clustering - 0.5) < 1e-9  # 2*3/(4*3)
    assert out[5].triangles == 0 and out[5].clustering == 0.0


def test_triangle_single_and_directed_duplicates(spark):
    # duplicated + reversed edges must not inflate counts
    e = _edges(spark, [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3)])
    out = {r.id: r.triangles for r in triangle_stats(e).collect()}
    assert out == {1: 1, 2: 1, 3: 1}


def test_triangle_free_graph(spark):
    # star graph: no triangles anywhere
    e = _edges(spark, [(0, i) for i in range(1, 6)])
    out = triangle_stats(e)
    assert out.filter(F.col("triangles") > 0).count() == 0
    assert out.count() == 6


def test_matches_bruteforce_on_random_graph(spark):
    import itertools
    import random

    rnd = random.Random(7)
    nodes = list(range(30))
    pairs = [(a, b) for a, b in itertools.combinations(nodes, 2) if rnd.random() < 0.2]
    # brute force
    adj = {n: set() for n in nodes}
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    expect = {}
    for n in nodes:
        t = 0
        for x, y in itertools.combinations(sorted(adj[n]), 2):
            if y in adj[x]:
                t += 1
        if adj[n]:
            expect[n] = t
    out = {r.id: r.triangles for r in triangle_stats(_edges(spark, pairs)).collect()}
    assert out == expect


def _py_md5_long(s):
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_deterministic_walks_match_python_reference(spark):
    from penr_oz_agent_memory_rust_spark.operators.graph_stats import (
        deterministic_walks,
    )

    pairs = [(1, 2), (2, 3), (3, 1), (3, 4)]
    out = deterministic_walks(
        _edges(spark, pairs), walks_per_node=2, walk_len=3, salt="t"
    ).collect()
    # python reference with identical derandomization
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    adj = {n: sorted(v) for n, v in adj.items()}
    expect = {}
    for n in adj:
        for j in range(2):
            wid = f"{n}#{j}"
            cur = n
            expect[(wid, 0)] = cur
            for i in range(1, 4):
                nb = adj[cur]
                cur = nb[_py_md5_long(f"t|{wid}|{i}") % len(nb)]
                expect[(wid, i)] = cur
    got = {(r.walk_id, r.step): r.node for r in out}
    assert got == expect


def test_walks_shape_and_edges_valid(spark):
    from penr_oz_agent_memory_rust_spark.operators.graph_stats import (
        deterministic_walks,
    )

    pairs = [(i, (i + 1) % 10) for i in range(10)]  # ring
    out = deterministic_walks(
        _edges(spark, pairs), walks_per_node=1, walk_len=4
    ).collect()
    by_walk = {}
    for r in out:
        by_walk.setdefault(r.walk_id, {})[r.step] = r.node
    assert len(by_walk) == 10
    ring = {(a, b) for a, b in pairs} | {(b, a) for a, b in pairs}
    for wid, steps in by_walk.items():
        assert sorted(steps) == [0, 1, 2, 3, 4]
        for i in range(4):
            assert (steps[i], steps[i + 1]) in ring  # every hop is an edge


def test_kcore_peels_tails_keeps_cliques(spark):
    from penr_oz_agent_memory_rust_spark.operators.graph_stats import kcore

    # 4-clique {1,2,3,4} + chain 4-5-6 (directed one way; kcore symmetrizes)
    clique = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges = spark.createDataFrame(clique + [(4, 5), (5, 6)], "src bigint, dst bigint")
    core3 = {r["id"]: r["degree"] for r in kcore(edges, k=3).collect()}
    assert core3 == {1: 3, 2: 3, 3: 3, 4: 3}  # the chain peels off
    core2 = {r["id"] for r in kcore(edges, k=2).collect()}
    assert core2 == {1, 2, 3, 4}  # 5 and 6 still peel (degree 1 after 6 goes)
    assert kcore(edges, k=4).count() == 0  # clique of 4 has max degree 3


def test_kcore_cascade_requires_iteration(spark):
    from penr_oz_agent_memory_rust_spark.operators.graph_stats import kcore

    # path 1-2-3-4-5: every node has degree <= 2, and a k=2 peel cascades
    # from both ends inward, removing everything over several rounds
    path = [(i, i + 1) for i in range(1, 5)]
    edges = spark.createDataFrame(path, "src bigint, dst bigint")
    assert kcore(edges, k=2).count() == 0
    # ...but adding one closing edge makes the whole ring a 2-core
    ring = path + [(5, 1)]
    edges2 = spark.createDataFrame(ring, "src bigint, dst bigint")
    core = {r["id"]: r["degree"] for r in kcore(edges2, k=2).collect()}
    assert core == {i: 2 for i in range(1, 6)}


def test_kcore_local_and_distributed_paths_agree(spark, monkeypatch):
    """r10: kcore grew a size-probed driver-local peel (the
    connected_components strategy split); both physical paths must
    produce the identical (id, degree) fixpoint, including cascades."""
    from penr_oz_agent_memory_rust_spark.operators.graph_stats import kcore

    clique = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    cases = [
        (clique + [(4, 5), (5, 6)], 3),
        (clique + [(4, 5), (5, 6)], 2),
        ([(i, i + 1) for i in range(1, 5)] + [(5, 1)], 2),  # ring
        ([(i, i + 1) for i in range(1, 5)], 2),  # cascades to empty
    ]
    for rows, k in cases:
        edges = spark.createDataFrame(rows, "src bigint, dst bigint")
        local = sorted(
            (r["id"], r["degree"]) for r in kcore(edges, k=k).collect()
        )
        with monkeypatch.context() as m:
            m.setattr(localdata, "LOCAL_EDGE_LIMIT", 0)
            dist = sorted(
                (r["id"], r["degree"]) for r in kcore(edges, k=k).collect()
            )
        assert local == dist, (k, rows, local, dist)


def test_triangle_stats_local_and_distributed_paths_agree(spark, monkeypatch):
    """r10: triangle_stats grew a size-probed driver-local path; both
    physical paths must be bit-identical (integer counts; clustering
    replicates Spark's f64 ops + HALF_UP round)."""
    from penr_oz_agent_memory_rust_spark.operators.graph_stats import (
        triangle_stats,
    )

    clique = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    rows = clique + [(4, 5), (5, 6), (6, 4), (6, 1), (7, 1)]
    edges = spark.createDataFrame(rows, "src bigint, dst bigint")
    local = sorted(tuple(r) for r in triangle_stats(edges).collect())
    monkeypatch.setattr(localdata, "LOCAL_EDGE_LIMIT", 0)
    dist = sorted(tuple(r) for r in triangle_stats(edges).collect())
    assert local == dist, (local, dist)
