"""PageRank: conservation, known-graph values, lineage-cut path."""

from __future__ import annotations

import pytest

from penr_oz_agent_memory_rust_spark import localdata
from penr_oz_agent_memory_rust_spark.operators.pagerank import pagerank


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src bigint, dst bigint")


def test_rank_mass_conserved_without_dangling(spark):
    # 4-cycle: every node has out-degree 1, no dangling mass lost
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])
    ranks = {r["id"]: r["rank"] for r in pagerank(e, iters=5).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    # symmetric cycle => uniform stationary distribution from uniform start
    for v in ranks.values():
        assert abs(v - 0.25) < 1e-9


def test_hub_attracts_rank(spark):
    # star: 0,1,2 all point at 3; 3 points back at 0. The 0<->3 pair has
    # period-2 dynamics, so run to convergence (fixed point: r3≈0.480,
    # r0≈0.445, leaves at teleport-only 0.0375) rather than an even
    # iteration where the oscillation can put r0 ahead
    e = _edges(spark, [(0, 3), (1, 3), (2, 3), (3, 0)])
    ranks = {r["id"]: r["rank"] for r in pagerank(e, iters=25).collect()}
    assert ranks[3] > ranks[0] > ranks[1]
    assert ranks[1] == ranks[2]  # symmetric leaves


def test_three_node_chain_matches_hand_computation(spark):
    # 0->1, 1->2, 2->0 after one iteration from uniform 1/3:
    # every node receives exactly 1/3, so rank stays 0.15/3 + 0.85/3 = 1/3
    e = _edges(spark, [(0, 1), (1, 2), (2, 0)])
    ranks = {r["id"]: r["rank"] for r in pagerank(e, iters=1).collect()}
    for v in ranks.values():
        assert abs(v - 1.0 / 3.0) < 1e-9


def test_dangling_node_keeps_teleport_mass(spark):
    # 1 has no out-edges (dangling): it still receives teleport + inflow,
    # and total mass shrinks (simplified formulation drops dangling mass)
    e = _edges(spark, [(0, 1)])
    ranks = {r["id"]: r["rank"] for r in pagerank(e, iters=3).collect()}
    assert ranks[1] > ranks[0]
    assert 0 < sum(ranks.values()) < 1.0 + 1e-9


def test_checkpoint_path_equals_plain(spark, monkeypatch):
    """The Spark loop's mid-run checkpoints (every 2 iterations: two of
    them in 6 iterations) cut lineage without changing a rank."""
    from penr_oz_agent_memory_rust_spark.operators import pagerank as pagerank_mod

    monkeypatch.setattr(localdata, "LOCAL_EDGE_LIMIT", 0)
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)])

    def ranks(every):
        monkeypatch.setattr(pagerank_mod, "CHECKPOINT_EVERY", every)
        return {r["id"]: r["rank"] for r in pagerank(e, iters=6).collect()}

    assert ranks(0) == ranks(2)


def test_deterministic_across_runs(spark):
    e = _edges(spark, [(i, (i * 7 + 3) % 20) for i in range(20)])
    a = sorted(pagerank(e, iters=4).collect())
    b = sorted(pagerank(e, iters=4).collect())
    assert a == b


def test_pagerank_local_and_distributed_paths_agree(spark, monkeypatch):
    """r10: pagerank grew a size-probed driver-local power iteration.
    Because every iteration's 12dp round puts values ON the rounding
    grid, downstream small-integer arithmetic lands exactly on half-grain
    points, where f64 sum ORDER decides the last digit — so the two
    physical paths (and the SQL oracle, whose sums have a third order)
    can differ by one 1e-12 grain. The gates compare at 6dp, which
    absorbs it; this test pins exactly that contract: agreement at 6dp
    AND a worst-case gap of one grain."""
    from penr_oz_agent_memory_rust_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (5, 1), (2, 1)],
        "src bigint, dst bigint",
    )
    for iters in (1, 3, 5):
        local = {
            r["id"]: r["rank"] for r in pagerank(edges, iters=iters).collect()
        }
        with monkeypatch.context() as m:
            m.setattr(localdata, "LOCAL_EDGE_LIMIT", 0)
            dist = {r["id"]: r["rank"] for r in pagerank(edges, iters=iters).collect()}
        assert set(local) == set(dist), (iters, local, dist)
        for nd in local:
            assert abs(local[nd] - dist[nd]) <= 1.001e-12, (iters, nd, local[nd], dist[nd])
            assert round(local[nd], 6) == round(dist[nd], 6)
