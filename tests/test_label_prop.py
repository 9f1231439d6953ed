from __future__ import annotations

import pytest

from penr_oz_agent_memory_rust_spark import localdata
from penr_oz_agent_memory_rust_spark.operators.label_prop import label_propagation


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _seeds(spark, rows):
    return spark.createDataFrame(rows, "id long, label long")


def test_two_cluster_graph_converges(spark):
    # 0-1-2 triangle and 10-11-12 triangle joined by a single bridge 2-10;
    # seeds 0 -> 7, 12 -> 9
    tri1 = [(0, 1), (1, 2), (0, 2)]
    tri2 = [(10, 11), (11, 12), (10, 12)]
    e = _edges(spark, tri1 + tri2 + [(2, 10)])
    s = _seeds(spark, [(0, 7), (12, 9)])
    out = {r["id"]: r["label"] for r in label_propagation(e, s, iters=4).collect()}
    assert out[0] == 7 and out[1] == 7
    assert out[12] == 9 and out[11] == 9


def test_seed_clamped_even_when_outvoted(spark):
    # node 5 is a seed with label 1 but ALL its neighbors vote 2
    e = _edges(spark, [(5, 1), (5, 2), (5, 3)])
    s = _seeds(spark, [(5, 1), (1, 2), (2, 2), (3, 2)])
    out = {r["id"]: r["label"] for r in label_propagation(e, s, iters=3).collect()}
    assert out[5] == 1


def test_tie_breaks_to_smallest_label(spark):
    # node 0 has one neighbor labeled 3 and one labeled 8: tie on count
    e = _edges(spark, [(0, 1), (0, 2)])
    s = _seeds(spark, [(1, 8), (2, 3)])
    out = {r["id"]: r["label"] for r in label_propagation(e, s, iters=1).collect()}
    assert out[0] == 3


def test_unreachable_node_stays_null(spark):
    e = _edges(spark, [(0, 1), (5, 6)])
    s = _seeds(spark, [(0, 4)])
    out = {r["id"]: r["label"] for r in label_propagation(e, s, iters=3).collect()}
    assert out[1] == 4
    assert out[5] is None and out[6] is None


def test_no_labeled_neighbor_keeps_previous(spark):
    # chain 0-1-2: after iter1, node 2 labeled via 1? no — 1 is unlabeled
    # at iter1, so 2 must stay null after 1 iter and get the label at 2
    e = _edges(spark, [(0, 1), (1, 2)])
    s = _seeds(spark, [(0, 5)])
    out1 = {r["id"]: r["label"] for r in label_propagation(e, s, iters=1).collect()}
    assert out1[1] == 5 and out1[2] is None
    out2 = {r["id"]: r["label"] for r in label_propagation(e, s, iters=2).collect()}
    assert out2[2] == 5


def test_duplicate_directed_edge_acts_as_weight(spark):
    # node 0: neighbor 1 (label 9) appears in both directions -> weight 2;
    # neighbors 2 and 3 (label 4) weight 1 each -> tie on count 2 vs 2,
    # smallest label 4 wins; removing one "4" voter flips it to 9
    e = _edges(spark, [(0, 1), (1, 0), (0, 2), (0, 3)])
    s = _seeds(spark, [(1, 9), (2, 4), (3, 4)])
    out = {r["id"]: r["label"] for r in label_propagation(e, s, iters=1).collect()}
    assert out[0] == 4
    e2 = _edges(spark, [(0, 1), (1, 0), (0, 2)])
    s2 = _seeds(spark, [(1, 9), (2, 4)])
    out2 = {r["id"]: r["label"] for r in label_propagation(e2, s2, iters=1).collect()}
    assert out2[0] == 9


def test_label_prop_local_and_distributed_paths_agree(spark, monkeypatch):
    """r10: label_propagation grew a size-probed driver-local loop; both
    physical paths must produce identical labels — including weighted
    votes from duplicated mirror pairs, clamped seeds, tie-breaks, and
    the keep-previous fallback."""
    from penr_oz_agent_memory_rust_spark.operators.label_prop import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (2, 1), (6, 1)],
        "src bigint, dst bigint",
    )
    seeds = spark.createDataFrame([(1, 7), (5, 9)], "id bigint, label bigint")
    for iters in (1, 2, 3):
        local = sorted(
            (r["id"], r["label"])
            for r in label_propagation(edges, seeds, iters=iters).collect()
        )
        with monkeypatch.context() as m:
            m.setattr(localdata, "LOCAL_EDGE_LIMIT", 0)
            dist = sorted(
                (r["id"], r["label"])
                for r in label_propagation(edges, seeds, iters=iters).collect()
            )
        assert local == dist, (iters, local, dist)
