"""BM25 retrieval, RRF fusion, and connected components."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from penr_oz_agent_memory_rust_spark import localdata
from penr_oz_agent_memory_rust_spark.operators import bm25, components


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "spark query engine optimizes the physical plan"),
        (2, "the query planner joins tables in the engine"),
        (3, "cats and dogs play in the garden"),
        (4, "query query query repeated term document"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_bm25_ranks_relevant_docs_first(spark, docs):
    idx = bm25.build_term_index(docs)
    hits = bm25.bm25_search(idx, ["query", "engine"], k=4).collect()
    ids = [r["doc_id"] for r in hits]
    assert set(ids[:2]) == {1, 2}  # both terms present
    assert 3 not in ids  # no query terms at all
    assert all(hits[i]["bm25"] >= hits[i + 1]["bm25"] for i in range(len(hits) - 1))


def test_bm25_tf_saturation(spark, docs):
    """Repeating a term many times (doc 4) must not dominate docs matching
    more distinct terms — the k1 saturation at work."""
    idx = bm25.build_term_index(docs)
    hits = {r["doc_id"]: r["bm25"] for r in bm25.bm25_search(idx, ["query", "engine"], k=4).collect()}
    assert hits[1] > hits[4] and hits[2] > hits[4]


def test_bm25_formula_matches_reference_math(spark):
    """One term, two docs — check the exact Lucene-form BM25 value."""
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a a b c")], "doc_id bigint, text string"
    )
    idx = bm25.build_term_index(docs)
    got = {r["doc_id"]: r["bm25"] for r in bm25.bm25_search(idx, ["a"], k=2, round_to=None).collect()}
    n, df_, k1, b = 2, 2, bm25.K1, bm25.B
    idf = math.log(1 + (n - df_ + 0.5) / (df_ + 0.5))
    for doc_id, tf in ((1, 1), (2, 2)):
        dl, avgdl = 4, 4.0
        expect = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
        assert abs(got[doc_id] - expect) < 1e-9


def test_rrf_fusion_prefers_doubly_ranked(spark):
    a = spark.createDataFrame([(1, 0.9), (2, 0.8), (3, 0.7)], "doc_id bigint, s double")
    b = spark.createDataFrame([(2, 10.0), (4, 9.0)], "doc_id bigint, t double")
    fused = bm25.reciprocal_rank_fusion(a, b, k=4).collect()
    assert fused[0]["doc_id"] == 2  # present in both lists
    assert {r["doc_id"] for r in fused} == {1, 2, 3, 4}


# lt=default exercises the driver-local union-find strategy; lt=0 forces the
# distributed large-star/small-star loop — same answers from both.
LT_BOTH_PATHS = [2_000_000, 0]


@pytest.fixture()
def edge_limit(monkeypatch):
    """Set the graph operators' local edge limit for one test."""
    return lambda n: monkeypatch.setattr(localdata, "LOCAL_EDGE_LIMIT", n)


def _chain(spark, n):
    return spark.createDataFrame([(i, i + 1) for i in range(n)], "a bigint, b bigint")


@pytest.mark.parametrize("lt", LT_BOTH_PATHS)
def test_connected_components_transitive(spark, edge_limit, lt):
    edge_limit(lt)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 1)], "a bigint, b bigint"
    )
    comp = {
        r["node"]: r["component"]
        for r in components.connected_components(pairs).collect()
    }
    assert comp[1] == comp[2] == comp[3] == comp[9] == 1
    assert comp[5] == comp[6] == 5
    sizes = {
        r["component"]: r["cluster_size"]
        for r in components.dedup_clusters(pairs).collect()
    }
    assert sizes == {1: 4, 5: 2}


@pytest.mark.parametrize("lt", LT_BOTH_PATHS)
def test_connected_components_chain_diameter(spark, edge_limit, lt):
    """A long chain needs several rounds — the loop must carry the min
    label end to end."""
    edge_limit(lt)
    n = 12
    comp = {
        r["node"]: r["component"]
        for r in components.connected_components(_chain(spark, n)).collect()
    }
    assert set(comp.values()) == {0}
    assert len(comp) == n + 1


def test_connected_components_round_cap_raises(spark, edge_limit, monkeypatch):
    """A loop that runs out of rounds raises and names the cap; it never
    returns partial labels (the 13-node chain needs 4 rounds)."""
    edge_limit(0)
    monkeypatch.setattr(components, "MAX_ROUNDS", 2)
    with pytest.raises(RuntimeError, match="MAX_ROUNDS=2"):
        components.connected_components(_chain(spark, 12))


def test_connected_components_long_chain_one_component(spark, edge_limit):
    """A 200-node chain (diameter 199) is one component under the default
    round cap on the distributed path."""
    edge_limit(0)
    comp = {
        r["node"]: r["component"]
        for r in components.connected_components(_chain(spark, 199)).collect()
    }
    assert len(comp) == 200
    assert set(comp.values()) == {0}


@pytest.mark.parametrize("lt", LT_BOTH_PATHS)
def test_connected_components_string_ids(spark, edge_limit, lt):
    """Non-numeric node ids work on both paths."""
    edge_limit(lt)
    pairs = spark.createDataFrame([("a", "b"), ("b", "c"), ("x", "y")], "a string, b string")
    comp = {
        r["node"]: r["component"]
        for r in components.connected_components(pairs).collect()
    }
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_components_of_minhash_pairs_end_to_end(spark):
    """Full dedup pipeline: minhash pairs -> clusters."""
    from penr_oz_agent_memory_rust_spark.operators import dedup

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "the quick brown fox jumps over the lazy dog"),
        (4, "completely different text entirely here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = dedup.minhash_lsh_pairs(docs, n_hashes=12, bands=6)
    comp = {r["node"]: r["component"] for r in components.connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert 4 not in comp  # no near-dup edges


def test_connected_components_random_graph_both_paths_agree(spark, edge_limit):
    """Property: on a random graph the distributed large-star/small-star
    loop and the driver union-find return identical labelings."""
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(11))
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 60, size=(80, 2)) if a != b]
    pairs = spark.createDataFrame(edges, "a bigint, b bigint")
    local = {
        r["node"]: r["component"]
        for r in components.connected_components(pairs).collect()
    }
    edge_limit(0)
    dist = {
        r["node"]: r["component"]
        for r in components.connected_components(pairs).collect()
    }
    assert local == dist and len(local) > 0


def test_tfidf_keywords_rank_and_weighting(spark, docs):
    out = bm25.tfidf_keywords(docs, k=2).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r)
    # every doc gets exactly k ranked keywords, rnk 1..k, scores descending
    for doc_id, rows in per_doc.items():
        rows.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rows] == [1, 2]
        assert rows[0]["tfidf"] >= rows[1]["tfidf"]
    assert set(per_doc) == {1, 2, 3, 4}
    # doc 4 is dominated by the repeated rare-ish term "query"? no — "query"
    # appears in 3/4 docs (low idf); its top keyword must be one of the
    # unique terms (repeated/term/document), not the common one
    assert per_doc[4][0]["term"] != "the"


def test_tfidf_keywords_idf_downweights_ubiquitous_terms(spark, docs):
    # "the" appears in 3 docs; a term unique to doc 3 must outrank it there
    out = bm25.tfidf_keywords(docs, k=10)
    doc3 = {r["term"]: r["tfidf"] for r in out.filter(F.col("doc_id") == 3).collect()}
    assert doc3["cats"] > doc3["the"]
