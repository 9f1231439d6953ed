"""ann_index workload: ivf_index.build_ivf_index over seeded clustered
vectors, then ivf_index.search_ivf_index_batch for a fixed query set."""

from __future__ import annotations

import glob
import os
import time

import pyarrow.parquet as pq

import checks
import synth
from common import Result, median, rounds

N_VECTORS = 10_000
N_QUERIES = 100
DIM = 64
N_CLUSTERS = 32
N_CELLS = 16
N_PROBES = 2
K = 10
# Rounds (build + search) the metrics come from; later rounds, run while
# --seconds lasts, are checked but not measured.
TIMED_ROUNDS = 2


def _cell_rows(index: str) -> list[int]:
    """Rows per IVF cell, read from the parquet footers of the index."""
    rows = []
    for cell in glob.glob(os.path.join(index, "data", "ivf_cell=*")):
        rows.append(
            sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(os.path.join(cell, "*.parquet")))
        )
    return rows


def run(ctx) -> Result:
    from penr_oz_agent_memory_rust_spark.operators import ivf_index, knn

    spark, res, tracer = ctx.spark, Result(), ctx.tracer
    corpus = synth.clustered_vectors(ctx.seed, N_VECTORS, DIM, N_CLUSTERS, "corpus")
    queries = synth.clustered_vectors(ctx.seed, N_QUERIES, DIM, N_CLUSTERS, "queries")
    corpus_path = ctx.path("vectors")
    synth.write_vectors(corpus, corpus_path)
    qdf = spark.createDataFrame(
        [(i, [float(v) for v in q]) for i, q in enumerate(queries)],
        "query_id int, qvec array<float>",
    ).localCheckpoint(eager=True)

    if tracer is not None:
        tracer.wrap(knn, "train_ivf_centroids", "ivf.train")
        tracer.wrap(ivf_index, "build_ivf_index", "ivf.build")
        tracer.wrap(ivf_index, "search_ivf_index_batch", "ivf.probe")

    def build(vectors: str) -> str:
        index = ctx.path("index")
        ivf_index.build_ivf_index(spark.read.parquet(vectors), index, n_centroids=N_CELLS)
        return index

    def search(index: str) -> tuple[list, float]:
        t = time.perf_counter()
        df = ivf_index.search_ivf_index_batch(spark, index, qdf, k=K, n_probes=N_PROBES)
        probe = time.perf_counter() - t
        return df.collect(), probe

    # a full untimed round pays the JIT, codegen and Python-worker start-up
    search(build(corpus_path))
    res.setup_s = ctx.setup_seconds()

    builds, searches, probes, recalls = [], [], [], []
    n_spans = len(tracer.spans) if tracer is not None else 0
    for measured in rounds(ctx.seconds, TIMED_ROUNDS):
        index, build_s = ctx.timed(build, corpus_path)
        (rows, probe), search_s = ctx.timed(search, index)
        res.attempted += 2
        if measured:
            builds.append(build_s)
            searches.append(search_s)
            probes.append(probe)
        hits: dict[int, list] = {}
        for r in rows:
            hits.setdefault(int(r["query_id"]), []).append((int(r["vec_id"]), float(r["score"])))
        problems, recall = checks.check_ann(corpus, queries, hits, K)
        res.problems += problems
        if measured:
            recalls.append(recall)

    res.e2e = {
        "items_per_s": N_VECTORS * len(builds) / sum(builds),
        "op_p50_ms": 1000.0 * median(searches),
        "recall": median(recalls),
    }
    res.info = {
        "build_vectors_per_s": (N_VECTORS / median(builds), "1/s"),
        "search_queries_per_s": (N_QUERIES / median(searches), "1/s"),
        "recall_at_10": (median(recalls), "ratio"),
        "rounds": (float(res.attempted // 2), "count"),
    }
    if tracer is not None:
        timed = tracer.spans[n_spans:]
        train = [s["end"] - s["start"] for s in timed if s["name"] == "ivf.train"][:TIMED_ROUNDS]
        cells = _cell_rows(index)
        pairs = ctx.ledger.python_rows() / (res.attempted // 2)
        res.layers = {
            "ivf.train_s": median(train),
            "ivf.write_s": median([b - t for b, t in zip(builds, train)]),
            "ivf.cells": float(len(cells)),
            "ivf.cell_rows_max": float(max(cells)),
            "ivf.cell_rows_p50": median(cells),
            "ivf.probe_s": median(probes),
            "ivf.score_s": median(searches) - median(probes),
            "ivf.pairs_scored": pairs,
            "ivf.pair_yield": N_QUERIES * K / pairs if pairs else 0.0,
        }
    return res
