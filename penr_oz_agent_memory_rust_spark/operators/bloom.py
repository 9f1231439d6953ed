"""Bloom-filter sketch for cross-snapshot dedup prefiltering (★ north-star
pipeline operator; no counterpart in the reference, which dedups nothing —
closest surface is the fingerprint table of `src/memory.rs`-style stores).

The 100 TB story: `incremental_exact_dedup` anti-joins EVERY incoming batch
row against the seen-fingerprint history — correct, but the whole batch
shuffles on fp even when 99% of rows are brand new. A Bloom filter built
over the history is a constant-size (default 128 KiB) sketch that the
driver broadcasts; batch rows whose fingerprints miss the filter are
DEFINITELY new (Bloom filters have no false negatives) and skip the join
entirely, so the anti-join shuffles only the false-positive + true-dup
sliver. Final output is EXACT — bloom-positive rows are confirmed by the
same left-anti join, so false positives cost a join probe, never a wrong
answer. This mirrors Spark's own runtime bloom-filter join
(spark.sql.optimizer.runtime.bloomFilter.*) but with an explicitly
persistable sketch a pipeline can save alongside a snapshot and reuse
across jobs — the piece the built-in runtime filter cannot do.

Hashing is the standard double-hashing scheme (Kirsch & Mitzenmacher 2006):
k bit positions derived from one portable 60-bit md5 value as
(h1 + i*h2) mod m with m a power of two. Everything is vectorized numpy
over Arrow batches; the per-partition partial sketches OR together on the
driver (numPartitions × m/8 bytes — bounded metadata, not data).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from penr_oz_agent_memory_rust_spark.functions import hashing


def optimal_bits(n_items: int, fpp: float = 0.01) -> int:
    """Bits for a target false-positive rate, rounded up to a power of two
    (power-of-two m keeps position math a mask, and sizes the sketch in
    clean 64-bit words)."""
    m = max(64.0, -n_items * math.log(fpp) / (math.log(2) ** 2))
    return 1 << max(6, math.ceil(math.log2(m)))


def _positions(fp: np.ndarray, m_bits: int, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(k, n) word indices and bit masks for a vector of 60-bit hashes."""
    v = fp.astype(np.uint64)
    mask = np.uint64(m_bits - 1)
    h1 = v & mask
    h2 = ((v >> np.uint64(17)) | np.uint64(1)) & mask
    pos = np.stack([(h1 + np.uint64(i) * h2) & mask for i in range(k)])
    return pos >> np.uint64(6), np.uint64(1) << (pos & np.uint64(63))


def build_bloom(
    fps: DataFrame, fp_col: str = "fp", m_bits: int = 1 << 20, k: int = 4
) -> bytes:
    """Aggregate a Bloom sketch over a DataFrame of 60-bit fingerprint
    longs. Each partition builds its partial bit array in one Arrow pass;
    the driver ORs the partials (bounded: numPartitions × m/8 bytes).
    Returns the packed little-endian uint64 bit array as bytes."""
    n_words = m_bits // 64

    def part(batches):
        bits = np.zeros(n_words, dtype=np.uint64)
        for pdf in batches:
            if pdf.empty:
                continue
            w, b = _positions(pdf[fp_col].to_numpy(dtype=np.int64), m_bits, k)
            np.bitwise_or.at(bits, w.ravel(), b.ravel())
        yield pd.DataFrame({"bits": [bits.tobytes()]})

    acc = np.zeros(n_words, dtype=np.uint64)
    for row in fps.select(fp_col).mapInPandas(part, "bits binary").collect():
        acc |= np.frombuffer(row["bits"], dtype=np.uint64)
    return acc.tobytes()


def bloom_probe_udf(df: DataFrame, sketch: bytes, m_bits: int, k: int = 4):
    """Vectorized membership probe: a pandas UDF over the broadcast sketch.
    True = maybe present (confirm exactly); False = definitely absent."""
    bc = df.sparkSession.sparkContext.broadcast(sketch)

    @F.pandas_udf("boolean")
    def might_contain(v: pd.Series) -> pd.Series:
        bits = np.frombuffer(bc.value, dtype=np.uint64)
        w, b = _positions(v.to_numpy(dtype=np.int64), m_bits, k)
        hit = np.ones(len(v), dtype=bool)
        for i in range(w.shape[0]):
            hit &= (bits[w[i]] & b[i]) != 0
        return pd.Series(hit)

    return might_contain


def incremental_bloom_dedup(
    new_docs: DataFrame,
    seen_fps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_col: str = "fp",
    m_bits: int = 1 << 20,
    k: int = 4,
    sketch: bytes | None = None,
) -> DataFrame:
    """★ Bloom-prefiltered cross-snapshot dedup. EXACT semantics — output
    is identical to `dedup.incremental_exact_dedup` (rows to ingest:
    (doc_id, fp), fp new vs history, min-id within batch) and shares its
    anti-join oracle; the sketch only routes rows:

        definitely-new (bloom miss)  -> bypass the join entirely
        maybe-dup      (bloom hit)   -> left-anti join confirms

    `seen_fps` holds md5-hex fingerprints (the snapshot format of
    incremental_exact_dedup); the sketch hashes their 60-bit prefix via the
    same portable conv() used across the dedup suite.

    Pass `sketch` (from `build_bloom` over the history's 60-bit prefixes)
    to skip the build pass — the intended shape for a streaming ingest or
    a multi-batch backfill, where ONE history scan amortizes across every
    batch and only the bit-OR of each batch's new fps updates it. PLANS.md
    "Span/segment/Bloom probe" records the split at 2M docs: the build is
    the expensive pass; the per-batch probe+confirm is cheap.
    """
    if sketch is None:
        seen_long = seen_fps.select(
            F.conv(F.substring(F.col(fp_col), 1, 15), 16, 10)
            .cast("bigint")
            .alias("__fpl")
        )
        sketch = build_bloom(seen_long, "__fpl", m_bits=m_bits, k=k)
    batch = (
        new_docs.withColumn(fp_col, hashing.fingerprint(F.col(text_col)))
        .groupBy(fp_col)
        .agg(F.min(id_col).alias(id_col))
        .withColumn(
            "__fpl", F.conv(F.substring(F.col(fp_col), 1, 15), 16, 10).cast("bigint")
        )
    )
    probe = bloom_probe_udf(batch, sketch, m_bits, k)
    # persist the fingerprinted+probed batch (one row per DISTINCT batch
    # fp — already reduced) so the union's two branches don't each rescan
    # the batch and rerun the probe; without this the miss/hit split
    # computes its parent twice and the bypass saves nothing
    batch = batch.withColumn("__maybe", probe(F.col("__fpl"))).persist()
    definite_new = batch.filter(~F.col("__maybe"))
    confirmed_new = batch.filter(F.col("__maybe")).join(
        seen_fps.select(fp_col).distinct(), on=fp_col, how="left_anti"
    )
    return definite_new.unionByName(confirmed_new).select(id_col, fp_col)
