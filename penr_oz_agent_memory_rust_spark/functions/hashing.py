"""Portable hashing / shingling primitives for dedup & fingerprinting.

"Portable" = the exact same value is computable in ANSI-ish SQL on DuckDB
(the correctness oracle), so every dedup operator can be hash-verified. That
rules out engine-native hash() (implementation-specific); everything here is
built on md5 hex strings, which agree across engines:

  Spark:  md5(s)                      DuckDB: md5(s)
  Spark:  conv(substring(md5(s),1,15),16,10)   DuckDB: ('0x'||substring(md5(s),1,15))::BIGINT

15 hex chars = 60 bits => always a non-negative BIGINT in both engines.

These are north-star operators (SURVEY §2.7 ★): the reference has no dedup;
this is the LLM-training-pipeline surface built Spark-first.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, functions as F, types as T


def md5_long(col: Column) -> Column:
    """Portable 60-bit hash of a string column."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def seeded_md5(col: Column, seed: int) -> Column:
    """One member of a family of independent hash functions (seed-prefixed md5)."""
    return F.md5(F.concat(F.lit(f"{seed}|"), col))


def seeded_md5_long(col: Column, seed: int) -> Column:
    return F.conv(F.substring(seeded_md5(col, seed), 1, 15), 16, 10).cast("bigint")


def word_tokens(col: Column) -> Column:
    """Whitespace tokenization of lowercased text (matches DuckDB
    string_split(lower(s), ' ') on single-space-separated corpora)."""
    return F.split(F.lower(col), " ")


def cpu_rebalance(df):
    """Spread a CPU-heavy per-row stage across the cluster when the scan
    produced fewer partitions than cores.

    Small inputs (one parquet file under maxPartitionBytes) arrive as ONE
    partition, so an expensive Arrow-UDF/explode stage runs on a single
    core while the rest idle — measured 4-7× on the sf0.1 dedup pipeline.
    At real scale the scan already has >= defaultParallelism partitions
    and this is a no-op, so the extra exchange only ever shuffles
    small-file inputs (where it costs ~nothing). A round-robin
    `repartition(n)` (no key) is used on purpose: the downstream shuffle
    key (fingerprint/band/bucket) differs per operator, and balance is
    all that matters here."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def word_shingle_set(toks: list, n: int) -> set:
    """The distinct n-word shingles of a token list, space-joined; the
    whole (joined) list when it has at most n tokens. Shared by every
    Arrow-batched word-shingle UDF (this module's arrays and the MinHash
    fold in operators/dedup.py), so all of them see one shingle set."""
    if len(toks) <= n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def word_shingle_arrays(docs, id_col: str, text_col: str, n: int = 3, rebalance: bool = True):
    """(id, shs) rows where shs is the DISTINCT n-word shingle strings of
    the text as an array — the pre-explode form of word_shingle_rows, via
    an Arrow-batched pandas UDF.

    Produces exactly the distinct shingle STRINGS of `word_shingles` (so any
    oracle mirroring the expression form still agrees), but ~4-5× faster:
    Catalyst evaluates higher-order lambdas interpreted per element, while
    the Arrow batch runs tight Python string ops. This is the hot path of
    every shingle-based dedup operator, so the input is cpu_rebalance()d
    first by default (re-confirmed by a warmed, alternating A/B at sf0.1:
    minhash_lsh_pairs med 1.48 s with vs 2.42 s without — the per-shingle
    seeded-md5 work parallelizes; a cold-JVM-biased measurement will show
    the opposite, so always interleave when re-measuring). Pass
    rebalance=False when the downstream work per shingle is light (e.g. a
    broadcast-probe like decontaminate, where the extra exchange measured
    slower than the single-task scan). NULL text yields a NULL array (so a
    downstream explode drops the row).

    The array form exists so set-similarity operators can read the per-doc
    shingle-set SIZE as `size(shs)` before exploding — saving a whole
    groupBy(id) exchange that recomputing the size post-explode would cost.
    """
    if rebalance:
        docs = cpu_rebalance(docs)
    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _shingles(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: None if t is None else list(word_shingle_set(t.lower().split(" "), n))
        )

    return docs.select(F.col(id_col), _shingles(F.col(text_col)).alias("shs"))


def word_shingle_rows(docs, id_col: str, text_col: str, n: int = 3, rebalance: bool = True):
    """Exploded (id, shingle) rows — see word_shingle_arrays for the UDF
    rationale and A/B numbers. NULL text yields no rows (explode-of-null
    semantics)."""
    return word_shingle_arrays(docs, id_col, text_col, n, rebalance=rebalance).select(
        F.col(id_col), F.explode(F.col("shs")).alias("sh")
    )


def word_shingles(col: Column, n: int = 3) -> Column:
    """n-word shingles as space-joined strings; whole text when shorter than n.

    DuckDB equivalent:
      list_transform(generate_series(1, greatest(1, len(toks)-n+1)),
                     i -> array_to_string(toks[i:i+n-1], ' '))
    """
    toks = word_tokens(col)
    idx = F.sequence(F.lit(1), F.greatest(F.lit(1), F.size(toks) - F.lit(n - 1)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def char_ngrams(col: Column, n: int = 5) -> Column:
    """Character n-grams; whole string when shorter than n.

    DuckDB equivalent:
      list_transform(generate_series(1, greatest(1, length(s)-n+1)),
                     i -> substring(s, i, n))

    NOTE this expression form is the SEMANTIC SPEC (it is what the DuckDB
    oracles mirror), but Catalyst evaluates higher-order lambdas
    interpreted per element — measured 4.7 s just to explode ~1M grams at
    sf0.1. Hot paths use char_shingle_arrays (Arrow-batched, identical
    distinct-gram sets, 3.8× faster) instead.
    """
    idx = F.sequence(F.lit(1), F.greatest(F.lit(1), F.length(col) - F.lit(n - 1)))
    return F.transform(idx, lambda i: col.substr(i, F.lit(n)))


def char_shingle_arrays(docs, id_col: str, text_col: str, n: int = 5, rebalance: bool = True):
    """(id, shs) rows with the DISTINCT character n-grams of the text as an
    array — the char-unit twin of word_shingle_arrays (same Arrow-batch
    rationale and the same rebalance default; see its docstring). Produces
    exactly the distinct gram STRINGS of array_distinct(char_ngrams(s, n))
    — whole string when shorter than n, NULL array for NULL text — so
    oracles keep mirroring the expression form. Measured at sf0.1
    (~1M grams): explode+hash 5.15 s via the interpreted transform lambda
    vs 1.36 s via this UDF."""
    if rebalance:
        docs = cpu_rebalance(docs)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _grams(texts: pd.Series) -> pd.Series:
        def g(t):
            if t is None:
                return None
            if len(t) <= n:
                return [t]
            return list({t[i : i + n] for i in range(len(t) - n + 1)})

        return texts.map(g)

    return docs.select(F.col(id_col), _grams(F.col(text_col)).alias("shs"))


def normalized_text(col: Column) -> Column:
    """Canonical form for exact dedup / fingerprinting: lowercase, collapse
    whitespace, strip non [a-z0-9 ]."""
    lowered = F.lower(col)
    stripped = F.regexp_replace(lowered, r"[^a-z0-9 ]", "")
    return F.trim(F.regexp_replace(stripped, r" +", " "))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (portable)."""
    return F.md5(normalized_text(col))
