"""Seeded input synthesizers for the three workloads.

Everything here is plain numpy/pyarrow: the program under test only ever
sees the files these functions write. The same seed gives byte-identical
inputs.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from checks import STOPWORDS, jaccard

# Vocabulary words never collide with Gopher's stop list, so a doc passes
# the stop-word rule only through STOP_TAIL. At 2,000 docs the tail is on
# ~1,800 docs, over the funnel's 1,000-doc strip threshold, so the
# boilerplate strip removes it; the header (~930 docs) stays below it and
# is left as shared text across unrelated docs.
STOP_TAIL = "and that is all of the story to be told with care"
NAV_HEADER = "home news sports weather contact privacy terms login register subscribe"


def _rng(seed: int, stream: str) -> np.random.Generator:
    digest = hashlib.sha256(f"{stream}:{seed}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(digest[:8], "little")))


def vocabulary(seed: int, size: int = 20_000) -> list[str]:
    """Distinct lowercase pseudo-words of 3-9 letters, none a stop word."""
    rng = _rng(seed, "vocab")
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    words: dict[str, None] = {}
    while len(words) < size:
        lengths = rng.integers(3, 10, size)
        chars = letters[rng.integers(0, 26, int(lengths.sum()))].tobytes().decode()
        ends = np.cumsum(lengths)
        for start, end in zip(ends - lengths, ends):
            w = chars[start:end]
            if w not in STOPWORDS:
                words[w] = None
    return sorted(words)[:size]


# ------------------------------------------------------------ curate_funnel


@dataclass
class Corpus:
    """A synthetic web-text corpus with planted duplicate structure.

    `family[i]` is -1 for a doc with no planted duplicate, else the id of
    its duplicate family (near-dup variants of one base doc, or copies of
    one boilerplate page).
    """

    doc_ids: list[int]
    texts: list[str]
    family: list[int]
    counts: dict = field(default_factory=dict)


def corpus(seed: int, n_docs: int) -> Corpus:
    """Make-up, as shares of `n_docs`:

    - 15 % no stop-word tail (fail gopher's stop-word rule)
    - 5 % shorter than 50 words (fail gopher's length rule)
    - 25 % near-dup families: a base doc plus one or two variants that
      differ from it by one substituted word
    - 10 % related pairs: two docs sharing 60-85 % of their words, below
      the funnel's 0.8 Jaccard (checked here), so the estimate and verify
      tiers have candidates to reject
    - 6 % copies of one of 100 boilerplate pages (exact duplicates)
    - the rest unique docs
    Every doc except the first group carries STOP_TAIL; half also start
    with NAV_HEADER. Words are single-space separated and lower case.
    """
    rng = _rng(seed, "corpus")
    vocab = np.array(vocabulary(seed))

    def body(n_words: int) -> list[str]:
        return list(rng.choice(vocab, n_words))

    def dress(words: list[str], tail: bool = True) -> str:
        head = [NAV_HEADER] if rng.random() < 0.5 else []
        return " ".join(head + words + ([STOP_TAIL] if tail else []))

    texts: list[str] = []
    family: list[int] = []
    n_fam = 0
    counts = dict.fromkeys(("no_tail", "short", "near_dup", "related", "boilerplate", "unique"), 0)
    pages = [dress(body(int(rng.integers(45, 75)))) for _ in range(100)]
    n_fam = len(pages)
    while len(texts) < n_docs:
        u = rng.random()
        if u < 0.15:
            texts.append(dress(body(int(rng.integers(55, 90))), tail=False))
            family.append(-1)
            counts["no_tail"] += 1
        elif u < 0.20:
            texts.append(dress(body(int(rng.integers(15, 35)))))
            family.append(-1)
            counts["short"] += 1
        elif u < 0.45:
            words = body(int(rng.integers(45, 75)))
            head = [NAV_HEADER] if rng.random() < 0.5 else []
            members = [words]
            for _ in range(int(rng.integers(1, 3))):
                v = list(words)
                v[int(rng.integers(0, len(v)))] = str(rng.choice(vocab))
                members.append(v)
            for m in members:
                texts.append(" ".join(head + m + [STOP_TAIL]))
                family.append(n_fam)
            counts["near_dup"] += len(members)
            n_fam += 1
        elif u < 0.55:
            words = body(int(rng.integers(55, 75)))
            cut = int(len(words) * rng.uniform(0.6, 0.85))
            pair = [words, words[:cut] + body(len(words) - cut)]
            pair = [" ".join(p + [STOP_TAIL]) for p in pair]
            if jaccard(*pair) >= 0.75:
                continue
            texts += pair
            family += [-1, -1]
            counts["related"] += 2
        elif u < 0.61:
            j = int(rng.integers(0, len(pages)))
            texts.append(pages[j])
            family.append(j)
            counts["boilerplate"] += 1
        else:
            texts.append(dress(body(int(rng.integers(45, 75)))))
            family.append(-1)
            counts["unique"] += 1
    texts, family = texts[:n_docs], family[:n_docs]
    return Corpus(list(range(len(texts))), texts, family, counts)


def write_corpus(c: Corpus, path: str) -> None:
    table = pa.table(
        {"doc_id": pa.array(c.doc_ids, pa.int64()), "text": pa.array(c.texts, pa.string())}
    )
    os.makedirs(path, exist_ok=True)
    # several files, so the scan starts with more than one task
    n_files = 4
    step = -(-len(c.doc_ids) // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))


# ---------------------------------------------------------------- ann_index


def clustered_vectors(seed: int, n: int, dim: int, n_clusters: int, stream: str) -> np.ndarray:
    """Unit vectors drawn around `n_clusters` seeded centres (float32)."""
    rng = _rng(seed, "centres")
    centres = rng.standard_normal((n_clusters, dim)).astype(np.float32)
    rng = _rng(seed, stream)
    which = rng.integers(0, n_clusters, n)
    x = centres[which] + 0.6 * rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32)


def write_vectors(x: np.ndarray, path: str, n_files: int = 4) -> None:
    os.makedirs(path, exist_ok=True)
    dim = x.shape[1]
    step = -(-len(x) // n_files)
    for i in range(n_files):
        part = x[i * step : (i + 1) * step]
        emb = pa.FixedSizeListArray.from_arrays(pa.array(part.reshape(-1), pa.float32()), dim)
        table = pa.table(
            {
                "vec_id": pa.array(np.arange(i * step, i * step + len(part)), pa.int64()),
                "embedding": emb.cast(pa.list_(pa.float32())),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{i}.parquet"))


# ----------------------------------------------------------- memory_serving


def token_vec(token: str, dim: int) -> np.ndarray:
    """The hash provider's documented token projection: md5(token) seeds a
    PCG64 generator that draws `dim` standard normals (float32)."""
    s = int.from_bytes(hashlib.md5(token.encode("utf-8")).digest()[:8], "little")
    return np.random.Generator(np.random.PCG64(s)).standard_normal(dim).astype(np.float32)


def embed(text: str, dim: int, cache: dict) -> np.ndarray:
    """Mean of token projections, L2-normalised, in float32 — computed here
    so the benchmark holds its own copy of every stored vector."""
    acc = np.zeros(dim, dtype=np.float32)
    for tok in text.lower().split():
        v = cache.get(tok)
        if v is None:
            v = cache[tok] = token_vec(tok, dim)
        acc += v
    n = float(np.linalg.norm(acc))
    return (acc / np.float32(n)).astype(np.float32) if n > 0 else acc


@dataclass
class MemoryTables:
    """Rows of the points, memories and sessions tables, plus the
    benchmark's own copy of every stored vector."""

    point_ids: list[str]
    point_texts: list[str]
    point_vecs: np.ndarray
    memory_ids: list[str]
    memory_texts: list[str]
    memory_sessions: list[str]
    memory_vecs: np.ndarray
    session_ids: list[str]
    words: list[str]


def memory_tables(seed: int, n_points: int, n_memories: int, n_sessions: int, dim: int) -> MemoryTables:
    rng = _rng(seed, "memory")
    words = vocabulary(seed, 2_000)
    vocab = np.array(words)
    cache: dict = {}

    def sentence() -> str:
        return " ".join(rng.choice(vocab, int(rng.integers(6, 12))))

    sessions = [f"s{seed}-{i:04d}" for i in range(n_sessions)]
    p_texts = [sentence() for _ in range(n_points)]
    m_texts = [sentence() for _ in range(n_memories)]
    for w in words:
        cache[w] = token_vec(w, dim)
    return MemoryTables(
        point_ids=[f"p{seed}-{i:06d}" for i in range(n_points)],
        point_texts=p_texts,
        point_vecs=np.stack([embed(t, dim, cache) for t in p_texts]),
        memory_ids=[f"m{seed}-{i:06d}" for i in range(n_memories)],
        memory_texts=m_texts,
        memory_sessions=[sessions[int(i)] for i in rng.integers(0, n_sessions, n_memories)],
        memory_vecs=np.stack([embed(t, dim, cache) for t in m_texts]),
        session_ids=sessions,
        words=words,
    )


def _vec_column(x: np.ndarray) -> pa.Array:
    flat = pa.array(x.reshape(-1), pa.float32())
    return pa.FixedSizeListArray.from_arrays(flat, x.shape[1]).cast(pa.list_(pa.float32()))


def write_memory_tables(t: MemoryTables, points: str, memories: str, sessions: str) -> None:
    """Write the three tables in the engine's schemas (schemas.py)."""
    ts = pa.scalar(1_700_000_000_000_000, pa.timestamp("us", tz="UTC"))
    no_meta = pa.nulls(len(t.point_ids), pa.map_(pa.string(), pa.string()))
    tables = {
        points: pa.table(
            {
                "id": t.point_ids,
                "vector": _vec_column(t.point_vecs),
                "text": t.point_texts,
                "session_id": pa.nulls(len(t.point_ids), pa.string()),
                "metadata": no_meta,
                "updated_at": pa.array([ts.value] * len(t.point_ids), ts.type),
            }
        ),
        memories: pa.table(
            {
                "id": t.memory_ids,
                "text": t.memory_texts,
                "metadata": pa.nulls(len(t.memory_ids), pa.map_(pa.string(), pa.string())),
                "session": t.memory_sessions,
                "embedding": _vec_column(t.memory_vecs),
                "created_at": pa.array([ts.value] * len(t.memory_ids), ts.type),
            }
        ),
        sessions: pa.table(
            {
                "id": t.session_ids,
                "created_at": pa.array(
                    [ts.value + i for i in range(len(t.session_ids))], ts.type
                ),
                "updated_at": pa.array([ts.value] * len(t.session_ids), ts.type),
                "tags": pa.nulls(len(t.session_ids), pa.list_(pa.string())),
            }
        ),
    }
    for path, table in tables.items():
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, "part-0.parquet"))
