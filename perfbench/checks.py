"""Output checkers, computed apart from the program.

Each checker takes plain Python/numpy values and returns a list of
problems (empty when the output is right); none of them imports the
package under test.
"""

from __future__ import annotations

import numpy as np

# Gopher's stop list (Rae et al. 2021, App. A1.1).
STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
# Minimum share of planted duplicate removals the funnel must make.
FUNNEL_RECALL_FLOOR = 0.95
# Returned scores are float32 cosines; numpy recomputes them in float32.
SCORE_TOL = 1e-4


# ------------------------------------------------------------ curate_funnel


def gopher_ok(text: str) -> bool:
    """Gopher's rules (Rae et al. 2021, App. A1.1) with the funnel's
    default thresholds, for single-line text without '#' or ellipses."""
    words = [w for w in text.lower().split() if w]
    n = len(words)
    if not 50 <= n <= 100_000:
        return False
    mean_len = sum(len(w) for w in words) / n
    alpha = sum(any("a" <= ch <= "z" for ch in w) for w in words) / n
    stop_hits = len(set(words) & set(STOPWORDS))
    return 3.0 <= mean_len <= 10.0 and alpha >= 0.8 and stop_hits >= 2


def shingles(text: str, n: int = 3) -> set[str]:
    toks = text.lower().split(" ")
    if len(toks) <= n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def check_funnel(
    texts: list[str], family: list[int], kept: list[int], threshold: float = 0.8
) -> tuple[list[str], float]:
    """Check the funnel's kept doc ids against the generator's ground truth.

    - every kept doc passes gopher, and no id is kept twice;
    - precision is exactly 1: every gopher survivor that was not kept has
      a kept doc of its own planted family at exact Jaccard >= threshold;
    - recall of the planted duplicates (removals made / removals the
      families allow) is at least FUNNEL_RECALL_FLOOR.
    Returns (problems, recall).
    """
    problems: list[str] = []
    kept_set = set(kept)
    if len(kept_set) != len(kept):
        problems.append(f"{len(kept) - len(kept_set)} doc ids kept twice")
    survivors = [i for i, t in enumerate(texts) if gopher_ok(t)]
    surv_set = set(survivors)
    bad = kept_set - surv_set
    if bad:
        problems.append(f"{len(bad)} kept docs fail gopher, e.g. {sorted(bad)[:3]}")
    kept_by_family: dict[int, list[int]] = {}
    members: dict[int, int] = {}
    for i in survivors:
        if family[i] >= 0:
            members[family[i]] = members.get(family[i], 0) + 1
            if i in kept_set:
                kept_by_family.setdefault(family[i], []).append(i)
    removed = [i for i in survivors if i not in kept_set]
    unjustified = [
        i
        for i in removed
        if not any(
            jaccard(texts[i], texts[k]) >= threshold
            for k in kept_by_family.get(family[i], [])
        )
    ]
    if unjustified:
        problems.append(
            f"{len(unjustified)} docs removed without a kept partner at "
            f"Jaccard >= {threshold}, e.g. {unjustified[:3]}"
        )
    allowed = sum(m - 1 for m in members.values())
    recall = (len(removed) - len(unjustified)) / allowed if allowed else 1.0
    if recall < FUNNEL_RECALL_FLOOR:
        problems.append(f"duplicate recall {recall:.4f} < {FUNNEL_RECALL_FLOOR}")
    return problems, recall


# ---------------------------------------------------------------- ann_index


def brute_force_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """Exact cosine top-k ids per query (rows of both inputs are unit)."""
    sims = queries @ corpus.T
    part = np.argpartition(-sims, k, axis=1)[:, :k]
    order = np.argsort(-np.take_along_axis(sims, part, axis=1), axis=1, kind="stable")
    return np.take_along_axis(part, order, axis=1)


def check_ann(
    corpus: np.ndarray,
    queries: np.ndarray,
    results: dict[int, list[tuple[int, float]]],
    k: int,
) -> tuple[list[str], float]:
    """Every query returns exactly k distinct ids whose scores match numpy
    cosine within SCORE_TOL. Returns (problems, mean recall@k against the
    brute-force top-k)."""
    problems: list[str] = []
    truth = brute_force_topk(corpus, queries, k)
    overlap = 0
    for q in range(len(queries)):
        hits = results.get(q, [])
        ids = [i for i, _ in hits]
        if len(ids) != k or len(set(ids)) != k:
            problems.append(f"query {q}: {len(ids)} hits, {len(set(ids))} distinct, want {k}")
            continue
        want = corpus[ids] @ queries[q]
        err = float(np.max(np.abs(want - np.array([s for _, s in hits]))))
        if err > SCORE_TOL:
            problems.append(f"query {q}: score off numpy cosine by {err:.2e}")
        overlap += len(set(ids) & set(truth[q].tolist()))
    return problems, overlap / (k * len(queries))


# ----------------------------------------------------------- memory_serving


def check_search_hits(
    vectors: np.ndarray, ids: list[str], query: np.ndarray, hits: list[tuple[str, float]], k: int
) -> list[str]:
    """A search reply is a correct top-k over the stored vectors: k hits
    (or all rows), each score matches numpy cosine, scores descend, and no
    vector left out scores above the lowest returned one."""
    problems: list[str] = []
    want_n = min(k, len(ids))
    if len(hits) != want_n:
        return [f"{len(hits)} hits, want {want_n}"]
    pos = {pid: i for i, pid in enumerate(ids)}
    missing = [h for h, _ in hits if h not in pos]
    if missing:
        return [f"unknown ids returned: {missing[:3]}"]
    scores = np.array([s for _, s in hits])
    rows = np.array([pos[h] for h, _ in hits])
    sims = vectors @ query
    err = float(np.max(np.abs(sims[rows] - scores)))
    if err > SCORE_TOL:
        problems.append(f"score off numpy cosine by {err:.2e}")
    if np.any(np.diff(scores) > SCORE_TOL):
        problems.append("scores not in descending order")
    rest = np.delete(sims, rows)
    if len(rest) and float(rest.max()) > float(scores.min()) + SCORE_TOL:
        problems.append(f"a vector left out scores {rest.max():.6f} > {scores.min():.6f}")
    return problems


def check_points_table(
    rows: list[tuple[str, str]], n_expected: int, last_text: dict[str, str]
) -> list[str]:
    """The points table after the run, as (id, text) rows: it keeps its
    row count with no id twice, and every upserted id holds the last text
    sent for it."""
    problems: list[str] = []
    stored = dict(rows)
    if len(rows) != n_expected or len(stored) != n_expected:
        problems.append(
            f"points table has {len(rows)} rows and {len(stored)} ids, want {n_expected}"
        )
    wrong = [i for i, t in last_text.items() if stored.get(i) != t]
    if wrong:
        problems.append(f"{len(wrong)} upserted ids lack their last-written text, e.g. {wrong[:3]}")
    return problems
