"""Tests of the benchmark's own checkers: each takes a right answer and
at least one wrong answer it must reject.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import numpy as np

import checks
import spans
from common import percentile
from synth import STOP_TAIL


def _doc(words: list[str]) -> str:
    return " ".join(words + [STOP_TAIL])


BASE = [f"word{c}" for c in "abcdefghijklmnopqrstuvwxyz"] * 2 + ["alpha", "beta", "gamma"]
VARIANT = BASE[:10] + ["delta"] + BASE[11:]
OTHER = [f"other{c}" for c in "abcdefghijklmnopqrstuvwxyz"] * 2
TEXTS = [_doc(BASE), _doc(VARIANT), _doc(OTHER), " ".join(OTHER), _doc(BASE[:20])]
FAMILY = [7, 7, -1, -1, -1]


def test_gopher_rules():
    assert checks.gopher_ok(TEXTS[0])
    assert not checks.gopher_ok(TEXTS[3])  # no stop words
    assert not checks.gopher_ok(TEXTS[4])  # under 50 words


def test_funnel_right_answer():
    assert checks.jaccard(TEXTS[0], TEXTS[1]) >= 0.8
    problems, recall = checks.check_funnel(TEXTS, FAMILY, [1, 2])
    assert problems == [] and recall == 1.0


def test_funnel_rejects_wrong_answers():
    # a unique doc removed: no kept partner
    assert checks.check_funnel(TEXTS, FAMILY, [0])[0]
    # a gopher failure kept
    assert checks.check_funnel(TEXTS, FAMILY, [0, 2, 3])[0]
    # the planted duplicate missed: recall 0 is under the floor
    problems, recall = checks.check_funnel(TEXTS, FAMILY, [0, 1, 2])
    assert problems and recall == 0.0
    # an id kept twice
    assert checks.check_funnel(TEXTS, FAMILY, [0, 2, 2])[0]


def test_funnel_rejects_removal_below_threshold():
    far = BASE[:30] + [f"x{i}" for i in range(25)]
    texts = [_doc(BASE), _doc(far)]
    assert checks.jaccard(texts[0], texts[1]) < 0.8
    assert checks.check_funnel(texts, [3, 3], [0])[0]


def _unit(rows) -> np.ndarray:
    x = np.asarray(rows, dtype=np.float32)
    return x / np.linalg.norm(x, axis=1, keepdims=True)


CORPUS = _unit([[1, 0], [0.9, 0.1], [0, 1], [-1, 0.2], [0.5, 0.5]])
QUERIES = _unit([[1, 0.05], [0.1, 1]])


def _hits(q: int, ids: list[int]) -> list[tuple[int, float]]:
    return [(i, float(CORPUS[i] @ QUERIES[q])) for i in ids]


def test_ann_right_answer():
    results = {0: _hits(0, [0, 1]), 1: _hits(1, [2, 4])}
    problems, recall = checks.check_ann(CORPUS, QUERIES, results, 2)
    assert problems == [] and recall == 1.0


def test_ann_rejects_wrong_answers():
    wrong_score = {0: [(0, 0.5), (1, _hits(0, [1])[0][1])], 1: _hits(1, [2, 4])}
    assert checks.check_ann(CORPUS, QUERIES, wrong_score, 2)[0]
    repeated = {0: _hits(0, [0, 0]), 1: _hits(1, [2, 4])}
    assert checks.check_ann(CORPUS, QUERIES, repeated, 2)[0]
    short = {0: _hits(0, [0]), 1: _hits(1, [2, 4])}
    assert checks.check_ann(CORPUS, QUERIES, short, 2)[0]
    # a valid but approximate answer is no problem; it lowers recall
    problems, recall = checks.check_ann(CORPUS, QUERIES, {0: _hits(0, [0, 3]), 1: _hits(1, [2, 4])}, 2)
    assert problems == [] and recall == 0.75


IDS = ["a", "b", "c", "d", "e"]


def test_search_hits_right_answer():
    hits = [(IDS[i], float(CORPUS[i] @ QUERIES[0])) for i in (0, 1)]
    assert checks.check_search_hits(CORPUS, IDS, QUERIES[0], hits, 2) == []


def test_search_hits_rejects_wrong_answers():
    s = [float(v) for v in CORPUS @ QUERIES[0]]
    # the best vector left out
    assert checks.check_search_hits(CORPUS, IDS, QUERIES[0], [("b", s[1]), ("e", s[4])], 2)
    # wrong order
    assert checks.check_search_hits(CORPUS, IDS, QUERIES[0], [("b", s[1]), ("a", s[0])], 2)
    # wrong score
    assert checks.check_search_hits(CORPUS, IDS, QUERIES[0], [("a", s[0]), ("b", 0.1)], 2)
    # too few hits, unknown id
    assert checks.check_search_hits(CORPUS, IDS, QUERIES[0], [("a", s[0])], 2)
    assert checks.check_search_hits(CORPUS, IDS, QUERIES[0], [("a", s[0]), ("z", s[1])], 2)


def test_points_table():
    rows = [("a", "one"), ("b", "two v2"), ("c", "three")]
    assert checks.check_points_table(rows, 3, {"b": "two v2"}) == []
    assert checks.check_points_table(rows, 3, {"b": "two v3"})  # stale text
    assert checks.check_points_table(rows + [("b", "two")], 3, {})  # a row twice
    assert checks.check_points_table(rows[:2], 3, {})  # a row lost


def test_parse_metric():
    assert spans.parse_metric("12.2 s") == 12.2
    assert spans.parse_metric("5.0 KiB") == 5120.0
    assert spans.parse_metric("300,000") == 300000.0
    assert spans.parse_metric("total (min, med, max (stageId: taskId))\n1.5 ms (0 ms, 1 ms)") == 0.0015
    assert spans.parse_metric("n/a") == 0.0


def test_self_times_subtract_children():
    tr = spans.Tracer()
    outer = tr.open("outer")
    inner = tr.open("inner")
    tr.close(inner)
    tr.close(outer)
    tr.spans[outer].update(start=0.0, end=10.0)
    tr.spans[inner].update(start=2.0, end=5.0)
    assert tr.self_times() == {"outer": 7.0, "inner": 3.0}
    assert tr.spans[inner]["parent"] == outer


def test_percentile():
    assert percentile(list(range(1, 101)), 95) == 95
    assert percentile([3.0], 50) == 3.0
    assert percentile([], 95) == 0.0
