"""MemoryStore parity — ports the 10 reference tests (reference
src/memory.rs:163-346): ranked order & scores, limit, session filter, delete
idempotence, exclusion of dim-mismatched / zero embeddings, metadata
round-trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from penr_oz_agent_memory_rust_spark.operators import memory_store
from tests.conftest import make_memories

TOL = 1e-6


@pytest.fixture()
def corpus(spark):
    # reference src/memory.rs:168-199 fixture vectors (FIXTURES.md §2)
    return make_memories(
        spark,
        [
            ("m1", "hello world", None, None, [1.0, 0.0, 0.0]),
            ("m2", "hello again", None, None, [0.9, 0.1, 0.0]),
            ("m3", "goodbye world", None, None, [0.0, 1.0, 0.0]),
        ],
    )


def test_search_ranked_order_and_scores(spark, corpus):
    rows = memory_store.search(corpus, [1.0, 0.0, 0.0], limit=10).collect()
    assert [r["text"] for r in rows] == ["hello world", "hello again", "goodbye world"]
    assert abs(rows[0]["score"] - 1.0) < TOL
    assert abs(rows[2]["score"] - 0.0) < TOL
    assert rows[0]["score"] >= rows[1]["score"] >= rows[2]["score"]


def test_search_limit(spark):
    # src/memory.rs:202-215: 5 entries, limit 2 => 2 rows
    mem = make_memories(
        spark,
        [(f"m{i}", f"entry {i}", None, None, [float(i), 1.0]) for i in range(1, 6)],
    )
    assert memory_store.search(mem, [1.0, 0.0], limit=2).count() == 2


def test_search_session_filter(spark):
    # src/memory.rs:218-242: filter session="a" => 1 row; NULL-session rows excluded
    mem = make_memories(
        spark,
        [
            ("m1", "session a", None, "a", [1.0, 0.0]),
            ("m2", "session b", None, "b", [1.0, 0.0]),
            ("m3", "no session", None, None, [1.0, 0.0]),
        ],
    )
    rows = memory_store.search(mem, [1.0, 0.0], limit=10, session="a").collect()
    assert [r["text"] for r in rows] == ["session a"]
    # no filter => all three
    assert memory_store.search(mem, [1.0, 0.0], limit=10).count() == 3


def test_search_excludes_dim_mismatch(spark):
    # src/memory.rs:293-312
    mem = make_memories(
        spark,
        [
            ("m1", "3-dim entry", None, None, [1.0, 0.0, 0.0]),
            ("m2", "2-dim entry", None, None, [1.0, 0.0]),
        ],
    )
    rows = memory_store.search(mem, [1.0, 0.0, 0.0], limit=10).collect()
    assert [r["text"] for r in rows] == ["3-dim entry"]


def test_search_excludes_zero_vectors(spark):
    # src/memory.rs:315-333
    mem = make_memories(
        spark,
        [
            ("m1", "valid", None, None, [1.0, 0.0]),
            ("m2", "zero vector", None, None, [0.0, 0.0]),
        ],
    )
    rows = memory_store.search(mem, [1.0, 0.0], limit=10).collect()
    assert [r["text"] for r in rows] == ["valid"]


def test_metadata_roundtrip(spark):
    # src/memory.rs:336-345
    mem = make_memories(spark, [("m1", "with meta", {"key": "value"}, None, [1.0])])
    row = memory_store.search(mem, [1.0], limit=1).first()
    assert row["metadata"] == {"key": "value"}


def test_delete_and_idempotence(spark, corpus):
    # src/memory.rs:245-259: delete removes the row; second delete is a no-op
    after = memory_store.delete(corpus, ["m1"])
    assert after.count() == 2
    assert after.filter(F.col("id") == "m1").count() == 0
    again = memory_store.delete(after, ["m1"])
    assert again.count() == 2


def test_store_assigns_ids_and_respects_caller_ids(spark):
    new = spark.createDataFrame(
        [("given-id", "a text"), (None, "another")], "id string, text string"
    )
    out = memory_store.store_memories(new)
    rows = {r["text"]: r["id"] for r in out.collect()}
    assert rows["a text"] == "given-id"
    assert rows["another"] and len(rows["another"]) == 36  # uuid-shaped


def test_validate_nonempty_text(spark):
    df = spark.createDataFrame(
        [("1", "ok"), ("2", ""), ("3", "   "), ("4", None)], "id string, text string"
    )
    ok, bad = memory_store.validate_nonempty_text(df)
    assert {r["id"] for r in ok.collect()} == {"1"}
    assert {r["id"] for r in bad.collect()} == {"2", "3", "4"}


def test_search_empty_query_raises(spark, corpus):
    from penr_oz_agent_memory_rust_spark.errors import ValidationError

    with pytest.raises(ValidationError):
        memory_store.search(corpus, [], limit=10)


def test_blocked_strategy_matches_expr(spark):
    """The scan-stage kernel ranks by score; the zero-norm and
    dim-mismatched rows are excluded (P2); a zero query matches nothing."""
    mem = make_memories(
        spark,
        [
            ("m1", "a", None, None, [1.0, 0.0, 0.0]),
            ("m2", "b", None, None, [0.9, 0.1, 0.0]),
            ("m3", "c", None, None, [0.0, 1.0, 0.0]),
            ("m4", "zero", None, None, [0.0, 0.0, 0.0]),
            ("m5", "short", None, None, [1.0, 0.0]),
        ],
    )
    rows = memory_store.search(mem, [1.0, 0.0, 0.0], limit=10).collect()
    assert [r["id"] for r in rows] == ["m1", "m2", "m3"]
    assert memory_store.search(mem, [0.0, 0.0, 0.0], limit=10).count() == 0


def test_topk_is_take_ordered(spark, corpus):
    """Scale pin: top-k compiles to TakeOrderedAndProject (bounded heaps,
    no shuffle) — the distributed version of reference src/memory.rs:93-136."""
    from penr_oz_agent_memory_rust_spark.plans import explain

    plan = explain.physical_plan(memory_store.search(corpus, [1.0, 0.0, 0.0], limit=10))
    assert "TakeOrderedAndProject" in plan
