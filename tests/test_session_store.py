"""Session store parity — ports the 10 reference tests
(reference src/session_store.rs:189-327): uuid id, tags round-trip, point
get, newest-first list with limit/offset, touch advances updated_at."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from penr_oz_agent_memory_rust_spark.operators import session_store
from penr_oz_agent_memory_rust_spark.schemas import SESSIONS_SCHEMA
from penr_oz_agent_memory_rust_spark.sources.tables import ParquetTable


def ts(i: int) -> dt.datetime:
    return dt.datetime(2026, 1, 1, 0, 0, i)


@pytest.fixture()
def sessions(spark):
    rows = [
        ("s1", ts(1), ts(1), ["alpha"]),
        ("s2", ts(2), ts(2), ["beta", "gamma"]),
        ("s3", ts(3), ts(3), None),
        # created_at tie with s3 -> id DESC secondary sort pins order
        ("s4", ts(3), ts(3), []),
    ]
    return spark.createDataFrame(rows, SESSIONS_SCHEMA)


def test_create_assigns_uuid_and_timestamps(spark):
    # src/session_store.rs:200-210
    new = spark.createDataFrame([(["t1"],)], "tags array<string>")
    row = session_store.create_sessions(new, now=ts(5)).first()
    assert len(row["id"]) == 36
    assert row["created_at"] == ts(5) and row["updated_at"] == ts(5)


def test_tags_roundtrip(spark):
    # src/session_store.rs:213-222
    new = spark.createDataFrame([(["work", "agent"],)], "tags array<string>")
    assert session_store.create_sessions(new, now=ts(1)).first()["tags"] == ["work", "agent"]


def test_get_some_and_none(spark, sessions):
    # src/session_store.rs:225-248
    assert session_store.get_session(sessions, "s2").count() == 1
    assert session_store.get_session(sessions, "missing").count() == 0


def test_list_newest_first_with_id_tiebreak(spark, sessions):
    # src/session_store.rs:251-262 + 144-145 (created_at DESC, id DESC)
    rows = session_store.list_sessions(sessions).collect()
    assert [r["id"] for r in rows] == ["s4", "s3", "s2", "s1"]


def test_list_empty(spark):
    empty = spark.createDataFrame([], SESSIONS_SCHEMA)
    assert session_store.list_sessions(empty).count() == 0


def test_list_limit_and_offset(spark, sessions):
    # src/session_store.rs:272-293
    assert [r["id"] for r in session_store.list_sessions(sessions, limit=2).collect()] == ["s4", "s3"]
    assert [r["id"] for r in session_store.list_sessions(sessions, limit=2, offset=2).collect()] == [
        "s2",
        "s1",
    ]


def test_list_limit_clamped(spark, sessions):
    # src/routes.rs:538-541,557: clamp [1,100], default 50
    assert session_store.list_sessions(sessions, limit=500).count() == 4  # clamped to 100
    assert session_store.list_sessions(sessions, limit=-5).count() == 1  # clamped to 1


def _touch(spark, sessions, tmp_path, ids):
    # C3 is the table seam's update_where, as in the engine and streaming ingest
    t = ParquetTable(spark, str(tmp_path / "sessions"), SESSIONS_SCHEMA)
    t.append(sessions)
    t.update_where(F.col("id").isin(ids), {"updated_at": F.lit(ts(9))})
    return t.read()


def test_touch_advances_updated_at(spark, sessions, tmp_path):
    # src/session_store.rs:296-316
    rows = {r["id"]: r for r in _touch(spark, sessions, tmp_path, ["s1"]).collect()}
    assert rows["s1"]["updated_at"] == ts(9)
    assert rows["s1"]["created_at"] == ts(1)  # unchanged
    assert rows["s2"]["updated_at"] == ts(2)  # untouched


def test_touch_missing_is_noop(spark, sessions, tmp_path):
    # src/session_store.rs:319-326: touch of unknown id affects nothing
    touched = _touch(spark, sessions, tmp_path, ["nope"])
    assert touched.filter(F.col("updated_at") == ts(9)).count() == 0


def test_fk_check_splits_valid_and_rejects(spark, sessions):
    # P9, src/routes.rs:252-263; NULL fk is valid (no link requested)
    rows = spark.createDataFrame(
        [("a", "s1"), ("b", "missing"), ("c", None)], "id string, session_id string"
    )
    valid, rejects = session_store.fk_check(rows, sessions)
    assert {r["id"] for r in valid.collect()} == {"a", "c"}
    assert {r["id"] for r in rejects.collect()} == {"b"}


def test_health_reports_sorted_providers():
    # C4, src/routes.rs:69-100 (provider names sorted ascending)
    from penr_oz_agent_memory_rust_spark.config import EngineConfig, ProviderConfig
    from penr_oz_agent_memory_rust_spark.sources.embedding_providers import ProviderRegistry

    cfg = EngineConfig(
        default_provider="b",
        providers={
            "b": ProviderConfig(name="b", kind="hash", dimensions=8),
            "a": ProviderConfig(name="a", kind="hash", dimensions=8),
        },
    )
    h = session_store.health(ProviderRegistry(cfg), True, False)
    assert h["providers"] == ["a", "b"]
    assert h["vector_store_configured"] and not h["session_store_configured"]
