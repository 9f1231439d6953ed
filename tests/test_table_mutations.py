"""One mutation-interface contract, two backends: ParquetTable
(read-modify-overwrite through a staged directory swap) and
VersionedParquetTable (manifest commits that rewrite only matched files).
The assertions are identical, so the engine swaps backends with zero
operator changes (DEVIATIONS #7)."""

from __future__ import annotations

import glob
import os
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F, types as T

from penr_oz_agent_memory_rust_spark.sources.tables import ParquetTable
from penr_oz_agent_memory_rust_spark.sources.versioned_tables import VersionedParquetTable

SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("val", T.LongType(), True),
        T.StructField("tag", T.StringType(), True),
    ]
)


def backends():
    return [
        pytest.param(ParquetTable, id="parquet"),
        pytest.param(VersionedParquetTable, id="versioned"),
    ]


@pytest.fixture()
def make_table(spark, tmp_path):
    def _make(cls):
        t = cls(spark, str(tmp_path / "tbl"), SCHEMA)
        t.append(
            spark.createDataFrame(
                [("a", 1, "x"), ("b", 2, "x"), ("c", 3, "y")], SCHEMA
            )
        )
        return t

    return _make


@pytest.mark.parametrize("cls", backends())
def test_merge_upsert_last_writer_wins(spark, make_table, cls):
    t = make_table(cls)
    t.merge_upsert(
        spark.createDataFrame([("b", 20, "z"), ("d", 4, "z")], SCHEMA), ["id"]
    )
    got = {r["id"]: (r["val"], r["tag"]) for r in t.read().collect()}
    assert got == {"a": (1, "x"), "b": (20, "z"), "c": (3, "y"), "d": (4, "z")}


@pytest.mark.parametrize("cls", backends())
def test_delete_where_predicate(spark, make_table, cls):
    t = make_table(cls)
    t.delete_where("tag = 'x'")
    assert {r["id"] for r in t.read().collect()} == {"c"}


@pytest.mark.parametrize("cls", backends())
def test_update_where_touch(spark, make_table, cls):
    # the C3 touch shape: bump a column on matching rows only
    t = make_table(cls)
    t.update_where("id = 'a'", {"val": F.lit(100), "tag": "'touched'"})
    got = {r["id"]: (r["val"], r["tag"]) for r in t.read().collect()}
    assert got["a"] == (100, "touched")
    assert got["b"] == (2, "x") and got["c"] == (3, "y")


def test_delete_where_column_predicate(spark, make_table):
    t = make_table(ParquetTable)
    t.delete_where(F.col("val") >= 2)
    assert {r["id"] for r in t.read().collect()} == {"a"}


def _temp_copies() -> set[str]:
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "poz_tbl_*")))


def _swap_leftovers(path: str, temp_before: set[str]) -> list[str]:
    siblings = glob.glob(f"{path}.stage-*") + glob.glob(f"{path}.old-*")
    return siblings + sorted(_temp_copies() - temp_before)


def test_overwrite_staged_swap_leaves_only_the_table(spark, make_table, tmp_path):
    """Each mutation writes once to a staged sibling that is renamed into
    place: no staging or old directory and no temp copy remains, a
    self-read overwrite sees the pre-swap rows, and the directory holds
    only the current part files, so a plain parquet reader reads it."""
    t = make_table(ParquetTable)
    temp_before = _temp_copies()
    t.overwrite(t.read().filter(F.col("val") >= 2))
    assert {r["id"] for r in t.read().collect()} == {"b", "c"}
    assert _swap_leftovers(t.path, temp_before) == []
    t.merge_upsert(spark.createDataFrame([("c", 30, "z")], SCHEMA), ["id"])
    assert _swap_leftovers(t.path, temp_before) == []
    t.append(spark.createDataFrame([("e", 5, "x")], SCHEMA))
    assert t.compact(target_partitions=1) >= 2
    assert _swap_leftovers(t.path, temp_before) == []
    assert sorted(os.listdir(tmp_path)) == ["tbl"]
    got = pq.read_table(t.path).to_pydict()
    assert sorted(zip(got["id"], got["val"])) == [("b", 2), ("c", 30), ("e", 5)]


def test_failed_overwrite_keeps_table_and_removes_stage(spark, make_table):
    t = make_table(ParquetTable)
    temp_before = _temp_copies()
    bad = t.read().withColumn("val", F.raise_error(F.lit("boom")).cast("long"))
    with pytest.raises(Exception, match="boom"):
        t.overwrite(bad)
    assert _swap_leftovers(t.path, temp_before) == []
    assert {r["id"] for r in t.read().collect()} == {"a", "b", "c"}


def test_empty_local_df_is_a_jvm_local_scan(spark, tmp_path):
    """An empty frame is built on the JVM from its schema alone: the
    executed plan is a LocalTableScan, not a Python-RDD scan, the schema is
    exact, and ParquetTable.ensure still writes a table pyarrow reads."""
    from penr_oz_agent_memory_rust_spark.localdata import local_df

    for schema in (SCHEMA, "a bigint, v array<float>"):
        empty = local_df(spark, [], schema)
        assert empty.collect() == []
        plan = empty._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert local_df(spark, [], SCHEMA).schema == SCHEMA
    assert empty.schema == spark.createDataFrame([], "a bigint, v array<float>").schema
    t = ParquetTable(spark, str(tmp_path / "fresh"), SCHEMA)
    t.ensure()
    got = pq.read_table(t.path)
    assert got.num_rows == 0 and got.column_names == ["id", "val", "tag"]
    assert t.read().count() == 0


def test_merge_upsert_keeps_file_count(spark, tmp_path):
    """Repeated single-row upserts on a one-file table leave one file
    (the union with the update adds a partition each call), and the
    last write per key wins."""
    t = ParquetTable(spark, str(tmp_path / "one"), SCHEMA)
    t.overwrite(
        spark.createDataFrame([(f"k{i}", i, "x") for i in range(50)], SCHEMA).coalesce(1)
    )
    for i in range(10):
        t.merge_upsert(spark.createDataFrame([("k1", i, f"v{i}")], SCHEMA), ["id"])
    assert len(glob.glob(os.path.join(t.path, "*.parquet"))) == 1
    rows = {r["id"]: (r["val"], r["tag"]) for r in t.read().collect()}
    assert len(rows) == 50 and rows["k1"] == (9, "v9")


@pytest.mark.parametrize("cls", [ParquetTable, VersionedParquetTable])
def test_merge_upsert_over_key_cap_last_writer_wins(spark, tmp_path, cls):
    """r4 verdict #1 contract: a merge whose distinct-key count EXCEEDS the
    driver-collect cap must still apply every update exactly once. The
    versioned backend is built with a tiny merge_key_cap so the over-cap
    path (distributed range join, no truncated sample, no envelope) is
    forced; keys are scattered across the outermost file ranges so a
    min/max envelope from a truncated sample — the r4 bug — would have
    classified some holding files untouched and left stale rows behind."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    kwargs = {"merge_key_cap": 8} if cls is VersionedParquetTable else {}
    t = cls(spark, str(tmp_path / "ovc"), schema, **kwargs)
    for lo in (0, 100, 200, 300):  # 4 disjoint-range files
        t.append(
            spark.createDataFrame(
                [(lo + i, f"old{lo + i}") for i in range(100)], schema
            ).coalesce(1)
        )
    # 21 distinct keys (>> cap of 8): ten scattered in 0-99, ten in
    # 300-399, one brand-new — the middle two files hold NO updated key
    upd_keys = [3 * i for i in range(10)] + [300 + 7 * i for i in range(10)] + [999]
    ups = spark.createDataFrame([(k, "NEW") for k in upd_keys], schema)
    if cls is VersionedParquetTable:
        manifest_before = t._load_manifest(t.current_version())["files"]
    t.merge_upsert(ups, ["k"])
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(got) == 401
    for k in upd_keys:
        assert got[k] == "NEW", k
    for k in (1, 150, 250, 399):
        if k not in set(upd_keys):
            assert got[k] == f"old{k}", k
    if cls is VersionedParquetTable:
        assert t.history()[-1]["op"] == "merge_upsert_pruned"
        files_after = set(t._load_manifest(t.current_version())["files"])
        # the two middle files survive zero-copy even on the over-cap path
        assert len([f for f in manifest_before if f in files_after]) == 2


def test_merge_upsert_null_keys_flow_as_inserts(spark, tmp_path):
    """ADVICE r4: NULL update keys must not crash the pruned path's sort/
    min-max; they address no existing row and append as plain inserts."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), True),
            T.StructField("v", T.StringType(), True),
        ]
    )
    t = VersionedParquetTable(spark, str(tmp_path / "nk"), schema)
    t.append(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], schema).coalesce(1))
    ups = spark.createDataFrame([(2, "B"), (None, "ghost")], schema)
    t.merge_upsert(ups, ["k"])
    got = sorted(
        ((r["k"], r["v"]) for r in t.read().collect()),
        key=lambda x: (x[0] is None, x[0]),
    )
    assert got == [(1, "a"), (2, "B"), (3, "c"), (None, "ghost")]
    # delete_keys with a None in the list: ignored, non-null keys applied
    t.delete_keys([3, None], "k")
    assert sorted(r["v"] for r in t.read().collect()) == ["B", "a", "ghost"]


def test_mutation_sequence_matches_dict_model(spark, tmp_path):
    """Model-based check: a fixed random sequence of merge_upsert /
    delete_where / update_where applied to a ParquetTable must equal the
    same sequence applied to a plain Python dict (one deterministic
    seeded run — each table mutation launches Spark jobs, so this is a
    single scripted trajectory, not a hypothesis search)."""
    import random

    rng = random.Random(42)
    t = ParquetTable(spark, str(tmp_path / "model_tbl"), SCHEMA)
    model: dict[str, tuple[int, str]] = {}
    ids = [f"k{i}" for i in range(12)]

    for step in range(18):
        op = rng.choice(["upsert", "delete", "update"])
        if op == "upsert":
            picks = rng.sample(ids, rng.randint(1, 3))
            rows = [(i, rng.randint(0, 99), rng.choice("xyz")) for i in picks]
            t.merge_upsert(spark.createDataFrame(rows, SCHEMA), ["id"])
            for i, v, g in rows:
                model[i] = (v, g)
        elif op == "delete":
            cut = rng.randint(0, 99)
            t.delete_where(F.col("val") < cut)
            model = {k: vg for k, vg in model.items() if not (vg[0] < cut)}
        else:
            tag = rng.choice("xyz")
            bump = rng.randint(100, 199)
            t.update_where(F.col("tag") == tag, {"val": F.lit(bump)})
            model = {
                k: ((bump, g) if g == tag else (v, g)) for k, (v, g) in model.items()
            }
    got = {r["id"]: (r["val"], r["tag"]) for r in t.read().collect()}
    assert got == model
