"""Bucketed co-located join: zero Exchange in the plan, same results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from penr_oz_agent_memory_rust_spark.plans import explain
from penr_oz_agent_memory_rust_spark.sources.bucketed import bucketed_join, write_bucketed
from penr_oz_agent_memory_rust_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed("o_orderkey", "l_orderkey")
    write_bucketed(li, "li_b", "l_orderkey", n_buckets=8, path=str(base / "li"))
    write_bucketed(orders, "ord_b", "l_orderkey", n_buckets=8, path=str(base / "ord"))
    yield "li_b", "ord_b"
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    """At harness size Catalyst prefers a broadcast join (fine); disabling
    auto-broadcast simulates two too-big-to-broadcast sides — the case
    bucketing exists for — and the SMJ must then run with zero shuffles."""
    left, right = bucketed_tables
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, left, right, "l_orderkey")
        plan = explain.physical_plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert explain.count_shuffle_exchanges(joined) == 0, plan
        # the groupBy on the bucket key also rides the existing distribution
        agg = joined.groupBy("l_orderkey").agg(F.count("*").alias("n"))
        assert explain.count_shuffle_exchanges(agg) == 0, explain.physical_plan(agg)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_matches_plain_join(spark, sf_dir, bucketed_tables):
    left, right = bucketed_tables
    bucketed_cnt = bucketed_join(spark, left, right, "l_orderkey").count()
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed("o_orderkey", "l_orderkey")
    assert bucketed_cnt == li.join(orders, "l_orderkey").count()
