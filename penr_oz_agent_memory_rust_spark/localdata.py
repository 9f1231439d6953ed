"""Driver-local rows -> DataFrame without a Python-RDD job.

`spark.createDataFrame(list_of_tuples)` plans a Python-RDD-backed scan:
every action on the result (even collecting 200 rows) launches a job that
must spin up a Python worker on the executor and re-import the shipped
package — 5-7 s per action on a warm local[32] session, and a per-job
Python round-trip on a real cluster. Routing the same rows through a
pandas DataFrame instead uses the Arrow fast path: the data crosses into
the JVM once at creation time and the plan is a pure JVM local scan, so
downstream actions cost milliseconds and never touch a Python worker.
An empty frame has no rows to send, so it is built on the JVM from the
schema alone (`LocalTableScan <empty>`).

Falls back to the row-list path for types the Arrow converter rejects.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Edge count at or below which the graph operators run on the driver
# (~50 B/edge of driver memory, about 100 MB at this limit). Read at call
# time, so setting it to 0 forces every graph operator onto its Spark loop.
LOCAL_EDGE_LIMIT = 2_000_000


def local_df(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """Build a small driver-local DataFrame on the Arrow fast path."""
    rows = list(rows)
    if not rows:
        if not isinstance(schema, StructType):
            schema = StructType.fromDDL(schema)
        jss = spark._jsparkSession
        jdf = jss.createDataFrame(spark._jvm.java.util.ArrayList(), jss.parseDataType(schema.json()))
        return DataFrame(jdf, spark)
    try:
        import pandas as pd

        names = schema.fieldNames() if isinstance(schema, StructType) else None
        return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)
    except Exception:
        return spark.createDataFrame(rows, schema)


def next_round(prev: DataFrame | None, nxt: DataFrame) -> DataFrame:
    """One round of an iterative Spark loop: checkpoint `nxt` eagerly, then
    release `prev`, the previous round's eager `localCheckpoint` (None on
    the first round). Without the release, every round's blocks stay in
    executor storage until the JVM collects the frames. Nothing may read
    `prev` afterwards."""
    out = nxt.localCheckpoint(eager=True)
    if prev is not None:
        prev._jdf.logicalPlan().rdd().unpersist(False)
    return out


def _size_probed(
    edges: DataFrame,
    local: Callable[[list], list],
    schema: StructType,
    distributed: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """The strategy split shared by the graph operators (components,
    label propagation, PageRank, k-core, triangle stats).

    After thresholding, a similarity or candidate-pair graph is orders of
    magnitude smaller than the corpus, and each round of a Spark loop costs
    a checkpoint barrier plus several jobs of scheduling. So when `edges`
    holds at most `LOCAL_EDGE_LIMIT` rows, they are collected and
    `local(rows)` computes the result rows on the driver; the result is a
    `coalesce(1)` local frame, because a few hundred rows split across the
    default parallelism make every downstream stage pay for empty tasks.
    Otherwise `distributed(edges)` runs the Spark loop.

    The size probe and the fetch are ONE evaluation of the (typically
    expensive) edge pipeline: at most `LOCAL_EDGE_LIMIT + 1` rows are
    collected, and if the limit was not hit they are the whole edge list.
    `edges` is persisted first, so an overflowing probe leaves the
    partitions it computed cached for the Spark loop. It is unpersisted
    before returning, so `distributed` returns a checkpointed frame: a
    lazy one would replay the edge pipeline on every later action."""
    limit = LOCAL_EDGE_LIMIT
    edges = edges.persist()
    try:
        rows = edges.limit(limit + 1).collect()
        if len(rows) <= limit:
            return local_df(edges.sparkSession, local(rows), schema).coalesce(1)
        return distributed(edges)
    finally:
        edges.unpersist()
