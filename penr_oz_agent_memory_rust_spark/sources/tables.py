"""Table IO seam (SURVEY §7 "Hard parts: mutability on immutable storage").

All engine tables are partitioned Parquet. Mutations (delete S3, upsert S4,
touch C3) are read-modify-overwrite behind this seam, so the manifest-versioned
backend (sources/versioned_tables.py) swaps in without touching operators.
``ensure_table`` reproduces the reference's create-if-absent collection DDL
(reference src/vector_store.rs:112-200) as "write an empty DataFrame with the
declared schema when the path does not exist".

Scale notes: overwrite-based mutation is O(table), written once: the new rows
go to a staged sibling directory that is then swapped in with two renames.
Reads go through ``spark.read.parquet`` so Catalyst gets pushdown, pruning,
and partition elimination for free.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from penr_oz_agent_memory_rust_spark.localdata import local_df


def testdata_path(sf_dir: str, table: str) -> str:
    return os.path.join(sf_dir, f"{table}.parquet")


def load_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Scan one driver-generated testdata table (TESTDATA.md).

    events.parquet carries TIMESTAMP(NANOS), which the vectorized Parquet
    reader rejects; read it as int64 (legacy.parquet.nanosAsLong) and
    truncate ns -> µs with integer division (exactly what DuckDB's ns->µs
    coercion does, keeping the oracle in agreement).
    """
    path = testdata_path(sf_dir, table)
    if table == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(path)


def register_testdata_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...]) -> None:
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def read_memories_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Ingest memories from JSON-lines — the wire format of the reference's
    store requests ({text, metadata?, session?, id?}; reference
    src/routes.rs:189-203). Schema is declared, never inferred; unknown keys
    are ignored, missing keys become NULL (serde-default semantics)."""
    schema = T.StructType(
        [
            T.StructField("id", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
            T.StructField("session", T.StringType(), True),
        ]
    )
    return spark.read.schema(schema).json(path)


def read_jsonl_rescued(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """★ JSONL ingest with corrupt-line QUARANTINE: PERMISSIVE parse where
    a malformed line yields a row with every schema field NULL and the raw
    line preserved in `corrupt_col` — instead of silently dropping it
    (DROPMALFORMED) or failing the 100 TB job on one bad crawl record
    (FAILFAST). The standard big-ingest contract: parse what parses,
    quarantine the rest for offline triage, lose nothing.

    Schema is declared, never inferred (inference is a full extra pass of
    the input at scale, and schema drift must be an explicit decision).
    Spark caveat: a plan whose REQUIRED schema is only the corrupt column
    is disallowed by the JSON relation (the parser would have nothing to
    fail on) — always project at least one data column alongside it;
    `coalesce(data_col, f(corrupt_col))` patterns satisfy this naturally.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if corrupt_col in schema.fieldNames():
        raise ValueError(f"corrupt_col {corrupt_col!r} collides with a schema field")
    full = T.StructType(list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)])
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def read_memories_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV ingest variant (id,text,session header expected); metadata is not
    representable in flat CSV and comes back NULL."""
    schema = "id string, text string, session string"
    df = spark.read.option("header", "true").schema(schema).csv(path)
    return df.withColumn("metadata", F.lit(None).cast("map<string,string>"))


class ParquetTable:
    """A mutable-by-overwrite Parquet table with a declared schema.

    `partition_cols` (e.g. session, or a derived date column) makes every
    write partitioned — at scale that turns session-filtered searches and
    session-scoped deletes into partition pruning instead of full scans.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        partition_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.schema = schema
        self.partition_cols = partition_cols or []

    def exists(self) -> bool:
        return os.path.exists(self.path)

    def _writer(self, df: DataFrame, mode: str):
        w = df.select(*[f.name for f in self.schema.fields]).write.mode(mode)
        if self.partition_cols:
            w = w.partitionBy(*self.partition_cols)
        return w

    def ensure(self) -> None:
        """CREATE TABLE IF NOT EXISTS semantics (reference
        src/vector_store.rs:112-200 ensure_collection)."""
        if not self.exists():
            empty = local_df(self.spark, [], self.schema)
            self._writer(empty, "overwrite").parquet(self.path)

    def read(self) -> DataFrame:
        self.ensure()
        return self.spark.read.schema(self.schema).parquet(self.path)

    def append(self, df: DataFrame) -> None:
        self.ensure()
        self._writer(df, "append").parquet(self.path)

    def compact(self, target_partitions: int = 1) -> int:
        """Small-file compaction: micro-batch appends leave one file per
        epoch; rewrite into `target_partitions` files (per partition dir if
        partitioned). Returns the file count before compaction. At real
        scale this is the nightly OPTIMIZE job; coalesce avoids a shuffle.
        """
        current = self.read()
        before = len(current.inputFiles())
        self.overwrite(current.coalesce(target_partitions))
        return before

    def overwrite(self, df: DataFrame) -> None:
        """Replace the table with `df`, writing it once. `df` may read this
        table: it is written to a staged sibling directory (same
        filesystem), so the read finishes before the table is touched;
        the old directory is then renamed aside, the staged one renamed
        into place, and the old one removed. The table path is missing
        only between the two renames."""
        base = self.path.rstrip(os.sep)
        stage = f"{base}.stage-{uuid.uuid4().hex}"
        try:
            self._writer(df, "overwrite").parquet(stage)
        except BaseException:
            shutil.rmtree(stage, ignore_errors=True)
            raise
        old = f"{base}.old-{uuid.uuid4().hex}"
        if os.path.exists(base):
            os.rename(base, old)
        os.rename(stage, base)
        shutil.rmtree(old, ignore_errors=True)

    # -- mutation interface ------------------------------------------------
    # On plain Parquet these are read-modify-overwrite, O(table), one write
    # each. VersionedParquetTable (sources/versioned_tables.py) implements
    # the same calls as manifest commits that rewrite only the matched
    # files. Code written against this interface swaps backends by
    # swapping the constructor.

    def merge_upsert(self, updates: DataFrame, key_cols: list[str]) -> None:
        """Last-writer-wins upsert by key (S4): incoming rows replace
        same-key rows, others are appended. The result keeps the table's
        file count (the union with the updates would add one file)."""
        current = self.read()
        survivors = current.join(
            F.broadcast(updates.select(*key_cols).distinct()), key_cols, "left_anti"
        )
        merged = survivors.unionByName(updates.select(*[f.name for f in self.schema.fields]))
        self.overwrite(merged.coalesce(max(1, len(current.inputFiles()))))

    def delete_where(self, condition) -> None:
        """Delete rows matching a Column/SQL-string predicate (S3)."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        self.overwrite(self.read().filter(~cond | cond.isNull()))

    def delete_keys(self, keys: list, key_col: str) -> None:
        """Key-addressed delete — the seam call the engine's
        DELETE-by-id route uses. Plain parquet has no per-file index, so
        this is delete_where; the versioned backend overrides it with a
        manifest-pruned O(matched files) rewrite."""
        if keys:
            self.delete_where(F.col(key_col).isin(list(keys)))

    def update_where(self, condition, assignments: dict) -> None:
        """Conditional in-place update (C3 touch): set `assignments`
        (col -> Column/SQL-string) on rows matching the predicate."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        df = self.read()
        for col, val in assignments.items():
            v = F.expr(val) if isinstance(val, str) else val
            df = df.withColumn(col, F.when(cond, v).otherwise(F.col(col)))
        self.overwrite(df)
