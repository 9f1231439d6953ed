"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit", "queries", "sf", "runs"}.

Each query executes end-to-end via the noop sink (full plan, no driver
collect). Session startup is excluded. Every query runs
$SPARK_GRAFT_BENCH_RUNS times (default 3) in interleaved rounds and the
per-query MINIMUM is reported — single-run numbers on this shared VM move
±25% run-to-run, which would drown any real regression signal.

Output contract (rounds 3 AND 4 shipped `parsed: null` because the
stdout line outgrew the driver's 2,000-byte tail capture and lost its
head): stdout carries ONLY a ~120-byte summary line
{"metric","value","unit","sf","runs","n_queries"} — never the per-query
dict. The FULL result (per-query mins, per-run samples, spread, and the
exact stdout line under "stdout_line" so the committed record and the
driver's capture cannot diverge) is written to `BENCH_LOCAL.json` next
to this file.

A cumulative per-query minima ledger is merge-written to
`BENCH_MINIMA.json` (min across ALL recorded runs at the current sf;
reset on sf change; disable with SPARK_GRAFT_BENCH_MINIMA=0) so
cross-round regression adjudication compares stable minima instead of
single records that drift ±25-40% with VM background load.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from penr_oz_agent_memory_rust_spark.session import get_spark

HEADLINE = [n for n in entrymod.queries() if n not in entrymod.UNBENCHED]


def time_query(fn, spark: SparkSession, sf_dir: str) -> float:
    """Build and run one query end to end through the noop sink (full plan,
    no driver collect); returns the wall seconds."""
    t0 = time.time()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def warm_up(spark: SparkSession, qs: dict, sf_dir: str) -> None:
    """Untimed warm-up, so per-query times reflect steady state rather than
    session startup: JVM, codegen and parquet-footer caches, the one-time
    package shipping (zip + addPyFile) that the first query call triggers,
    and the Python worker pool — one tiny Arrow-batched UDF job over every
    core forks the daemon workers and imports pandas/numpy in each, so the
    first Python-path query measures the operator, not interpreter
    startup."""
    spark.range(1000).selectExpr("sum(id)").collect()
    for t in ("embeddings", "documents", "lineitem", "orders", "customer"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    time_query(qs["deterministic_sample"], spark, sf_dir)

    @pandas_udf("double")
    def _warm(v: pd.Series) -> pd.Series:
        import numpy as np

        return v * np.float64(1.0)

    cores = spark.sparkContext.defaultParallelism
    (
        spark.range(cores * 2)
        .repartition(cores)
        .select(_warm(F.col("id").cast("double")))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark(app_name="poz-bench")
    qs = entrymod.queries()
    warm_up(spark, qs, sf_dir)
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # wall-clock budget: the headline list has grown past 90 queries, and
    # the driver's capture window is finite — finish the CURRENT round and
    # stop if the budget is spent (every query always has >= 1 sample
    # because the budget is only checked between rounds)
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "400"))
    bench_start = time.time()
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    # interleaved rounds (q1..qN, q1..qN, ...) rather than back-to-back
    # repeats: VM noise is bursty, so spreading a query's runs across the
    # whole wall-clock window decorrelates them from any one burst
    runs_done = 0
    for _ in range(runs):
        for name in HEADLINE:
            samples[name].append(time_query(qs[name], spark, sf_dir))
        runs_done += 1
        if time.time() - bench_start > budget:
            break
    timings = {name: min(ts) for name, ts in samples.items()}
    # per-query run variance: max-min over the interleaved runs, so a
    # cross-round regression can be told apart from VM noise (a delta
    # smaller than the query's spread is not a signal)
    spread = {name: round(max(ts) - min(ts), 3) for name, ts in samples.items()}
    total = round(sum(timings.values()), 3)
    # stdout carries ONLY this line, and it must fit the driver's 2,000-byte
    # tail-capture window WHOLE (r3 and r4 both shipped `parsed: null`
    # because the per-query dict pushed the line's head past the window).
    # ~120 bytes: summary fields only — the per-query dict lives
    # exclusively in the sidecar.
    compact = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "runs": runs_done,
        "n_queries": len(timings),
    }
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) < 1000, f"stdout line grew to {len(line)} bytes"
    # the sidecar records the EXACT stdout line alongside the full result
    # (per-query mins, spread, raw samples), so the committed record and
    # the driver's capture can never diverge silently
    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json")
    with open(sidecar, "w") as f:
        json.dump(
            {**compact, "stdout_line": line, "queries": timings,
             "spread": spread, "samples": samples},
            f,
            indent=1,
        )
    # per-query minima ledger: same-code records on this shared VM spread
    # 172-203s on background load alone, so regression adjudication needs
    # the min-over-ALL-recorded-runs, not any single record. Merge-write
    # min(prior, this run) per query; reset if sf changes (minima are only
    # comparable at one scale). Disable with SPARK_GRAFT_BENCH_MINIMA=0.
    if os.environ.get("SPARK_GRAFT_BENCH_MINIMA", "1") != "0":
        ledger_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_MINIMA.json"
        )
        try:
            with open(ledger_path) as f:
                ledger = json.load(f)
            if ledger.get("sf") != sf:
                ledger = {"sf": sf, "minima": {}, "n_records": 0}
        except (OSError, ValueError):
            ledger = {"sf": sf, "minima": {}, "n_records": 0}
        prior = ledger.get("minima", {})
        ledger["minima"] = {
            name: round(min(t, prior.get(name, t)), 3)
            for name, t in timings.items()
        }
        # keep minima for queries not in this run's HEADLINE (rotations)
        for name, t in prior.items():
            ledger["minima"].setdefault(name, t)
        ledger["n_records"] = int(ledger.get("n_records", 0)) + 1
        ledger["minima"] = dict(sorted(ledger["minima"].items()))
        with open(ledger_path, "w") as f:
            json.dump(ledger, f, indent=1)
    sys.stdout.flush()
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
