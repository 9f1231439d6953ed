"""Benchmark entry point: one workload per process.

    python3 perfbench/run.py --workload curate_funnel --seed 1 --seconds 12 --trace 0

Run from the repository root. The process synthesizes its inputs from
--seed, starts Spark on local[nproc] with a private SPARK_LOCAL_DIRS,
sets the workload up, warms it, then repeats whole rounds of its
operations until --seconds have passed. It checks every output against a
computation made apart from the program and prints, as its last stdout
line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics; --trace 1 wraps the package's
public functions in spans and reports the per-layer metrics instead.
A failed output check exits 1; a missing package exits 2.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("curate_funnel", "ann_index", "memory_serving")

# End-to-end metrics (untraced run). What each means on each workload is
# in README.md.
END_TO_END = {"setup_s": "s", "items_per_s": "1/s", "op_p50_ms": "ms", "recall": "ratio"}
# Per-layer metrics (traced run). Every traced run reports all of them; a
# layer the workload never calls reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "funnel.gopher_survivors": "count",
    "funnel.candidate_pairs": "count",
    "funnel.est_kept_pairs": "count",
    "funnel.verified_pairs": "count",
    "funnel.kept_docs": "count",
    "funnel.est_yield": "ratio",
    "funnel.verify_yield": "ratio",
    "funnel.construct_s": "s",
    "funnel.execute_s": "s",
    "funnel.gopher_s": "s",
    "funnel.strip_s": "s",
    "funnel.est_pairs_s": "s",
    "funnel.verify_s": "s",
    "funnel.keep_best_s": "s",
    "ivf.train_s": "s",
    "ivf.write_s": "s",
    "ivf.cells": "count",
    "ivf.cell_rows_max": "count",
    "ivf.cell_rows_p50": "count",
    "ivf.probe_s": "s",
    "ivf.score_s": "s",
    "ivf.pairs_scored": "count",
    "ivf.pair_yield": "ratio",
    "tables.read_s": "s",
    "tables.merge_upsert_s": "s",
    "tables.merge_upsert_calls": "count",
    "tables.points_files": "count",
    "embed.calls": "count",
    "embed.self_s": "s",
    "engine.api_search_self_s": "s",
    "engine.api_store_self_s": "s",
    "engine.search_memory_self_s": "s",
    "http.collect_s": "s",
    "http.overhead_ms": "ms",
    "http.memory_search_p50_ms": "ms",
    "http.memory_search_n": "count",
    "http.search_p95_ms": "ms",
    "http.search_n": "count",
    "http.upsert_p95_ms": "ms",
    "http.upsert_n": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_mb": "MiB",
    "spark.python_eval_s": "s",
    "spark.spill_mb": "MiB",
    "jvm.peak_rss_mb": "MiB",
    "trace.spans": "count",
    "trace.cost_s": "s",
}


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside `work`."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import penr_oz_agent_memory_rust_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package under test is missing: {e}", file=sys.stderr)
        return 2

    work = os.path.join(OUT_DIR, f"work-{args.workload}-{os.getpid()}")
    _isolate(work)
    from penr_oz_agent_memory_rust_spark.session import get_spark

    import spans
    from common import Context

    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=len(os.sched_getaffinity(0)))
        session_s = time.perf_counter() - t
        tracer = spans.Tracer() if args.trace else None
        ledger = spans.SparkLedger(spans.SparkCounters(spark) if args.trace else None)
        ctx = Context(spark, args.seed, args.seconds, work, tracer, ledger, T_START)
        if args.workload == "curate_funnel":
            import curate as mod
        elif args.workload == "ann_index":
            import ann as mod
        else:
            import serving as mod
        res = mod.run(ctx)
        if tracer is not None:
            tracer.unwrap()
            os.makedirs(OUT_DIR, exist_ok=True)
            tracer.dump(os.path.join(OUT_DIR, f"spans-{args.workload}-seed{args.seed}.json"))
            values = dict.fromkeys(PER_LAYER, 0.0)
            values.update(res.layers)
            values.update(ledger.per_call())
            values["session.start_s"] = session_s
            values["jvm.peak_rss_mb"] = ledger.counters.peak_rss_mb()
            values["trace.spans"] = float(len(tracer.spans))
            values["trace.cost_s"] = tracer.cost_s
            units = PER_LAYER
            res.info.update({f"traced.{k}": (v, END_TO_END[k]) for k, v in res.e2e.items()})
        else:
            values = dict(res.e2e, setup_s=res.setup_s)
            units = END_TO_END
        if set(values) != set(units):
            raise RuntimeError(f"metrics out of step with the registry: {set(values) ^ set(units)}")
        metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for name, (value, unit) in res.info.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    for p in res.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    correct = not res.problems
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
