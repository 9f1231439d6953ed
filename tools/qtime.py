"""Focused per-query timer: bench.py methodology (noop sink, warmup,
interleaved rounds, min) for a SUBSET of queries while iterating.

Usage:
    python tools/qtime.py [-n RUNS] query [query ...]

Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default all cores).
Prints one line per query: min / all samples. Labels jobs so the UI (if
enabled) attributes stages to queries.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import time_query, warm_up
from penr_oz_agent_memory_rust_spark.session import get_spark


def main() -> None:
    args = sys.argv[1:]
    runs = 3
    if args and args[0] == "-n":
        runs = int(args[1])
        args = args[2:]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="poz-qtime")
    qs = entrymod.queries()
    warm_up(spark, qs, sf_dir)
    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(runs):
        for name in names:
            spark.sparkContext.setJobDescription(f"qtime:{name}")
            samples[name].append(time_query(qs[name], spark, sf_dir))
            spark.sparkContext.setJobDescription(None)
    for name in names:
        ts = samples[name]
        print(json.dumps({"query": name, "min": min(ts), "samples": ts}))
    spark.stop()


if __name__ == "__main__":
    main()
