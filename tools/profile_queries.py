"""Per-query stage/job profile via the Spark UI REST API.

Runs each named query once (bench.py warmup first, noop sink) with the UI
enabled and prints, per query: wall seconds, #jobs, #stages, total task
time, executor CPU time, JVM GC time, shuffle read/write bytes, input
bytes, and the top stages by duration with their names — so time can be
attributed to scan / exchange / Python / agg before touching code.

Usage:
    python tools/profile_queries.py query [query ...]

Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default all cores).
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import time_query, warm_up
from penr_oz_agent_memory_rust_spark.session import get_spark


def _rest(spark, path):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}{path}", timeout=10) as r:
        return json.load(r)


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="poz-profile", ui_enabled=True)
    qs = entrymod.queries()
    warm_up(spark, qs, sf_dir)

    for name in names:
        pre_stages = {s["stageId"] for s in _rest(spark, "/stages")}
        pre_jobs = {j["jobId"] for j in _rest(spark, "/jobs")}
        spark.sparkContext.setJobDescription(f"profile:{name}")
        wall = time_query(qs[name], spark, sf_dir)
        spark.sparkContext.setJobDescription(None)
        stages = [s for s in _rest(spark, "/stages") if s["stageId"] not in pre_stages]
        jobs = [j for j in _rest(spark, "/jobs") if j["jobId"] not in pre_jobs]
        tot = lambda k: sum(int(s.get(k, 0) or 0) for s in stages)  # noqa: E731
        print(f"\n=== {name}: wall {wall:.2f}s, {len(jobs)} jobs, {len(stages)} stages")
        print(
            f"  taskTime {tot('executorRunTime')/1e3:.2f}s"
            f"  cpu {tot('executorCpuTime')/1e9:.2f}s"
            f"  gc {tot('jvmGcTime')/1e3:.2f}s"
            f"  shufW {tot('shuffleWriteBytes')/1e6:.1f}MB"
            f"  shufR {tot('shuffleReadBytes')/1e6:.1f}MB"
            f"  input {tot('inputBytes')/1e6:.1f}MB"
            f"  tasks {tot('numTasks')}"
        )
        by_dur = sorted(
            stages,
            key=lambda s: -(int(s.get("executorRunTime", 0) or 0)),
        )[:8]
        for s in by_dur:
            subt = (s.get("submissionTime") or "")[11:23]
            print(
                f"  stage {s['stageId']:>4} {s.get('status','?'):>9}"
                f" run {int(s.get('executorRunTime',0) or 0)/1e3:7.2f}s"
                f" tasks {s.get('numTasks',0):>4}"
                f" sw {int(s.get('shuffleWriteBytes',0) or 0)/1e6:7.1f}MB"
                f" sr {int(s.get('shuffleReadBytes',0) or 0)/1e6:7.1f}MB"
                f" @{subt}  {(s.get('name') or '')[:70]}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
