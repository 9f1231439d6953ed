"""Run two sets of benchmark runs and say whether they agree.

    python3 perfbench/compare.py --runs 10 [--workloads ann_index ...] [--traced]

Every run is its own process (`run.py`), with its own seed: set A uses
seeds 1..runs, set B runs+1..2*runs. For each workload and end-to-end
metric it prints both sets' medians and quartiles, the spread of each set
(interquartile distance over the median) and whether the two medians
agree: set B's median within the metric's bound of set A's, in either
direction. Each set's spread must also stay within the bound, except for
setup_s, whose median alone is compared: set-up includes the JVM start,
which no amount of measured work steadies. It also checks that the share
of failed operations is identical.
--traced adds one traced run per workload and reports how far its
end-to-end figures fall from the untraced median (the tracing overhead).
Raw results go to .perfbench/compare.json.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """Run run.py once; returns (result JSON, info lines by name)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-2000:]}")
    info = {}
    for line in lines[:-1]:
        m = re.match(rf"{workload} (\S+) = (\S+)", line)
        if m:
            info[m.group(1)] = float(m.group(2))
    return json.loads(lines[-1]), info


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", nargs="+", default=names, choices=names)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args(argv)
    seconds = bench["run_seconds"]
    metrics = bench["end_to_end"]

    record: dict = {}
    ok = True
    for w in args.workloads:
        sets = []
        for s in range(2):
            runs = []
            for i in range(args.runs):
                seed = s * args.runs + i + 1
                try:
                    result, _ = one_run(w, seed, seconds, 0)
                except (RuntimeError, subprocess.TimeoutExpired) as e:
                    print(f"{w} set {'AB'[s]} seed {seed}: FAILED {e}", flush=True)
                    ok = False
                    continue
                runs.append(result)
                print(f"{w} set {'AB'[s]} seed {seed}: " + json.dumps(result), flush=True)
            sets.append(runs)
        rec = record[w] = {"sets": sets, "metrics": {}}
        shares = [{r["failed"] / r["attempted"] for r in runs} for runs in sets]
        same_share = len(shares[0] | shares[1]) == 1
        ok &= same_share
        print(f"\n{w}: failed share per run {sorted(shares[0] | shares[1])} "
              f"({'identical' if same_share else 'DIFFERS'})")
        print(f"{'metric':<14}{'A q1/med/q3':>34}{'spread':>8}{'B q1/med/q3':>34}{'spread':>8}  verdict")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            qa = quartiles([r["metrics"][name]["value"] for r in sets[0]])
            qb = quartiles([r["metrics"][name]["value"] for r in sets[1]])
            spread = [(q[2] - q[0]) / q[1] for q in (qa, qb)]
            worse = (qb[1] - qa[1]) / qa[1] * (1 if m["better"] == "lower" else -1)
            agree = abs(worse) <= bound
            steady = name == "setup_s" or max(spread) <= bound
            ok &= agree and steady
            rec["metrics"][name] = {"A": qa, "B": qb, "spread": spread, "b_worse_by": worse}
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            print(f"{name:<14}{fmt(qa):>34}{spread[0]:>8.3f}{fmt(qb):>34}{spread[1]:>8.3f}  "
                  f"{'agree' if agree else 'DISAGREE'}{'' if steady else ' (spread > bound)'}"
                  f" (B worse by {worse:+.3f}, bound {bound})")
        if args.traced:
            _, info = one_run(w, 1, seconds, 1)
            overhead = {}
            for name in ("items_per_s", "op_p50_ms"):
                untraced = statistics.median(r["metrics"][name]["value"] for r in sets[0])
                traced = info[f"traced.{name}"]
                overhead[name] = (traced - untraced) / untraced
            rec["trace_overhead"] = overhead
            print("traced vs untraced median: " + ", ".join(f"{k} {v:+.3f}" for k, v in overhead.items()))
        print(flush=True)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", "compare.json"), "w") as f:
        json.dump(record, f, indent=1)
    print("all agree" if ok else "NOT all agree")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
