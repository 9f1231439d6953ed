"""Tracing from outside the package: spans around calls into its public
functions, and Spark's own counters read from its status store.

Spans are kept in memory (name, start, end, parent, request id) and
written out at the end of the run. A span's self time is its duration
minus the time its child spans cover.
"""

from __future__ import annotations

import functools
import json
import re
import threading
import time
from collections import defaultdict


class Tracer:
    """In-memory span recorder.

    Parents are tracked per thread. The serving workload runs one
    closed-loop client, so at most one request is in flight: spans opened
    on a server thread while a request is open take that request as
    their parent and its id.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._request: int | None = None
        self._patches: list[tuple[object, str, object]] = []
        self.cost_s = 0.0

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, request: int | None = None) -> int:
        t = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self._request
        with self._lock:
            idx = len(self.spans)
            req = request
            if req is None and parent is not None:
                req = self.spans[parent]["request"]
            self.spans.append(
                {"name": name, "start": t, "end": None, "parent": parent, "request": req}
            )
        stack.append(idx)
        self.cost_s += time.perf_counter() - t
        return idx

    def close(self, idx: int) -> None:
        end = time.perf_counter()
        self.spans[idx]["end"] = end
        self._stack().pop()
        self.cost_s += time.perf_counter() - end

    def begin_request(self, name: str, request: int) -> int:
        idx = self.open(name, request=request)
        self._request = idx
        return idx

    def end_request(self, idx: int) -> None:
        self._request = None
        self.close(idx)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace `owner.attr` with a spanned version (undone by unwrap)."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            idx = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(idx)

        self._patches.append((owner, attr, owner.__dict__.get(attr, fn)))
        setattr(owner, attr, spanned)

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------ summaries

    def self_times(self) -> dict[str, float]:
        """Total self time (s) per span name."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def totals(self) -> tuple[dict[str, float], dict[str, int]]:
        """Total duration (s) and call count per span name."""
        dur: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for s in self.spans:
            if s["end"] is not None:
                dur[s["name"]] += s["end"] - s["start"]
                calls[s["name"]] += 1
        return dict(dur), dict(calls)

    def by_request(self, name: str) -> dict[int, float]:
        """Summed duration of spans called `name`, per request id."""
        out: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["name"] == name and s["request"] is not None and s["end"] is not None:
                out[s["request"]] += s["end"] - s["start"]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ------------------------------------------------------------------ Spark

_PY_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
)
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric as Spark's status store prints it ('12.2 s',
    '5.4 KiB', '300,000', or 'total (...)\\n<value> (...)') -> seconds,
    bytes or a count."""
    line = text.split("\n")[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkCounters:
    """Cumulative counters from Spark's status stores (the UI stays off).

    jobs from the status tracker's job ids; tasks and shuffle bytes from
    the driver executor's summary; Python worker time, spill and
    Python-evaluated rows from the SQL metrics of every finished SQL
    execution; peak RSS of the JVM from its /proc status.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_exec = -1
        self.python_eval_s = 0.0
        self.spill_bytes = 0.0
        self.python_rows = 0.0

    def _flush(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(5000)

    def _read_new_executions(self) -> None:
        n = self._sql.executionsCount()
        execs = self._sql.executionsList(max(0, n - 200), 200)
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid <= self._seen_exec or ex.completionTime().isEmpty():
                continue
            self._seen_exec = eid
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                is_py = node.name() in _PY_NODES
                metrics = node.metrics()
                for k in range(metrics.size()):
                    metric = metrics.apply(k)
                    name = metric.name()
                    if name == "spill size" or (
                        is_py and name in ("time to run Python workers", "number of output rows")
                    ):
                        v = values.get(metric.accumulatorId())
                        if v.isEmpty():
                            continue
                        x = parse_metric(v.get())
                        if name == "spill size":
                            self.spill_bytes += x
                        elif name == "number of output rows":
                            self.python_rows += x
                        else:
                            self.python_eval_s += x

    def snapshot(self) -> dict[str, float]:
        self._flush()
        self._read_new_executions()
        ids = self.sc.statusTracker().getJobIdsForGroup()
        driver = self._store.executorList(True).apply(0)
        return {
            "jobs": float(max(ids) + 1 if ids else 0),
            "tasks": float(driver.totalTasks()),
            "shuffle_write_bytes": float(driver.totalShuffleWrite()),
            "python_eval_s": self.python_eval_s,
            "spill_bytes": self.spill_bytes,
            "python_rows": self.python_rows,
        }

    def peak_rss_mb(self) -> float:
        pid = self.sc._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0


class SparkLedger:
    """Spark counter deltas summed over the timed calls of a run."""

    def __init__(self, counters: SparkCounters | None) -> None:
        self.counters = counters
        self.total: dict[str, float] = defaultdict(float)
        self.calls = 0
        self._before: dict[str, float] | None = None

    def start(self) -> None:
        if self.counters is not None:
            self._before = self.counters.snapshot()

    def stop(self) -> dict[str, float]:
        if self.counters is None or self._before is None:
            return {}
        after = self.counters.snapshot()
        delta = {k: after[k] - self._before[k] for k in after}
        for k, v in delta.items():
            self.total[k] += v
        self.calls += 1
        self._before = None
        return delta

    def per_call(self) -> dict[str, float]:
        """The spark.* per-layer metrics, averaged per timed call."""
        n = max(self.calls, 1)
        t = self.total
        return {
            "spark.jobs": t["jobs"] / n,
            "spark.tasks": t["tasks"] / n,
            "spark.shuffle_write_mb": t["shuffle_write_bytes"] / n / 1024.0**2,
            "spark.python_eval_s": t["python_eval_s"] / n,
            "spark.spill_mb": t["spill_bytes"] / n / 1024.0**2,
        }

    def python_rows(self) -> float:
        return self.total["python_rows"]
