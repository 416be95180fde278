"""Per-operator numbers from Spark's own event log.

The traced run enables an uncompressed, non-rolling event log through
``get_spark(extra_conf=EVENT_LOG_CONF)`` and tags each ``job.run()`` call
with the local property ``perfbench.phase``. After the session stops, this
module reads the log and, for one tagged call, maps the final adaptive plan
of the daily job onto its layers:

    write ← HashAggregate ← Exchange(parent, child)     operators.aggregate
          ← MapInPandas ← Sort ← Exchange(trace_key)    operators.link
          ← HashAggregate ← Exchange(identity cols)     operators.dedup
          ← Project ← Scan parquet                      sources, functions

SQL metric values are the sum of the per-task ``Update`` values of each
accumulator (``peak memory`` also keeps the per-task maximum) plus the
driver-side updates. Nothing here needs the Spark UI.
"""

from __future__ import annotations

import json
import statistics

PHASE_PROPERTY = "perfbench.phase"

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    # Spark 4 defaults to zstd, and the zstandard module is not installed
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

_SQL = "org.apache.spark.sql.execution.ui."


def read(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


class _Accums:
    """Accumulator updates of a set of tasks, plus driver-side updates."""

    def __init__(self) -> None:
        self.total: dict[int, int] = {}
        self.task_max: dict[int, int] = {}
        self.stages: dict[int, set] = {}

    def add(self, acc_id: int, value, stage: int | None = None) -> None:
        try:
            v = int(value)
        except (TypeError, ValueError):      # non-numeric (e.g. list) metrics
            return
        self.total[acc_id] = self.total.get(acc_id, 0) + v
        self.task_max[acc_id] = max(self.task_max.get(acc_id, v), v)
        if stage is not None:
            self.stages.setdefault(acc_id, set()).add(stage)


class _Node:
    def __init__(self, info: dict, parent: "_Node | None") -> None:
        self.name = info["nodeName"]
        self.parent = parent
        self.metrics = {m["name"]: (m["accumulatorId"], m["metricType"]) for m in info["metrics"]}
        self.children = [_Node(c, self) for c in info["children"]]

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def find(self, name: str) -> "_Node | None":
        return next((n for n in self.walk() if n.name == name), None)

    def below(self, name: str) -> "_Node | None":
        """First node named ``name`` strictly below this one (pre-order)."""
        return next((n for n in self.walk() if n is not self and n.name == name), None)

    def above(self, name: str) -> "_Node | None":
        n = self.parent
        while n is not None and n.name != name:
            n = n.parent
        return n


def _value(accums: _Accums, node: _Node | None, metric: str, peak: bool = False) -> float:
    """A node's metric in base units: seconds for timings, bytes for sizes."""
    if node is None or metric not in node.metrics:
        return 0.0
    acc_id, kind = node.metrics[metric]
    raw = (accums.task_max if peak else accums.total).get(acc_id, 0)
    if kind == "timing":
        return raw / 1e3
    if kind == "nsTiming":
        return raw / 1e9
    return float(raw)


def _busy(task: dict) -> tuple[int, int]:
    """When a task held its executor slot. "Finish Time" is stamped when the
    driver handles the result, after the slot may already run the next task."""
    launch = task["Task Info"]["Launch Time"]
    tm = task["Task Metrics"]
    return launch, launch + tm["Executor Deserialize Time"] + tm["Executor Run Time"]


def _peak_concurrency(intervals: list[tuple[int, int]]) -> int:
    edges = sorted([(s, 1) for s, _ in intervals] + [(e, -1) for _, e in intervals])
    peak = cur = 0
    for _, d in edges:           # at equal times an end (-1) sorts first
        cur += d
        peak = max(peak, cur)
    return peak


def summarize(events: list[dict], phase: str, default_parallelism: int) -> dict[str, float]:
    """Per-layer metrics of the one call tagged ``phase``."""
    jobs = [
        e for e in events
        if e["Event"] == "SparkListenerJobStart"
        and (e.get("Properties") or {}).get(PHASE_PROPERTY) == phase
    ]
    if not jobs:
        raise ValueError(f"no jobs tagged {PHASE_PROPERTY}={phase!r} in the event log")
    exec_ids = {int(j["Properties"]["spark.sql.execution.id"]) for j in jobs}
    stage_ids = {s["Stage ID"] for j in jobs for s in j["Stage Infos"]}
    ran = {
        e["Stage Info"]["Stage ID"] for e in events
        if e["Event"] == "SparkListenerStageCompleted"
        and e["Stage Info"]["Stage ID"] in stage_ids
    }

    accums = _Accums()
    tasks = []
    plan = None
    start = end = None
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerTaskEnd" and e["Stage ID"] in ran:
            tasks.append(e)
            for a in e["Task Info"].get("Accumulables", []):
                accums.add(a["ID"], a.get("Update"), e["Stage ID"])
        elif kind.startswith(_SQL) and e.get("executionId") in exec_ids:
            if kind.endswith("SQLExecutionStart"):
                start = e["time"]
                plan = plan or e["sparkPlanInfo"]
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                plan = e["sparkPlanInfo"]           # the last one is final
            elif kind.endswith("SQLExecutionEnd"):
                end = e["time"]
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in e["accumUpdates"]:
                    accums.add(acc_id, value)
    if plan is None:
        raise ValueError(f"no SQL plan for the call tagged {phase!r}")

    root = _Node(plan, None)
    m = lambda node, metric, peak=False: _value(accums, node, metric, peak)  # noqa: E731
    python = root.find("MapInPandas")
    if python is None:
        raise ValueError("the plan has no MapInPandas node")
    agg_exchange = python.above("Exchange")
    final_agg = next((n for n in root.walk() if n.name == "HashAggregate"), None)
    link_exchange = python.below("Exchange")
    sort = python.below("Sort")
    dedup_exchange = link_exchange.below("Exchange") if link_exchange else None
    dedup_agg = link_exchange.below("HashAggregate") if link_exchange else None
    scan = next((n for n in root.walk() if n.name.startswith("Scan")), None)
    write = next((n for n in root.walk() if n.name.startswith("Execute ")), None)

    def task_metric(name: str) -> float:
        return sum(t["Task Metrics"][name] for t in tasks)

    rows_read = m(scan, "number of output rows")
    python_rows_acc = python.metrics.get("number of output rows", (None,))[0]
    link_stages = accums.stages.get(python_rows_acc, set())
    durations = [b - a for a, b in (_busy(t) for t in tasks if t["Stage ID"] in link_stages)]
    wall_s = (end - start) / 1e3 if start is not None and end is not None else 0.0
    run_s = task_metric("Executor Run Time") / 1e3
    return {
        "sources.rows_read": rows_read,
        "sources.bytes_read": m(scan, "size of files read"),
        "operators.dedup.shuffle_bytes": m(dedup_exchange, "shuffle bytes written"),
        "operators.dedup.rows_out_ratio": (
            m(dedup_agg, "number of output rows") / rows_read if rows_read else 0.0
        ),
        "operators.link.shuffle_bytes": m(link_exchange, "shuffle bytes written"),
        "operators.link.shuffle_records": m(link_exchange, "shuffle records written"),
        "operators.link.sort_s": m(sort, "sort time"),
        "operators.link.sort_peak_mb": m(sort, "peak memory", peak=True) / 2**20,
        "operators.link.spill_bytes": m(sort, "spill size"),
        "operators.link.python_s": m(python, "time to run Python workers"),
        "operators.link.python_init_s": m(python, "time to initialize Python workers"),
        "operators.link.bytes_to_python": m(python, "data sent to Python workers"),
        "operators.link.rows_out": m(python, "number of output rows"),
        "operators.link.task_max_over_median": (
            max(durations) / statistics.median(durations) if durations else 0.0
        ),
        "operators.aggregate.shuffle_bytes": m(agg_exchange, "shuffle bytes written"),
        "operators.aggregate.rows_in": m(python, "number of output rows"),
        "operators.aggregate.rows_out": m(final_agg, "number of output rows"),
        "sinks.files_written": m(write, "number of written files"),
        "sinks.bytes_written": m(write, "written output"),
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(len(ran)),
        "spark.tasks": float(len(tasks)),
        "spark.exchanges": float(sum(1 for n in root.walk() if n.name == "Exchange")),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": task_metric("Executor CPU Time") / 1e9,
        "spark.gc_s": task_metric("JVM GC Time") / 1e3,
        "spark.peak_concurrent_tasks": float(_peak_concurrency([_busy(t) for t in tasks])),
        "spark.default_parallelism": float(default_parallelism),
        "spark.core_utilization": (
            run_s / (wall_s * default_parallelism) if wall_s and default_parallelism else 0.0
        ),
    }
